"""Scale-evidence tests: bucketed co-located joins (zero shuffle) and
streaming checkpoint recovery (exactly-once file sink).

These pin the two claims SCALE.md makes about the 100 TB deployment:
bucketing removes the fact-fact join shuffle, and the parquet sink +
checkpoint pair survives a query restart without duplicating output.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark.sources import load_table


@pytest.fixture(scope="module")
def warehouse(spark):
    with tempfile.TemporaryDirectory() as d:
        yield d


def test_bucketed_join_has_no_shuffle(spark, sf_dir, warehouse):
    """Both sides bucketed by the join key into the same bucket count ->
    SortMergeJoin with NO Exchange on either side (the co-located join
    the 100 TB layout relies on)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    for name, df, key in (("b_orders", o, "o_orderkey"), ("b_lineitem", li, "l_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .option("path", os.path.join(warehouse, name))
            .bucketBy(8, key)
            .sortBy(key)
            .mode("overwrite")
            .saveAsTable(name)
        )
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_bc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")  # direct plan text
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .count()
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "SelectedBucketsCount: 8 out of 8" in plan
        # the ONLY exchange is the post-join one feeding the aggregation —
        # the join itself reads the co-located buckets directly
        join_part = plan[plan.index("SortMergeJoin"):]
        assert "Exchange" not in join_part, f"bucketed join still shuffles:\n{plan}"
        # sanity: result matches the unbucketed formulation
        expect = (
            o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("o_orderstatus")
            .count()
        )
        assert sorted(map(tuple, joined.collect())) == sorted(
            map(tuple, expect.collect())
        )
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)


def test_streaming_checkpoint_recovery_exactly_once(spark):
    """Stop a checkpointed parquet-sink query mid-stream, deliver more
    input, restart with the SAME checkpoint: every record appears exactly
    once in the sink. Then crash between the sink write and the commit
    log: delete the newest `commits/N` and leave an orphan offsets temp
    file behind. The restart re-runs batch N from its logged offsets, and
    the file sink skips it because `_spark_metadata` already holds N."""
    import uuid

    with tempfile.TemporaryDirectory() as tmp:
        src, sink, ckpt = (os.path.join(tmp, d) for d in ("src", "sink", "ckpt"))
        os.makedirs(src)

        def run_until_drained():
            stream = spark.readStream.schema("value STRING").text(src)
            parsed = stream.select(
                F.get_json_object("value", "$.userId").alias("userId"),
                F.get_json_object("value", "$.amount").cast("double").alias("amount"),
            ).filter(F.col("amount") > 10000.0)
            q = (
                parsed.writeStream.format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .start()
            )
            try:
                q.processAllAvailable()
                return {p["batchId"] for p in q.recentProgress}
            finally:
                q.stop()

        def sink_rows():
            return sorted(
                (r.userId, r.amount) for r in spark.read.parquet(sink).collect()
            )

        def log_ids(log):
            return {int(n) for n in os.listdir(os.path.join(ckpt, log)) if n.isdigit()}

        def part_files():
            return sorted(n for n in os.listdir(sink) if n.startswith("part-"))

        with open(f"{src}/a.txt", "w") as f:
            f.write('{"userId":"u1","amount":10500.0}\n{"userId":"u2","amount":900.0}')
        run_until_drained()
        with open(f"{src}/b.txt", "w") as f:
            f.write('{"userId":"u3","amount":10700.0}')
        run_until_drained()  # restart from the same checkpoint
        assert sink_rows() == [("u1", 10500.0), ("u3", 10700.0)]  # no dupes, no loss

        n = max(log_ids("commits"))
        parts = part_files()
        for name in (str(n), f".{n}.crc"):  # the file and its checksum sidecar
            os.remove(os.path.join(ckpt, "commits", name))
        with open(os.path.join(ckpt, "offsets", f".{n}.{uuid.uuid4()}.tmp"), "w") as f:
            f.write("torn write")
        assert n in run_until_drained()  # batch N re-runs from offsets/N
        assert log_ids("commits") == log_ids("offsets") == set(range(n + 1))
        assert part_files() == parts  # the sink skipped the committed batch
        assert sink_rows() == [("u1", 10500.0), ("u3", 10700.0)]
