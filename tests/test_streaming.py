"""Streaming tests (SURVEY.md §5.4): batch-stream parity for the fraud
topology, watermarked windowed aggregation incl. late-data drop, and the
rate-source generator's distribution contract."""

from __future__ import annotations

import json
import math
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
    EVENTS_FRAUD_THRESHOLD,
)
from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming import (
    generator,
    topology,
    windows,
)

WIRE_ROWS = [
    '{"userId":"user_001","amount":10500.5,"timestamp":1700000001}',
    '{"userId":"user_002","amount":9999.0,"timestamp":1700000002}',
    '{"userId":"user_001","amount":10000.0,"timestamp":1700000003}',  # boundary: NOT fraud
    '{"userId":',  # corrupt: dropped
    '{"userId":"user_003","amount":10000.01,"timestamp":1700000004}',
]

# FIXTURES.md's boundary records for the live parquet sink.
SMALLEST_FRAUD = math.nextafter(10000.0, math.inf)
BOUNDARY_ROWS = [
    '{"userId":"user_010","amount":10000.0,"timestamp":1700000010}',  # NOT fraud
    json.dumps({"userId": "user_011", "amount": SMALLEST_FRAUD, "timestamp": 1700000011}),
    '{"userId":"user_012","amount":20000.0,"timestamp":1700000012',  # malformed
    '{"userId":"user_013","amount":10500.0,"timestamp":1700000013,"merchant":"m1"}',
    '{"userId":"user_014","amount":9999.0,"timestamp":1700000014}',
]


def _file_stream(spark, tmpdir, rows):
    """Write wire rows as JSON-lines text files and open as a file stream."""
    with open(f"{tmpdir}/part-0.txt", "w") as f:
        f.write("\n".join(rows))
    return spark.readStream.format("text").schema("value STRING").load(tmpdir)


def test_topology_batch_stream_parity(spark):
    """The SAME topology function over the same rows must agree between a
    batch DataFrame and a streaming file source + memory sink."""
    batch_in = spark.createDataFrame([(r,) for r in WIRE_ROWS], "value STRING")
    batch_out = {
        (r.userId, r.amount) for r in topology.fraud_topology(batch_in).collect()
    }

    with tempfile.TemporaryDirectory() as tmpdir:
        stream_in = _file_stream(spark, tmpdir, WIRE_ROWS)
        q = topology.start_to_memory(topology.fraud_topology(stream_in), "fraud_mem")
        try:
            q.processAllAvailable()
            stream_out = {
                (r.userId, r.amount)
                for r in spark.sql("SELECT * FROM fraud_mem").collect()
            }
        finally:
            q.stop()

    assert batch_out == stream_out == {("user_001", 10500.5), ("user_003", 10000.01)}


def test_serialize_roundtrip(spark):
    """R7/R2: fraud alerts re-serialize to keyed JSON wire records."""
    batch_in = spark.createDataFrame([(WIRE_ROWS[0],)], "value STRING")
    wire = topology.alerts_as_wire(topology.fraud_topology(batch_in)).collect()
    assert wire[0].key == "user_001"
    payload = json.loads(wire[0].value)
    assert payload == {"userId": "user_001", "amount": 10500.5, "timestamp": 1700000001}


def test_parquet_sink_paced_and_equal_to_batch(spark, tmp_path):
    """The live parquet sink over FIXTURES.md's boundary records: its
    rows equal the batch topology over the same files, the query runs
    on the fixed 500 ms processing-time trigger, and an idle source
    adds no batch id until the next file lands."""
    import os
    import time

    later = ['{"userId":"user_015","amount":10700.0,"timestamp":1700000015}']
    in_dir, stage = tmp_path / "in", tmp_path / "stage"
    in_dir.mkdir()
    stage.mkdir()

    def publish(name, rows):
        (stage / name).write_text("\n".join(rows))
        os.rename(stage / name, in_dir / name)

    def committed():
        return {p.name for p in (tmp_path / "ckpt" / "commits").iterdir()
                if p.name.isdigit()}

    def points(df):
        return {tuple(r) for r in df.collect()}

    wire = spark.readStream.schema("value STRING").text(str(in_dir))
    out = str(tmp_path / "out")
    q = topology.start_to_parquet(
        topology.alerts_as_points(topology.fraud_topology(wire)),
        out,
        str(tmp_path / "ckpt"),
    )
    try:
        trigger = q._jsq.streamingQuery().trigger()
        assert trigger.getClass().getSimpleName() == "ProcessingTimeTrigger"
        assert trigger.intervalMs() == 500

        publish("part-0.txt", BOUNDARY_ROWS)
        q.processAllAvailable()
        batch_in = spark.read.schema("value STRING").text(str(in_dir))
        want = points(topology.alerts_as_points(topology.fraud_topology(batch_in)))
        assert points(spark.read.parquet(out)) == want
        assert {(u, a) for _, u, a in want} == {
            ("user_011", SMALLEST_FRAUD), ("user_013", 10500.0),
        }

        ids = committed()
        time.sleep(1.6)  # three trigger intervals with no new file
        assert committed() == ids

        publish("part-1.txt", later)
        q.processAllAvailable()
        assert len(committed() - ids) == 1
        assert {u for _, u, _ in points(spark.read.parquet(out))} == {
            "user_011", "user_013", "user_015",
        }
    finally:
        q.stop()


def test_live_sink_checkpoint_forks_no_shell(spark, tmp_path):
    """The engine's local sessions write streaming logs through the
    FileSystem checkpoint manager, which renames with `File.renameTo`
    instead of forking `readlink` per log file as Spark's default
    FileContext manager does. `file://` stays Hadoop's checksummed
    LocalFileSystem, which `FileSystem.getLocal` (the RocksDB state
    store's file manager calls it) casts to. Over several micro-batches
    the live parquet sink still equals the batch topology."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.session import (
        apply_session_defaults,
    )

    # An externally created session gets the manager from apply_session_defaults.
    spark.conf.unset("spark.sql.streaming.checkpointFileManagerClass")
    apply_session_defaults(spark)
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    ckpt = tmp_path / "ckpt"
    got = manager.create(jvm.org.apache.hadoop.fs.Path(str(ckpt)), hadoop_conf)
    assert got.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(hadoop_conf)
    assert jvm.java.lang.Class.forName("org.apache.hadoop.fs.LocalFileSystem").isInstance(local)

    in_dir, stage, out = tmp_path / "in", tmp_path / "stage", tmp_path / "out"
    in_dir.mkdir()
    stage.mkdir()
    wire = spark.readStream.schema("value STRING").text(str(in_dir))
    q = topology.start_to_parquet(
        topology.alerts_as_points(topology.fraud_topology(wire)), str(out), str(ckpt)
    )
    try:
        for i, row in enumerate(BOUNDARY_ROWS):  # one file, one micro-batch each
            (stage / f"p{i}.txt").write_text(row)
            os.rename(stage / f"p{i}.txt", in_dir / f"p{i}.txt")
            q.processAllAvailable()
    finally:
        q.stop()

    assert len([p for p in (ckpt / "commits").iterdir() if p.name.isdigit()]) >= 3
    batch_in = spark.read.schema("value STRING").text(str(in_dir))
    want = topology.alerts_as_points(topology.fraud_topology(batch_in)).collect()
    assert sorted(map(tuple, spark.read.parquet(str(out)).collect())) == sorted(
        map(tuple, want)
    )
    assert len(want) == 2


def test_windowed_agg_with_watermark_drops_late(spark):
    """Late row behind the watermark is dropped from the streaming result
    but present in the batch result — the documented semantic difference."""
    rows = [
        # window [1700000000, 1700000010): two on-time rows
        '{"userId":"user_001","amount":10500.0,"timestamp":1700000001}',
        '{"userId":"user_001","amount":10600.0,"timestamp":1700000002}',
        # much later row advances the watermark far beyond the first window
        '{"userId":"user_001","amount":10700.0,"timestamp":1700000500}',
    ]
    late = ['{"userId":"user_001","amount":10999.0,"timestamp":1700000003}']

    with tempfile.TemporaryDirectory() as tmpdir:
        stream_in = _file_stream(spark, tmpdir, rows)
        tx = topology.fraud_topology(stream_in).withColumn(
            "event_time", F.timestamp_seconds("timestamp")
        )
        agg = windows.windowed_amounts(tx, window="10 seconds", watermark="30 seconds")
        q = (
            agg.writeStream.format("memory")
            .queryName("win_mem")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            # now the late arrival: watermark is ~1700000500-30s, so a row at
            # 1700000003 is far behind it -> dropped
            with open(f"{tmpdir}/b.txt", "w") as f:
                f.write("\n".join(late))
            q.processAllAvailable()
            got = {
                (r.window_start.isoformat(), round(r.total_amount, 2), r.n_tx)
                for r in spark.sql("SELECT * FROM win_mem").collect()
            }
        finally:
            q.stop()

    # first window closed with only the two on-time rows; late row dropped
    assert ("2023-11-14T22:13:20", 21100.0, 2) in got

    # batch formulation of the same input INCLUDES the late row
    all_rows = rows + late
    batch_tx = topology.fraud_topology(
        spark.createDataFrame([(r,) for r in all_rows], "value STRING")
    ).withColumn("event_time", F.timestamp_seconds("timestamp"))
    batch = {
        (r.window_start.isoformat(), round(r.total_amount, 2), r.n_tx)
        for r in windows.windowed_amounts(batch_tx).collect()
    }
    assert ("2023-11-14T22:13:20", 32099.0, 3) in batch


def test_generator_distribution_contract(spark):
    """R1 contract: userId in user_000..user_199, amount in [1000, 11000),
    timestamp epoch seconds; deterministic for a given seed."""
    df = generator.batch_transactions(spark, 2000).cache()
    stats = df.agg(
        F.min("amount").alias("lo"),
        F.max("amount").alias("hi"),
        F.count_distinct("userId").alias("users"),
    ).collect()[0]
    assert stats.lo >= 1000.0 and stats.hi < 11000.0
    assert 150 <= stats.users <= 200
    bad = df.filter(~F.col("userId").rlike(r"^user_[01]\d\d$")).count()
    assert bad == 0
    # deterministic across invocations
    a = generator.batch_transactions(spark, 50).collect()
    b = generator.batch_transactions(spark, 50).collect()
    assert a == b


def test_rate_source_streaming_smoke(spark):
    """The unbounded generator actually streams (micro-batch runs)."""
    stream = generator.rate_transactions(spark, rows_per_second=500)
    fraud = stream.filter(F.col("amount") > 10000.0)
    q = topology.start_to_memory(fraud, "rate_mem")
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            q.processAllAvailable()
            n = spark.sql("SELECT count(*) c FROM rate_mem").collect()[0].c
            if n > 0:
                break
            time.sleep(1)
        assert n > 0
    finally:
        q.stop()


def test_replay_stream_equals_batch(spark):
    """Batch-stream parity on real micro-batch execution: the complete-mode
    snapshot of the replayed wire stream equals the one-shot batch agg."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        QUERIES,
        _events_wire,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.topology import (
        fraud_topology,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r.userId): (r.total_amount, r.n_tx)
        for r in QUERIES["s01_stream_fraud_totals"](spark, sf).collect()
    }
    batch = {
        r.userId: (r.total_amount, r.n_tx)
        for r in fraud_topology(_events_wire(spark, sf), threshold=EVENTS_FRAUD_THRESHOLD)
        .groupBy("userId")
        .agg(F.round(F.sum("amount"), 2).alias("total_amount"), F.count("*").alias("n_tx"))
        .collect()
    }
    assert streamed == batch


def test_watermarked_append_equals_complete_mode(spark):
    """s06 (bounded-state watermarked append over ordered replay) must
    emit exactly the windows s02 (complete mode, unbounded state) holds —
    the watermark evicts state without losing any finalized window."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        QUERIES,
    )

    sf = "/root/testdata/sf0.001"
    append = {tuple(r) for r in QUERIES["s06_stream_watermarked_window"](spark, sf).collect()}
    complete = {tuple(r) for r in QUERIES["s02_stream_windowed_amounts"](spark, sf).collect()}
    assert append == complete


def test_drop_duplicates_within_watermark(spark):
    """Watermark-bounded streaming dedup: a duplicate arriving in a LATER
    micro-batch, while its original is still inside the watermark horizon,
    is suppressed; distinct rows all emit exactly once. This is the
    state-bounded production form of s04's unbounded dropDuplicates."""
    import os
    import time

    a = '{"userId":"user_001","amount":10500.5,"timestamp":1700000001}'
    b = '{"userId":"user_002","amount":10700.0,"timestamp":1700000002}'
    with tempfile.TemporaryDirectory() as tmpdir:
        with open(f"{tmpdir}/part-0.txt", "w") as f:
            f.write(a)
        time.sleep(1.1)  # distinct mtimes -> deterministic file order
        with open(f"{tmpdir}/part-1.txt", "w") as f:
            f.write("\n".join([a, b]))  # duplicate of a + a fresh row
        os.utime(f"{tmpdir}/part-0.txt", (time.time() - 60, time.time() - 60))

        stream = (
            spark.readStream.format("text")
            .schema("value STRING")
            .option("maxFilesPerTrigger", 1)
            .load(tmpdir)
        )
        deduped = (
            topology.fraud_topology(stream)
            .withWatermark("event_time", "10 minutes")
            .dropDuplicatesWithinWatermark(["userId", "amount", "timestamp"])
        )
        q = topology.start_to_memory(deduped, "dedup_wm_mem", output_mode="append")
        try:
            q.processAllAvailable()
            rows = spark.sql("SELECT userId, amount FROM dedup_wm_mem").collect()
        finally:
            q.stop()

    assert sorted((r.userId, r.amount) for r in rows) == [
        ("user_001", 10500.5),
        ("user_002", 10700.0),
    ]


def test_stream_stream_join_equals_batch(spark):
    """s05's stream-stream inner join snapshot equals the batch join of
    the same wire frame — matches formed across asynchronous micro-batch
    state, not within one batch."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        parse_wire,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        QUERIES,
        _events_wire,
    )

    sf = "/root/testdata/sf0.001"
    streamed = {
        (r.userId, r.spike_time, r.follow_time)
        for r in QUERIES["s05_stream_stream_join"](spark, sf).collect()
    }

    tx = parse_wire(_events_wire(spark, sf))
    spikes = tx.filter(F.col("amount") > 300.0).select(
        "userId", F.col("event_time").alias("spike_time")
    )
    follows = tx.select(
        F.col("userId").alias("_fu"), F.col("event_time").alias("follow_time")
    )
    batch = {
        (r.userId, r.spike_time, r.follow_time)
        for r in spikes.join(
            follows,
            (F.col("userId") == F.col("_fu"))
            & (F.col("follow_time") > F.col("spike_time"))
            & (F.col("follow_time") <= F.col("spike_time") + F.expr("INTERVAL 6 HOURS")),
        ).collect()
    }
    assert streamed == batch and len(streamed) >= 1


def test_python_stream_source_equals_batch(spark, sf_dir):
    """s11 (streaming read of the custom Python source) must snapshot to
    exactly r56's batch read of the same generator — batch-stream parity
    through a user-defined source, not just built-in file streams."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        QUERIES as RQ,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        QUERIES as SQ,
    )

    stream = {tuple(r) for r in SQ["s11_stream_python_source"](spark, sf_dir).collect()}
    batch = {tuple(r) for r in RQ["r56_python_datasource"](spark, sf_dir).collect()}
    assert stream == batch and len(stream) == 200


def test_transform_with_state_running_totals(spark):
    """transformWithStateInPandas (Spark 4 stateful API, RocksDB-backed)
    must produce the same final per-user totals as the batch GROUP BY —
    same contract as s03's applyInPandasWithState form. Skips where the
    TWS driver worker's protobuf dependency is absent (this sandbox)."""
    pytest.importorskip("google.protobuf")
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        EVENTS_FRAUD_THRESHOLD,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        _events_wire,
        _wire_dir,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.replay import (
        replay_wire_stream,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.stateful import (
        running_user_totals_tws,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.topology import (
        fraud_topology,
    )

    sf = "/root/testdata/sf0.001"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        snap = replay_wire_stream(
            spark,
            _wire_dir(spark, sf),
            lambda s: running_user_totals_tws(
                fraud_topology(s, threshold=EVENTS_FRAUD_THRESHOLD)
            ),
            output_mode="update",
            name="tws_mem",
        )
        streamed = {
            r.userId: (round(r.total_amount, 2), r.n_tx)
            for r in snap.groupBy("userId")
            .agg(F.max("total_amount").alias("total_amount"), F.max("n_tx").alias("n_tx"))
            .collect()
        }
    finally:
        if prev:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    batch = {
        r.userId: (round(r.total_amount, 2), r.n_tx)
        for r in fraud_topology(_events_wire(spark, sf), threshold=EVENTS_FRAUD_THRESHOLD)
        .groupBy("userId")
        .agg(F.sum("amount").alias("total_amount"), F.count("*").alias("n_tx"))
        .collect()
    }
    assert streamed == batch


# ---------------------------------------------------------------------------
# Late-data / watermark-horizon pin-downs (VERDICT r3 next-round #6)
# ---------------------------------------------------------------------------

_LT0 = 1_700_000_000  # 2023-11-14 22:13:20 UTC
_LSENT = _LT0 + 10 * 24 * 3600


def _late_wire_dir(tmp_path):
    """Hand-ordered replay dir, one file per micro-batch:

      b0  user_001 200 @ T0
      b1  user_001 200 @ T0          (exact duplicate, inside the horizon)
      b2  user_002 150 @ T0+3600     (advances the EVICTION watermark)
      b3  user_002 160 @ T0+3660     (advances the LATE-EVENTS watermark:
                                      Spark filters late input with the
                                      PREVIOUS batch's watermark and evicts
                                      state with the CURRENT one, so the
                                      drop needs one extra advancing batch)
      b4  user_001 200 @ T0 + user_003 170 @ T0   (both now below the
                                      late-filter watermark -> dropped)
      b5-7 sentinel                   (flushes append-mode state)
    """
    import os
    import time

    def rec(u, a, t):
        return f'{{"userId":"{u}","amount":{a},"timestamp":{t}}}'

    batches = [
        [rec("user_001", 200.0, _LT0)],
        [rec("user_001", 200.0, _LT0)],
        [rec("user_002", 150.0, _LT0 + 3600)],
        [rec("user_002", 160.0, _LT0 + 3660)],
        [rec("user_001", 200.0, _LT0), rec("user_003", 170.0, _LT0)],
        [rec("user_999", 99999.0, _LSENT)],
        [rec("user_999", 99999.0, _LSENT)],
        [rec("user_999", 99999.0, _LSENT)],
    ]
    d = tmp_path / "late_wire"
    d.mkdir()
    base = time.time() - len(batches) - 10
    for i, rows in enumerate(batches):
        p = d / f"part-{i:05d}.txt"
        p.write_text("\n".join(rows) + "\n")
        os.utime(p, (base + i, base + i))
    return str(d)


def test_watermark_drops_late_event_from_window_agg(spark, tmp_path):
    """s06's operator shape (append-mode tumbling window under a 10-min
    watermark): an event older than the late-events watermark horizon is
    EXCLUDED — the T0 window finalizes with the two in-horizon rows only,
    and the all-late user_003 never appears."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        fraud_predicate,
        parse_wire,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.replay import (
        replay_wire_stream,
    )

    def xform(stream):
        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD))
        return (
            fraud.groupBy(F.window("event_time", "10 minutes").alias("w"), "userId")
            .agg(F.round(F.sum("amount"), 2).alias("total"), F.count("*").alias("n"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("ws"), "userId", "total", "n"
            )
        )

    snap = replay_wire_stream(
        spark,
        _late_wire_dir(tmp_path),
        xform,
        output_mode="append",
        files_per_trigger=1,
        name="late_window_mem",
    )
    got = {(r.userId, str(r.ws)): (r.total, r.n) for r in snap.collect()}
    # b4's late user_001 copy is dropped: 2 rows, not 3; 400.0, not 600.0
    assert got[("user_001", "2023-11-14 22:10:00")] == (400.0, 2)
    assert got[("user_002", "2023-11-14 23:10:00")] == (310.0, 2)
    # the all-late user and the sentinel never reach the output
    assert not any(u == "user_003" or u == "user_999" for u, _ in got)


def test_watermark_drops_late_event_from_dedup(spark, tmp_path):
    """s17's operator (dropDuplicatesWithinWatermark): an in-horizon exact
    duplicate is deduped (n=1), and a late event below the late-events
    watermark is dropped entirely (user_003 absent) — pinning that dedup
    state eviction cannot double-count a beyond-horizon duplicate."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        fraud_predicate,
        parse_wire,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.replay import (
        replay_wire_stream,
    )

    def xform(stream):
        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
            & (F.col("event_time") < F.timestamp_seconds(F.lit(_LSENT)))
        )
        return (
            fraud.dropDuplicatesWithinWatermark(["userId", "amount", "timestamp"])
            .groupBy("userId")
            .agg(F.round(F.sum("amount"), 2).alias("total"), F.count("*").alias("n"))
        )

    snap = replay_wire_stream(
        spark,
        _late_wire_dir(tmp_path),
        xform,
        files_per_trigger=1,
        name="late_dedup_mem",
    )
    got = {r.userId: (r.total, r.n) for r in snap.collect()}
    assert got == {"user_001": (200.0, 1), "user_002": (310.0, 2)}


# ---------------------------------------------------------------------------
# Kafka wiring (VERDICT r3 next-round #5): skip-gated on a real broker
# ---------------------------------------------------------------------------


def test_kafka_round_trip_when_broker_available(spark, tmp_path):
    """Full Kafka parity path (TransactionProcessor.java:22-27,54):
    produce the wire rows to a topic, run the fraud topology from a
    Kafka source, sink alerts to a second topic, and compare the
    consumed alerts with the batch topology. Skips cleanly unless
    SPARK_GRAFT_KAFKA_BROKERS points at a reachable broker AND the
    spark-sql-kafka package is on the classpath."""
    import os

    brokers = os.environ.get("SPARK_GRAFT_KAFKA_BROKERS")
    if not brokers:
        pytest.skip("no Kafka broker configured (set SPARK_GRAFT_KAFKA_BROKERS)")
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.topology import (
        alerts_as_wire,
        fraud_topology,
        start_to_kafka,
        wire_stream_from_kafka,
    )

    run = f"t{os.getpid()}"
    in_topic, out_topic = f"transactions-input-{run}", f"fraud-alert-{run}"
    wire = spark.createDataFrame([(r,) for r in WIRE_ROWS], "value STRING")
    try:
        (
            wire.selectExpr("CAST(NULL AS STRING) AS key", "value")
            .write.format("kafka")
            .option("kafka.bootstrap.servers", brokers)
            .option("topic", in_topic)
            .save()
        )
    except Exception as e:  # pragma: no cover - environment gate
        if "Failed to find data source: kafka" in str(e):
            pytest.skip("spark-sql-kafka package not on classpath")
        raise

    stream = wire_stream_from_kafka(spark, brokers, topic=in_topic)
    q = start_to_kafka(
        alerts_as_wire(fraud_topology(stream)),
        brokers,
        out_topic,
        checkpoint=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    consumed = (
        spark.read.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", out_topic)
        .option("startingOffsets", "earliest")
        .load()
        .selectExpr("CAST(value AS STRING) AS value")
    )
    batch = alerts_as_wire(fraud_topology(wire))
    assert sorted(r.value for r in consumed.collect()) == sorted(
        r.value for r in batch.collect()
    )


def test_kafka_wiring_constructs_without_broker(spark):
    """The Kafka source/sink builders must at least construct their plans:
    with the package absent the failure mode is the specific
    'Failed to find data source' analysis error, never a Python-side
    error in our wiring. With the package present, construction succeeds
    lazily without contacting any broker."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.topology import (
        wire_stream_from_kafka,
    )

    try:
        df = wire_stream_from_kafka(spark, "localhost:9092")
    except Exception as e:
        assert "kafka" in str(e).lower(), e
    else:
        assert df.schema.simpleString() == "struct<value:string>"


def test_streaming_observe_metrics_match_batch(spark, tmp_path):
    """R9 peek on the STREAM side: df.observe on a streaming frame
    surfaces per-batch observed metrics in StreamingQueryProgress;
    summed across batches they must equal the batch-mode counts over
    the same wire — executor-side monitoring with zero extra scans,
    the Structured Streaming form of the reference's per-record log."""
    import json as _json

    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        EVENTS_FRAUD_THRESHOLD,
        fraud_predicate,
        parse_wire,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.streaming_queries import (
        _wire_dir,
    )

    d = _wire_dir(spark, sf)
    stream = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 4)
        .text(d)
    )
    parsed = parse_wire(stream).observe(
        "wire_metrics",
        F.count(F.lit(1)).alias("n_parsed"),
        F.sum(
            F.when(
                fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD), 1
            ).otherwise(0)
        ).alias("n_fraud"),
    )
    agg = parsed.groupBy("userId").agg(F.count("*").alias("n"))
    seen: list[dict] = []
    q = (
        agg.writeStream.format("memory")
        .queryName("observe_mem")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        for prog_json in q.recentProgress:
            prog = (
                prog_json
                if isinstance(prog_json, dict)
                else _json.loads(prog_json.json)
            )
            om = prog.get("observedMetrics", {}).get("wire_metrics")
            if om:
                seen.append(om)
    finally:
        q.stop()

    batch_wire = spark.read.text(d)
    batch_parsed = parse_wire(batch_wire.withColumnRenamed("value", "value"))
    n_parsed = batch_parsed.count()
    n_fraud = batch_parsed.filter(
        fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
    ).count()

    assert seen, "no observed metrics surfaced in query progress"
    assert sum(m["n_parsed"] for m in seen) == n_parsed
    assert sum(m["n_fraud"] for m in seen) == n_fraud


def test_s23_stream_gate_equals_batch_l64(spark, sf_dir):
    """The streaming dedup gate must classify identically to the batch
    l64 probe — same statuses, same provenance ids — even though the
    stream sees the incoming docs split across micro-batches (the gate
    is stateless across batches by design: min-of-mins equals the
    global min)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        llmops,
        streaming_queries as SQ,
    )

    got = sorted(
        (r.doc_id, r.status, r.match_id)
        for r in SQ.QUERIES["s23_stream_dedup_gate"](spark, sf_dir).collect()
    )
    want = sorted(
        (r.doc_id, r.status, r.match_id)
        for r in llmops.QUERIES["l64_incremental_dedup"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_s24_stream_cep_equals_batch_r82(spark, sf_dir):
    """The streaming CEP must find exactly the batch lead()-window's
    matches — same triples, same spans — with matches present (the tiny
    SF still contains card-testing sequences)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r) for r in SQ.QUERIES["s24_stream_cep"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r82_cep_card_testing"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_cep_state_carries_pattern_across_batches():
    """The stateful walk itself, unit-level: probes arriving in one
    micro-batch and the fraud event in the NEXT must still match (state
    carries the last two events); a fourth event must not re-emit the
    finished triple; out-of-order rows WITHIN a batch are sorted by
    (timestamp, event_id) before the walk."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.stateful import (
        make_cep_card_testing,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    cep = make_cep_card_testing(20.0, 100.0, 86400)
    state = FakeState()

    def run(rows):
        pdf = pd.DataFrame(
            rows, columns=["userId", "amount", "timestamp", "event_id"]
        )
        return list(cep(("user_007",), iter([pdf]), state))

    # batch 1: the two probes, delivered out of order within the batch
    out1 = run([("user_007", 5.0, 2000, 11), ("user_007", 3.0, 1000, 10)])
    assert out1 == []
    # batch 2: the fraud event completes the pattern exactly once
    out2 = run([("user_007", 250.0, 3000, 12)])
    assert len(out2) == 1
    m = out2[0].iloc[0]
    assert (
        m["probe1_id"], m["probe2_id"], m["fraud_id"], m["span_s"]
    ) == (10, 11, 12, 2000)
    # batch 3: another large event does NOT re-match the spent probes
    # (prev two events are now probe2 + fraud, and fraud >= probe bound)
    out3 = run([("user_007", 300.0, 4000, 13)])
    assert out3 == []


def test_s25_stream_kleene_equals_batch_r83(spark, sf_dir):
    """The streaming Kleene CEP must find exactly the batch
    gaps-and-islands matches — same runs, same lengths, same spans —
    with matches present at the tiny SF."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s25_stream_cep_kleene"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r83_cep_kleene_probe_run"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_kleene_state_continues_run_across_batches():
    """The O(1) run summary, unit-level: a probe run split across THREE
    micro-batches still emits one maximal match when the fraud event
    arrives (n_probes counts every batch's probes); a mid-range event
    (neither probe nor fraud) clears the run without emitting; a fraud
    event with no active run emits nothing; span bound enforced from
    the FIRST probe of the run."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.stateful import (
        make_cep_kleene_probe_run,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    cep = make_cep_kleene_probe_run(20.0, 100.0, 86400)
    state = FakeState()

    def run(rows):
        pdf = pd.DataFrame(
            rows, columns=["userId", "amount", "timestamp", "event_id"]
        )
        return list(cep(("user_007",), iter([pdf]), state))

    # batches 1-3: a 4-probe run crossing batch boundaries (batch 2
    # delivered out of order within the batch)
    assert run([("user_007", 5.0, 1000, 10)]) == []
    assert run(
        [("user_007", 2.0, 3000, 12), ("user_007", 3.0, 2000, 11)]
    ) == []
    assert run([("user_007", 4.0, 4000, 13)]) == []
    # batch 4: fraud completes the maximal run exactly once
    out = run([("user_007", 250.0, 5000, 14)])
    assert len(out) == 1
    m = out[0].iloc[0]
    assert tuple(
        m[c]
        for c in ["first_probe_id", "last_probe_id", "n_probes",
                  "fraud_id", "span_s"]
    ) == (10, 13, 4, 14, 4000)
    # batch 5: fraud with no active run -> nothing
    assert run([("user_007", 300.0, 6000, 15)]) == []
    # batch 6-7: new run, then a mid-range event clears WITHOUT emitting
    assert run([("user_007", 1.0, 7000, 16)]) == []
    assert run([("user_007", 50.0, 8000, 17)]) == []
    assert run([("user_007", 500.0, 9000, 18)]) == []
    # batch 8-9: span bound measured from the run's FIRST probe
    assert run([("user_007", 1.0, 10000, 19)]) == []
    assert run([("user_007", 2.0, 10000 + 86400, 20)]) == []
    assert run([("user_007", 999.0, 10000 + 86401, 21)]) == []


def test_s26_stream_isotonic_equals_batch_m15(spark, sf_dir):
    """The streamed calibrator (per-batch bucket partials merged by
    summation, then the bounded minimax) must equal the batch m15 fit
    row-for-row."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s26_stream_isotonic_calibration"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m15_isotonic_calibration"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_s27_stream_ann_probe_equals_batch_l75(spark, sf_dir):
    """The streamed ANN evaluation (query ids arriving in micro-batches
    against the static index) must equal the batch l75 evaluation
    row-for-row."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        llmops as LL,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s27_stream_ann_probe"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in LL.QUERIES["l75_ann_recall_eval"](spark, sf_dir).collect()
    )
    assert got == want and len(got) == 10


def test_funnel_state_carries_stages_across_batches():
    """The per-user funnel state, unit-level: stages completing in three
    separate micro-batches each emit exactly once; a click BEFORE any
    view never completes stage 2 (even though a view arrives later); a
    same-second click as the view is excluded by the strict
    after-previous-stage comparison; repeat stage events emit nothing;
    an out-of-funnel event type is a no-op."""
    import pandas as pd

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.stateful import (
        make_funnel_steps,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    fn = make_funnel_steps()

    def run(state, rows):
        pdf = pd.DataFrame(
            rows, columns=["user_id", "event_type", "timestamp", "event_id"]
        )
        out = list(fn((7,), iter([pdf]), state))
        return [] if not out else [tuple(r) for r in
                                   out[0].itertuples(index=False)]

    s = FakeState()
    # click before any view: ignored forever (batch: min click with t>t1)
    assert run(s, [(7, "click", 500, 1)]) == []
    assert run(s, [(7, "view", 1000, 2)]) == [(7, 1)]
    # same-second click as the view: strict > excludes it
    assert run(s, [(7, "click", 1000, 3)]) == []
    # error event: no-op
    assert run(s, [(7, "error", 1500, 4)]) == []
    # qualifying click in a later batch; purchase same second as click
    # excluded, later purchase completes; repeats emit nothing
    assert run(s, [(7, "click", 2000, 5), (7, "purchase", 2000, 6)]) == [
        (7, 2)
    ]
    assert run(s, [(7, "view", 2500, 7), (7, "click", 2600, 8)]) == []
    assert run(s, [(7, "purchase", 3000, 9)]) == [(7, 3)]
    assert run(s, [(7, "purchase", 4000, 10)]) == []
    # fresh user: view+click+purchase strictly ordered within ONE batch
    s2 = FakeState()
    assert run(s2, [(7, "view", 10, 11), (7, "click", 20, 12),
                    (7, "purchase", 30, 13)]) == [(7, 1), (7, 2), (7, 3)]


def test_s29_stream_funnel_equals_batch_r87(spark, sf_dir):
    """The streamed funnel must equal the batch r87 report row-for-row."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s29_stream_funnel"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r87_funnel_conversion"](spark, sf_dir).collect()
    )
    assert got == want


def test_s31_stream_auc_equals_batch_m18(spark, sf_dir):
    """The streamed AUC monitor must equal the batch m18 evaluation
    row-for-row — the merged foreachBatch partials feed the identical
    Mann-Whitney tail, so the histogram merge must be lossless."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s31_stream_auc"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m18_exact_auc"](spark, sf_dir).collect()
    )
    assert got == want


def test_s33_stream_ks_equals_batch_m22(spark, sf_dir):
    """The streamed KS drift monitor must equal the batch m22 test
    row-for-row — per-cent count partials merge additively into the
    exact live histogram, so the integer ECDF gap is identical."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s33_stream_ks_drift"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m22_ks_drift"](spark, sf_dir).collect()
    )
    assert got == want


def test_s34_stream_audit_equals_batch_r90(spark, sf_dir):
    """The streamed quality audit must equal the batch r90 report
    row-for-row — keyed partials merge losslessly across micro-batches,
    which is exactly what makes the cross-batch constraints (pk_unique,
    fk_orders) exact rather than per-batch approximations."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s34_stream_quality_audit"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r90_quality_audit"](spark, sf_dir).collect()
    )
    assert got == want


def test_s35_stream_stats_equals_batch_r91(spark, sf_dir):
    """The on-ingest stats maintenance must equal the batch ANALYZE
    row-for-row — per-(col, value) partials preserve the distinct value
    set, so exact NDV (the stat a per-batch counter cannot maintain)
    merges losslessly."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s35_stream_table_stats"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r91_table_stats"](spark, sf_dir).collect()
    )
    assert got == want


def test_s36_stream_bm25_equals_batch_l77(spark, sf_dir):
    """The streamed BM25 query service must equal the batch retrieval
    row-for-row — requests are atomic (one line carries all of a
    query's terms), so per-batch top-k against the frozen index needs
    no cross-batch merge."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        llmops as L,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s36_stream_bm25_probe"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in L.QUERIES["l77_bm25_topk"](spark, sf_dir).collect()
    )
    assert got == want


def test_s37_stream_threshold_equals_batch_m24(spark, sf_dir):
    """The streamed threshold retuning must equal the batch optimizer
    row-for-row — score-histogram partials merge additively, so the
    utility sweep sees the identical distribution."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s37_stream_threshold_tuning"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m24_threshold_tuning"](spark, sf_dir).collect()
    )
    assert got == want


def test_s38_stream_ab_equals_batch_m26(spark, sf_dir):
    """The live A/B monitor must equal the batch analysis row-for-row —
    count/sum/sum-of-squares partials are associative, so the Welch
    tail sees identical integers."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s38_stream_ab_monitor"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m26_ab_test"](spark, sf_dir).collect()
    )
    assert got == want


def test_s39_stream_cusum_equals_batch_m28(spark, sf_dir):
    """The streamed change detector must equal the batch CUSUM trace
    row-for-row — per-day cents partials merge additively into the
    exact daily frame the closed-form windows run on."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s39_stream_cusum"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m28_cusum_alarm"](spark, sf_dir).collect()
    )
    assert got == want


def test_s40_stream_vocab_equals_batch_l88(spark, sf_dir):
    """The on-ingest vocabulary monitor must equal the batch Heaps
    curve row-for-row — first-seen attribution is a min, so token
    partials merge losslessly across micro-batches."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        llmops as L,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s40_stream_vocab_growth"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in L.QUERIES["l88_vocab_growth"](spark, sf_dir).collect()
    )
    assert got == want


def test_s41_stream_view_equals_batch_r89(spark, sf_dir):
    """The streamed IVM fold must equal the batch-maintained view
    row-for-row — self-maintainable aggregates merge losslessly across
    micro-batch deltas."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s41_stream_view_maintenance"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r89_incremental_view_maintenance"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_r89_merge_handles_cross_batch_customers(spark):
    """The IVM algebra's reason to exist: a customer whose orders are
    scattered over several deltas must fold to exactly the one-shot
    aggregate — counts/sums add, min/max and date bounds combine, and a
    customer absent from a delta passes through the full-outer merge
    untouched."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _r89_agg,
        _r89_merge,
    )

    rows = [
        # customer 1 spans all three batches; 2 only batch 0; 3 only
        # batch 2 (born mid-stream — the merge's null side)
        (0, 1, 10.00, "1995-01-03"),
        (0, 2, 99.99, "1995-06-01"),
        (1, 1, 5.25, "1996-02-02"),
        (2, 1, 300.10, "1994-12-31"),
        (2, 3, 7.77, "1997-07-07"),
    ]
    df = spark.createDataFrame(
        rows, "b INT, o_custkey LONG, o_totalprice DOUBLE, d STRING"
    ).select(
        "b", "o_custkey", "o_totalprice",
        F.col("d").cast("date").alias("o_orderdate"),
    )
    view = None
    for b in (0, 1, 2):
        delta = _r89_agg(df.where(F.col("b") == b))
        view = delta if view is None else _r89_merge(view, delta)
    got = {r.o_custkey: tuple(r)[1:] for r in view.collect()}
    want = {
        r.o_custkey: tuple(r)[1:]
        for r in _r89_agg(df).collect()
    }
    assert got == want
    # the spanning customer really exercised every merge lane
    assert got[1][0] == 3  # n_orders across three batches


def test_s42_stream_skyline_equals_batch_r98(spark, sf_dir):
    """The streamed Pareto front must equal the one-shot skyline —
    skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B))."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s42_stream_skyline"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r98_pareto_skyline"](spark, sf_dir).collect()
    )
    assert got == want


def test_skyline_cross_batch_dominance(spark):
    """A point on batch A's local front that a batch-B point dominates
    must vanish from the merged front — and duplicate (day, cents)
    points never dominate each other (both survive)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        skyline_front,
    )

    def front(rows):
        df = spark.createDataFrame(
            rows, "o_orderkey LONG, d LONG, cents LONG"
        )
        return sorted(tuple(r) for r in skyline_front(df).collect())

    # batch A alone: (1, d=10, 500) is on A's front
    a = [(1, 10, 500), (2, 5, 900)]
    assert (1, 10, 500) in front(a)
    # batch B holds (3, d=12, 400): later AND cheaper -> dominates 1
    b = [(3, 12, 400)]
    merged = front(front_rows := a + b)
    assert (1, 10, 500) not in merged and (3, 12, 400) in merged
    # merging the two local fronts gives the same answer
    assert front([r for r in a if tuple(r) in set(front(a))] + b) == merged
    # duplicate points: both survive when undominated
    dup = [(7, 20, 100), (8, 20, 100)]
    fd = front(dup)
    assert (7, 20, 100) in fd and (8, 20, 100) in fd


def test_s43_stream_transitions_equals_batch_r99(spark, sf_dir):
    """The streamed transition matrix must equal batch r99 exactly.
    This is the boundary-stitch pin: users span micro-batches in the
    replay, so inner-pair partials alone would undercount — equality
    holds only if every (last event of batch k -> first event of next
    appearance) stitch lands."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = {
        (r.src, r.dst): (r.n_transitions, r.src_total, r.p_ppm)
        for r in SQ.QUERIES["s43_stream_transitions"](
            spark, sf_dir
        ).collect()
    }
    want = {
        (r.src, r.dst): (r.n_transitions, r.src_total, r.p_ppm)
        for r in R3.QUERIES["r99_event_transitions"](
            spark, sf_dir
        ).collect()
    }
    assert got == want
    # sanity: the replay genuinely split users across batches — the
    # stitched pairs are a material share, not a vacuous zero
    assert sum(n for n, _, _ in want.values()) > 0


def test_s44_stream_ap_equals_batch_m35(spark, sf_dir):
    """Streamed average precision must equal batch m35 — the histogram
    partials merge losslessly, and the AP tail is shared code."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s44_stream_average_precision"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m35_average_precision"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_s45_stream_twa_equals_batch_r101(spark, sf_dir):
    """Streamed TWA must equal batch r101 — the value-carrying boundary
    stitch is the pin (inner weighted sums alone would drop every
    cross-batch segment's weight)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r) for r in SQ.QUERIES["s45_stream_twa"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r101_time_weighted_average"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_s46_stream_bootstrap_equals_batch_m38(spark, sf_dir):
    """Streamed Poisson-bootstrap bands must equal batch m38 — the
    row-deterministic weights are what make replicate partials mergeable
    across batches at all."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced as AD,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s46_stream_bootstrap_ci"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in AD.QUERIES["m38_bootstrap_ci"](spark, sf_dir).collect()
    )
    assert got == want


def test_s47_stream_equidepth_equals_batch_r100(spark, sf_dir):
    """Streamed equi-depth boundaries must equal batch r100 — the
    value-count partials merge losslessly and the boundary tail is
    shared code."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s47_stream_equidepth"](spark, sf_dir).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r100_equidepth_histogram"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_s48_stream_median_equals_batch_r103(spark, sf_dir):
    """Streamed trailing medians must equal batch r103 — an exact median
    is non-mergeable as a scalar but merges trivially as a value-domain
    histogram; the partials pin that reframing."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s48_stream_sliding_median"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r103_sliding_median"](spark, sf_dir).collect()
    )
    assert got == want


def test_s49_stream_leaderboard_equals_batch_r104(spark, sf_dir):
    """Streamed decayed leaderboard must equal batch r104 — daily
    partials merge losslessly and the exact-integer decay tail is
    shared code (d1 re-derived from the merged frame)."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
        streaming_queries as SQ,
    )

    got = sorted(
        tuple(r)
        for r in SQ.QUERIES["s49_stream_decayed_leaderboard"](
            spark, sf_dir
        ).collect()
    )
    want = sorted(
        tuple(r)
        for r in R3.QUERIES["r104_decayed_leaderboard"](
            spark, sf_dir
        ).collect()
    )
    assert got == want


def test_partial_replay_contract(spark, tmp_path):
    """The contract the sink-merge twins rely on: 8 wire files replay as
    exactly 2 micro-batches (one merged partial row each), and every
    record reaches the reduce, whichever of its fields is null; null
    handling is the reduce's own, as in the batch query. A malformed
    line cannot come from the `to_json` that writes every wire, so it
    fails the replay instead of reducing as an all-null row."""
    from pyspark.errors import StreamingQueryException

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    def write(d, files):
        d.mkdir()
        for i, rows in enumerate(files):
            (d / f"part-{i}.txt").write_text("\n".join(rows) + "\n")
        return str(d)

    files = [[json.dumps({"k": 8 * i + j, "v": "x"}) for j in range(3)]
             for i in range(8)]
    files[5].append(json.dumps({"v": "first field null"}))
    files[6].append(json.dumps({"k": 99}))  # later field null
    count = lambda b: b.groupBy().agg(  # noqa: E731
        F.count("*").alias("count"), F.count("k").alias("n_k")
    )
    merged = SQ._partial_replay(
        spark, write(tmp_path / "ok", files), "k LONG, v STRING", count,
        "contract",
    ).collect()
    assert len(merged) == 2
    assert sum(r["count"] for r in merged) == 8 * 3 + 2
    assert sum(r["n_k"] for r in merged) == 8 * 3 + 1

    files[2].append('{"k":')  # malformed
    with pytest.raises(StreamingQueryException):
        SQ._partial_replay(
            spark, write(tmp_path / "corrupt", files), "k LONG, v STRING",
            count, "contract_corrupt",
        )

    # The lifecycle under it: one micro-batch per file at
    # files_per_trigger=1 (files replay oldest-first), every landed row
    # tagged with its batch's _batch_id, and a land that returns None
    # writes no partition.
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.replay import (
        replay_foreach_batch,
    )

    wire = tmp_path / "one_per_file"
    wire.mkdir()
    for i in range(4):
        f = wire / f"part-{i}.txt"
        f.write_text(json.dumps({"k": i}) + "\n")
        os.utime(f, (1_000_000 + i, 1_000_000 + i))
    batches = []

    def land(b):
        rows = b.select(
            F.get_json_object("value", "$.k").cast("long").alias("k")
        )
        batches.append(sorted(r.k for r in rows.collect()))
        return None if batches[-1] == [2] else rows

    landed = replay_foreach_batch(spark, str(wire), land, "contract", 1)
    assert batches == [[0], [1], [2], [3]]
    assert sorted((r.k, r._batch_id) for r in landed.collect()) == [
        (0, 0), (1, 1), (3, 3)
    ]


class _Stopped(Exception):
    pass


def _stop(*args):
    raise _Stopped(*args)


_MOVED_TWINS = (
    "s26_stream_isotonic_calibration",
    "s28_stream_drift_psi",
    "s30_stream_concurrency",
    "s31_stream_auc",
    "s33_stream_ks_drift",
    "s37_stream_threshold_tuning",
    "s38_stream_ab_monitor",
    "s39_stream_cusum",
    "s42_stream_skyline",
    "s44_stream_average_precision",
    "s46_stream_bootstrap_ci",
    "s47_stream_equidepth",
    "s48_stream_sliding_median",
    "s49_stream_decayed_leaderboard",
    "s51_stream_structuring",
    "s52_stream_equiwidth",
    "s53_stream_benford",
    "s54_stream_mom_revenue",
    "s55_stream_peer_deviation",
    "s56_stream_gopher_audit",
    "s57_stream_ohlc",
    "s58_stream_tukey",
    "s63_stream_pca",
)


def test_sink_merge_twins_reuse_wire_dirs(spark, sf_dir, monkeypatch):
    """Every sink-merge twin replays a session-cached wire dir through
    _partial_replay; s26, s31, s37 and s44 share ONE scoring wire, and
    re-running any twin adds no entry to the wire-dir cache. The replay
    itself is stubbed to stop the twin at the call (its wire argument
    is already built by then) — the replay is pinned by the contract
    test above and by each twin's equality test."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    def run(name):
        with pytest.raises(_Stopped) as got:
            SQ.QUERIES[name](spark, sf_dir)
        assert got.value.args[1] in SQ._WIRE_DIRS.values(), name

    monkeypatch.setattr(SQ, "_WIRE_DIRS", {})
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    for name in ("s26_stream_isotonic_calibration", "s31_stream_auc",
                 "s37_stream_threshold_tuning",
                 "s44_stream_average_precision"):
        run(name)
    assert [k[1] for k in SQ._WIRE_DIRS] == ["proj"]

    for name in _MOVED_TWINS:
        run(name)
    cached = dict(SQ._WIRE_DIRS)
    for name in _MOVED_TWINS:
        run(name)
        assert SQ._WIRE_DIRS == cached, name


def test_drift_twins_share_one_live_half_wire(spark, sf_dir, monkeypatch):
    """s28 (PSI) and s33 (KS) replay the same post-split live half of
    m17's split: s28 builds one session-cached wire and s33 reuses it."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    monkeypatch.setattr(SQ, "_WIRE_DIRS", {})
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    wires = []
    for name in ("s28_stream_drift_psi", "s33_stream_ks_drift"):
        with pytest.raises(_Stopped) as got:
            SQ.QUERIES[name](spark, sf_dir)
        wires.append(got.value.args[1])
    assert list(SQ._WIRE_DIRS.values()) == [wires[0]] == [wires[1]]


def test_s50_replays_the_prebuilt_velocity_wire(spark, sf_dir, monkeypatch):
    """The benchmark's batch_mix set-up (perfbench/workloads.py) builds
    s50's wire with this exact call before s50 runs; s50 must then find
    it under the same events key, (applicationId, "proj", sf_dir,
    str(struct)), and build no wire of its own."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    monkeypatch.setattr(SQ, "_WIRE_DIRS", {})
    SQ._events_proj_wire(spark, sf_dir,
                         lambda t: ["user_id", t.cast("long").alias("s")])
    built = dict(SQ._WIRE_DIRS)
    (key,) = built
    assert len(key) == 4 and key[1:3] == ("proj", sf_dir)
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    with pytest.raises(_Stopped) as got:
        SQ.QUERIES["s50_stream_velocity"](spark, sf_dir)
    assert SQ._WIRE_DIRS == built
    assert got.value.args[1] == built[key]


# (streaming twin, batch query) pairs that share one EventsRule.
_RULE_TWINS = [
    ("s48_stream_sliding_median", "r103_sliding_median"),
    ("s49_stream_decayed_leaderboard", "r104_decayed_leaderboard"),
    ("s59_stream_rings", "r118_cooccurrence_rings"),
    ("s60_stream_gtest", "m54_gtest_llr"),
    ("s61_stream_moments", "m53_higher_moments"),
    ("s62_stream_seasonal_outliers", "m56_seasonal_adjusted_outliers"),
    ("s64_stream_kruskal", "m58_kruskal_wallis"),
    ("s65_stream_mutual_information", "m60_mutual_information"),
    ("s66_stream_wilcoxon", "m59_wilcoxon_signed_rank"),
    ("s67_stream_jensen_shannon", "m61_jensen_shannon"),
    ("s68_stream_emd", "m64_wasserstein_emd"),
    ("s69_stream_hellinger", "m65_hellinger_bhattacharyya"),
    ("s70_stream_chisq_gof", "m68_chisq_gof_hourly"),
    ("s71_stream_hhi", "m66_hhi_concentration"),
    ("s72_stream_theil", "m67_theil_inequality"),
    ("s73_stream_winsorized", "r128_winsorized_stats"),
    ("s74_stream_cramers_v", "m71_cramers_v"),
    ("s75_stream_page_hinkley", "m72_page_hinkley"),
    ("s76_stream_durbin_watson", "m69_durbin_watson"),
    ("s77_stream_ccf", "m70_cross_correlation"),
    ("s78_stream_anderson_darling", "m78_anderson_darling"),
    ("s82_stream_friedman", "m80_friedman_test"),
    ("s84_stream_trend_test", "m73_cochran_armitage"),
    ("s86_stream_grubbs", "m82_grubbs_extremes"),
    ("s87_stream_reach_curve", "r131_reach_curve"),
    ("s51_stream_structuring", "r108_structuring"),
    ("s52_stream_equiwidth", "r114_equiwidth_histogram"),
    ("s53_stream_benford", "m42_benford_first_digit"),
    ("s54_stream_mom_revenue", "r115_period_over_period"),
    ("s56_stream_gopher_audit", "l98_gopher_quality_rules"),
    ("s57_stream_ohlc", "r119_ohlc_resample"),
    ("s58_stream_tukey", "m51_tukey_fences"),
    ("s85_stream_wilson", "m79_wilson_intervals"),
    ("s26_stream_isotonic_calibration", "m15_isotonic_calibration"),
    ("s30_stream_concurrency", "r88_interval_concurrency"),
    ("s31_stream_auc", "m18_exact_auc"),
    ("s37_stream_threshold_tuning", "m24_threshold_tuning"),
    ("s44_stream_average_precision", "m35_average_precision"),
    ("s38_stream_ab_monitor", "m26_ab_test"),
    ("s39_stream_cusum", "m28_cusum_alarm"),
    ("s46_stream_bootstrap_ci", "m38_bootstrap_ci"),
]


@pytest.mark.parametrize("twin, batch", _RULE_TWINS)
def test_rule_twins_replay_their_batch_rule(spark, sf_dir, monkeypatch, twin, batch):
    """Each twin replays its batch query's own EventsRule: the batch query
    projects the rule's table with the rule's `cols`, and the twin hands
    `_partial_replay` the wire of that projection, the rule's `reduce`
    object and the projection's own schema (no hand-typed DDL). Rules
    may share `cols` (M15 and SCORE_HIST share the scoring wire), so
    the rule is the one whose `cols` and `reduce` both match. Both
    queries are stopped at the call; the replay is pinned by the
    contract test above and each twin's value by its oracle."""
    import importlib

    from pyspark.sql.types import StructType

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.registry import (
        EventsRule,
        all_queries,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        events_projection,
    )

    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    with pytest.raises(_Stopped) as got:
        SQ.QUERIES[twin](spark, sf_dir)
    _spark, wire, schema, reduce_fn, prefix = got.value.args

    mod = importlib.import_module(all_queries()[batch].__module__)
    monkeypatch.setattr(mod, "events_projection", _stop)
    with pytest.raises(_Stopped) as got:
        mod.QUERIES[batch](spark, sf_dir)
    _spark, _sf_dir, cols, *table = got.value.args
    (rule,) = [
        r for r in vars(mod).values()
        if isinstance(r, EventsRule) and r.cols is cols
        and r.reduce is reduce_fn
    ]
    assert (table or ["events"]) == [rule.table]
    assert isinstance(schema, StructType)
    assert schema == events_projection(spark, sf_dir, rule.cols, rule.table).schema
    assert wire == SQ._events_proj_wire(spark, sf_dir, rule.cols, rule.table)
    assert prefix == twin.split("_", 1)[0]


def test_daily_cents_twins_share_one_wire(spark, sf_dir, monkeypatch):
    """s48's (d, cents) histogram and the five daily-cents twins replay
    one session-cached projection wire."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    monkeypatch.setattr(SQ, "_WIRE_DIRS", {})
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    for name in ("s48_stream_sliding_median", "s39_stream_cusum",
                 "s62_stream_seasonal_outliers", "s75_stream_page_hinkley",
                 "s76_stream_durbin_watson", "s82_stream_friedman"):
        with pytest.raises(_Stopped):
            SQ.QUERIES[name](spark, sf_dir)
    assert [k[1] for k in SQ._WIRE_DIRS] == ["proj"]


def test_trend_and_wilson_twins_share_m73(spark, sf_dir, monkeypatch):
    """s84 and s85 replay M73's one projection wire (one `"proj"` entry
    between them), and s85 lands M73's own `reduce`."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import M73

    monkeypatch.setattr(SQ, "_WIRE_DIRS", {})
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    reduces = []
    for name in ("s84_stream_trend_test", "s85_stream_wilson"):
        with pytest.raises(_Stopped) as got:
            SQ.QUERIES[name](spark, sf_dir)
        reduces.append(got.value.args[3])
    assert [k[1] for k in SQ._WIRE_DIRS] == ["proj"]
    assert all(r is M73.reduce for r in reduces)


def test_null_value_row_reaches_both_sides_of_m26(spark, tmp_path):
    """A null `value` is the reduce's business on both sides: batch m26
    and its twin s38 count the row in `n` (its cents are null, so the
    sums skip it), and both equal the oracle. A replay that dropped
    rows by a null field would leave the twin's `n` one short."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        advanced,
        streaming_queries,
    )

    values = [12.5, 40.0, None, 7.25, 99.99, 3.0, 55.5, 18.0]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(values)), pa.int64()),
                "ts": pa.array(
                    [(19_700 * 86400 + i) * 10**6 for i in range(len(values))],
                    pa.timestamp("us"),
                ),
                # both arms (user_id parity) in each segment
                "user_id": pa.array(
                    [i // 2 % 4 for i in range(len(values))], pa.int64()
                ),
                "event_type": pa.array(["purchase", "click"] * 4),
                "value": pa.array(values, pa.float64()),
                "props": pa.array(["{}"] * len(values)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    sf_dir = str(tmp_path)
    batch = sorted(
        tuple(r)
        for r in advanced.QUERIES["m26_ab_test"](spark, sf_dir).collect()
    )
    twin = sorted(
        tuple(r)
        for r in streaming_queries.QUERIES["s38_stream_ab_monitor"](
            spark, sf_dir
        ).collect()
    )
    assert twin == batch
    con = testing.duckdb_conn(sf_dir)
    try:
        oracle = con.execute(advanced.ORACLES["m26_ab_test"]).fetchall()
    finally:
        con.close()
    assert sorted(oracle) == batch
    # purchase rows are the even event_ids; event 2 (null value) is one
    assert sum(r[1] + r[2] for r in batch if r[0] == "purchase") == 4


def test_s63_replays_the_floats_l102_reads(spark, tmp_path, monkeypatch):
    """s63 parses `embeddings.embedding` with the projection's own
    array<float> type, so the elements its reduce widens to double are
    the ones l102 widens: 0.1f reads 0.10000000149011612, not the 0.1
    an ARRAY<DOUBLE> parse of the wire's JSON text gives."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        load_table,
    )

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([1, 2], pa.int64()),
                "embedding": pa.array(
                    [[0.1, 0.7], [0.3, 0.1]], pa.list_(pa.float32())
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    sf_dir = str(tmp_path)
    monkeypatch.setattr(SQ, "_partial_replay", _stop)
    with pytest.raises(_Stopped) as got:
        SQ.QUERIES["s63_stream_pca"](spark, sf_dir)
    _spark, wire, schema, _reduce, _prefix = got.value.args

    def widened(df):
        return sorted(
            (r.vec_id, r.pos, r.v)
            for r in df.select("vec_id", F.posexplode("embedding"))
            .select("vec_id", "pos", F.col("col").cast("double").alias("v"))
            .collect()
        )

    replayed = spark.read.text(wire).select(
        F.from_json("value", schema).alias("r")
    ).select("r.*")
    want = widened(load_table(spark, sf_dir, "embeddings"))
    assert (1, 0, 0.10000000149011612) in want
    assert widened(replayed) == want


@pytest.mark.parametrize(
    "name, files_per_trigger",
    [
        ("s23_stream_dedup_gate", 2),
        ("s27_stream_ann_probe", 2),
        ("s34_stream_quality_audit", 2),
        ("s35_stream_table_stats", 2),
        ("s36_stream_bm25_probe", 1),
        ("s40_stream_vocab_growth", 2),
        ("s41_stream_view_maintenance", 1),
        ("s45_stream_twa", 2),
    ],
)
def test_own_batch_twins_land_through_replay_foreach_batch(
    spark, sf_dir, monkeypatch, name, files_per_trigger
):
    """Twins with their own per-batch function replay through the one
    foreachBatch lifecycle, at the files-per-trigger that keeps their
    micro-batch count (4-file wires: 2 batches, s36's 3-file wire: 3,
    s41: 4; s45's 8-file ordered wire: 4). The replay is stubbed to stop
    the twin at the call; the lifecycle is pinned by the contract test
    above and each twin's value by its oracle."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries as SQ,
    )

    class _Replayed(Exception):
        pass

    def stop(_spark, _wire_dir, _land, _prefix, n):
        raise _Replayed(n)

    monkeypatch.setattr(SQ, "replay_foreach_batch", stop)
    with pytest.raises(_Replayed) as got:
        SQ.QUERIES[name](spark, sf_dir)
    assert got.value.args == (files_per_trigger,)


def test_kstream_branch_first_match_wins(spark):
    """Kafka Streams branch semantics: a record matching several
    predicates lands ONLY in the first matching branch; a record
    matching none is dropped."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import StreamsBuilder

    df = spark.createDataFrame(
        [("a", 150), ("b", 60), ("c", 10)], "key STRING, value INT"
    )
    b = StreamsBuilder().stream(df).branch(
        lambda k, v: v > 100,       # matches a
        lambda k, v: v > 50,        # matches a AND b; must get only b
        # c matches neither: dropped
    )
    assert [r.key for r in b[0].df.collect()] == ["a"]
    assert [r.key for r in b[1].df.collect()] == ["b"]
    total = b[0].df.count() + b[1].df.count()
    assert total == 2  # c dropped, a not duplicated


def test_kstream_map_values_keeps_key_and_peek_is_nonsemantic(spark):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import StreamsBuilder

    df = spark.createDataFrame([("k1", 2)], "key STRING, value INT")
    s = (
        StreamsBuilder().stream(df)
        .map_values(lambda v: v * 10)
        .peek("observe")
        .map_values(lambda v: v + 1)
    )
    row = s.to_frame().collect()[0]
    assert (row.key, row.value) == ("k1", 21)
    assert s.peeked == ["observe"]


def test_kstream_topology_compiles_to_narrow_plan(spark, sf_dir):
    """The DSL must add zero runtime indirection: the compiled fraud
    branch is a narrow scan->project->filter plan with NO exchange and
    no Python eval anywhere."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import streaming_queries as sq

    df = sq.QUERIES["s79_kstream_dsl"](spark, sf_dir)
    # up to the aggregate there must be exactly the agg exchange
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("Exchange hashpartitioning") == 1, p  # only the agg


def test_kstream_windowed_count_matches_raw_window(spark):
    """DSL windowedBy buckets must equal raw F.window buckets."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    df = spark.createDataFrame(
        [("u", 1.0, "2024-01-01 00:00:05"), ("u", 2.0, "2024-01-01 00:00:25"),
         ("u", 4.0, "2024-01-01 00:00:35"), ("v", 8.0, "2024-01-01 00:00:59")],
        "key STRING, amount DOUBLE, t STRING",
    ).withColumn("t", F.to_timestamp("t"))
    got = {
        (str(r.window_start), r.key): r.n
        for r in KStream(df, key="key", value="amount")
        .group_by_key()
        .windowed_by("30 seconds", "t")
        .aggregate(F.count("*").alias("n"))
        .collect()
    }
    assert got == {
        ("2024-01-01 00:00:00", "u"): 2,
        ("2024-01-01 00:00:30", "u"): 1,
        ("2024-01-01 00:00:30", "v"): 1,
    }


def test_kstream_dsl_runs_as_real_stream(spark, sf_dir):
    """The DSL is engine-agnostic column algebra: the SAME topology
    object graph runs over readStream and equals its batch run."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import (
        EVENTS_FRAUD_THRESHOLD,
        events_as_transactions,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.schemas import TRANSACTION_DDL
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import StreamsBuilder
    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.replay import materialize_wire_dir

    tx = events_as_transactions(load_table(spark, sf_dir, "events"))
    wire = tx.select(
        F.to_json(F.struct("userId", "amount")).alias("value")
    ).unionByName(
        # a parseable record with a NULL amount: its branch-0 predicate
        # evaluates NULL, so first-match-wins must route it to the
        # catch-all (ADVICE-r9 null-safety), in streaming too
        spark.createDataFrame(
            [('{"userId":"user_null","amount":null}',)], "value STRING"
        )
    )
    d = materialize_wire_dir(wire)

    def topology(frame, branch_idx=0):
        return (
            StreamsBuilder()
            .stream(frame)
            .map_values(lambda v: F.from_json(v, TRANSACTION_DDL))
            .filter(lambda k, v: v.isNotNull())
            .branch(
                lambda k, v: v["amount"] > F.lit(EVENTS_FRAUD_THRESHOLD),
                lambda k, v: F.lit(True),
            )[branch_idx]
            .map_values(lambda v: v["userId"])
            .to_frame()
        )

    total_n = spark.read.text(d).count()
    batch_n = topology(spark.read.text(d)).count()
    batch_rest = topology(spark.read.text(d), 1)
    # first-match-wins partitions parsed records exhaustively: the
    # NULL-amount record lands in the catch-all, nothing vanishes
    assert batch_n + batch_rest.count() == total_n
    assert batch_rest.where(F.col("value") == "user_null").count() == 1
    stream = spark.readStream.schema("value STRING").text(d)
    q = (
        topology(stream)
        .writeStream.format("memory")
        .queryName("kstream_dsl_smoke")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stream_n = spark.sql("SELECT count(*) AS n FROM kstream_dsl_smoke").collect()[0].n
    assert stream_n == batch_n > 0
    # and the same null-routing holds under readStream execution
    q2 = (
        topology(spark.readStream.schema("value STRING").text(d), 1)
        .writeStream.format("memory")
        .queryName("kstream_dsl_smoke_rest")
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    rest_n = spark.sql(
        "SELECT count(*) AS n FROM kstream_dsl_smoke_rest"
    ).collect()[0].n
    assert stream_n + rest_n == total_n


def test_kstream_join_window_inclusive_bounds(spark):
    """JoinWindows semantics: both ends inclusive; key equality
    required; before/after asymmetric windows honored."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    l = spark.createDataFrame(
        [("k", 1.0, "2024-01-01 00:10:00")], "key STRING, v DOUBLE, t STRING"
    ).withColumn("t", F.to_timestamp("t"))
    r = spark.createDataFrame(
        [("k", 2.0, "2024-01-01 00:10:00"),   # t2 == t1: inclusive
         ("k", 3.0, "2024-01-01 00:16:00"),   # t1 + 6min: inclusive end
         ("k", 4.0, "2024-01-01 00:16:01"),   # beyond after: out
         ("k", 5.0, "2024-01-01 00:09:59"),   # before window 0: out
         ("x", 6.0, "2024-01-01 00:10:00")],  # wrong key: out
        "key STRING, v DOUBLE, t STRING",
    ).withColumn("t", F.to_timestamp("t"))
    out = KStream(l, key="key", value="v").join(
        KStream(r, key="key", value="v"),
        lambda a, b: b,
        time_col="t",
        after="6 minutes",
    )
    assert sorted(x.v for x in out.df.collect()) == [2.0, 3.0]


def test_ktable_compaction_and_stream_table_join(spark):
    """toTable keeps the LATEST value per key by the declared order;
    join(KTable) enriches with inner semantics (no-row keys drop)."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    changelog = spark.createDataFrame(
        [("u", "old", 1, 1), ("u", "new", 2, 1), ("u", "tie", 2, 0),
         ("v", "only", 1, 1)],
        "key STRING, value STRING, t INT, eid INT",
    )
    table = KStream(changelog).to_table(["t", "eid"])
    got = {r.key: r.value for r in table.df.collect()}
    assert got == {"u": "new", "v": "only"}  # (2,1) beats (2,0) and (1,1)

    stream = spark.createDataFrame(
        [("u", 10.0), ("w", 99.0)], "key STRING, value DOUBLE"
    )
    out = KStream(stream).join_table(
        table, lambda v, tv: F.concat(F.lit("x:"), tv)
    )
    rows = out.df.collect()
    assert len(rows) == 1 and rows[0].key == "u" and rows[0].value == "x:new"


def test_kstream_branch_null_predicate_falls_through(spark):
    """ADVICE r9: a NULL-evaluating predicate must behave like Java
    false — the record falls through to later branches (and reaches a
    lit(True) catch-all) instead of being dropped from every branch by
    three-valued logic."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import StreamsBuilder

    df = spark.createDataFrame(
        [("big", 500.0), ("null_amt", None), ("small", 5.0)],
        "key STRING, value DOUBLE",
    )
    hi, rest = StreamsBuilder().stream(df).branch(
        lambda k, v: v > 100.0,       # NULL for null_amt
        lambda k, v: F.lit(True),     # catch-all
    )
    assert [r.key for r in hi.df.collect()] == ["big"]
    assert sorted(r.key for r in rest.df.collect()) == ["null_amt", "small"]


def test_kstream_windowed_aggregate_no_duplicate_key_column(spark, tmp_path):
    """ADVICE r9: windowedBy().aggregate() must emit [window_start,
    key, aggs...] with the key exactly once — the duplicate-column
    schema broke parquet writes with COLUMN_ALREADY_EXISTS."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    df = spark.createDataFrame(
        [("u", 1.0, "2024-01-01 00:00:05")], "key STRING, amount DOUBLE, t STRING"
    ).withColumn("t", F.to_timestamp("t"))
    out = (
        KStream(df, key="key", value="amount")
        .group_by_key()
        .windowed_by("30 seconds", "t")
        .count()
    )
    assert out.columns == ["window_start", "key", "count"]
    out.write.mode("overwrite").parquet(str(tmp_path / "wagg"))  # must not raise


def test_kstream_to_table_negative_and_null_order_values(spark):
    """ADVICE r9: the compaction order key must order negative longs
    numerically (not lexicographically over '-'-prefixed strings),
    treat NULL as the minimum, and accept timestamp order columns."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    changelog = spark.createDataFrame(
        [("u", "neg_small", -20), ("u", "neg_big", -1), ("u", "null_t", None),
         ("v", "pos", 3), ("v", "neg", -3)],
        "key STRING, value STRING, t LONG",
    )
    got = {r.key: r.value for r in KStream(changelog).to_table(["t"]).df.collect()}
    assert got == {"u": "neg_big", "v": "pos"}  # -1 > -20; NULL sorts first

    ts = spark.createDataFrame(
        [("u", "early", "2024-01-01 00:00:00.100"),
         ("u", "late", "2024-01-01 00:00:00.900")],
        "key STRING, value STRING, t STRING",
    ).withColumn("t", F.to_timestamp("t"))
    got_ts = {r.key: r.value for r in KStream(ts).to_table(["t"]).df.collect()}
    assert got_ts == {"u": "late"}  # sub-second order survives (epoch micros)


def test_kstream_to_table_rejects_out_of_domain_order(spark):
    """ADVICE r10: an order value outside [-1e18, ~8.22e18] would
    silently wrap negative under non-ANSI addition and elect a wrong
    compaction winner — the encoder must raise instead. In-domain
    values (same magnitude, just inside) still compact fine."""
    import pytest as _pytest

    from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.kstream import KStream

    bad = spark.createDataFrame(
        [("u", "wraps", 9 * 10**18), ("u", "ok", 1)],
        "key STRING, value STRING, t LONG",
    )
    with _pytest.raises(Exception, match="outside encodable domain"):
        KStream(bad).to_table(["t"]).df.collect()

    low = spark.createDataFrame(
        [("u", "too_low", -2 * 10**18), ("u", "ok", 1)],
        "key STRING, value STRING, t LONG",
    )
    with _pytest.raises(Exception, match="outside encodable domain"):
        KStream(low).to_table(["t"]).df.collect()

    edge = spark.createDataFrame(
        [("u", "min_edge", -(10**18)), ("u", "max_edge", 8 * 10**18)],
        "key STRING, value STRING, t LONG",
    )
    got = {r.key: r.value for r in KStream(edge).to_table(["t"]).df.collect()}
    assert got == {"u": "max_edge"}
