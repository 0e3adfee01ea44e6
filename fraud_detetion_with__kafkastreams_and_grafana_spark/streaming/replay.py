"""Batch-to-stream replay: run any wire-format transformation as a REAL
Structured Streaming query (file source, several micro-batches, memory
sink) and hand back the final result as a batch DataFrame.

This is how the driver's oracle harness exercises the streaming engine:
the same events that feed the batch oracle are serialized to the JSON wire
format (TransactionProducer.java:27), replayed through the streaming
topology in `maxFilesPerTrigger`-sized micro-batches — so stateful
aggregations genuinely accumulate across batches — and the complete-mode
snapshot is compared against plain batch SQL. Batch-stream parity becomes
an oracle-checked property instead of a claim.

`replay_foreach_batch` is the other sink: each micro-batch lands through
foreachBatch as a dynamic overwrite of its own `_batch_id` parquet
partition (the idempotent sink the reference's consumer writes alerts
to, FraudAlertConsumer.java:57-76), and the caller merges the landed
partials as a batch frame.

Scale: the replay writer/reader are distributed (df.write.text /
readStream.text); nothing is collected. The memory sink holds only the
final aggregated snapshot (bounded by group count, not input rows).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_RUN = itertools.count()


def temp_dir(prefix: str) -> str:
    """A fresh directory under the temp root, removed at interpreter exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def materialize_wire_dir(wire: DataFrame, n_files: int = 8) -> str:
    """Write the single-STRING-column `wire` frame to exactly `n_files`
    text files (repartition, not coalesce, so the file count — and hence
    the micro-batch count on replay — is known). The directory is removed
    at interpreter exit."""
    d = temp_dir(f"spark_graft_replay_{os.getpid()}_{next(_RUN)}_")
    wire.repartition(n_files).write.mode("overwrite").text(d)
    return d


def materialize_ordered_wire_dir(
    wire_ts: DataFrame,
    ts_col: str,
    n_files: int = 8,
    sentinel: str | None = None,
    n_sentinel_files: int = 5,
) -> str:
    """Event-time-ORDERED replay dir — the arrival pattern Kafka gives and
    watermarks assume. Records are range-partitioned on `ts_col` so file
    k's event times all precede file k+1's, and file mtimes are forced
    ascending so FileStreamSource's oldest-first ordering replays the
    files in event-time order. `sentinel` (a wire record far past the max
    event time) is appended as the final file: it pushes the watermark
    past every real window/session at end-of-stream so append-mode state
    flushes completely.

    Scale: repartitionByRange is a distributed sort-free shuffle (sampled
    boundaries); only the driver-side utime loop is local, O(n_files)."""
    import glob
    import time

    d = temp_dir(f"spark_graft_ordered_{os.getpid()}_{next(_RUN)}_")
    (
        wire_ts.repartitionByRange(n_files, F.asc(ts_col))
        .select("value")
        .write.mode("overwrite")
        .text(d)
    )
    files = sorted(glob.glob(os.path.join(d, "part-*")))
    if sentinel is not None:
        # SEVERAL sentinel files, not one: the watermark computed from
        # batch k only takes effect in batch k+1, and processAllAvailable
        # does not wait for no-data batches — so state flushed by the
        # sentinel must be emitted by a LATER file-bearing batch. With
        # n_sentinel_files > maxFilesPerTrigger, at least one sentinel
        # batch runs entirely after a batch that already contained a
        # sentinel, deterministically emitting every real window/session.
        for i in range(n_sentinel_files):
            sf = os.path.join(d, f"part-9999{i}-sentinel.txt")
            with open(sf, "w") as fh:
                fh.write(sentinel + "\n")
            files.append(sf)
    base = time.time() - len(files) - 10
    for i, f in enumerate(files):
        os.utime(f, (base + i, base + i))
    return d


def replay_wire_stream(
    spark: SparkSession,
    wire: DataFrame | str,
    transform: Callable[[DataFrame], DataFrame],
    output_mode: str = "complete",
    n_files: int = 8,
    files_per_trigger: int = 4,
    name: str | None = None,
    state_partitions: int = 4,
    available_now: bool = False,
) -> DataFrame:
    """Serialize `wire` (single STRING column, or an already-materialized
    directory path) to text files, stream them back through `transform` in
    ceil(n_files/files_per_trigger) micro-batches, and return the final
    memory-sink snapshot.

    Pass a fixed `name` for repeated invocations (bench loops, driver
    re-runs): the previous run's memory-sink table of the same name is
    dropped first, so snapshots don't accumulate in JVM memory.

    `available_now=True` drives the run with Trigger.AvailableNow — the
    production catch-up trigger: the query plans all currently-available
    files up front, still honors maxFilesPerTrigger per batch, and STOPS
    ITSELF at end of data (awaitTermination instead of
    processAllAvailable+stop). Semantically identical snapshots; the
    lifecycle is what differs, and it's the right shape for scheduled
    incremental jobs over a growing table.

    `state_partitions` pins `spark.sql.shuffle.partitions` for the stream's
    lifetime (restored after): a streaming query's state-store instance
    count is fixed at start from this conf, and EVERY micro-batch commits
    every instance — so per-batch latency scales with it regardless of data
    volume. 4 fits the replay harness's group counts (~1k users); at
    cluster scale set it once to ~2-4x executor count before starting the
    production stream (it cannot be changed across restarts of the same
    checkpoint).

    Defaults (2 micro-batches x 4 state instances) are the measured knee
    of the fixed-cost curve: every query still proves cross-batch state
    (>= 2 file-bearing batches; ordered dirs keep n_sentinel_files=5 >
    maxFilesPerTrigger so the watermark flush batch stays after the last
    data batch), while per-query wall time is dominated by the work, not
    by (batches x instances) commit overhead."""
    d = wire if isinstance(wire, str) else materialize_wire_dir(wire, n_files)

    stream = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", files_per_trigger)
        .text(d)
    )
    run = next(_RUN)
    if name is not None:
        spark.catalog.dropTempView(name)
    name = name or f"replay_mem_{os.getpid()}_{run}"
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        writer = (
            transform(stream)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
        )
        if available_now:
            q = writer.trigger(availableNow=True).start()
            try:
                q.awaitTermination()
            finally:
                q.stop()
        else:
            q = writer.start()
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)


def replay_foreach_batch(
    spark: SparkSession,
    wire_dir: str,
    land: Callable[[DataFrame], DataFrame | None],
    prefix: str,
    files_per_trigger: int,
) -> DataFrame:
    """Replay `wire_dir` (one `value STRING` column) in
    ceil(n_files/files_per_trigger) micro-batches into the idempotent
    foreachBatch sink: each batch writes `land(batch_df)` as a dynamic
    overwrite of its own `_batch_id` partition, so a re-delivered batch
    replaces its rows instead of doubling them (exactly-once by partition
    overwrite, the s09 recipe). A `land` that returns None writes
    nothing for that batch. Returns the landed parquet frame, `_batch_id`
    included, for the caller's merge."""
    out = temp_dir(f"spark_graft_{prefix}_sink_")
    ckpt = temp_dir(f"spark_graft_{prefix}_ckpt_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        landed = land(batch_df)
        if landed is None:
            return
        (
            landed.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )

    q = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", files_per_trigger)
        .text(wire_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(out)
