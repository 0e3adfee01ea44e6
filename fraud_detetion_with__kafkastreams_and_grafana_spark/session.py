"""SparkSession factory tuned for the engine.

Scale posture: these configs are chosen so the same logical plans survive a
1000-executor / 100 TB deployment:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switching) so one static ``shuffle.partitions``
  number never has to be "right" for every scale factor.
- Broadcast threshold left at default (10 MB): star-schema dims (region,
  nation, customer, supplier, part) broadcast; fact-fact joins shuffle.
- UTC session timezone: event-time semantics must not depend on cluster
  locale (the reference stores epoch seconds — timezone-free).
- Arrow enabled for any pandas interchange (vectorized UDF path).
- On ``local`` masters, streaming logs (offsets, commits, file-source and
  file-sink logs, state-store deltas) go through the ``FileSystem``-based
  checkpoint manager: Spark's default ``FileContext`` manager forks
  ``readlink`` four times per renamed log file. ``file://`` stays Hadoop's
  checksummed filesystem, because ``FileSystem.getLocal`` (the RocksDB
  state store's file manager calls it) casts to it. Cluster masters keep
  Spark's defaults (SCALE.md, "Session posture").

Locally we run ``local[$SPARK_GRAFT_CPUS]``; on a real cluster only
``master`` changes — no plan-level assumption depends on local mode.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def get_spark(
    app_name: str = "fraud-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # driver testdata events.ts is TIMESTAMP(NANOS): read as long, convert
        # in sources.tables.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # Python workers import this package by name: put its parent dir
        # ahead of the inherited PYTHONPATH so any cwd works.
        .config(
            "spark.executorEnv.PYTHONPATH", str(Path(__file__).resolve().parents[1])
        )
    )
    if master.startswith("local"):
        builder = builder.config(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver hands us one in ``__spark_entry__.entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if spark.sparkContext.master.startswith("local"):
        spark.conf.set(
            "spark.sql.streaming.checkpointFileManagerClass", _FS_CHECKPOINT_MANAGER
        )
    return spark
