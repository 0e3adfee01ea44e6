"""Batch table sources over the driver-provided parquet star schema.

Plain ``spark.read.parquet`` — Catalyst handles predicate pushdown, column
pruning and (on partitioned layouts) partition pruning at the scan; nothing
here collects to the driver. At 100 TB the same call reads a partitioned
parquet/iceberg table; only the path changes.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TABLE_NAMES


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    ts_range_ns: tuple[int, int] | None = None,
) -> DataFrame:
    """Load one star-schema table.

    ``ts_range_ns=(lo, hi)``: for `events`, apply a half-open time-range
    filter at the scan, whatever physical layout `ts` arrives in
    (TIMESTAMP(NANOS)-as-long or TIMESTAMP(MICROS)) — either way the
    predicate sits on the raw stored column, so it pushes into the parquet
    scan (row-group min/max pruning). At 100 TB this is the
    partition-pruning path for time-range queries.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            # events.ts is parquet TIMESTAMP(NANOS), which Spark reads as a
            # nanosecond long under spark.sql.legacy.parquet.nanosAsLong.
            # Filter on the raw int64, then convert with integer division
            # (`div`) — a double round-trip at ~1.7e18 ns would lose
            # sub-microsecond precision.
            if ts_range_ns is not None:
                lo, hi = ts_range_ns
                df = df.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
            )
        elif ts_dtype in ("timestamp", "timestamp_ntz"):
            # TIMESTAMP(MICROS) layout: compare against timestamp_ntz
            # literals (timezone-free, like the stored values) so the
            # filter still pushes to the scan.
            if ts_range_ns is not None:
                lo, hi = ts_range_ns
                # Ceiling division on both bounds: a microsecond value t
                # satisfies t*1000 >= lo iff t >= ceil(lo/1000), and
                # t*1000 < hi iff t < ceil(hi/1000) — so both layouts
                # select the identical event set for any ns-precision range.
                lo_ts = F.timestamp_micros(F.lit(-(-lo // 1000))).cast("timestamp_ntz")
                hi_ts = F.timestamp_micros(F.lit(-(-hi // 1000))).cast("timestamp_ntz")
                df = df.filter((F.col("ts") >= lo_ts) & (F.col("ts") < hi_ts))
            if ts_dtype == "timestamp":
                df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
        elif ts_range_ns is not None:
            raise TypeError(f"events.ts has unsupported dtype {ts_dtype!r}")
    return df


def event_seconds() -> Column:
    """`events.ts` truncated to the second, as epoch seconds (LONG)."""
    return F.unix_timestamp(F.date_trunc("second", F.col("ts")).cast("timestamp"))


def events_projection(
    spark: SparkSession, sf_dir: str, cols: Callable[[Column], list]
) -> DataFrame:
    """`events` projected to `cols(t)`, where `t` is `event_seconds()`."""
    return load_table(spark, sf_dir, "events").select(*cols(event_seconds()))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (for the SQL surface)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
