"""Time-series continuous-aggregate surface: hierarchical rollup merge
(the hypertable / continuous-aggregate pattern) and dashboard gap-fill.

The reference's entire query layer is a Grafana dashboard over a
time-series store (InfluxDB bucket `fraud_transaction`,
FraudAlertConsumer.java:64-69); these queries re-express the two
techniques such stores lean on — pre-aggregated rollups answered WITHOUT
touching raw data, and dense time spines with `fill(previous)` semantics
— as declarative Spark plans with DuckDB oracles over the raw table.

Same contract as relational.py: aligned column names/types, doubles
rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sessioncache import session_tmp_dir
from ..sources.tables import events_projection, load_table
from .registry import EventsRule, registrar

QUERIES, ORACLES, _register = registrar()


# ---------------------------------------------------------------------------
# r60: hierarchical rollup merge (continuous-aggregate pattern)
# ---------------------------------------------------------------------------

# One materialized hourly rollup per (session, sf_dir); the 6-hour query
# below reads ONLY this table. Parquet at a per-session temp path, like
# r55's bucketed tables.
def _hourly_rollup_path(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        (
            ev.filter(F.col("value") > 100.0)
            .groupBy(
                "user_id", F.date_trunc("hour", F.col("ts")).alias("hour_start")
            )
            .agg(
                F.sum("value").alias("sum_amount"),
                F.count("*").alias("n_tx"),
                F.min("value").alias("min_amount"),
                F.max("value").alias("max_amount"),
            )
            .write.mode("overwrite")
            .parquet(d)
        )

    return session_tmp_dir(spark, sf_dir, "spark_graft_rollup_", build)


@_register(
    "r60_rollup_merge",
    """
    SELECT user_id,
           CAST(to_timestamp(floor(epoch(ts) / 21600) * 21600) AS TIMESTAMP)
             AS bucket_start,
           round(sum(value), 2) AS total_amount,
           CAST(count(*) AS BIGINT) AS n_tx,
           round(sum(value) / count(*), 4) AS mean_amount,
           min(value) AS min_amount,
           max(value) AS max_amount
    FROM events WHERE value > 100.0
    GROUP BY 1, 2
    """,
)
def r60_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup merge: a MATERIALIZED hourly rollup
    (sum/count/min/max per user per hour, written once to parquet) is
    re-aggregated into 6-hour buckets — the raw events table is never
    touched at query time. This is the hypertable pattern behind every
    time-series dashboard (and the reference's InfluxDB bucket): answer
    coarse windows by merging fine pre-aggregates.

    Correctness hinges on MERGEABILITY: sums and counts add, min/min and
    max/max compose, and the mean is derived from merged sum/count at
    the end — never an average of averages. The oracle computes the same
    buckets from raw events, proving the rollup path loses nothing.

    Scale: the rollup is ~|users| x |hours| rows regardless of event
    volume — at 100 TB of raw events the 6-hour query reads megabytes.
    Hour -> 6h re-aggregation is one partial+final hash-agg; epoch-
    aligned floor arithmetic keeps bucket boundaries identical on both
    engines."""
    rollup = spark.read.parquet(_hourly_rollup_path(spark, sf_dir))
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(F.col("hour_start")) / 21600).cast("long") * 21600
    ).cast("timestamp_ntz")
    return (
        rollup.groupBy("user_id", bucket.alias("bucket_start"))
        .agg(
            F.sum("sum_amount").alias("_sum"),
            F.sum("n_tx").alias("n_tx"),
            F.min("min_amount").alias("min_amount"),
            F.max("max_amount").alias("max_amount"),
        )
        .select(
            "user_id",
            "bucket_start",
            F.round("_sum", 2).alias("total_amount"),
            "n_tx",
            F.round(F.col("_sum") / F.col("n_tx"), 4).alias("mean_amount"),
            "min_amount",
            "max_amount",
        )
    )


# ---------------------------------------------------------------------------
# r61: dense time spine + gap fill (Grafana fill(previous) semantics)
# ---------------------------------------------------------------------------


@_register(
    "r61_gapfill",
    """
    WITH fraud AS (
      SELECT user_id, date_trunc('day', ts) AS day, value
      FROM events WHERE value > 100.0 AND user_id < 8
    ),
    daily AS (
      SELECT user_id, day,
             CAST(count(*) AS BIGINT) AS n_tx,
             round(sum(value), 2) AS day_total,
             round(avg(value), 4) AS day_mean
      FROM fraud GROUP BY 1, 2
    ),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM daily),
    spine AS (
      SELECT u.user_id, CAST(d.day AS TIMESTAMP) AS day
      FROM (SELECT DISTINCT user_id FROM fraud) u
      CROSS JOIN (
        SELECT unnest(generate_series(
          (SELECT lo FROM bounds), (SELECT hi FROM bounds), INTERVAL 1 DAY
        )) AS day
      ) d
    )
    SELECT s.user_id, s.day,
           coalesce(daily.n_tx, 0) AS n_tx,
           coalesce(daily.day_total, 0.0) AS day_total,
           last_value(daily.day_mean IGNORE NULLS) OVER (
             PARTITION BY s.user_id ORDER BY s.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS ff_mean
    FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id
                                AND s.day = daily.day
    """,
)
def r61_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dashboard gap-fill: per-user daily fraud series densified onto a
    complete day spine — days with no events appear with zero totals and
    the mean carried forward from the last observed day (Grafana's
    fill(0) / fill(previous), which the reference's panels apply
    implicitly over the InfluxDB series).

    Shape: sequence() builds the day spine from a broadcast 1-row
    min/max bound, cross-joined with the (bounded) distinct-user dim;
    actual daily aggregates LEFT-join onto the spine; carry-forward is
    last_value(IGNORE NULLS) over an unbounded-preceding frame.

    Scale: the spine is |users| x |days| — metadata-sized next to the
    event table, and generated, not shuffled. The only wide ops are the
    daily hash-agg and one per-user window sorted by day; the spine join
    broadcasts. Works identically for second-granularity spines — the
    spine stays proportional to the DASHBOARD range, not the data."""
    fraud = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("value") > 100.0) & (F.col("user_id") < 8))
        .select("user_id", F.date_trunc("day", F.col("ts")).alias("day"), "value")
    )
    daily = fraud.groupBy("user_id", "day").agg(
        F.count("*").alias("n_tx"),
        F.round(F.sum("value"), 2).alias("day_total"),
        F.round(F.avg("value"), 4).alias("day_mean"),
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    users = fraud.select("user_id").distinct()
    spine = users.crossJoin(F.broadcast(bounds)).select(
        "user_id",
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day"),
    )
    joined = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "user_id",
        "day",
        F.coalesce("n_tx", F.lit(0)).alias("n_tx"),
        F.coalesce("day_total", F.lit(0.0)).alias("day_total"),
        F.last("day_mean", ignorenulls=True).over(w).alias("ff_mean"),
    )


_R119_SQL = """
    WITH e AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               AS s,
             event_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    r AS (
      SELECT d, s, event_id, cents,
             row_number() OVER (PARTITION BY d ORDER BY s, event_id)
               AS rn_open,
             row_number() OVER (PARTITION BY d ORDER BY s DESC,
                                event_id DESC) AS rn_close
      FROM e
    )
    SELECT d,
           CAST(min(CASE WHEN rn_open = 1 THEN cents END) AS BIGINT)
             AS open_cents,
           CAST(max(cents) AS BIGINT) AS high_cents,
           CAST(min(cents) AS BIGINT) AS low_cents,
           CAST(min(CASE WHEN rn_close = 1 THEN cents END) AS BIGINT)
             AS close_cents,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS volume_cents
    FROM r
    GROUP BY d
"""


def _candle_partials(b: DataFrame) -> DataFrame:
    """(event_id, s, cents) -> per-day candle partials whose open and
    close carry their (s, event_id) key, so they merge associatively."""
    b = b.select(
        "event_id",
        "s",
        (F.col("s") / 86400).cast("long").alias("d"),
        "cents",
    )
    agg = b.groupBy("d").agg(
        F.expr("min_by(struct(s, event_id, cents), struct(s, event_id))").alias("o"),
        F.expr("max_by(struct(s, event_id, cents), struct(s, event_id))").alias("cl"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.count("*").alias("n"),
        F.sum("cents").alias("volume_cents"),
    )
    return agg.select(
        "d",
        F.col("o.s").alias("open_s"),
        F.col("o.event_id").alias("open_id"),
        F.col("o.cents").alias("open_cents"),
        F.col("cl.s").alias("close_s"),
        F.col("cl.event_id").alias("close_id"),
        F.col("cl.cents").alias("close_cents"),
        "high_cents",
        "low_cents",
        "n",
        "volume_cents",
    )


R119 = EventsRule(
    lambda t: [
        "event_id",
        t.cast("long").alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ],
    _candle_partials,
)


@_register("r119_ohlc_resample", _R119_SQL)
def r119_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC (open/high/low/close) + count + volume resample of
    the amount stream — the candlestick downsample every time-series
    store ships (InfluxDB FIRST()/MAX()/MIN()/LAST() over windows;
    the reference's panels use the same fns per README.md:342-356).
    Open/close need a deterministic event order: the (second,
    event_id) key, pinned on the oracle by twin row_numbers and here
    by min_by/max_by over that key — the associative form the s57
    twin merges micro-batches with.

    Scale: one d-keyed shuffle carries the partial aggregate and the
    merge (same partitioning). min_by/max_by keep struct buffers, so
    Spark runs them as a sort aggregate: one sort on d, where the two
    row_numbers sorted on (d, s, event_id) twice. Day-domain output.

    Reference parity: README.md:342-356 (panel aggregations);
    public OHLC semantics."""
    return ohlc_from_partials(
        R119.reduce(events_projection(spark, sf_dir, R119.cols))
    )


def ohlc_from_partials(p: DataFrame) -> DataFrame:
    """Merge per-batch OHLC partials carrying their extreme keys:
    (d, open_key_s, open_key_id, open_cents, close_key_s,
    close_key_id, close_cents, high, low, n, volume) -> r119's
    output. Open/close merge by min_by/max_by over the carried
    (s, event_id) key struct — the associative form of FIRST/LAST.
    Shared by the s57 streaming twin."""
    return p.groupBy("d").agg(
        F.expr(
            "min_by(open_cents, struct(open_s, open_id))"
        ).cast("long").alias("open_cents"),
        F.max("high_cents").cast("long").alias("high_cents"),
        F.min("low_cents").cast("long").alias("low_cents"),
        F.expr(
            "max_by(close_cents, struct(close_s, close_id))"
        ).cast("long").alias("close_cents"),
        F.sum("n").cast("long").alias("n"),
        F.sum("volume_cents").cast("long").alias("volume_cents"),
    )
