"""Relational surface, batch 2: lateral/explode, argmax aggregates,
conditional aggregates, session windows, percentiles, correlated EXISTS,
regexp extraction, null-handling, approximate aggregates.

Same contract as relational.py: every deterministic query carries an
aligned DuckDB oracle. The approximate-sketch query (r36) is oracled too:
it outputs exact aggregates plus booleans pinning each sketch inside its
error envelope, and the oracle asserts those booleans as literal TRUE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import load_table
from .registry import registrar

QUERIES, ORACLES, _register = registrar()


@_register(
    "r29_explode_words",
    r"""
    SELECT word, count(*) AS n
    FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS word FROM documents)
    GROUP BY word
    ORDER BY n DESC, word ASC
    LIMIT 20
    """,
)
def r29_explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral explode (UNNEST): flatten token arrays to rows, count words.
    generate + partial agg happens before the shuffle, so the exploded rows
    never cross the network unaggregated."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), F.asc("word"))
        .limit(20)
    )


@_register(
    "r30_argmax_agg",
    """
    SELECT c_nationkey,
           (max(struct_pack(bal := c_acctbal, id := c_custkey))).id AS richest_custkey,
           round(max(c_acctbal), 2) AS max_bal,
           (min(struct_pack(bal := c_acctbal, id := c_custkey))).id AS poorest_custkey
    FROM customer GROUP BY c_nationkey
    """,
)
def r30_argmax_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """argmax/argmin via max(struct) — deterministic under ties
    (lexicographic on (value, id)), unlike bare max_by."""
    c = load_table(spark, sf_dir, "customer")
    s = F.struct(F.col("c_acctbal").alias("bal"), F.col("c_custkey").alias("id"))
    return c.groupBy("c_nationkey").agg(
        F.max(s).getField("id").alias("richest_custkey"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        F.min(s).getField("id").alias("poorest_custkey"),
    )


@_register(
    "r31_conditional_agg",
    """
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE o_totalprice > 250000) AS BIGINT) AS n_big,
           bool_or(o_orderstatus = 'F') AS any_finished,
           bool_and(o_totalprice > 0) AS all_positive,
           round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 4) AS avg_open_price
    FROM orders GROUP BY o_orderpriority
    """,
)
def r31_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_totalprice") > 250000).alias("n_big"),
        F.bool_or(F.col("o_orderstatus") == "F").alias("any_finished"),
        F.bool_and(F.col("o_totalprice") > 0).alias("all_positive"),
        F.round(
            F.avg(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 4
        ).alias("avg_open_price"),
    )


@_register(
    "r32_session_windows",
    """
    WITH marked AS (
      SELECT user_id, ts, value, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE OR
                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), islands AS (
      SELECT user_id, ts, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM islands GROUP BY user_id, session_id
    """,
)
def r32_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min inactivity gap) per user — Spark's native
    session_window operator; the oracle reconstructs identical sessions via
    the classic gaps-and-islands SQL. Batch here; the same expression works
    on a watermarked stream (streaming/windows.py pattern)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select("user_id", "session_start", "n_events", "session_value")
    )


@_register(
    "r33_tpch_q6",
    """
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.02 AND 0.08
      AND l_quantity < 24
    """,
)
def r33_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-style forecast revenue: pure scan+filter+agg — every
    predicate reaches the parquet scan, zero shuffle beyond the final
    1-row merge."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.02, 0.08)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


@_register(
    "r34_correlated_exists",
    """
    SELECT o_orderkey, o_orderdate FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
    """,
)
def r34_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a cross-table condition: orders having a
    line item shipped more than 90 days after the order date — a semi join
    whose condition references both sides."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return o.join(li, cond, "left_semi").select("o_orderkey", "o_orderdate")


@_register(
    "r35_percentiles",
    """
    SELECT o_orderstatus,
           round(median(o_totalprice), 4) AS median_price,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90_price,
           round(quantile_cont(o_totalprice, 0.1), 4) AS p10_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def r35_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (interpolating): median/p90/p10 per status.
    Exact percentile needs the group's values together — fine for bounded
    group counts; at unbounded cardinality switch to approx_percentile
    (r36)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.round(F.median("o_totalprice"), 4).alias("median_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90_price"),
        F.round(F.percentile("o_totalprice", F.lit(0.1)), 4).alias("p10_price"),
    )


@_register(
    "r36_approx_agg",
    """
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           round(median(l_extendedprice), 4) AS exact_median_price,
           TRUE AS approx_parts_ok,
           TRUE AS approx_median_ok
    FROM lineitem GROUP BY 1
    """,
)
def r36_approx_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates — the 100 TB substitutes for exact
    distinct/percentile: HLL++ approx_count_distinct and GK
    approx_percentile. Mergeable sketches -> partial+final agg, constant
    memory per group (exact distinct would buffer every key).

    Sketch values have no DuckDB twin, so the oracle-checked surface is the
    exact aggregates plus booleans pinning each sketch inside its error
    envelope (HLL++ default rsd 0.05 -> 3-sigma 15%; percentile_approx at
    accuracy 10000 -> 1% on this data). The oracle asserts the booleans as
    literal TRUE — a sketch regression flips them and fails the hash."""
    li = load_table(spark, sf_dir, "lineitem")
    # Keep the exact-distinct agg SEPARATE from the sketch aggs: mixing them
    # makes Catalyst's distinct-agg rewrite group by (l_returnflag,
    # l_partkey) first and carry a percentile/HLL sketch buffer per PAIR
    # (~10x slower measured). Two single-pass aggs + a 3-row broadcast join
    # produce the identical result.
    sketches = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("_approx_parts"),
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "_approx_median"
        ),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("_rf")).agg(
        F.count_distinct("l_partkey").alias("exact_parts"),
        F.median("l_extendedprice").alias("_exact_median"),
    )
    # eqNullSafe: a NULL group key must survive the reassembly join exactly
    # as it would in the single-aggregation formulation
    # broadcast bound: one row per l_returnflag group (|domain| = 3)
    return (
        sketches.join(
            F.broadcast(exact),
            sketches["l_returnflag"].eqNullSafe(exact["_rf"]),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            F.round("_exact_median", 4).alias("exact_median_price"),
            (
                F.abs(F.col("_approx_parts") - F.col("exact_parts"))
                <= F.greatest(0.15 * F.col("exact_parts"), F.lit(5.0))
            ).alias("approx_parts_ok"),
            (
                F.abs(F.col("_approx_median") - F.col("_exact_median"))
                <= 0.01 * F.col("_exact_median")
            ).alias("approx_median_ok"),
        )
    )


@_register(
    "r37_first_last_window",
    """
    SELECT o_orderkey, o_custkey,
           first_value(o_orderdate) OVER w AS first_order_date,
           last_value(o_orderdate) OVER
             (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order_date,
           CAST(count(*) OVER w AS BIGINT) AS orders_so_far
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def r37_first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first("o_orderdate").over(w).alias("first_order_date"),
        F.last("o_orderdate").over(w_full).alias("last_order_date"),
        F.count("*").over(w).cast("long").alias("orders_so_far"),
    )


@_register(
    "r38_regexp_extract",
    """
    SELECT p_partkey,
           CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
           regexp_matches(p_name, '^[a-m]') AS starts_early,
           regexp_extract(p_name, '^(\\w+)', 1) AS first_word
    FROM part
    """,
)
def r38_regexp_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"([0-9]+)", 1).cast("long").alias("brand_num"),
        F.col("p_name").rlike("^[a-m]").alias("starts_early"),
        F.regexp_extract("p_name", r"^(\w+)", 1).alias("first_word"),
    )


@_register(
    "r39_null_handling",
    """
    SELECT c.c_custkey,
           coalesce(round(sum(o.o_totalprice), 2), 0.0) AS total_or_zero,
           count(o.o_orderkey) = 0 AS never_ordered,
           nullif(count(o.o_orderkey), 0) AS orders_or_null,
           ifnull(max(o.o_orderpriority), 'NONE') AS best_priority
    FROM customer c
    LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 480000) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def r39_null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-handling scalar surface (coalesce/nullif/ifnull) over an outer
    join that actually produces nulls."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.coalesce(F.round(F.sum("o_totalprice"), 2), F.lit(0.0)).alias(
                "total_or_zero"
            ),
            (F.count("o_orderkey") == 0).alias("never_ordered"),
            F.nullif(F.count("o_orderkey"), F.lit(0)).alias("orders_or_null"),
            F.ifnull(F.max("o_orderpriority"), F.lit("NONE")).alias("best_priority"),
        )
    )


@_register(
    "r40_unpivot",
    """
    SELECT o_orderkey, metric, CAST(val AS DOUBLE) AS val
    FROM (
      SELECT o_orderkey, o_totalprice, CAST(o_custkey AS DOUBLE) AS o_custkey
      FROM orders WHERE o_orderkey < 1000
    )
    UNPIVOT (val FOR metric IN (o_totalprice, o_custkey))
    """,
)
def r40_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long) via the native unpivot/melt operator — the
    inverse of r25_pivot. A narrow projection (Expand), no shuffle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 1000)
    return o.select(
        "o_orderkey",
        F.col("o_totalprice"),
        F.col("o_custkey").cast("double").alias("o_custkey"),
    ).unpivot(
        ids=["o_orderkey"],
        values=["o_totalprice", "o_custkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@_register(
    "r41_dist_window",
    """
    SELECT o_orderkey, o_custkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           CAST(ntile(4) OVER w AS INT) AS quartile
    FROM orders
    WHERE o_custkey < 100
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def r41_dist_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (percent_rank/cume_dist/ntile) with a
    deterministic total order per partition."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(4).over(w).alias("quartile"),
    )


@_register(
    "r42_median_mode",
    """
    SELECT l_linestatus,
           round(median(l_extendedprice), 2) AS median_price,
           CAST(min(l_linenumber) AS BIGINT) AS first_line,
           round(avg(l_discount), 6) AS avg_disc
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def r42_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median aggregate (plus plain min/avg): median is the
    buffer-everything aggregate whose 100 TB substitute is r36's
    percentile_approx sketch — both surfaced so the tradeoff is explicit."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.median("l_extendedprice"), 2).alias("median_price"),
        F.min("l_linenumber").cast("bigint").alias("first_line"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )
