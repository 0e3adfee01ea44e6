"""Relational operator surface over the driver's star schema
(SURVEY.md §2.3) — one registered query per operator category, each with an
aligned DuckDB oracle.

The reference's topology is stateless (TransactionProcessor.java:27-54), so
none of these exist there; they are the engine's generalization of the
dashboard query layer to a full analytics surface, expressed as Spark
built-ins so Catalyst/AQE plan them (broadcast joins for dims,
partial+final aggregation, TakeOrderedAndProject for top-k).

Type alignment with the oracle: DuckDB sum(BIGINT) returns HUGEINT and its
date-part/ranking functions return BIGINT, so integer outputs are cast to
BIGINT on both sides; double aggregates are rounded identically on both
sides so float summation order cannot flip the value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.asof import asof_join_backward
from ..sources.tables import load_table
from .registry import registrar

QUERIES, ORACLES, _register = registrar()


# --------------------------------------------------------------------------
# Aggregation: partial+final hash agg, multiple aggregates, filter pushdown
# --------------------------------------------------------------------------
@_register(
    "r01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def r01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-style pricing summary. The shipdate predicate reaches the
    parquet scan (row-group pruning); Catalyst plans partial+final hash agg
    so only 4 groups cross the shuffle regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Joins: multi-way equi-join chain with broadcast dims + top-k
# --------------------------------------------------------------------------
@_register(
    "r02_top_orders",
    """
    SELECT o_orderkey, round(rev, 2) AS revenue, o_orderdate, o_orderpriority
    FROM (
      SELECT l.l_orderkey AS o_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS rev,
             o.o_orderdate, o.o_orderpriority
      FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
      JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      WHERE c.c_mktsegment = 'BUILDING'
        AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        AND l.l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY 1, 3, 4
      ORDER BY rev DESC, o_orderkey ASC LIMIT 10
    )
    """,
)
def r02_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority: filtered fact-fact join with a
    broadcast dim. customer is dim-sized -> explicit broadcast() hint keeps
    the join shuffle-free on that side at any fact scale."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp_ntz")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev"))
        .orderBy(F.desc("rev"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.round("rev", 2).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
    )


@_register(
    "r03_region_revenue",
    """
    SELECT r.r_name, n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name, n.n_name
    """,
)
def r03_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup through the full dim chain
    lineitem > orders > customer > nation > region (FIXTURES.md §3).
    nation/region/customer are broadcast; the only shuffles are the
    fact-fact lineitem-orders join and the final 25-group agg."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@_register(
    "r04_left_join_counts",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders,
           round(coalesce(sum(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
)
def r04_left_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join preserving customers with zero orders;
    count(col) skips nulls on both engines."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("total_spent"),
        )
    )


@_register(
    "r05_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000)
    """,
)
def r05_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): customers with at least one top-4%% order.
    Semi joins never duplicate the probe side — at scale this avoids the
    join-then-distinct anti-pattern entirely."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@_register(
    "r06_anti_join",
    """
    SELECT c_custkey, c_name, c_nationkey FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 480000)
    """,
)
def r06_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers with no top-4%% order — the
    exact complement of r05."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 480000)
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_nationkey"
    )


@_register(
    "r07_full_outer",
    """
    SELECT coalesce(cn.k, sn.k) AS n_nationkey,
           round(coalesce(cn.cust_total, 0), 2) AS cust_total,
           round(coalesce(sn.supp_total, 0), 2) AS supp_total
    FROM (SELECT c_nationkey AS k, sum(c_acctbal) AS cust_total FROM customer GROUP BY 1) cn
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, sum(s_acctbal) AS supp_total FROM supplier GROUP BY 1) sn
    ON cn.k = sn.k
    """,
)
def r07_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates: nations with customers but no
    suppliers (and vice versa) survive with nulls -> coalesce(0)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.sum("c_acctbal").alias("cust_total"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.sum("s_acctbal").alias("supp_total"))
    )
    return c.join(s, c.ck == s.sk, "full_outer").select(
        F.coalesce("ck", "sk").alias("n_nationkey"),
        F.round(F.coalesce("cust_total", F.lit(0.0)), 2).alias("cust_total"),
        F.round(F.coalesce("supp_total", F.lit(0.0)), 2).alias("supp_total"),
    )


@_register(
    "r08_cross_join",
    """
    SELECT r.r_name, s.o_orderstatus
    FROM region r CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
    """,
)
def r08_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product of two tiny inputs (5 regions x order statuses).
    Both sides are sub-broadcast-threshold, so this is a
    BroadcastNestedLoopJoin — never legal on two fact tables."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------
@_register(
    "r09_rollup",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def r09_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@_register(
    "r10_cube",
    """
    SELECT l_returnflag, l_linestatus, count(*) AS n_items,
           round(avg(l_quantity), 4) AS avg_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def r10_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_items"), F.round(F.avg("l_quantity"), 4).alias("avg_qty")
    )


@_register(
    "r11_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def r11_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (the engine registers the
    star schema as temp views — SQL and DataFrame plans are the same
    Catalyst plan)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------
@_register(
    "r12_window_topk",
    """
    SELECT c_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def r12_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k within group via ranking window — the distributed replacement
    for a per-key sort+limit loop. One shuffle on the partition key."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rn",
        )
    )


@_register(
    "r13_window_running",
    """
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                 ORDER BY o_orderdate ASC, o_orderkey ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
    FROM orders
    """,
)
def r13_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) aggregate with an explicit ROWS frame; orderkey
    tie-break makes the frame deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.asc("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@_register(
    "r14_window_lag_lead",
    """
    SELECT event_id, user_id,
           epoch_us(ts) - lag(epoch_us(ts)) OVER w AS delta_us,
           round(lead(value) OVER w - value, 2) AS next_value_diff
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def r14_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead analytics: inter-event gap (microseconds, exact integer
    arithmetic on both engines) and next-event value delta per user."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return e.select(
        "event_id",
        "user_id",
        (us - F.lag(us).over(w)).alias("delta_us"),
        F.round(F.lead("value").over(w) - F.col("value"), 2).alias("next_value_diff"),
    )


@_register(
    "r15_rank_dense_ntile",
    """
    SELECT p_partkey, p_brand,
           CAST(rank() OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank() OVER w AS BIGINT) AS price_dense_rank,
           CAST(ntile(4) OVER w2 AS BIGINT) AS price_quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC),
           w2 AS (PARTITION BY p_brand ORDER BY p_retailprice ASC, p_partkey ASC)
    """,
)
def r15_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking windows (rank/dense_rank/ntile), every one PARTITIONED:
    an unpartitioned ORDER BY window moves the whole table through ONE
    task (Spark's "No Partition Defined" WindowExec warning) — fine at
    20 K rows, fatal at 100 TB. A global quartile at scale is instead
    computed as broadcast percentile boundaries (r35/r36 show both exact
    and sketch percentile aggs) compared against each row."""
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    wq = Window.partitionBy("p_brand").orderBy(F.asc("p_retailprice"), F.asc("p_partkey"))
    return p.select(
        "p_partkey",
        "p_brand",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(wq).cast("long").alias("price_quartile"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------
@_register(
    "r16_set_ops",
    """
    SELECT 'both' AS tag, k AS nationkey FROM (
      SELECT DISTINCT c_nationkey AS k FROM customer
      INTERSECT SELECT DISTINCT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'cust_only' AS tag, k FROM (
      SELECT DISTINCT c_nationkey AS k FROM customer
      EXCEPT SELECT DISTINCT s_nationkey FROM supplier)
    """,
)
def r16_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL over nation-key sets."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    both = c.intersect(s).select(F.lit("both").alias("tag"), F.col("k").alias("nationkey"))
    cust_only = c.exceptAll(s).select(
        F.lit("cust_only").alias("tag"), F.col("k").alias("nationkey")
    )
    return both.unionAll(cust_only)


# --------------------------------------------------------------------------
# Distinct aggregation
# --------------------------------------------------------------------------
@_register(
    "r17_distinct_agg",
    """
    SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts, count(*) AS n_items
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r17_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple COUNT(DISTINCT) in one agg — Catalyst expands to a single
    two-phase expand+agg plan, not N scans."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        F.count_distinct("l_partkey").alias("n_parts"),
        F.count("*").alias("n_items"),
    )


# --------------------------------------------------------------------------
# Scalar function surface: strings, datetime, math, conditional, JSON, arrays
# --------------------------------------------------------------------------
@_register(
    "r18_string_funcs",
    """
    SELECT p_partkey, upper(p_name) AS name_upper,
           CAST(length(p_name) AS BIGINT) AS name_len,
           substring(p_name, 1, 8) AS name_prefix,
           concat(p_brand, ':', p_type) AS brand_type,
           replace(p_type, 'ECONOMY', 'ECO') AS type_short,
           CAST(length(regexp_replace(p_name, '[aeiou ]', '', 'g')) AS BIGINT) AS n_consonants,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_padded
    FROM part
    """,
)
def r18_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
        F.length(F.regexp_replace("p_name", "[aeiou ]", "")).cast("long").alias("n_consonants"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
    )


@_register(
    "r19_datetime_funcs",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
           CAST(month(o_orderdate) AS BIGINT) AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS total,
           min(date_trunc('month', o_orderdate)) AS month_start
    FROM orders GROUP BY 1, 2
    """,
)
def r19_datetime_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.min(F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz")).alias(
                "month_start"
            ),
        )
    )


@_register(
    "r20_math_funcs",
    """
    SELECT l_orderkey, l_linenumber,
           round(abs(l_extendedprice - l_quantity * 1000), 2) AS abs_diff,
           round(sqrt(l_quantity), 6) AS sqrt_qty,
           round(ln(l_extendedprice), 6) AS ln_price,
           round(pow(1 + l_discount, 2), 6) AS disc_sq,
           floor(l_quantity / 7) AS qty_div7,
           CAST(l_linenumber % 3 AS BIGINT) AS line_mod3,
           greatest(l_discount, l_tax) AS max_rate
    FROM lineitem
    """,
)
def r20_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_extendedprice") - F.col("l_quantity") * 1000), 2).alias(
            "abs_diff"
        ),
        F.round(F.sqrt("l_quantity"), 6).alias("sqrt_qty"),
        F.round(F.log("l_extendedprice"), 6).alias("ln_price"),
        F.round(F.pow(1 + F.col("l_discount"), 2), 6).alias("disc_sq"),
        F.floor(F.col("l_quantity") / 7).cast("double").alias("qty_div7"),
        (F.col("l_linenumber") % 3).cast("long").alias("line_mod3"),
        F.greatest("l_discount", "l_tax").alias("max_rate"),
    )


@_register(
    "r21_case_when",
    """
    SELECT CASE WHEN o_totalprice < 20000 THEN 'small'
                WHEN o_totalprice < 60000 THEN 'medium'
                ELSE 'large' END AS bucket,
           o_orderstatus, count(*) AS n_orders, round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY 1, 2
    """,
)
def r21_case_when(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 20000, "small")
        .when(F.col("o_totalprice") < 60000, "medium")
        .otherwise("large")
        .alias("bucket")
    )
    return o.groupBy(bucket, F.col("o_orderstatus")).agg(
        F.count("*").alias("n_orders"), F.round(F.avg("o_totalprice"), 4).alias("avg_price")
    )


@_register(
    "r22_json_funcs",
    """
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 10 AS BIGINT) AS k_mod10,
           count(*) AS n_events, round(avg(value), 4) AS avg_value
    FROM events GROUP BY 1
    """,
)
def r22_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events props payload (the engine's
    generalization of the reference's from_json parse path)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy((k % 10).cast("long").alias("k_mod10")).agg(
        F.count("*").alias("n_events"), F.round(F.avg("value"), 4).alias("avg_value")
    )


@_register(
    "r23_array_funcs",
    """
    SELECT vec_id, label,
           CAST(len(embedding) AS BIGINT) AS dim,
           round(sqrt(list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
           round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)))
                 / len(embedding), 6) AS mean_val
    FROM embeddings
    """,
)
def r23_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions over the embedding column — all
    JVM-side (F.aggregate/F.transform), no Python in the loop."""
    em = load_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding",
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    val_sum = F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double"))
    return em.select(
        "vec_id",
        "label",
        F.size("embedding").cast("long").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        F.round(val_sum / F.size("embedding"), 6).alias("mean_val"),
    )


# --------------------------------------------------------------------------
# Subqueries, pivot, as-of join
# --------------------------------------------------------------------------
@_register(
    "r24_scalar_subquery",
    """
    SELECT c_custkey, round(c_acctbal, 2) AS acctbal
    FROM customer WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
    """,
)
def r24_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-aggregate subquery, expressed as a broadcast cross join of a
    1-row aggregate — no collect(), stays distributed."""
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("_avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("acctbal"))
    )


@_register(
    "r25_pivot",
    """
    SELECT user_id,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS "view",
           CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
           CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error
    FROM events GROUP BY user_id
    """,
)
def r25_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long->wide) with an explicit value list — explicit values keep
    the plan single-pass (no extra distinct job to discover columns)."""
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    out = e.groupBy("user_id").pivot("event_type", kinds).agg(F.count(F.lit(1)))
    return out.select(
        "user_id", *[F.coalesce(F.col(k), F.lit(0)).cast("long").alias(k) for k in kinds]
    )


@_register(
    "r26_asof_join",
    """
    SELECT e.event_id, e.user_id,
           (SELECT p.event_id FROM events p
             WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts
             ORDER BY p.ts DESC, p.event_id DESC, p.value DESC LIMIT 1) AS asof_event_id,
           (SELECT round(p.value, 2) FROM events p
             WHERE p.user_id = e.user_id AND p.event_type = 'purchase' AND p.ts <= e.ts
             ORDER BY p.ts DESC, p.event_id DESC, p.value DESC LIMIT 1) AS asof_value
    FROM events e
    """,
)
def r26_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every event, the user's most recent purchase at or
    before it (operators/asof.py — union+window formulation, one shuffle,
    no pair explosion)."""
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join_backward(
        e.select("event_id", "user_id", "ts"),
        purchases,
        by=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["event_id", "value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("asof_event_id"),
        F.round("asof_value", 2).alias("asof_value"),
    )


@_register(
    "r27_range_join",
    """
    SELECT e.event_id, e.user_id, count(o.o_orderkey) AS n_recent_orders
    FROM events e LEFT JOIN orders o
      ON o.o_custkey = e.user_id
     AND o.o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
     AND o.o_totalprice > e.value * 100
    GROUP BY e.event_id, e.user_id
    """,
)
def r27_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-join with an extra theta (range) predicate: the equi part hash
    partitions, the theta part filters inside the join — never a cartesian."""
    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz")
    )
    return (
        e.join(
            o,
            (o.o_custkey == e.user_id) & (o.o_totalprice > e.value * 100),
            "left",
        )
        .groupBy("event_id", "user_id")
        .agg(F.count("o_orderkey").alias("n_recent_orders"))
    )


@_register(
    "r28_stats_agg",
    """
    SELECT l_returnflag,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_samp(l_quantity), 4) AS qty_var,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar
    FROM lineitem GROUP BY l_returnflag
    """,
)
def r28_stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (stddev/variance/correlation/covariance)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_samp("l_quantity"), 4).alias("qty_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
    )
