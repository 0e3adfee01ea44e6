"""Relational surface, batch 4: map-typed columns, higher-order array
lambdas, date/interval arithmetic, bitwise expressions, and the TPC-H
Q5-style local-supplier star join.

Same contract as relational.py: every query carries an aligned DuckDB
oracle. Map/array intermediates are always projected back to scalar
columns before returning, so the driver's column-sorted value hash
compares plain types on both sides.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.multimodal import PNG_ORACLE_SQL as _PNG_ORACLE_SQL
from ..operators.prefix import segmented_running_sum
from ..sessioncache import session_tmp_dir
from ..sources.tables import event_seconds, events_projection, load_table
from .registry import EventsRule, registrar

QUERIES, ORACLES, _register = registrar()


@_register(
    "r43_map_funcs",
    """
    WITH per_line AS (
      SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty
      FROM lineitem
      WHERE l_orderkey < 1000
      GROUP BY l_orderkey, l_linenumber
    )
    SELECT l_orderkey,
           max(CASE WHEN l_linenumber = 1 THEN qty END) AS qty_line1,
           CAST(count(*) AS BIGINT) AS n_lines,
           string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
             AS line_numbers
    FROM per_line
    GROUP BY l_orderkey
    """,
)
def r43_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface: build map<linenumber, quantity> per order
    with map_from_entries, then probe it (element_at), measure it
    (map_keys/size), and flatten the key set. The oracle states the same
    facts relationally — a map column itself can't cross the DuckDB hash
    boundary, which is exactly why the engine projects maps to scalars at
    its own result edges too.

    Scale: ONE shuffle total — the explicit repartition on l_orderkey
    satisfies the clustering requirement of BOTH aggregations (hash
    partitioning on the coarser key colocates every (orderkey, linenumber)
    group too), so neither groupBy adds an exchange; verified on the
    executed plan in tests. The map lives only inside the row, never as
    shuffle-key material. The per-line sum exists because map keys must be
    unique — the synthetic lineitem repeats (orderkey, linenumber)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 1000)
        .repartition("l_orderkey")
    )
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum("l_quantity").alias("qty")
    )
    m = F.map_from_entries(F.collect_list(F.struct("l_linenumber", "qty")))
    return (
        per_line.groupBy("l_orderkey")
        .agg(m.alias("_m"))
        .select(
            "l_orderkey",
            F.element_at("_m", 1).alias("qty_line1"),
            F.size(F.map_keys("_m")).cast("bigint").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.array_sort(F.map_keys("_m")), lambda k: k.cast("string")
                ),
                ",",
            ).alias("line_numbers"),
        )
    )


@_register(
    "r44_higher_order",
    """
    WITH t AS (
      SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
      FROM lineitem
      WHERE l_orderkey < 1000
      GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           round(list_sum(list_transform(qs, q -> q * q)), 2) AS sum_sq_qty,
           CAST(len(list_filter(qs, q -> q > 25.0)) AS BIGINT) AS n_big,
           len(list_filter(qs, q -> q > 45.0)) > 0 AS has_jumbo,
           round(list_sum(qs) / len(qs), 4) AS mean_qty
    FROM t
    """,
)
def r44_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas — transform / filter / exists /
    aggregate over a per-order quantity array. Quantities are
    integer-valued doubles, so the fold sums are exact and order-proof.

    Scale: lambdas run inside codegen per-row on already-grouped arrays;
    no extra shuffle beyond the single groupBy."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    qs = F.array_sort(F.collect_list("l_quantity"))
    return (
        li.groupBy("l_orderkey")
        .agg(qs.alias("qs"))
        .select(
            "l_orderkey",
            F.round(
                F.aggregate(
                    F.transform("qs", lambda q: q * q),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                2,
            ).alias("sum_sq_qty"),
            F.size(F.filter("qs", lambda q: q > 25.0)).cast("bigint").alias("n_big"),
            F.exists("qs", lambda q: q > 45.0).alias("has_jumbo"),
            F.round(
                F.aggregate("qs", F.lit(0.0), lambda acc, x: acc + x)
                / F.size("qs"),
                4,
            ).alias("mean_qty"),
        )
    )


@_register(
    "r45_date_arith",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
                AS INTEGER) AS days_since_95,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
    FROM orders
    WHERE o_orderkey < 2000
    """,
)
def r45_date_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/interval arithmetic: interval addition, month truncation,
    day-diff against an epoch, quarter, ISO day-of-week, last_day.
    All per-row codegen expressions — narrow, no shuffle at any scale.

    Spark weekday() is Monday=0; projected to ISO (Monday=1) to share a
    definition with the oracle."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.date_add(d, 30).cast("timestamp").alias("due_date"),
        F.date_trunc("month", "o_orderdate").cast("date").cast("timestamp").alias(
            "month_start"
        ),
        F.datediff(d, F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.quarter("o_orderdate").alias("q"),
        (F.weekday("o_orderdate") + F.lit(1)).alias("iso_dow"),
        F.last_day(d).cast("timestamp").alias("month_end"),
    )


@_register(
    "r46_bitwise",
    """
    SELECT CAST(l_orderkey & 255 AS BIGINT) AS bucket,
           CAST(sum(bit_count(l_orderkey)) AS BIGINT) AS total_bits,
           CAST(max(l_orderkey << 1) AS BIGINT) AS max_shl,
           CAST(min(l_orderkey >> 2) AS BIGINT) AS min_shr,
           CAST(sum(xor(l_orderkey, l_partkey) & 15) AS BIGINT) AS xor_low
    FROM lineitem
    GROUP BY 1
    """,
)
def r46_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression surface: AND-masking as the grouping key,
    bit_count / shifts / XOR under aggregation. The &255 bucket is also
    the classic salting shape — a uniform synthetic key fanning one hot
    domain across 256 reducers (operators/skew.py does it with rand).

    Scale: pure codegen expressions; one 256-group hash-agg."""
    li = load_table(spark, sf_dir, "lineitem")
    k, p = F.col("l_orderkey"), F.col("l_partkey")
    return (
        li.groupBy(k.bitwiseAND(F.lit(255)).alias("bucket"))
        .agg(
            F.sum(F.bit_count(k)).alias("total_bits"),
            F.max(F.shiftleft(k, 1)).alias("max_shl"),
            F.min(F.shiftright(k, 2)).alias("min_shr"),
            F.sum(k.bitwiseXOR(p).bitwiseAND(F.lit(15))).alias("xor_low"),
        )
    )


@_register(
    "r48_sql_api",
    """
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS month,
             sum(o_totalprice) AS rev, count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT CAST(month AS TIMESTAMP) AS month, round(rev, 2) AS revenue,
           CAST(n_orders AS BIGINT) AS n_orders,
           round(rev - lag(rev) OVER (ORDER BY month), 2) AS delta
    FROM m
    """,
)
def r48_sql_api(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine's SQL-text surface: the same Catalyst front door the
    DataFrame queries use, driven through spark.sql over a registered view
    — CTE, aggregation, and an analytic window in one statement. Proves a
    reference user can bring raw SQL, not just the DataFrame API.

    Scale: identical plan to the DataFrame formulation (one agg shuffle +
    one single-partition window over ~80 month rows — the window input is
    post-aggregation, so the 1-partition sort is bounded, not a smell)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        WITH m AS (
          SELECT date_trunc('month', o_orderdate) AS month,
                 sum(o_totalprice) AS rev, count(*) AS n_orders
          FROM v_orders GROUP BY 1
        )
        SELECT month, round(rev, 2) AS revenue, n_orders,
               round(rev - lag(rev) OVER (ORDER BY month), 2) AS delta
        FROM m
        """
    )


@_register(
    "r49_range_frame_window",
    """
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER w, 2) AS trailing_90d_rev,
           CAST(count(*) OVER w AS BIGINT) AS trailing_90d_orders
    FROM orders
    WHERE o_custkey < 200
    WINDOW w AS (
      PARTITION BY o_custkey
      ORDER BY date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
      RANGE BETWEEN 90 PRECEDING AND CURRENT ROW
    )
    """,
)
def r49_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: trailing 90-day revenue per customer. RANGE
    (value-based) frames include all same-day peers, so the result is
    deterministic under orderdate ties — the reason this isn't just r13's
    ROWS frame with different numbers.

    Scale: one shuffle on o_custkey; the frame is evaluated with a sliding
    aggregate over each sorted partition (no per-row rescan)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
    ).cast("long")
    w = (
        Window.partitionBy("o_custkey").orderBy(day).rangeBetween(-90, 0)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("trailing_90d_rev"),
        F.count("*").over(w).alias("trailing_90d_orders"),
    )


@_register(
    "r47_local_supplier_join",
    """
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def r47_local_supplier_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue from orders whose supplier and customer
    share a nation. The s_nationkey = c_nationkey condition makes this the
    one star query whose dim joins are NOT independent — supplier must
    join on (suppkey, nationkey) against a row that already carries the
    customer's nation.

    Scale: the date filter pushes to the orders scan; customer, supplier,
    nation broadcast (dims), so the only shuffle is lineitem-orders; the
    25-group agg is map-side combined."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


# Serialized csv/json copies of the dims are identical for every query at a
# given sf_dir — write once per session (harness plumbing; the query still
# runs the real csv/json readers end-to-end).
def _alt_source_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "nation").write.mode("overwrite").option(
            "header", True
        ).csv(f"{d}/nation")
        load_table(spark, sf_dir, "region").write.mode("overwrite").json(
            f"{d}/region"
        )

    return session_tmp_dir(spark, sf_dir, "spark_graft_altsrc_", build)


@_register(
    "r50_csv_json_sources",
    """
    SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY 1
    """,
)
def r50_csv_json_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-parquet scan formats through the same Catalyst front end:
    nation rides CSV (quoted header file), region rides JSON lines, and
    their join must equal the parquet-sourced oracle — format is an I/O
    concern, not a semantics concern.

    Scale: both readers get an EXPLICIT schema — schema inference is a
    full extra pass over the data at 100 TB (and type-guesses drift);
    production locks schemas in a catalog. Column pruning still applies
    (csv/json scans read only the referenced fields into rows)."""
    d = _alt_source_dir(spark, sf_dir)
    nation = (
        spark.read.schema("n_nationkey int, n_name string, n_regionkey int")
        .option("header", True)
        .csv(f"{d}/nation")
    )
    region = spark.read.schema("r_regionkey int, r_name string").json(
        f"{d}/region"
    )
    return (
        nation.join(
            # broadcast bound: region is the 5-row TPC-H dimension
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(F.count("*").alias("n_nations"))
    )


@_register(
    "r51_sliding_window",
    """
    SELECT CAST(to_timestamp(floor(epoch(date_trunc('second', ts)) / 300) * 300
                             - k.k * 300) AS TIMESTAMP) AS window_start,
           round(sum(value), 2) AS total_value,
           count(*) AS n_events
    FROM events CROSS JOIN (VALUES (0), (1)) k(k)
    WHERE value > 100.0
    GROUP BY 1
    """,
)
def r51_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows in batch: 10-minute windows every 5
    minutes over the fraud stream — each event lands in exactly
    window/slide = 2 buckets. Spark's `window(et, '10 minutes',
    '5 minutes')` expands to that small fan-out BEFORE the aggregation,
    and the hash agg combines map-side, so the shuffle carries window
    partials, not doubled events. The oracle reproduces the epoch-aligned
    window starts arithmetically with a 2-row cross join.

    Completes the SURVEY §2.3 streaming-window triple (tumbling q4/s02,
    session r32/s08, sliding here) on the batch side."""
    from ..operators.detect import EVENTS_FRAUD_THRESHOLD, events_as_transactions

    tx = events_as_transactions(load_table(spark, sf_dir, "events")).filter(
        F.col("amount") > EVENTS_FRAUD_THRESHOLD
    )
    return (
        tx.groupBy(F.window("event_time", "10 minutes", "5 minutes").alias("w"))
        .agg(F.round(F.sum("amount"), 2).alias("total_value"), F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "total_value", "n_events"
        )
    )


def _orc_source_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "orders").write.mode("overwrite").orc(
            f"{d}/orders"
        )

    return session_tmp_dir(spark, sf_dir, "spark_graft_orcsrc_", build)


@_register(
    "r52_orc_source",
    """
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(o_totalprice), 2) AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY 1
    """,
)
def r52_orc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC scan through the same query path (r50's pattern, columnar
    format): orders is round-tripped through ORC once per session and the
    aggregate must equal the parquet-sourced oracle. ORC keeps the
    columnar virtues parquet gives — predicate pushdown hits the stripe
    index (o_orderstatus = 'O' prunes stripes), and only the 3 referenced
    columns of 9 are read."""
    d = _orc_source_dir(spark, sf_dir)
    orders = spark.read.orc(f"{d}/orders")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _partitioned_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """events rewritten once per session as date-partitioned parquet
    (`.../event_date=2024-01-07/part-*.parquet`) — the layout every
    production event lake uses so time-range queries prune whole
    directories instead of scanning 100 TB of history."""

    def build(d: str) -> None:
        load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        ).write.partitionBy("event_date").mode("overwrite").parquet(f"{d}/events")

    return session_tmp_dir(spark, sf_dir, "spark_graft_partsrc_", build)


@_register(
    "r53_partition_pruning",
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS event_date,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE CAST(date_trunc('day', ts) AS DATE)
          BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
    GROUP BY 1
    """,
)
def r53_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned time-range scan: events lands date-partitioned
    (`partitionBy(event_date)`) and a one-week filter on the partition
    column resolves at PLANNING time — the scan's PartitionFilters lists
    the range and only 7 of 30 date directories are ever opened (pinned in
    tests/test_sources_sinks.py by reading the physical plan). This is the
    100 TB complement to `load_table`'s row-group-level ts pruning: 
    directory-level pruning first, min/max pruning within the survivors.
    The oracle computes the same week from the unpartitioned table."""
    d = _partitioned_events_dir(spark, sf_dir)
    ev = spark.read.parquet(f"{d}/events")
    return (
        ev.filter(
            F.col("event_date").between("2024-01-08", "2024-01-14")
        )
        .groupBy("event_date")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_register(
    "r54_listagg",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
           CAST(count(*) AS BIGINT) AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def r54_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): nation names
    per region as a sorted CSV. collect_list is order-nondeterministic
    under parallel merge, so the sort happens AFTER collection
    (array_sort) — the only way to get a deterministic LISTAGG without a
    single-partition sort. Per-group array size is bounded by the group,
    not the table; groups too large to listagg are an anti-pattern at any
    scale."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        nation.join(
            # broadcast bound: region is the 5-row TPC-H dimension
            F.broadcast(region),
            nation.n_regionkey == region.r_regionkey,
        )
        .groupBy("r_name")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("n_name"))).alias(
                "nations"
            ),
            F.count("*").alias("n_nations"),
        )
    )


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> None:
    """orders + lineitem written once per session as bucketed tables
    (8 buckets on the join key, sorted within buckets) — the co-located
    layout that removes the fact-fact join shuffle at 100 TB. Tables land
    in the session warehouse (temp in tests, durable on a cluster)."""
    # External tables at a fresh per-session temp path: a managed table
    # would pin the warehouse location, and a leftover directory from an
    # earlier session (fresh metastore, so DROP can't see the table) makes
    # saveAsTable fail with LOCATION_ALREADY_EXISTS.
    def build(d: str) -> None:
        for name, table, col in (
            ("spark_graft_b_orders", "orders", "o_orderkey"),
            ("spark_graft_b_lineitem", "lineitem", "l_orderkey"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            (
                load_table(spark, sf_dir, table)
                .write.format("parquet")
                .option("path", f"{d}/{name}")
                .bucketBy(8, col)
                .sortBy(col)
                .mode("overwrite")
                .saveAsTable(name)
            )

    session_tmp_dir(spark, sf_dir, "spark_graft_bucketed_", build)


@_register(
    "r55_bucketed_join",
    """
    SELECT o.o_orderstatus, CAST(count(*) AS BIGINT) AS n_items,
           round(sum(l.l_extendedprice), 2) AS total_price
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def r55_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join through bucketed tables: both sides pre-hashed into
    8 buckets on the order key, so the sort-merge join reads bucket i
    against bucket i with NO Exchange on either input (pinned in
    tests/test_bucketing_recovery.py; here AQE may still choose broadcast
    at toy scale — the RESULT is what the oracle checks). Bucketing is
    the standing answer to 'this join shuffles 100 TB every night': pay
    the shuffle once at write time, never at read time."""
    _bucketed_tables(spark, sf_dir)
    return (
        spark.table("spark_graft_b_orders")
        .join(
            spark.table("spark_graft_b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
    )


@_register(
    "r56_python_datasource",
    """
    WITH g AS (
      SELECT i,
             (i * 1103515245 + 12345) % 1000000 AS mix,
             (i * 2654435761) % 200 AS user_id
      FROM (SELECT unnest(range(0, 20000)) AS i)
    ), t AS (
      SELECT i AS event_id, user_id,
             1000.0 + (mix % 10000) + (mix // 10000) / 100.0 AS amount
      FROM g
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_fraud,
           round(sum(amount), 2) AS total_amount
    FROM t WHERE amount > 10000.0
    GROUP BY 1
    """,
)
def r56_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's transaction producer as a pluggable Spark source
    (sources/pydatasource.SyntheticTxDataSource, Python DataSource API):
    20k generated transactions, the strict->10000 fraud rule, per-user
    totals. Generation is partitioned across executors and row values are
    a pure integer function of the row id, so the oracle regenerates the
    identical table with SQL arithmetic — a custom source earns the same
    value-hash check as a parquet scan.
    Reference: TransactionProducer.java:40-50 (200 users, U[1000,11000)
    amounts); TransactionProcessor.java:39 (strict > threshold)."""
    from ..sources.pydatasource import register

    register(spark)
    tx = (
        spark.read.format("synthetic_tx")
        .option("rows", 20000)
        .option("partitions", 8)
        .load()
    )
    return (
        tx.filter(F.col("amount") > 10000.0)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_fraud"),
            F.round(F.sum("amount"), 2).alias("total_amount"),
        )
    )


@_register(
    "r57_cms_heavy_hitters",
    """
    WITH c AS (
      SELECT user_id, count(*) AS n_events
      FROM events GROUP BY 1
      ORDER BY n_events DESC, user_id ASC LIMIT 10
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           TRUE AS cms_lower_ok, TRUE AS cms_upper_ok
    FROM c
    """,
)
def r57_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters, built RELATIONALLY: d=4 hash rows x
    w=256 buckets as a (seed, bucket) -> count table — one explode + one
    hash-agg, mergeable partial+final like any groupBy, constant
    d x w state per executor regardless of key cardinality. The top-10
    users' frequencies are then estimated as min over rows of their
    bucket counts and checked against the exact counts.

    This is the third sketch of the approx family (HLL++/GK in r36): at
    100 TB the (seed, bucket) table IS the frequency index — 1024 rows
    summarize any number of events, and estimates never require touching
    raw data again. Oracle pattern as r36: exact values + booleans
    pinning the CMS guarantees (est >= exact always; overestimate
    bounded by ~e*N/w with prob 1 - e^-d), asserted literal TRUE."""
    ev = load_table(spark, sf_dir, "events")
    d, w = 4, 256
    entries = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        F.pmod(F.xxhash64(F.col("user_id"), F.lit(s)), F.lit(w)).alias(
                            "bucket"
                        ),
                    )
                    for s in range(d)
                ]
            )
        ).alias("e")
    )
    cms = entries.groupBy(
        F.col("e.seed").alias("seed"), F.col("e.bucket").alias("bucket")
    ).agg(F.count("*").alias("cnt"))

    exact = ev.groupBy("user_id").agg(F.count("*").alias("n_events"))
    top = exact.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10)
    total = ev.select(F.count("*").alias("_n"))

    probes = top.select(
        "user_id",
        "n_events",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("seed"),
                        F.pmod(F.xxhash64(F.col("user_id"), F.lit(s)), F.lit(w)).alias(
                            "bucket"
                        ),
                    )
                    for s in range(d)
                ]
            )
        ).alias("p"),
    )
    est = (
        probes.join(F.broadcast(cms), (F.col("p.seed") == F.col("seed")) & (F.col("p.bucket") == F.col("bucket")))
        .groupBy("user_id", "n_events")
        .agg(F.min("cnt").alias("_est"))
    )
    return est.crossJoin(F.broadcast(total)).select(
        "user_id",
        F.col("n_events").cast("bigint").alias("n_events"),
        (F.col("_est") >= F.col("n_events")).alias("cms_lower_ok"),
        # e/w * N, doubled for slack — deterministic on fixed data
        ((F.col("_est") - F.col("n_events")) <= 2.0 * 2.71828 * F.col("_n") / w).alias(
            "cms_upper_ok"
        ),
    )


@_register(
    "r58_variant_json",
    """
    WITH parsed AS (
      SELECT event_type,
             CAST(props->>'$.k' AS INT) AS k,
             TRY_CAST(CASE WHEN user_id % 3 = 0
                           THEN substr(props, 1, length(props) - 1)
                           ELSE props END AS JSON) AS maybe
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(k) AS BIGINT) AS sum_k,
           CAST(max(k) AS INT) AS max_k,
           CAST(count(*) - count(maybe) AS BIGINT) AS n_corrupt
    FROM parsed
    GROUP BY event_type
    """,
)
def r58_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured surface via the VARIANT type (Spark 4): parse_json
    turns the raw props JSON into a binary variant, variant_get extracts a
    typed path, and try_parse_json returns NULL on malformed input (every
    third user's record is truncated to an unterminated object) instead of failing
    the job — the null-on-corrupt contract of the reference's parse path
    (TransactionProcessor.java:38-44) applied to open-schema columns.

    Scale: variant is a binary-encoded columnar type — parse once, then
    every variant_get is a JVM-side path lookup with no re-parsing and no
    Python. The aggregate is an ordinary partial+final hash-agg on a
    5-value key; at 100 TB the expensive part (JSON text -> variant)
    happens exactly once per row in the scan stage and would normally be
    materialized at ingest."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.variant_get(F.parse_json("props"), "$.k", "int").alias("k"),
        F.try_parse_json(
            F.when(
                F.col("user_id") % 3 == 0,
                F.expr("substr(props, 1, length(props) - 1)"),
            ).otherwise(F.col("props"))
        ).alias("maybe"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("int").alias("max_k"),
        (F.count("*") - F.count("maybe")).cast("bigint").alias("n_corrupt"),
    )


_R59_SQL = """
SELECT r.r_name AS region_name, t.n_name AS nation_name, t.n_cust
FROM region r,
LATERAL (
  SELECT n.n_name, CAST(count(c.c_custkey) AS BIGINT) AS n_cust
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_cust DESC, n.n_name
  LIMIT 2
) t
"""


@_register("r59_lateral_topn", _R59_SQL)
def r59_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: per region, the top-2 nations by
    customer count. The SAME SQL text runs on both engines (DuckDB
    executes it verbatim as the oracle) — the per-outer-row ORDER BY +
    LIMIT is the classic lateral shape that a plain join cannot express.

    Scale: Catalyst DECORRELATES the lateral — the physical plan is a
    partial+final WindowGroupLimit (top-k per group computed map-side
    before the shuffle, never a per-row re-execution) over one hash-agg,
    joined back to `region` by broadcast. Verified via .explain: no
    nested-loop, no cartesian, top-2 pruning happens before the exchange
    — the decorrelated plan is what you'd hand-write at 100 TB.

    Reference parity: none in reference; ANSI SQL LATERAL (per-group top-n, the q1-style leaderboard generalized).
    """
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_R59_SQL)


_R62_SPARK_SQL = """
WITH RECURSIVE anc(user_id, anc_id, depth) AS (
  SELECT DISTINCT user_id, user_id, 0 FROM events
  UNION ALL
  SELECT user_id, anc_id DIV 2, depth + 1 FROM anc WHERE anc_id > 0
)
SELECT user_id,
       CAST(max(depth) AS INT) AS depth_to_root,
       CAST(count(*) AS BIGINT) AS n_ancestors,
       CAST(sum(anc_id) AS BIGINT) AS anc_id_sum
FROM anc GROUP BY user_id
"""


@_register(
    "r62_recursive_cte",
    """
    WITH RECURSIVE anc(user_id, anc_id, depth) AS (
      SELECT DISTINCT user_id, user_id, 0 FROM events
      UNION ALL
      SELECT user_id, anc_id // 2, depth + 1 FROM anc WHERE anc_id > 0
    )
    SELECT user_id,
           CAST(max(depth) AS INT) AS depth_to_root,
           CAST(count(*) AS BIGINT) AS n_ancestors,
           CAST(sum(anc_id) AS BIGINT) AS anc_id_sum
    FROM anc GROUP BY user_id
    """,
)
def r62_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE, new in Spark 4.0): walk each user's
    ancestor chain in an implicit binary-tree hierarchy (parent = id/2)
    to the root, then aggregate depth / ancestor count / ancestor-id sum
    per user. The oracle runs the same recursion in DuckDB — the only
    dialect delta is integer division (DIV vs //).

    Scale: Spark executes the recursion as iterated UnionLoop steps —
    each iteration is an ordinary distributed plan over the previous
    frontier, so a chain of depth d costs d narrow passes (here d <= 8
    for 200 users); the frontier shrinks as chains terminate. Same
    driver-loop shape as l20/l30, but expressed declaratively in SQL."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_R62_SPARK_SQL)


@_register(
    "r63_pivot",
    """
    SELECT user_id,
           round(coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0), 2) AS click_sum,
           round(coalesce(sum(CASE WHEN event_type = 'error' THEN value END), 0), 2) AS error_sum,
           round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2) AS purchase_sum,
           round(coalesce(sum(CASE WHEN event_type = 'signup' THEN value END), 0), 2) AS signup_sum,
           round(coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0), 2) AS view_sum
    FROM events
    GROUP BY user_id
    """,
)
def r63_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long-to-wide per-user value totals, one column per event
    type, with the pivot values EXPLICIT (the five known types — never a
    driver-side distinct-discovery job at scale).

    Deliberately lowered to conditional aggregation instead of
    DataFrame.pivot(): .explain shows .pivot() plans TWO aggregations
    (partial_sum keyed on (user, type) -> exchange -> pivotfirst keyed on
    user -> second exchange), while sum(CASE WHEN ...) per type is ONE
    hash aggregate with map-side partials and ONE exchange on user_id —
    half the shuffles for the identical result, which is the plan you
    want feeding a 100 TB events table. The oracle is the same
    conditional aggregation in SQL."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        *[
            F.round(
                F.coalesce(
                    F.sum(F.when(F.col("event_type") == t, F.col("value"))),
                    F.lit(0.0),
                ),
                2,
            ).alias(f"{t}_sum")
            for t in ["click", "error", "purchase", "signup", "view"]
        ]
    )


@_register(
    "r64_regr_aggs",
    """
    SELECT l_returnflag,
           round(regr_slope(l_discount, l_quantity), 6) AS slope,
           round(regr_intercept(l_discount, l_quantity), 6) AS intercept,
           round(regr_r2(l_discount, l_quantity), 6) AS r2,
           round(corr(l_discount, l_quantity), 6) AS corr_dq,
           round(covar_samp(l_discount, l_quantity), 6) AS covar_dq,
           CAST(regr_count(l_discount, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def r64_regr_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates (regr_slope/intercept/r2/count plus
    corr/covar): discount-vs-quantity fit per return flag — the ANSI
    bivariate-statistics family, one pass, fully mergeable partials
    (each is algebra over sum/sum-of-products moments), so the plan is a
    plain partial+final hash aggregate with no extra shuffle beyond the
    group key. Values round to 6: moment sums differ across engines only
    at ~1e-13 relative, far inside the rounding guard."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_discount"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.corr(y, x), 6).alias("corr_dq"),
        F.round(F.covar_samp(y, x), 6).alias("covar_dq"),
        F.regr_count(y, x).cast("long").alias("n"),
    )


@_register(
    "r65_try_arith",
    """
    SELECT event_id,
           CASE WHEN user_id % 5 = 0 THEN NULL
                ELSE round(value / (user_id % 5), 6) END AS safe_div,
           CASE WHEN user_id % 2 = 0 THEN CAST(user_id AS BIGINT)
                ELSE NULL END AS safe_cast,
           CASE WHEN len(event_type) >= 7 THEN substring(event_type, 7, 1)
                ELSE NULL END AS safe_elem
    FROM events
    """,
)
def r65_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe try_* family: try_divide (null on /0 instead of error),
    try_cast (null on malformed input), try_element_at (null past the
    end) — the error-tolerant forms a pipeline needs under ANSI mode,
    where the plain operators would kill the job on the first bad row.
    All three stay whole-stage-codegen expressions; the oracle encodes
    the same null contract as explicit CASE guards."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.round(
            F.try_divide(F.col("value"), F.col("user_id") % 5), 6
        ).alias("safe_div"),
        F.concat(
            F.col("user_id").cast("string"),
            F.when(F.col("user_id") % 2 == 0, F.lit("")).otherwise(F.lit("x")),
        )
        .try_cast("bigint")
        .alias("safe_cast"),
        F.try_element_at(F.split(F.col("event_type"), ""), F.lit(7)).alias(
            "safe_elem"
        ),
    )


@_register(
    "r66_xml_roundtrip",
    """
    SELECT event_id,
           CAST(user_id AS BIGINT) AS xml_user_id,
           event_type AS xml_event_type,
           round(value, 2) AS xml_value
    FROM events
    WHERE event_id < 2000
    """,
)
def r66_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML surface (from_xml, core in Spark 4): serialize each event to
    an XML fragment with pure string expressions, parse it back with
    from_xml under an explicit schema, and return the recovered fields —
    the q6 JSON wire round-trip's XML twin, covering the other common
    interchange format feeds arrive in. The oracle states the fixpoint:
    a parse of a faithful serialization returns the original columns.

    Scale: both directions are per-row codegen expressions (no Python,
    no shuffle); an explicit schema avoids schema_of_xml's sampling job,
    the same discovery-job rule as r63's explicit pivot values."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    xml = ev.select(
        "event_id",
        F.concat(
            F.lit("<e><uid>"),
            F.col("user_id").cast("string"),
            F.lit("</uid><et>"),
            F.col("event_type"),
            F.lit("</et><v>"),
            F.round("value", 2).cast("string"),
            F.lit("</v></e>"),
        ).alias("xml"),
    )
    parsed = xml.select(
        "event_id",
        F.from_xml("xml", "uid BIGINT, et STRING, v DOUBLE").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.uid").alias("xml_user_id"),
        F.col("p.et").alias("xml_event_type"),
        F.col("p.v").alias("xml_value"),
    )


@_register(
    "r67_range_frame_window",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER w, 2) AS trail_sum,
           CAST(count(*) OVER w AS BIGINT) AS trail_n
    FROM events
    WINDOW w AS (PARTITION BY user_id
                 ORDER BY epoch(date_trunc('second', ts))
                 RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
    """,
)
def r67_range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True RANGE window frame on event time: every event's trailing-hour
    per-user sum/count — the 'activity in the last hour as of each event'
    shape (velocity features for fraud scoring). Distinct from r51's
    hopping buckets: the frame here is value-based (RANGE BETWEEN 3599
    PRECEDING on epoch seconds), so each row gets its own exact trailing
    interval rather than a bucketized approximation, and peers at the
    same second share the frame.

    Scale: ONE shuffle on user_id, then a per-partition ordered scan with
    a sliding two-pointer frame (Spark's WindowExec RangeFrame) — the
    same cost envelope as any per-key sort; both aggregates share one
    window spec so the sort is paid once. Second-truncation is applied
    identically on both sides (unix_timestamp floors; the oracle
    date_truncs) so frame membership is engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    epoch_s = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_s)
        .rangeBetween(-3599, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("trail_sum"),
        F.count(F.lit(1)).over(w).alias("trail_n"),
    )


@_register(
    "r68_grouped_percentiles",
    """
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           round(quantile_cont(l_quantity, 0.50), 4) AS p50,
           round(quantile_cont(l_quantity, 0.75), 4) AS p75,
           round(quantile_cont(l_quantity, 0.90), 4) AS p90,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def r68_grouped_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group continuous percentiles (quartiles + p90 of shipped
    quantity per return flag) — the grouped complement of r35's global
    percentile surface. Spark's `percentile()` and DuckDB's
    `quantile_cont()` share the ANSI (n-1)*p linear-interpolation
    definition, so the oracle is value-exact, not envelope-checked.

    Scale: exact percentiles require the group's values — Spark's
    percentile UDAF buffers per group after a partial-merge shuffle.
    Groups here are 3 flags x millions of rows; when group cardinality is
    the scale hazard (not group count), swap approx_percentile (r36's
    mergeable-sketch posture) — the API shape is identical."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.expr(
        "percentile(l_quantity, array(0.25D, 0.50D, 0.75D, 0.90D))"
    )
    return (
        li.groupBy("l_returnflag")
        .agg(pct.alias("p"), F.count("*").alias("n_rows"))
        .select(
            "l_returnflag",
            F.round(F.col("p")[0], 4).alias("p25"),
            F.round(F.col("p")[1], 4).alias("p50"),
            F.round(F.col("p")[2], 4).alias("p75"),
            F.round(F.col("p")[3], 4).alias("p90"),
            "n_rows",
        )
    )


@_register(
    "r69_not_in_null_semantics",
    """
    SELECT
      (SELECT count(*) FROM customer
       WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders))
        AS n_not_in,
      (SELECT count(*) FROM customer c
       WHERE NOT EXISTS (SELECT 1 FROM orders o
                         WHERE nullif(o_custkey, 7) = c.c_custkey))
        AS n_not_exists
    """,
)
def r69_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued logic where real pipelines get burned: `NOT IN`
    against a subquery containing a NULL yields UNKNOWN for every probe
    row (n_not_in = 0), while the `NOT EXISTS` formulation of "customers
    with no orders" keeps working — both counts computed in one statement
    over the same nullable key (nullif plants the NULL). Both engines
    must agree on both counts, pinning the engine's subquery planner to
    ANSI semantics.

    Scale: Spark plans the NOT IN as a null-aware anti join (broadcast;
    degenerate single-null short-circuit) and the NOT EXISTS as a plain
    anti join — the reason style guides ban NOT IN on nullable keys at
    warehouse scale is visible right in the two plans' shapes."""
    from ..sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT
          (SELECT count(*) FROM customer
           WHERE c_custkey NOT IN (SELECT nullif(o_custkey, 7) FROM orders))
            AS n_not_in,
          (SELECT count(*) FROM customer c
           WHERE NOT EXISTS (SELECT 1 FROM orders o
                             WHERE nullif(o_custkey, 7) = c.c_custkey))
            AS n_not_exists
        """
    )


@_register(
    "r70_hll_sketch_rollup",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_exact,
           TRUE AS est_within_5pct
    FROM orders
    GROUP BY 1
    """,
)
def r70_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches up a hierarchy: per-MONTH Apache
    DataSketches HLL sketches of active customers (hll_sketch_agg), then
    UNIONED to per-year estimates (hll_union_agg) — the r60
    continuous-aggregate pattern applied to the one aggregate that does
    NOT add up (distinct counts). This is the 100 TB dashboard answer to
    'unique users per year': monthly rollups are built once, each year is
    a k-register union, raw data is never rescanned.

    Oracled like r36's sketch family: the exact per-year distinct count
    is value-checked, and the sketch's estimate is asserted into a
    BOOLEAN (within 5% of exact; DataSketches HLL at default lgK=12 has
    ~1.6% RSE, so 5% is a stable margin, not a tuned one). The estimate
    itself cannot cross the DuckDB boundary — DuckDB has no DataSketches
    twin — which is exactly why the envelope is part of the row hash."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        "o_custkey",
    )
    monthly = o.groupBy("order_year", "order_month").agg(
        F.expr("hll_sketch_agg(o_custkey)").alias("sk")
    )
    yearly = monthly.groupBy("order_year").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("est")
    )
    exact = o.groupBy("order_year").agg(
        F.count_distinct("o_custkey").alias("n_exact")
    )
    return exact.join(yearly, "order_year").select(
        "order_year",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("est_within_5pct"),
    )


@_register(
    "r71_scd2_versions",
    """
    WITH e AS (
      SELECT user_id, event_id, date_trunc('second', ts) AS t, event_type
      FROM events
    ), m AS (
      SELECT user_id, event_id, t, event_type,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id)
               AS prev_type
      FROM e
    ), chg AS (
      SELECT user_id, event_id, t, event_type FROM m
      WHERE prev_type IS NULL OR prev_type <> event_type
    )
    SELECT user_id,
           CAST(row_number() OVER w2 AS BIGINT) AS version,
           event_type,
           CAST(t AS TIMESTAMP) AS valid_from,
           CAST(lead(t) OVER w2 AS TIMESTAMP) AS valid_to,
           (lead(t) OVER w2 IS NULL) AS is_current
    FROM chg
    WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id)
    """,
)
def r71_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 built from an event stream: each
    change of a user's event_type opens a new version row with
    [valid_from, valid_to) validity and an is_current flag — the
    warehouse pattern for 'what was this entity's state as of time T'
    (the r26 as-of join is exactly the probe side of this table).

    Scale: change detection and versioning are TWO window passes over the
    SAME (user_id, t, event_id) sort — Catalyst reuses one shuffle+sort,
    and the second window runs on the filtered change rows only. Ties are
    impossible cross-engine: ordering is (second-truncated t, event_id)
    with event_id unique."""
    chg = _scd2_changes(spark, sf_dir)
    w2 = Window.partitionBy("user_id").orderBy("es", "event_id")
    return chg.select(
        "user_id",
        F.row_number().over(w2).cast("long").alias("version"),
        "event_type",
        F.col("t").alias("valid_from"),
        F.lead("t").over(w2).alias("valid_to"),
        F.lead("t").over(w2).isNull().alias("is_current"),
    )


@_register(
    "r72_bitwise_bool_aggs",
    """
    SELECT l_returnflag, l_linestatus,
           bit_and(l_orderkey) AS key_and,
           bit_or(l_orderkey)  AS key_or,
           bit_xor(l_orderkey) AS key_xor,
           bool_and(l_quantity > 1.0)  AS all_multi,
           bool_or(l_discount > 0.09)  AS any_deep_discount,
           CAST(count(*) FILTER (WHERE l_tax > 0.05) AS BIGINT) AS n_high_tax
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def r72_bitwise_bool_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise (bit_and/or/xor) and boolean (bool_and/or) aggregates plus a
    FILTER-ed conditional count — the permission-mask / feature-flag rollup
    family (e.g. OR-ing per-row capability bits into a per-group mask).

    Scale: all six are algebraic aggregates with exact map-side partials
    (AND/OR/XOR and conjunction/disjunction are associative+commutative),
    so the shuffle carries one 8-byte mask per (flag, status, partition) —
    the same 100 TB posture as sum/count."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.bit_and("l_orderkey").alias("key_and"),
        F.bit_or("l_orderkey").alias("key_or"),
        F.bit_xor("l_orderkey").alias("key_xor"),
        F.bool_and(F.col("l_quantity") > 1.0).alias("all_multi"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.count_if(F.col("l_tax") > 0.05).alias("n_high_tax"),
    )


@_register(
    "r73_median_mad",
    """
    WITH med AS (
      SELECT l_returnflag, median(l_extendedprice) AS med_price
      FROM lineitem GROUP BY 1
    ), dev AS (
      SELECT l.l_returnflag, m.med_price,
             abs(l.l_extendedprice - m.med_price) AS adev
      FROM lineitem l JOIN med m USING (l_returnflag)
    ), mad AS (
      SELECT l_returnflag, median(adev) AS mad_price FROM dev GROUP BY 1
    )
    SELECT d.l_returnflag,
           round(any_value(d.med_price), 4) AS med_price,
           round(any_value(m.mad_price), 4) AS mad_price,
           CAST(count(*) FILTER (WHERE d.adev > 3.0 * 1.4826 * m.mad_price)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (l_returnflag)
    GROUP BY 1
    """,
)
def r73_median_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust statistics: exact grouped median, median absolute deviation,
    and the classic |x - med| > 3 * 1.4826 * MAD robust-outlier count —
    the data-quality screen that mean/stddev (r28) can't do on heavy-tailed
    price data. Spark has no mad() aggregate, so the engine composes it:
    median per group, broadcast back, median of absolute deviations, then a
    conditional count against the scaled MAD fence.

    Scale: three grouped aggregates over ONE shuffle key (l_returnflag, 3
    groups) joined via broadcast — the group-count is tiny by construction,
    so every join is a broadcast and lineitem scans THREE times (med, then
    deviations for the MAD, then deviations again for the fence count —
    the med -> mad -> fence chain is inherently sequential; a one-pass
    approx variant is r35/r36's approx_percentile territory, and
    materializing the deviation column would trade a cheap columnar
    rescan for corpus-sized write amplification). Exact medians at
    100 TB group sizes are sort-based per group; prefer r36's sketches
    when 4-digit precision isn't contractual."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    med = li.groupBy("l_returnflag").agg(
        F.median("l_extendedprice").alias("med_price")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").withColumn(
        "adev", F.abs(F.col("l_extendedprice") - F.col("med_price"))
    )
    mad = dev.groupBy("l_returnflag").agg(F.median("adev").alias("mad_price"))
    fenced = dev.join(F.broadcast(mad), "l_returnflag")
    return (
        fenced.groupBy("l_returnflag")
        .agg(
            F.round(F.any_value("med_price"), 4).alias("med_price"),
            F.round(F.any_value("mad_price"), 4).alias("mad_price_r"),
            F.count_if(
                F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad_price")
            ).alias("n_outliers"),
        )
        .withColumnRenamed("mad_price_r", "mad_price")
    )


@_register(
    "r74_multiset_ops",
    """
    WITH a AS (SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'A'),
         b AS (SELECT l_partkey AS k FROM lineitem WHERE l_returnflag = 'R')
    SELECT 'intersect_all' AS op,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT k) AS BIGINT) AS n_keys
    FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
    UNION ALL
    SELECT 'except_all',
           CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT k) AS BIGINT)
    FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
    """,
)
def r74_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAG-semantics set operations — INTERSECT ALL keeps min(m_a, m_b)
    copies per key and EXCEPT ALL keeps m_a - m_b — which r16's
    distinct-set ops can't express (multiplicity is the whole point:
    'how many line items survive subtracting the returned bag').

    Scale: Catalyst rewrites both to a count-aggregate + generate
    (replicate rows) pattern — one shuffle on the value key, never a
    join; the summary agg then collapses to two rows."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_returnflag") == "A").select(F.col("l_partkey").alias("k"))
    b = li.where(F.col("l_returnflag") == "R").select(F.col("l_partkey").alias("k"))

    def _summary(df: DataFrame, op: str) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.count_distinct("k").alias("n_keys"),
        ).select(F.lit(op).alias("op"), "n_rows", "n_keys")

    return _summary(a.intersectAll(b), "intersect_all").unionAll(
        _summary(a.exceptAll(b), "except_all")
    )


@_register(
    "r75_null_safe_join",
    """
    WITH o AS (
      SELECT nullif(o_orderpriority, '1-URGENT') AS p,
             CAST(count(*) AS BIGINT) AS n
      FROM orders GROUP BY 1
    )
    SELECT coalesce(l.p, '<null>') AS lp, coalesce(r.p, '<null>') AS rp,
           (l.p IS NULL) AS joined_on_null,
           l.n * r.n AS pairs
    FROM o l JOIN o r ON l.p IS NOT DISTINCT FROM r.p
    """,
)
def r75_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    match each other — a plain `=` join silently drops every null-keyed
    row, the classic silent-data-loss bug when joining on nullable
    dimension keys. The joined_on_null row proves the null bucket
    actually joined.

    Scale: eqNullSafe is a hash-join-able equi-condition (Spark hashes
    null to a bucket like any value), so this plans as a broadcast/SMJ
    equi-join, NOT a nested-loop — and both sides here are post-aggregate
    (|priorities| rows)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .select(F.nullif("o_orderpriority", F.lit("1-URGENT")).alias("p"))
        .groupBy("p")
        .agg(F.count("*").alias("n"))
    )
    left = o.alias("l")
    right = o.alias("r")
    return left.join(
        right, F.col("l.p").eqNullSafe(F.col("r.p"))
    ).select(
        F.coalesce("l.p", F.lit("<null>")).alias("lp"),
        F.coalesce("r.p", F.lit("<null>")).alias("rp"),
        F.col("l.p").isNull().alias("joined_on_null"),
        (F.col("l.n") * F.col("r.n")).alias("pairs"),
    )


@_register(
    "r76_snapshot_diff",
    """
    WITH e AS (
      SELECT user_id, epoch(date_trunc('second', ts)) AS es, value
      FROM events
    ), mid AS (
      SELECT CAST(floor((min(es) + max(es)) / 2.0) AS BIGINT) AS m FROM e
    ), snap_a AS (
      SELECT user_id, count(*) AS n_a,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents_a
      FROM e CROSS JOIN mid WHERE es <= m GROUP BY 1
    ), snap_b AS (
      SELECT user_id, count(*) AS n_b,
             sum(CAST(round(value * 100, 0) AS BIGINT)) AS cents_b
      FROM e CROSS JOIN mid WHERE es > m GROUP BY 1
    )
    SELECT printf('user_%03d', coalesce(a.user_id, b.user_id)) AS userId,
           CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
           CAST(coalesce(cents_a, 0) AS BIGINT) AS cents_a,
           CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
           CAST(coalesce(cents_b, 0) AS BIGINT) AS cents_b,
           CASE WHEN a.user_id IS NULL THEN 'inserted'
                WHEN b.user_id IS NULL THEN 'deleted'
                WHEN n_a = n_b AND cents_a = cents_b THEN 'unchanged'
                ELSE 'changed' END AS change_type
    FROM snap_a a FULL OUTER JOIN snap_b b USING (user_id)
    """,
)
def r76_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot diff: aggregate the same keyed state from two
    table snapshots (here: the event log split at its temporal midpoint)
    and classify every key as inserted / deleted / changed / unchanged —
    the audit shape behind Delta/Iceberg change-data-feed consumers and
    reconciliation jobs. State totals sum exact integer cents (m07's
    pattern) so the 'changed vs unchanged' equality can never flip on
    float accumulation order.

    Scale: two map-side-combined aggregates over one scan family + one
    full-outer equi-join on the key — 8 bytes + two longs per key on the
    shuffle, never raw rows. The midpoint rides a 1-row broadcast. At
    100 TB the snapshots would be two table versions; the plan shape
    (agg + agg + full outer on key) is identical."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        event_seconds().alias("es"),
        "value",
    )
    mid = e.agg(
        F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("m")
    )
    j = e.crossJoin(F.broadcast(mid))
    cents = F.sum(F.round(F.col("value") * 100, 0).cast("long"))

    def snap(cond, n_name, c_name):
        return (
            j.where(cond)
            .groupBy("user_id")
            .agg(
                F.count("*").alias(n_name), cents.alias(c_name)
            )
        )

    a = snap(F.col("es") <= F.col("m"), "n_a", "cents_a")
    b = snap(F.col("es") > F.col("m"), "n_b", "cents_b")
    d = a.join(b, "user_id", "full_outer")
    change = (
        F.when(F.col("n_a").isNull(), "inserted")
        .when(F.col("n_b").isNull(), "deleted")
        .when(
            (F.col("n_a") == F.col("n_b"))
            & (F.col("cents_a") == F.col("cents_b")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return d.select(
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias(
            "userId"
        ),
        F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
        F.coalesce("cents_a", F.lit(0)).cast("long").alias("cents_a"),
        F.coalesce("n_b", F.lit(0)).cast("long").alias("n_b"),
        F.coalesce("cents_b", F.lit(0)).cast("long").alias("cents_b"),
        change.alias("change_type"),
    )


def _scd2_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 change detection shared by r71 (version table) and r77
    (point-in-time probe): one copy of the lag-over-(time, event_id)
    comparison, carrying both the second-truncated timestamp and its
    epoch form. Ordering by (es, event_id) is value-identical to the
    original (t, event_id): es = epoch(t) is order-isomorphic and the
    unique event_id breaks ties identically."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("second", "ts").alias("t"),
        "event_type",
    ).withColumn("es", F.unix_timestamp("t"))
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select("user_id", "event_id", "t", "es", "event_type")
    )


def _scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 dimension with epoch-second validity bounds (r77's probe
    side), derived from the shared change detection."""
    chg = _scd2_changes(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    return chg.select(
        "user_id",
        "event_type",
        F.col("es").alias("from_es"),
        F.lead("es").over(w).alias("to_es"),
    )


@_register(
    "r77_pointintime_join",
    """
    WITH e AS (
      SELECT user_id, event_id, epoch(date_trunc('second', ts)) AS es,
             event_type
      FROM events
    ), chg AS (
      SELECT user_id, event_type, es AS from_es,
             lead(es) OVER w AS to_es
      FROM (
        SELECT *, lag(event_type) OVER w AS prev_type FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
      ) WHERE prev_type IS NULL OR prev_type <> event_type
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ), bounds AS (
      SELECT min(es) AS lo, max(es) AS hi FROM e
    ), grid AS (
      SELECT lo + CAST(floor(k * (hi - lo) / 9.0) AS BIGINT) AS t
      FROM bounds CROSS JOIN (SELECT unnest(range(10)) AS k)
    )
    SELECT CAST(to_timestamp(t) AS TIMESTAMP) AS probe_ts,
           event_type,
           CAST(count(*) AS BIGINT) AS n_users
    FROM chg JOIN grid
      ON chg.from_es <= grid.t AND (chg.to_es IS NULL OR grid.t < chg.to_es)
    GROUP BY t, event_type
    """,
)
def r77_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join against the SCD2 dimension r71
    builds: probe 'what state was every user in as of T' for a 10-point
    time grid spanning the log, and report the population per state per
    probe — the validity-interval range join every lakehouse runs when
    joining facts to versioned dimensions ('the dimension row as of the
    fact's timestamp'). Interval semantics are [from, to): a probe at
    exactly to belongs to the NEXT version, pinned by both engines
    computing the same strict/non-strict bounds.

    Scale: the probe grid is a 10-row broadcast, so the range join is a
    broadcast nested loop over versions x 10 with the interval predicate
    applied in the scan stage — the dimension never shuffles. Probing
    with a large fact table instead flips the build side: broadcast (or
    range-bucket, operators/asof.py) the versions, exactly the r26
    as-of machinery."""
    v = _scd2_versions(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").select(
        event_seconds().alias("es")
    )
    bounds = e.agg(F.min("es").alias("lo"), F.max("es").alias("hi"))
    grid = (
        bounds.select(
            F.explode(F.sequence(F.lit(0), F.lit(9))).alias("k"), "lo", "hi"
        )
        .select(
            (
                F.col("lo")
                + F.floor(
                    F.col("k") * (F.col("hi") - F.col("lo")) / F.lit(9.0)
                ).cast("long")
            ).alias("t")
        )
    )
    joined = v.join(
        F.broadcast(grid),
        (F.col("from_es") <= F.col("t"))
        & (F.col("to_es").isNull() | (F.col("t") < F.col("to_es"))),
    )
    return joined.groupBy("t", "event_type").agg(
        F.count("*").alias("n_users")
    ).select(
        F.timestamp_seconds(F.col("t")).cast("timestamp_ntz").alias("probe_ts"),
        "event_type",
        F.col("n_users").cast("long").alias("n_users"),
    )


def _png_file_dir(spark: SparkSession, sf_dir: str) -> str:
    """One real .png file per document (executor-side foreachPartition
    write — the shape of an image-dataset materialization job; on a
    cluster the target is an object store, here the shared local FS)."""

    def build(d: str) -> None:
        def write_part(rows):
            from ..operators.multimodal import encode_png

            for r in rows:
                with open(f"{d}/doc_{r.doc_id:06d}.png", "wb") as f:
                    f.write(encode_png(int(r.doc_id), int(r.n_chars)))

        load_table(spark, sf_dir, "documents").select(
            "doc_id", "n_chars"
        ).foreachPartition(write_part)

    return session_tmp_dir(spark, sf_dir, "spark_graft_binsrc_", build)


@_register("r78_binaryfile_source", _PNG_ORACLE_SQL)
def r78_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binaryFile data source — the scan format every multimodal
    pipeline starts from (a directory of image files, not a columnar
    table): one genuine .png file per document is materialized once
    (executor-side writes), read back as (path, content) rows, the
    doc id recovered from the file name, and the payload decoded by the
    l57 PNG parser inside mapInPandas. The decoded geometry/pixels are
    the same closed forms as l57, so the WHOLE chain — file write, DFS
    listing, binary scan, Arrow batch, inflate, unfilter — lands in the
    driver's value hash.

    Scale: binaryFile scans parallelize over files with pushed filters
    on (path, length, modificationTime); content bytes stream through
    Arrow batches and never cross a shuffle (decode is a narrow
    mapInPandas). Small-file pressure is the real 100 TB concern — at
    scale the materialization step would pack payloads into parquet
    binary columns (l52/l57's layout) or stream archives, keeping this
    source for the raw-ingest hop only.

    Reference parity: none in reference; public Spark binaryFile data source API.
    """
    from ..operators.multimodal import png_payload_features

    d = _png_file_dir(spark, sf_dir)
    files = spark.read.format("binaryFile").load(d).select(
        F.regexp_extract("path", r"doc_(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "content",
    )
    return png_payload_features(files, payload_col="content")


def _xml_source_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "event_type", "value"
        ).write.mode("overwrite").format("xml").option("rowTag", "event").save(
            f"{d}/events"
        )

    return session_tmp_dir(spark, sf_dir, "spark_graft_xmlsrc_", build)


@_register(
    "r79_xml_source",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
             AS cents
    FROM events
    GROUP BY 1
    """,
)
def r79_xml_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native XML data source (Spark 4 absorbed spark-xml): events
    round-trip through actual .xml FILES — written with rowTag markup,
    read back with an EXPLICIT schema (inference is an extra full pass,
    same rule as r50's csv/json) — and the per-type aggregate over the
    XML-sourced rows must equal the parquet-sourced oracle. Doubles
    survive the text round trip exactly (the writer emits the shortest
    repr that parses back to the same bits), but the totals still sum
    integer cents so the equality never rides on that detail. r66
    covers the to_xml/from_xml COLUMN functions; this is the file
    FORMAT half.

    Scale: same posture as r50 — format is an I/O concern, not a
    semantics concern; XML scans parallelize per file/rowTag span and
    prune columns to the referenced fields. XML is the interchange
    hop; analytics storage stays columnar."""
    d = _xml_source_dir(spark, sf_dir)
    ev = (
        spark.read.schema(
            "event_id long, user_id long, event_type string, value double"
        )
        .format("xml")
        .option("rowTag", "event")
        .load(f"{d}/events")
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents"),
    )


# Corrupt-JSONL fixture: every event becomes a wire line, with two planted
# corruption classes — event_id % 7 == 0 drops the closing brace (invalid
# JSON), else event_id % 11 == 0 writes cents as a string (type
# mismatch). Deterministic, so the oracle replays the classification
# from the clean events table without ever seeing the broken bytes.
def _corrupt_source_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        cents = F.round(F.col("value") * 100, 0).cast("long")
        good = F.format_string(
            '{"id":%d,"user":%d,"cents":%d}', "event_id", "user_id", cents
        )
        trunc = F.format_string(
            '{"id":%d,"user":%d,"cents":%d', "event_id", "user_id", cents
        )
        badtype = F.format_string(
            '{"id":%d,"user":%d,"cents":"oops"}', "event_id", "user_id"
        )
        line = (
            F.when(F.col("event_id") % 7 == 0, trunc)
            .when(F.col("event_id") % 11 == 0, badtype)
            .otherwise(good)
        )
        ev.select(line.alias("value")).write.mode("overwrite").text(
            f"{d}/events_jsonl"
        )

    return session_tmp_dir(spark, sf_dir, "spark_graft_corrupt_", build)


@_register(
    "r80_corrupt_records",
    """
    WITH c AS (
      SELECT CASE WHEN event_id % 7 = 0 THEN 'malformed'
                  WHEN event_id % 11 = 0 THEN 'type_error'
                  ELSE 'ok' END AS parse_status,
             CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events
    )
    SELECT parse_status,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN parse_status != 'malformed' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_ids,
           CAST(coalesce(sum(CASE WHEN parse_status = 'ok' THEN cents END), 0)
                AS BIGINT) AS cents_sum
    FROM c GROUP BY parse_status
    """,
)
def r80_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode corrupt-record recovery — the source-level
    bad-data contract every production ingest needs (q6 covers the
    COLUMN-level from_json null-on-error half): a JSONL directory with
    two planted corruption classes is read with an explicit schema and
    columnNameOfCorruptRecord, and the triage report must reproduce
    Spark's documented semantics exactly — an invalid-JSON line parses
    to all-null fields + the raw line in the corrupt column, while a
    type-mismatched field nulls ONLY that field (id/user still parse)
    and also captures the raw line. The oracle replays the
    classification from the clean events table via the planted rules,
    so the whole read-path behavior is value-hash checked.

    Scale: PERMISSIVE triage is scan-stage and embarrassingly parallel;
    quarantining rides the same scan (filter on the corrupt column),
    never a reprocess. DROPMALFORMED/FAILFAST are the same reader one
    option away."""
    d = _corrupt_source_dir(spark, sf_dir)
    df = (
        spark.read.schema("id long, user long, cents long, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(f"{d}/events_jsonl")
    )
    status = (
        F.when(F.col("_corrupt").isNull(), F.lit("ok"))
        .when(F.col("id").isNull(), F.lit("malformed"))
        .otherwise(F.lit("type_error"))
    )
    return (
        df.groupBy(status.alias("parse_status"))
        .agg(
            F.count("*").alias("n"),
            F.count("id").alias("n_ids"),
            F.coalesce(
                F.sum(F.when(F.col("_corrupt").isNull(), F.col("cents"))),
                F.lit(0),
            ).alias("cents_sum"),
        )
    )


# Schema-evolution fixture: the same logical table written as two parquet
# generations — generation A (user_id % 2 = 0) has (event_id, user_id),
# generation B (user_id % 2 = 1) replaced user_id with a new cents
# column. Split rule is deterministic, so the oracle replays the merged
# read from the clean events table.
def _evo_source_dir(spark: SparkSession, sf_dir: str) -> str:
    def build(d: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        ev.where(F.col("user_id") % 2 == 0).select(
            "event_id", "user_id"
        ).write.mode("overwrite").parquet(f"{d}/gen_a")
        ev.where(F.col("user_id") % 2 == 1).select(
            "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        ).write.mode("overwrite").parquet(f"{d}/gen_b")

    return session_tmp_dir(spark, sf_dir, "spark_graft_evo_", build)


@_register(
    "r81_schema_evolution",
    """
    WITH m AS (
      SELECT event_id,
             CASE WHEN user_id % 2 = 0 THEN user_id END AS user_id,
             CASE WHEN user_id % 2 = 1
                  THEN CAST(round(value * 100, 0) AS BIGINT) END AS cents
      FROM events
    )
    SELECT CAST(event_id % 3 AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(user_id) AS BIGINT) AS n_user,
           CAST(count(cents) AS BIGINT) AS n_cents,
           CAST(coalesce(sum(user_id), 0) AS BIGINT) AS user_sum,
           CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_sum
    FROM m GROUP BY 1
    """,
)
def r81_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet schema evolution via mergeSchema — the schema-drift
    contract of any long-lived lake table: two generations of the same
    table (one column dropped, one added between them) are read as ONE
    DataFrame whose schema is the union, with absent columns null-filled
    per file. The per-bucket counts/sums over the merged frame are
    value-hash checked against the oracle's replay of the generation
    split from the clean events table.

    Scale: mergeSchema's footer-union pass is the only extra cost (per
    file, driver-side) — reads stay parallel and column-pruned; the
    production posture pins the union schema in the catalog instead of
    re-deriving it per read, which this query simulates by the explicit
    two-path read."""
    d = _evo_source_dir(spark, sf_dir)
    df = spark.read.option("mergeSchema", "true").parquet(
        f"{d}/gen_a", f"{d}/gen_b"
    )
    return (
        df.groupBy((F.col("event_id") % 3).alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            F.count("user_id").alias("n_user"),
            F.count("cents").alias("n_cents"),
            F.coalesce(F.sum("user_id"), F.lit(0)).alias("user_sum"),
            F.coalesce(F.sum("cents"), F.lit(0)).alias("cents_sum"),
        )
    )


# ---------------------------------------------------------------------------
# r82: complex-event-pattern (CEP) sequence detection — MATCH_RECOGNIZE-class
# semantics Spark has no native operator for, lowered to lead() windows
# (SIGMOD'19 "Real-Time Multi-Pattern Detection over Event Streams" is the
# family; the pattern here is the classic card-testing fraud signature the
# reference's domain implies: two small probe transactions immediately
# followed by a large one, all within 24h). Contiguity is strict (the spec's
# PATTERN (A A B) over per-user event order); ordering is (second-truncated
# event time, event_id) so the streaming twin (s24), which only sees the
# wire's epoch-second timestamps, shares this oracle verbatim.
# ---------------------------------------------------------------------------
_R82_PROBE, _R82_FRAUD, _R82_SPAN = 20.0, 100.0, 86400


@_register(
    "r82_cep_card_testing",
    f"""
    WITH o AS (
      SELECT user_id, event_id,
             epoch(date_trunc('second', ts)) AS t, value,
             lead(value, 1) OVER w AS v2,
             lead(value, 2) OVER w AS v3,
             lead(event_id, 1) OVER w AS e2,
             lead(event_id, 2) OVER w AS e3,
             lead(epoch(date_trunc('second', ts)), 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id)
    )
    SELECT printf('user_%03d', user_id) AS userId,
           CAST(event_id AS BIGINT) AS probe1_id,
           CAST(e2 AS BIGINT) AS probe2_id,
           CAST(e3 AS BIGINT) AS fraud_id,
           CAST(t3 - t AS BIGINT) AS span_s
    FROM o
    WHERE value < {_R82_PROBE!r} AND v2 < {_R82_PROBE!r}
      AND v3 > {_R82_FRAUD!r} AND t3 - t <= {_R82_SPAN}
    """,
)
def r82_cep_card_testing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Card-testing CEP: PATTERN (probe probe fraud) with strict
    contiguity per user and a 24h span bound, lowered to a single lead()
    window — each match row carries the three event ids and the span.

    Scale: ONE shuffle (the per-user window partition); lead() never
    buffers more than the pattern length; per-user partitions are small.
    This is the standard native-Spark lowering of MATCH_RECOGNIZE for
    fixed-length contiguous patterns — variable-length/Kleene patterns
    would move to the s24 stateful form, which is the same walk with
    state. The streaming twin s24 shares this oracle row-for-row."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    w = Window.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    o = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        "value",
        F.lead("value", 1).over(w).alias("v2"),
        F.lead("value", 2).over(w).alias("v3"),
        F.lead("event_id", 1).over(w).alias("e2"),
        F.lead("event_id", 2).over(w).alias("e3"),
        F.lead(t, 2).over(w).alias("t3"),
    )
    return o.where(
        (F.col("value") < _R82_PROBE)
        & (F.col("v2") < _R82_PROBE)
        & (F.col("v3") > _R82_FRAUD)
        & ((F.col("t3") - F.col("t")) <= _R82_SPAN)
    ).select(
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        F.col("event_id").cast("long").alias("probe1_id"),
        F.col("e2").cast("long").alias("probe2_id"),
        F.col("e3").cast("long").alias("fraud_id"),
        (F.col("t3") - F.col("t")).cast("long").alias("span_s"),
    )


@_register(
    "r83_cep_kleene_probe_run",
    f"""
    WITH o AS (
      SELECT user_id, event_id, epoch(date_trunc('second', ts)) AS t, value,
             row_number() OVER w AS rn,
             (value < {_R82_PROBE!r}) AS is_probe,
             lead(value) OVER w AS nv,
             lead(event_id) OVER w AS nid,
             lead(epoch(date_trunc('second', ts))) OVER w AS nt
      FROM events
      WINDOW w AS (PARTITION BY user_id
                   ORDER BY date_trunc('second', ts), event_id)
    ),
    pr AS (
      SELECT *, rn - row_number() OVER (PARTITION BY user_id ORDER BY rn)
               AS grp
      FROM o WHERE is_probe
    ),
    isl AS (
      SELECT user_id, grp,
             count(*) AS n_probes,
             arg_min(event_id, rn) AS first_probe_id,
             arg_min(t, rn) AS t_first,
             arg_max(event_id, rn) AS last_probe_id,
             arg_max(nv, rn) AS next_v,
             arg_max(nid, rn) AS next_id,
             arg_max(nt, rn) AS next_t
      FROM pr GROUP BY 1, 2
    )
    SELECT printf('user_%03d', user_id) AS userId,
           CAST(first_probe_id AS BIGINT) AS first_probe_id,
           CAST(last_probe_id AS BIGINT) AS last_probe_id,
           CAST(n_probes AS BIGINT) AS n_probes,
           CAST(next_id AS BIGINT) AS fraud_id,
           CAST(next_t - t_first AS BIGINT) AS span_s
    FROM isl
    WHERE next_v > {_R82_FRAUD!r} AND next_t - t_first <= {_R82_SPAN}
    """,
)
def r83_cep_kleene_probe_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length CEP — PATTERN (probe+ fraud) with the greedy
    (maximal-munch) quantifier MATCH_RECOGNIZE specifies: a MAXIMAL run
    of consecutive sub-threshold probes per user, immediately followed
    by a fraud event, whole sequence within the 24h span. r82 is the
    fixed-length (A A B) special case; the Kleene form is the one that
    needs gaps-and-islands instead of a fixed lead() fan — islands of
    probe rows grouped by the rn-difference trick, the follower event
    recovered from the island's LAST row's lead (so contiguity with the
    fraud event is exact, not approximate).

    Scale: both window passes partition on user_id (one shuffle; the
    second window sees only probe rows), the island aggregate is
    map-side-combinable min_by/max_by over int64s, and run length never
    enters state — maximal munch falls out of the grouping, the reason
    this lowering beats a row-walk even at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    w = Window.partitionBy("user_id").orderBy(
        F.date_trunc("second", F.col("ts")), "event_id"
    )
    o = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        "value",
        F.row_number().over(w).alias("rn"),
        (F.col("value") < _R82_PROBE).alias("is_probe"),
        F.lead("value").over(w).alias("nv"),
        F.lead("event_id").over(w).alias("nid"),
        F.lead(t).over(w).alias("nt"),
    )
    wp = Window.partitionBy("user_id").orderBy("rn")
    pr = o.where("is_probe").withColumn(
        "grp", F.col("rn") - F.row_number().over(wp)
    )
    isl = pr.groupBy("user_id", "grp").agg(
        F.count("*").alias("n_probes"),
        F.min_by("event_id", "rn").alias("first_probe_id"),
        F.min_by("t", "rn").alias("t_first"),
        F.max_by("event_id", "rn").alias("last_probe_id"),
        F.max_by("nv", "rn").alias("next_v"),
        F.max_by("nid", "rn").alias("next_id"),
        F.max_by("nt", "rn").alias("next_t"),
    )
    return isl.where(
        (F.col("next_v") > _R82_FRAUD)
        & ((F.col("next_t") - F.col("t_first")) <= _R82_SPAN)
    ).select(
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        F.col("first_probe_id").cast("long").alias("first_probe_id"),
        F.col("last_probe_id").cast("long").alias("last_probe_id"),
        F.col("n_probes").cast("long").alias("n_probes"),
        F.col("next_id").cast("long").alias("fraud_id"),
        (F.col("next_t") - F.col("t_first")).cast("long").alias("span_s"),
    )


# Shared 16-bit Morton (Z-order) interleave of two 8-bit dims — the same
# expression text runs on Spark SQL and DuckDB (both spell &, <<, >>
# identically), so the two sides cannot drift.
_R84_Z = " + ".join(
    f"(((a >> {i}) & 1) << {2 * i + 1}) + (((b >> {i}) & 1) << {2 * i})"
    for i in range(8)
)


@_register(
    "r84_zorder_clustering",
    f"""
    WITH base AS (
      SELECT CAST(user_id % 256 AS BIGINT) AS a,
             (CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 3600) % 256
               AS b
      FROM events
    ),
    z AS (SELECT a, b, {_R84_Z} AS zv FROM base)
    SELECT CAST(zv >> 8 AS BIGINT) AS zbucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(a) AS BIGINT) AS min_a, CAST(max(a) AS BIGINT) AS max_a,
           CAST(min(b) AS BIGINT) AS min_b, CAST(max(b) AS BIGINT) AS max_b
    FROM z GROUP BY 1
    """,
)
def r84_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton space-filling-curve) clustering keys — the
    lakehouse data-layout primitive (Delta/Iceberg OPTIMIZE ZORDER BY):
    interleave the bits of two dimensions (user bucket, hour bucket) so
    that sorting by the Z-value co-locates rows close in BOTH
    dimensions, and per-Z-bucket min/max column stats become tight 2-D
    tiles. The output is exactly those stats: each zbucket (the file
    analog — 256 Z-values per bucket) with its row count and per-dim
    min/max, whose spans are bounded by the 16x16 tile the curve
    guarantees — the property that lets a 2-D predicate prune files on
    EITHER dimension at 100 TB.

    Scale: one narrow scan, bit arithmetic in whole-stage codegen, one
    <=256-key map-side-combined aggregate. In production the same
    Z-value feeds repartitionByRange(z) before the parquet write; this
    query IS the stats check you run to verify the layout landed."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        (F.col("user_id") % 256).cast("long").alias("a"),
        F.pmod(F.floor(t / F.lit(3600)), F.lit(256)).cast("long").alias("b"),
    )
    z = base.selectExpr("a", "b", f"{_R84_Z} AS zv")
    return z.groupBy(F.expr("CAST(zv >> 8 AS BIGINT)").alias("zbucket")).agg(
        F.count("*").cast("long").alias("n"),
        F.min("a").cast("long").alias("min_a"),
        F.max("a").cast("long").alias("max_a"),
        F.min("b").cast("long").alias("min_b"),
        F.max("b").cast("long").alias("max_b"),
    )


# r85: Bloom-filter runtime join pruning. m = 4096 bits packed as 128
# 32-bit words in BIGINTs (bit 31 shifts stay positive — no sign games in
# either engine), k = 4 positions per key via the repo's shared md5-prefix
# 60-bit digest recipe (Spark conv(hex,16,10) == DuckDB CAST('0x'||hex)),
# so both engines materialize bit-identical filters.
_R85_M_BITS = 4096
_R85_WORDS = _R85_M_BITS // 32
_R85_K = 4


def _r85_pos_spark(key: str, i: int) -> str:
    return (
        f"CAST(conv(substr(md5(CAST({key} AS STRING) || ':{i}'), 1, 15),"
        f" 16, 10) AS BIGINT) % {_R85_M_BITS}"
    )


def _r85_pos_duck(key: str, i: int) -> str:
    return (
        f"CAST('0x' || substr(md5(CAST({key} AS VARCHAR) || ':{i}'), 1, 15)"
        f" AS BIGINT) % {_R85_M_BITS}"
    )


_R85_ORACLE = f"""
    WITH keys AS (
      SELECT DISTINCT CAST(c_custkey AS BIGINT) AS k
      FROM customer WHERE c_mktsegment = 'BUILDING'
    ),
    kpos AS (
      SELECT {_r85_pos_duck('k', 0)} AS p FROM keys
      {' '.join(f"UNION ALL SELECT {_r85_pos_duck('k', i)} FROM keys"
                for i in range(1, _R85_K))}
    ),
    bloom AS (
      SELECT CAST(p >> 5 AS INT) AS w,
             bit_or(CAST(1 AS BIGINT) << CAST(p & 31 AS INT)) AS bits
      FROM kpos GROUP BY 1
    ),
    op AS (
      SELECT o_orderkey, o_orderpriority, CAST(o_custkey AS BIGINT) AS ck,
             {', '.join(f"{_r85_pos_duck('o_custkey', i)} AS p{i}"
                        for i in range(_R85_K))}
      FROM orders
    ),
    chk AS (
      SELECT op.o_orderkey, op.o_orderpriority, op.ck,
             {' AND '.join(
                 f"((coalesce(b{i}.bits, 0)"
                 f" & (CAST(1 AS BIGINT) << CAST(p{i} & 31 AS INT))) <> 0)"
                 for i in range(_R85_K))} AS passed
      FROM op
      {' '.join(f"LEFT JOIN bloom b{i} ON b{i}.w = CAST(p{i} >> 5 AS INT)"
                for i in range(_R85_K))}
    ),
    fin AS (
      SELECT o_orderpriority,
             count(*) AS n_probed,
             count(*) FILTER (WHERE passed) AS n_passed,
             count(*) FILTER (WHERE kk.k IS NOT NULL) AS n_true,
             count(*) FILTER (WHERE passed AND kk.k IS NULL) AS n_fp,
             count(*) FILTER (WHERE kk.k IS NOT NULL AND NOT passed)
               AS n_missed
      FROM chk LEFT JOIN keys kk ON kk.k = chk.ck
      GROUP BY 1
    )
    SELECT o_orderpriority,
           CAST(n_probed AS BIGINT) AS n_probed,
           CAST(n_passed AS BIGINT) AS n_passed,
           CAST(n_true AS BIGINT) AS n_true,
           CAST(n_fp AS BIGINT) AS n_fp,
           CAST(n_missed AS BIGINT) AS n_missed,
           CAST((1000000 * n_fp) // greatest(n_probed - n_true, 1) AS BIGINT)
             AS fp_ppm
    FROM fin
"""


@_register("r85_bloom_join_prune", _R85_ORACLE)
def r85_bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter runtime join pruning — the semi-join-reduction
    primitive behind Spark's own runtime row-group filtering and every
    warehouse's "build a bitmap on the dim side, push it into the fact
    scan" strategy. Build: the 302-key dim subset (BUILDING customers)
    hashes k=4 positions into an m=4096-bit filter, aggregated to <=128
    packed 32-bit words and DENSIFIED into one 128-element array row.
    Probe: that single row broadcasts to the fact table (orders), where
    four inline element_at + mask checks run in whole-stage codegen — the
    fact table never shuffles and never joins row-for-row; only rows
    passing the filter would reach the real join. Output per priority:
    probed/passed/true/false-positive counts, the measured FP rate in
    ppm, and n_missed — the hash-checked zero-false-negative witness a
    Bloom filter must satisfy.

    Scale: at 100 TB the filter stays 512 bytes regardless of fact size
    (m scales with the BUILD side only); the probe is a broadcast of one
    array row + O(1) bit math per fact row, strictly cheaper than the
    shuffle it replaces. The exact-membership audit join (vs `keys`)
    exists only to MEASURE the FP rate; production keeps just the bitmap
    path. Reference parity: the reference engine filters per-record
    streams by predicate (TransactionProcessor.java); this is the same
    gate generalized to set membership at warehouse scale."""
    cust = load_table(spark, sf_dir, "customer")
    keys = (
        cust.where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").cast("long").alias("k"))
        .distinct()
    )
    kpos = keys.selectExpr(
        f"explode(array({', '.join(_r85_pos_spark('k', i) for i in range(_R85_K))})) AS p"
    )
    words = kpos.selectExpr(
        "CAST(p >> 5 AS INT) AS w",
        "shiftleft(CAST(1 AS BIGINT), CAST(p & 31 AS INT)) AS m",
    ).groupBy("w").agg(F.expr("bit_or(m)").alias("bits"))
    bloom = words.agg(
        F.expr("map_from_entries(collect_list(struct(w, bits)))").alias("mp")
    ).selectExpr(
        f"transform(sequence(0, {_R85_WORDS - 1}),"
        " j -> coalesce(element_at(mp, j), CAST(0 AS BIGINT))) AS bloom"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority", F.col("o_custkey").cast("long").alias("ck")
    )
    probed = orders.join(F.broadcast(bloom)).selectExpr(
        "o_orderpriority",
        "ck",
        *[f"{_r85_pos_spark('ck', i)} AS p{i}" for i in range(_R85_K)],
        "bloom",
    ).selectExpr(
        "o_orderpriority",
        "ck",
        " AND ".join(
            f"((element_at(bloom, CAST(p{i} >> 5 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(p{i} & 31 AS INT))) != 0)"
            for i in range(_R85_K)
        )
        + " AS passed",
    )
    truth = probed.join(
        F.broadcast(keys.withColumnRenamed("k", "ck")).withColumn(
            "in_build", F.lit(True)
        ),
        "ck",
        "left",
    ).withColumn("in_build", F.coalesce("in_build", F.lit(False)))
    agg = truth.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_probed"),
        F.expr("count_if(passed)").alias("n_passed"),
        F.expr("count_if(in_build)").alias("n_true"),
        F.expr("count_if(passed AND NOT in_build)").alias("n_fp"),
        F.expr("count_if(in_build AND NOT passed)").alias("n_missed"),
    )
    return agg.selectExpr(
        "o_orderpriority",
        "n_probed",
        "n_passed",
        "n_true",
        "n_fp",
        "n_missed",
        "CAST((1000000 * n_fp) div greatest(n_probed - n_true, 1) AS BIGINT)"
        " AS fp_ppm",
    )


_R86_WEEK = 7 * 86400

_R86_ORACLE = f"""
    WITH t AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
      FROM events
    ),
    o AS (SELECT min(t) AS origin FROM t),
    wk AS (
      SELECT user_id,
             (t - o.origin) // {_R86_WEEK} AS week,
             (min(t) OVER (PARTITION BY user_id) - o.origin) // {_R86_WEEK}
               AS cohort_week
      FROM t CROSS JOIN o
    ),
    act AS (
      SELECT cohort_week, week - cohort_week AS week_offset,
             count(DISTINCT user_id) AS n_active
      FROM wk GROUP BY 1, 2
    ),
    sz AS (
      SELECT cohort_week, n_active AS cohort_size
      FROM act WHERE week_offset = 0
    )
    SELECT CAST(act.cohort_week AS BIGINT) AS cohort_week,
           CAST(act.week_offset AS BIGINT) AS week_offset,
           CAST(act.n_active AS BIGINT) AS n_active,
           CAST(sz.cohort_size AS BIGINT) AS cohort_size,
           CAST((1000000 * act.n_active) // sz.cohort_size AS BIGINT)
             AS retention_ppm
    FROM act JOIN sz USING (cohort_week)
"""


def _r86_activity_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(cohort_week, week_offset, n_active) cells: a min-only origin
    stats scan plus ONE matrix pass (user_id window shuffle + two-phase
    distinct aggregate). Split out so the plan pin can assert that shape
    before the checkpoint hides it."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select("user_id", t.alias("t"))
    origin = base.agg(F.min("t").alias("origin"))
    wk = (
        # broadcast bound: origin is a global min() — exactly 1 row
        base.join(F.broadcast(origin))
        .select(
            "user_id",
            F.expr(f"(t - origin) div {_R86_WEEK}").alias("week"),
            F.min("t").over(Window.partitionBy("user_id")).alias("first_t"),
            "origin",
        )
        .select(
            "user_id",
            "week",
            F.expr(f"(first_t - origin) div {_R86_WEEK}").alias("cohort_week"),
        )
    )
    return (
        wk.select(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active"))
    )


@_register("r86_cohort_retention", _R86_ORACLE)
def r86_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple behind every
    'week-N retention' dashboard: each user anchors to the week of their
    FIRST event (relative weeks from the corpus origin, exact int64
    arithmetic — no calendar/timezone semantics to disagree on), and each
    (cohort_week, week_offset) cell counts the distinct cohort users still
    active that week, with retention in exact ppm (integer division).

    Scale: the anchor is a per-user window min — ONE hash shuffle on
    user_id, no self-join of the fact table (the naive formulation joins
    events to a first-seen subquery, shuffling the corpus twice). The
    distinct-user aggregate runs Spark's standard two-phase partial
    rewrite over that same user-keyed frame; the cohort SIZE is read off
    the matrix itself (offset-0 cell — every cohort user is active in
    their anchor week), so no second corpus pass or distinct exists. The
    1-row origin rides a broadcast. At 100 TB the matrix stays tiny no
    matter how the corpus grows — the operator's whole cost is the one
    user_id shuffle.

    Reference parity: generalizes the per-user aggregation family the
    reference's dashboard runs (Q1 top scammers / Q5 per-key stats) to
    time-anchored cohorts."""
    # tiny matrix frame, reused by the size lookup: checkpoint so the
    # corpus scan under it runs exactly once
    act = _r86_activity_matrix(spark, sf_dir).localCheckpoint()
    # every cohort user is active in their anchor week, so the cohort size
    # IS the offset-0 cell — no second corpus pass, no second distinct
    sz = act.where(F.col("week_offset") == 0).select(
        "cohort_week", F.col("n_active").alias("cohort_size")
    )
    return act.join(F.broadcast(sz), "cohort_week").selectExpr(
        "CAST(cohort_week AS BIGINT) AS cohort_week",
        "CAST(week_offset AS BIGINT) AS week_offset",
        "CAST(n_active AS BIGINT) AS n_active",
        "CAST(cohort_size AS BIGINT) AS cohort_size",
        "CAST((1000000 * n_active) div cohort_size AS BIGINT)"
        " AS retention_ppm",
    )


_R87_ORACLE = """
    WITH b AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             event_type
      FROM events
    ),
    w1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN t END)
                  OVER (PARTITION BY user_id) AS t1
      FROM b
    ),
    w2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND t > t1 THEN t END)
                  OVER (PARTITION BY user_id) AS t2
      FROM w1
    ),
    w3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND t > t2 THEN t END)
                  OVER (PARTITION BY user_id) AS t3
      FROM w2
    ),
    u AS (SELECT DISTINCT user_id, t1, t2, t3 FROM w3),
    c AS (
      SELECT count(*) FILTER (WHERE t1 IS NOT NULL) AS n1,
             count(*) FILTER (WHERE t2 IS NOT NULL) AS n2,
             count(*) FILTER (WHERE t3 IS NOT NULL) AS n3
      FROM u
    )
    SELECT CAST(step AS BIGINT) AS step, step_name,
           CAST(n_users AS BIGINT) AS n_users,
           CAST((1000000 * n_users) // greatest(n1, 1) AS BIGINT) AS conv_ppm
    FROM (
      SELECT 1 AS step, 'view' AS step_name, n1 AS n_users, n1 FROM c
      UNION ALL SELECT 2, 'click', n2, n1 FROM c
      UNION ALL SELECT 3, 'purchase', n3, n1 FROM c
    )
"""


@_register("r87_funnel_conversion", _R87_ORACLE)
def r87_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase): a user
    converts at step k only if step k's event happens STRICTLY AFTER
    their step-(k-1) conversion time — the product-analytics semantics
    (order matters; a purchase before the first view does not count)
    that a naive per-type count join gets wrong. Per-step user counts
    and exact-ppm conversion vs the funnel head.

    Scale: the whole funnel is ONE user_id shuffle — the three
    conditional first-touch times are chained window mins over the SAME
    partitioning (Catalyst plans three Window operators over one
    exchange, the r71/r83 sort-reuse posture), then one distinct +
    3-row aggregate. The naive formulation (k self-joins of the event
    log) shuffles the corpus k times; this shuffles it once regardless
    of funnel depth.

    Reference parity: the ordered generalization of the reference
    dashboard's per-user aggregates (Q1/Q5) and the aggregate view of
    what CEP r82 matches row-by-row."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    w = Window.partitionBy("user_id")
    b = ev.select("user_id", t.alias("t"), "event_type")
    w1 = b.withColumn(
        "t1",
        F.min(F.when(F.col("event_type") == "view", F.col("t"))).over(w),
    )
    w2 = w1.withColumn(
        "t2",
        F.min(
            F.when(
                (F.col("event_type") == "click") & (F.col("t") > F.col("t1")),
                F.col("t"),
            )
        ).over(w),
    )
    w3 = w2.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("t") > F.col("t2")),
                F.col("t"),
            )
        ).over(w),
    )
    u = w3.select("user_id", "t1", "t2", "t3").distinct()
    c = u.agg(
        F.expr("count_if(t1 IS NOT NULL)").alias("n1"),
        F.expr("count_if(t2 IS NOT NULL)").alias("n2"),
        F.expr("count_if(t3 IS NOT NULL)").alias("n3"),
    )
    return funnel_report_from_counts(c)


def funnel_report_from_counts(c: DataFrame) -> DataFrame:
    """(n1, n2, n3) 1-row counts -> the 3-row funnel report (step,
    step_name, n_users, conv_ppm). Shared by the batch funnel (r87) and
    its streaming twin (s29), which must emit the identical shape."""
    return c.selectExpr(
        "explode(array("
        "  struct(CAST(1 AS BIGINT) AS step, 'view' AS step_name,"
        "         CAST(n1 AS BIGINT) AS n_users),"
        "  struct(CAST(2 AS BIGINT) AS step, 'click' AS step_name,"
        "         CAST(n2 AS BIGINT) AS n_users),"
        "  struct(CAST(3 AS BIGINT) AS step, 'purchase' AS step_name,"
        "         CAST(n3 AS BIGINT) AS n_users)"
        ")) AS s",
        "CAST(greatest(n1, 1) AS BIGINT) AS head",
    ).selectExpr(
        "s.step AS step",
        "s.step_name AS step_name",
        "s.n_users AS n_users",
        "CAST((1000000 * s.n_users) div head AS BIGINT) AS conv_ppm",
    )


_R88_HOLD = 300  # activity interval length: [t, t+300s)


def _r88_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bt, delta, day): per-second net interval-boundary deltas — both
    boundaries inline from ONE corpus scan (vs a union's two), collapsed
    by a map-side-combined hash aggregate."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds().cast("long")
    return (
        ev.select(
            F.explode(
                F.array(
                    F.struct(t.alias("bt"), F.lit(1).alias("dl")),
                    F.struct(
                        (t + _R88_HOLD).alias("bt"),
                        F.lit(-1).alias("dl"),
                    ),
                )
            ).alias("e")
        )
        .select("e.bt", "e.dl")
        .groupBy("bt")
        .agg(F.sum("dl").cast("long").alias("delta"))
        .withColumn("day", F.expr("bt div 86400"))
    )

_R88_ORACLE = f"""
    WITH d AS (
      SELECT bt, CAST(sum(dl) AS BIGINT) AS delta FROM (
        SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS bt,
               1 AS dl
        FROM events
        UNION ALL
        SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) + {_R88_HOLD},
               -1 AS dl
        FROM events
      ) GROUP BY bt
    ),
    r AS (
      SELECT bt, CAST(sum(delta) OVER (ORDER BY bt) AS BIGINT) AS concurrency
      FROM d
    )
    SELECT bt, concurrency FROM r
    ORDER BY concurrency DESC, bt ASC LIMIT 10
"""


@_register("r88_interval_concurrency", _R88_ORACLE)
def r88_interval_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-concurrency sweep line: each event opens a [t, t+300s)
    activity interval; the query reports the 10 highest points of the
    concurrency step function (ties broken by earliest boundary) — the
    capacity-planning / attack-burst question (how many sessions were
    live at once?) that interval data cannot answer with a plain
    groupBy. The step function changes only at interval boundaries, so
    +1/-1 deltas at start/end boundaries + a running sum IS the exact
    answer at every instant.

    Scale: the naive formulation is one global running sum — a
    single-partition window over the corpus. Here the corpus collapses
    FIRST into per-second net deltas (one map-side-combined hash
    aggregate; output bounded by the time span in seconds, independent
    of corpus size), and the running sum over that bounded frame is a
    TWO-LEVEL distributed prefix sum: intra-day running sums partition
    by day (parallel), day-level offsets come from a per-day-total
    window over a ~|days|-row frame that rides a broadcast join back.
    No single-partition corpus-sized window anywhere; the one
    all-rows-in-one-partition step sees |days| rows.

    Reference parity: the exact-instant generalization of the
    reference dashboard's 10s histogram (Q4) and FOR-duration alert
    (q8) — both discretize time; the sweep line does not."""
    # bounded by the time span in seconds, not the corpus; checkpointed
    # so the one corpus scan runs once (it feeds intra-day sums AND the
    # day offsets)
    d = _r88_deltas(spark, sf_dir).localCheckpoint()
    return r88_report_from_deltas(d)


def r88_report_from_deltas(d: DataFrame) -> DataFrame:
    """(bt, delta, day) deltas -> the top-10 concurrency report. Shared
    by the batch sweep line (r88) and its streaming twin (s30), which
    must emit the identical shape from merged per-batch partials."""
    run = segmented_running_sum(d, "day", "bt", "delta", "concurrency")
    return (
        run.select("bt", F.col("concurrency").cast("long").alias("concurrency"))
        .orderBy(F.desc("concurrency"), F.asc("bt"))
        .limit(10)
    )


# ---------------------------------------------------------------------------
# r89: incremental materialized-view maintenance (insert-only deltas)
# ---------------------------------------------------------------------------

_R89_SQL = """
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents,
           CAST(min(o_orderdate) AS DATE) AS first_d,
           CAST(max(o_orderdate) AS DATE) AS last_d
    FROM orders GROUP BY o_custkey
"""


def _r89_agg(df: DataFrame) -> DataFrame:
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return df.groupBy("o_custkey").agg(
        F.count("*").cast("long").alias("n_orders"),
        F.sum(cents).cast("long").alias("sum_cents"),
        F.min(cents).cast("long").alias("min_cents"),
        F.max(cents).cast("long").alias("max_cents"),
        F.min(F.col("o_orderdate").cast("date")).alias("first_d"),
        F.max(F.col("o_orderdate").cast("date")).alias("last_d"),
    )


def _r89_merge(view: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge an insert-only delta summary into the maintained view:
    counts/sums add, min/max/first/last combine via null-safe least/
    greatest — the standard self-maintainable-aggregate algebra."""
    d = delta.select(
        "o_custkey",
        *[
            F.col(c).alias(f"_d_{c}")
            for c in (
                "n_orders",
                "sum_cents",
                "min_cents",
                "max_cents",
                "first_d",
                "last_d",
            )
        ],
    )
    j = view.join(d, "o_custkey", "full_outer")
    z = lambda c: F.coalesce(F.col(c), F.lit(0))  # noqa: E731
    return j.select(
        "o_custkey",
        (z("n_orders") + z("_d_n_orders")).alias("n_orders"),
        (z("sum_cents") + z("_d_sum_cents")).alias("sum_cents"),
        F.least("min_cents", "_d_min_cents").alias("min_cents"),
        F.greatest("max_cents", "_d_max_cents").alias("max_cents"),
        F.least("first_d", "_d_first_d").alias("first_d"),
        F.greatest("last_d", "_d_last_d").alias("last_d"),
    )


@_register("r89_incremental_view_maintenance", _R89_SQL)
def r89_incremental_view_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental materialized-view maintenance: the per-customer
    order summary (count / sum / min / max in exact cents, first / last
    order date) is built from a 1997 snapshot and then MAINTAINED
    through three successive insert-only delta batches (1997-98,
    1999, 2000+) by the self-maintainable-aggregate merge — counts and
    sums add, min/max and date bounds combine via null-safe least/
    greatest over a key-partitioned full-outer join. The oracle is the
    ONE-SHOT GROUP BY over the whole table, so the hash check proves
    the maintenance algebra converges to the direct recompute exactly
    (sums in integer cents — float addition order cannot leak in).
    This is how the reference's Grafana tiles (Q2, dashboards.json)
    stay fresh without rescanning history every refresh.

    Scale: each delta is scanned ONCE and pre-aggregated to its own
    key summary before the merge; the merge join is keyed on
    o_custkey (co-partitioned aggregates, no corpus-sized side), and
    the running view is localCheckpointed per generation so the plan
    stays linear in the number of deltas. At 100 TB the snapshot view
    is the only large frame and it is never rebuilt — exactly the
    point of IVM."""
    ord_ = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    cuts = ["1997-01-01", "1999-01-01", "2000-01-01"]
    view = _r89_agg(ord_.where(d < cuts[0])).localCheckpoint()
    spans = list(zip(cuts, cuts[1:] + [None]))
    for lo, hi in spans:
        batch = ord_.where(
            (d >= lo) & ((d < hi) if hi is not None else F.lit(True))
        )
        view = _r89_merge(view, _r89_agg(batch)).localCheckpoint()
    return view


# ---------------------------------------------------------------------------
# r90: declarative data-quality constraint audit — the Deequ/"dbt test"
# class of lakehouse operation: a suite of constraints over a table
# evaluated in bulk, emitting one verdict row per check. Exact integer
# violation counts; ppm is one floor division.
# ---------------------------------------------------------------------------

_R90_SQL = """
    WITH base AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
                  AS BIGINT) AS bad_qty,
             CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
                  AS BIGINT) AS bad_disc,
             CAST(count(*) FILTER (WHERE l_returnflag NOT IN ('A','N','R')
                                      OR l_returnflag IS NULL)
                  AS BIGINT) AS bad_flag,
             CAST(count(*) FILTER (WHERE l_extendedprice <= 0
                                      OR l_extendedprice IS NULL)
                  AS BIGINT) AS bad_price,
             CAST(count(*) FILTER (WHERE l_shipdate IS NULL)
                  AS BIGINT) AS null_ship
      FROM lineitem
    ),
    keyed AS (
      SELECT l_orderkey, l_linenumber, count(*) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    dup AS (
      SELECT CAST(coalesce(sum(c) FILTER (WHERE c > 1), 0) AS BIGINT)
               AS dup_rows
      FROM keyed
    ),
    orph AS (
      SELECT CAST(coalesce(sum(rk), 0) AS BIGINT) AS orphan_rows
      FROM (
        SELECT l_orderkey, sum(c) AS rk FROM keyed GROUP BY 1
      ) k
      WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
    ),
    checks AS (
      SELECT 'pk_unique' AS check_name, dup_rows AS n_violations
        FROM dup
      UNION ALL SELECT 'fk_orders', orphan_rows FROM orph
      UNION ALL SELECT 'qty_range', bad_qty FROM base
      UNION ALL SELECT 'disc_range', bad_disc FROM base
      UNION ALL SELECT 'flag_domain', bad_flag FROM base
      UNION ALL SELECT 'price_positive', bad_price FROM base
      UNION ALL SELECT 'shipdate_complete', null_ship FROM base
    )
    SELECT check_name, base.n AS n_rows, n_violations,
           CAST((1000000 * n_violations) // base.n AS BIGINT) AS viol_ppm,
           n_violations = 0 AS pass
    FROM checks CROSS JOIN base
"""


def r90_keyed_partials(li: DataFrame) -> DataFrame:
    """(l_orderkey, l_linenumber, c, bad_qty, bad_disc, bad_flag,
    bad_price, null_ship) — per-key row counts AND per-key violation
    counters for every row-local constraint, from ONE scan. All eight
    columns are associative sums, so partials from disjoint slices
    (or streaming micro-batches, s34) merge by re-summing per key."""
    return li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count("*").alias("c"),
        F.expr("count_if(l_quantity < 1 OR l_quantity > 50)").alias(
            "bad_qty"
        ),
        F.expr("count_if(l_discount < 0 OR l_discount > 0.1)").alias(
            "bad_disc"
        ),
        F.expr(
            "count_if(l_returnflag NOT IN ('A','N','R')"
            " OR l_returnflag IS NULL)"
        ).alias("bad_flag"),
        F.expr(
            "count_if(l_extendedprice <= 0 OR l_extendedprice IS NULL)"
        ).alias("bad_price"),
        F.expr("count_if(l_shipdate IS NULL)").alias("null_ship"),
    )


def r90_report_from_partials(keyed: DataFrame, ords: DataFrame) -> DataFrame:
    """Final audit report from (possibly merged) keyed partials: the
    1-row global counters, the dup-key sum, and the anti-join orphan
    count all derive from the bounded key frame — the corpus is never
    rescanned. Shared by the batch audit (r90) and its streaming
    deployment (s34)."""
    keyed = keyed.localCheckpoint()  # feeds three consumers
    base = keyed.agg(
        F.sum("c").cast("long").alias("n"),
        *[
            F.sum(c).cast("long").alias(c)
            for c in ("bad_qty", "bad_disc", "bad_flag", "bad_price",
                      "null_ship")
        ],
    )
    dup = keyed.agg(
        F.coalesce(F.expr("sum(c) FILTER (WHERE c > 1)"), F.lit(0))
        .cast("long")
        .alias("dup_rows")
    )
    orph = (
        keyed.groupBy("l_orderkey")
        .agg(F.sum("c").alias("rk"))
        .join(
            ords.select(F.col("o_orderkey").alias("l_orderkey")),
            "l_orderkey",
            "left_anti",
        )
        .agg(
            F.coalesce(F.sum("rk"), F.lit(0)).cast("long").alias("orphan_rows")
        )
    )
    one = (
        base.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(orph))
    )
    checks = one.select(
        "n",
        F.explode(
            F.array(
                F.struct(
                    F.lit("pk_unique").alias("check_name"),
                    F.col("dup_rows").alias("n_violations"),
                ),
                F.struct(
                    F.lit("fk_orders").alias("check_name"),
                    F.col("orphan_rows").alias("n_violations"),
                ),
                F.struct(
                    F.lit("qty_range").alias("check_name"),
                    F.col("bad_qty").alias("n_violations"),
                ),
                F.struct(
                    F.lit("disc_range").alias("check_name"),
                    F.col("bad_disc").alias("n_violations"),
                ),
                F.struct(
                    F.lit("flag_domain").alias("check_name"),
                    F.col("bad_flag").alias("n_violations"),
                ),
                F.struct(
                    F.lit("price_positive").alias("check_name"),
                    F.col("bad_price").alias("n_violations"),
                ),
                F.struct(
                    F.lit("shipdate_complete").alias("check_name"),
                    F.col("null_ship").alias("n_violations"),
                ),
            )
        ).alias("chk"),
    )
    return checks.select(
        F.col("chk.check_name").alias("check_name"),
        F.col("n").alias("n_rows"),
        F.col("chk.n_violations").alias("n_violations"),
        F.expr("CAST((1000000 * chk.n_violations) div n AS BIGINT)").alias(
            "viol_ppm"
        ),
        (F.col("chk.n_violations") == 0).alias("pass"),
    )


@_register("r90_quality_audit", _R90_SQL)
def r90_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality audit over lineitem — the Deequ / dbt-test
    / Delta-constraint class of lakehouse operation: seven constraints
    (key uniqueness, referential integrity against orders, two range
    checks, a domain check, positivity, completeness) evaluated in bulk,
    one verdict row each with exact violation counts, ppm rate, and a
    pass boolean. The synthetic lineitem genuinely violates pk_unique
    (repeated (l_orderkey, l_linenumber) — the r43 observation), so the
    audit provably detects, not just rubber-stamps.

    Scale: ONE corpus scan and ONE shuffle regardless of how many
    constraints stack on (Deequ's exact design point): every row-local
    violation counter rides the per-(orderkey, linenumber) count
    aggregate as an extra map-side-combined sum, so the key frame —
    bounded by distinct keys — feeds the global counters, the dup-key
    sum, AND the orderkey re-aggregation for the anti-join against
    orders (8-byte equi-join). The verdict frames are 1-row broadcasts
    cross-joined back; nothing corpus-sized moves twice.

    Reference parity: generalizes the reference's ad-hoc null filtering
    (TransactionProcessor.java:29-36 drops unparseable records silently)
    into the audited, metric-emitting form a 100 TB lake needs."""
    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    return r90_report_from_partials(r90_keyed_partials(li), ords)


# ---------------------------------------------------------------------------
# r91: ANALYZE TABLE-class statistics collection — exact per-column
# row/null/NDV counts and numeric min/max over lineitem, the stats a
# cost-based optimizer (and r90's audit thresholds) feed on. The lake
# primitive every warehouse exposes as ANALYZE .. COMPUTE STATISTICS.
# ---------------------------------------------------------------------------

_R91_NUM_COLS = [
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
]
_R91_STR_COLS = ["l_returnflag", "l_linestatus"]
_R91_TS_COLS = ["l_shipdate"]


def _r91_sql() -> str:
    parts = []
    for c in _R91_NUM_COLS:
        parts.append(f"""
      SELECT '{c}' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(*) - count({c}) AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT {c}) AS BIGINT) AS ndv,
             CAST(min({c}) AS DOUBLE) AS min_val,
             CAST(max({c}) AS DOUBLE) AS max_val
      FROM lineitem""")
    for c in _R91_STR_COLS:
        parts.append(f"""
      SELECT '{c}', CAST(count(*) AS BIGINT),
             CAST(count(*) - count({c}) AS BIGINT),
             CAST(count(DISTINCT {c}) AS BIGINT),
             NULL, NULL
      FROM lineitem""")
    for c in _R91_TS_COLS:
        parts.append(f"""
      SELECT '{c}', CAST(count(*) AS BIGINT),
             CAST(count(*) - count({c}) AS BIGINT),
             CAST(count(DISTINCT {c}) AS BIGINT),
             CAST(epoch(date_trunc('second', min({c}))) AS DOUBLE),
             CAST(epoch(date_trunc('second', max({c}))) AS DOUBLE)
      FROM lineitem""")
    return "\nUNION ALL\n".join(parts)


@_register("r91_table_stats", _r91_sql())
def r91_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-class exact column statistics for lineitem: per column,
    row count, null count, exact NDV, and numeric min/max (epoch
    seconds for the timestamp; NULL for varchar columns, whose
    engine-dependent collation order has no cross-engine meaning).
    These are the inputs to cost-based planning (join ordering,
    broadcast decisions) and to r90-style audit thresholds; Spark's own
    ANALYZE TABLE computes approximate NDV — this is the exact form.

    Scale: ONE corpus scan explodes each row to (col, value-key) pairs
    and collapses to per-(col, value) partial counts map-side — the
    shuffle carries DISTINCT (col, value) partials, bounded by the sum
    of column NDVs, not rows x columns. The second-level aggregate
    reduces that bounded frame to 11 stat rows; min/max ride the same
    pass as plain aggregates (no accumulation-order float hazard: min
    and max are order-free). The oracle re-states each column as its
    own scan-aggregate — the relational definition, quadratic in
    scans, which is exactly what the exploded single-pass replaces.

    Reference parity: no reference equivalent (the reference holds no
    table state at all); public ANALYZE semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    per_val = r91_long_form(li).groupBy("cid", *_R91_KEY_COLS).agg(
        F.count("*").alias("c")
    )
    return r91_stats_from_long(per_val)


def r91_long_form(li: DataFrame) -> DataFrame:
    """(cid tinyint column id, kl/kd/ks typed value-key) exploded long
    form of the stats input — the shape whose per-(col, key) count
    partials merge associatively, shared by the batch ANALYZE (r91)
    and its on-ingest maintenance (s35).

    The value key is TYPED (kl BIGINT for integer/timestamp columns —
    micros-exact via unix_micros; kd DOUBLE for floating columns; ks
    STRING only for varchar columns) instead of one cast-to-string key:
    formatting 600 K x 11 numbers into strings and hashing/shuffling
    them dominated this operator's CPU (guide §2.3 — narrower types,
    shuffle fewer bytes). Exactly one key column is non-null per row,
    and within a column the key is injective in the value, so the
    distinct-key count per column — exact NDV — is unchanged. (For
    doubles it now matches the oracle's count(DISTINCT) even on -0.0,
    which the old string key double-counted; integers stay exact past
    2^53 where a double key could not.)

    Round 13 (same guide section): the column label is a 1-byte cid
    (index into _R91_ALL_COLS) instead of a 12-17 char name, and the
    numeric view `vn` plus its min/max buffers are GONE — within a
    column the key is injective in the value, so min/max are functions
    of the key set and r91_stats_from_long re-derives them from
    min/max over kl/kd directly (long-exact for integers, micros-exact
    for timestamps). The per-key partials carry only a count: ~24
    fewer bytes per row across every exchange and the s35 sink, and
    two fewer aggregate buffers on the hot map side."""
    dtypes = dict(li.dtypes)
    structs = []
    null_l = F.lit(None).cast("long")
    null_d = F.lit(None).cast("double")
    null_s = F.lit(None).cast("string")
    for c in _R91_NUM_COLS:
        if dtypes[c] in ("bigint", "int", "smallint", "tinyint"):
            kl, kd = F.col(c).cast("long"), null_d
        else:
            kl, kd = null_l, F.col(c).cast("double")
        structs.append(
            F.struct(
                F.lit(_R91_ALL_COLS.index(c)).cast("tinyint").alias("cid"),
                kl.alias("kl"),
                kd.alias("kd"),
                null_s.alias("ks"),
            )
        )
    for c in _R91_STR_COLS:
        structs.append(
            F.struct(
                F.lit(_R91_ALL_COLS.index(c)).cast("tinyint").alias("cid"),
                null_l.alias("kl"),
                null_d.alias("kd"),
                F.col(c).alias("ks"),
            )
        )
    for c in _R91_TS_COLS:
        structs.append(
            F.struct(
                F.lit(_R91_ALL_COLS.index(c)).cast("tinyint").alias("cid"),
                F.unix_micros(F.col(c).cast("timestamp")).alias("kl"),
                null_d.alias("kd"),
                null_s.alias("ks"),
            )
        )
    return li.select(F.explode(F.array(*structs)).alias("s")).select(
        "s.cid", "s.kl", "s.kd", "s.ks"
    )


_R91_KEY_COLS = ["kl", "kd", "ks"]
_R91_ALL_COLS = _R91_NUM_COLS + _R91_STR_COLS + _R91_TS_COLS


def r91_stats_from_long(per_val: DataFrame) -> DataFrame:
    """(cid, kl, kd, ks, c) merged partials -> the 11-row stats report.
    Shared by r91 and s35; exact NDV falls out of the distinct
    typed-key set the partials preserve (exactly one of kl/kd/ks is
    non-null for a non-null value; all three null marks the column's
    NULL group). min/max re-derive from the key set, from whichever
    numeric key r91_long_form populated for the column: min/max over kl
    (long-exact) cast to double for integer columns, over kd for
    floating columns, and floor(kl micros / 1e6) seconds for the
    timestamp column — floor commutes with min/max (monotone), and the
    integer floor-division is exact where a double division could
    round. Varchar columns populate neither, so they report NULL
    min/max (collation order is not cross-engine comparable)."""
    has_key = (
        F.col("kl").isNotNull()
        | F.col("kd").isNotNull()
        | F.col("ks").isNotNull()
    )
    stats = per_val.groupBy("cid").agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(~has_key, F.col("c"))), F.lit(0)
        )
        .cast("long")
        .alias("n_nulls"),
        F.count(F.when(has_key, F.lit(1)))
        .cast("long")
        .alias("ndv"),
        F.min("kl").alias("mnl"),
        F.max("kl").alias("mxl"),
        F.min("kd").alias("mnd"),
        F.max("kd").alias("mxd"),
    )
    name = F.element_at(
        F.array(*[F.lit(c) for c in _R91_ALL_COLS]), F.col("cid") + 1
    )
    is_ts = F.col("cid").isin(
        [_R91_ALL_COLS.index(c) for c in _R91_TS_COLS]
    )

    def _minmax(lcol: str, dcol: str):
        # exact floor to seconds: kl - pmod(kl, 1e6) is a multiple of
        # 1e6, so the integer `div` is exact for any sign
        secs = F.expr(
            f"({lcol} - pmod({lcol}, 1000000)) div 1000000"
        ).cast("double")
        return F.when(is_ts, secs).otherwise(
            F.coalesce(F.col(lcol).cast("double"), F.col(dcol))
        )

    return stats.select(
        name.alias("col_name"),
        "n_rows",
        "n_nulls",
        "ndv",
        _minmax("mnl", "mnd").alias("min_val"),
        _minmax("mxl", "mxd").alias("max_val"),
    )


# ---------------------------------------------------------------------------
# r92: bitemporal time travel — the two-axis generalization of SCD2
# (r71, valid time only) and point-in-time joins (r77): every version
# row carries BOTH when the state became true (valid_from) and when the
# warehouse learned it (tx_from; here a deterministic per-event ingest
# delay models late-arriving records). The query audits belief drift:
# for a grid of (as-of-valid, as-of-transaction) probes, how many user
# states were UNKNOWN or WRONG at query time relative to the final
# record — the question behind every "numbers changed after the
# close-of-books" incident.
# ---------------------------------------------------------------------------

_R92_SQL = """
    WITH base AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             event_type AS et
      FROM events
    ),
    st AS (SELECT min(t) AS mn, max(t) AS mx FROM base),
    chg AS (
      SELECT user_id, event_id, t, et,
             lag(et) OVER (PARTITION BY user_id
                           ORDER BY t, event_id) AS prev_et
      FROM base
    ),
    versions AS (
      SELECT user_id, event_id, t AS vf,
             t + (event_id % 7) * 3600 AS txf, et
      FROM chg WHERE prev_et IS NULL OR et <> prev_et
    ),
    probes AS (
      SELECT * FROM (
        SELECT 1 AS probe_id, mn + (mx - mn) // 2 AS tv,
               mn + (mx - mn) // 2 AS ttx FROM st
        UNION ALL
        SELECT 2, mn + (mx - mn) // 2, mn + (3 * (mx - mn)) // 4 FROM st
        UNION ALL
        SELECT 3, mn + (mx - mn) // 2, mx FROM st
        UNION ALL
        SELECT 4, mn + (mx - mn) // 4, mx FROM st
      )
    ),
    joined AS (
      SELECT p.probe_id, p.tv, p.ttx, v.user_id, v.et, v.txf,
             (v.vf - st.mn) * 1048576 + v.event_id AS ord_key
      FROM versions v CROSS JOIN st JOIN probes p ON v.vf <= p.tv
    ),
    truth AS (
      SELECT probe_id, user_id, arg_max(et, ord_key) AS tru
      FROM joined GROUP BY 1, 2
    ),
    belief AS (
      SELECT probe_id, user_id, arg_max(et, ord_key) AS bel
      FROM joined WHERE txf <= ttx GROUP BY 1, 2
    )
    SELECT p.probe_id,
           CAST(max(p.tv) AS BIGINT) AS tv,
           CAST(max(p.ttx) AS BIGINT) AS ttx,
           CAST(count(t.tru) AS BIGINT) AS n_users,
           CAST(count(b.bel) AS BIGINT) AS n_visible,
           CAST(count(*) FILTER (WHERE b.bel IS NULL) AS BIGINT) AS n_blind,
           CAST(count(*) FILTER (WHERE b.bel IS NOT NULL
                                   AND b.bel <> t.tru) AS BIGINT)
             AS n_revised
    FROM truth t
    LEFT JOIN belief b USING (probe_id, user_id)
    JOIN probes p USING (probe_id)
    GROUP BY p.probe_id
"""


@_register("r92_bitemporal_audit", _R92_SQL)
def r92_bitemporal_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal belief-drift audit: SCD2 versions (r71's change
    detection) extended with a transaction-time axis — tx_from = valid
    time + a deterministic per-event ingest delay of (event_id % 7)
    hours, modeling late-arriving records — then probed on a grid of
    (as-of-valid, as-of-transaction) pairs. Per probe: how many user
    states existed in the final record (n_users), how many were visible
    at that transaction time (n_visible), how many users the warehouse
    was still blind to (n_blind), and how many visible beliefs later
    got REVISED by a late record (n_revised). As ttx advances toward
    'now', n_blind and n_revised must fall to 0 — probe 3 vs probe 1
    quantifies exactly the close-of-books drift.

    Scale: ONE user_id-partitioned window pass builds the version
    table (r71's shuffle); probes are a 4-row broadcast; the truth and
    belief argmaxes are map-side-combinable max_by aggregates keyed on
    (probe, user) over the versions-x-probes frame (versions are the
    CHANGE rows — orders of magnitude under the event log). The
    argmax key packs (vf - mn) << 20 | event_id into one int64 (the
    s24 composite-key recipe), so both engines break valid-time ties
    identically with zero float or string comparison.

    Reference parity: the reference's dashboards re-read live state and
    silently forget what they displayed yesterday; this is the audited
    form (no reference equivalent; public bitemporal-modeling
    methodology)."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        "user_id", "event_id", t.alias("t"), F.col("event_type").alias("et")
    )
    st = base.agg(F.min("t").alias("mn"), F.max("t").alias("mx"))
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    chg = base.withColumn("prev_et", F.lag("et").over(w))
    versions = chg.where(
        F.col("prev_et").isNull() | (F.col("et") != F.col("prev_et"))
    ).select(
        "user_id",
        "event_id",
        F.col("t").alias("vf"),
        (F.col("t") + (F.col("event_id") % 7) * 3600).alias("txf"),
        "et",
    )
    span = F.col("mx") - F.col("mn")
    probes = None
    for pid, tv_e, ttx_e in (
        (1, F.col("mn") + F.expr("(mx - mn) div 2"),
         F.col("mn") + F.expr("(mx - mn) div 2")),
        (2, F.col("mn") + F.expr("(mx - mn) div 2"),
         F.col("mn") + F.expr("(3 * (mx - mn)) div 4")),
        (3, F.col("mn") + F.expr("(mx - mn) div 2"), F.col("mx")),
        (4, F.col("mn") + F.expr("(mx - mn) div 4"), F.col("mx")),
    ):
        row = st.select(
            F.lit(pid).alias("probe_id"),
            tv_e.alias("tv"),
            ttx_e.alias("ttx"),
        )
        probes = row if probes is None else probes.unionByName(row)
    joined = (
        versions.crossJoin(F.broadcast(st))
        .join(F.broadcast(probes), F.col("vf") <= F.col("tv"))
        .select(
            "probe_id",
            "tv",
            "ttx",
            "user_id",
            "et",
            "txf",
            ((F.col("vf") - F.col("mn")) * 1048576 + F.col("event_id")).alias(
                "ord_key"
            ),
        )
        .localCheckpoint()  # feeds truth AND belief
    )
    truth = joined.groupBy("probe_id", "user_id").agg(
        F.expr("max_by(et, ord_key)").alias("tru")
    )
    belief = (
        joined.where(F.col("txf") <= F.col("ttx"))
        .groupBy("probe_id", "user_id")
        .agg(F.expr("max_by(et, ord_key)").alias("bel"))
    )
    return (
        truth.join(belief, ["probe_id", "user_id"], "left")
        .join(F.broadcast(probes), "probe_id")
        .groupBy("probe_id")
        .agg(
            F.max("tv").cast("long").alias("tv"),
            F.max("ttx").cast("long").alias("ttx"),
            F.count("tru").cast("long").alias("n_users"),
            F.count("bel").cast("long").alias("n_visible"),
            F.expr("count_if(bel IS NULL)").cast("long").alias("n_blind"),
            F.expr("count_if(bel IS NOT NULL AND bel <> tru)")
            .cast("long")
            .alias("n_revised"),
        )
    )


# ---------------------------------------------------------------------------
# r93: approximate-query-processing accuracy audit — deterministic
# nested hash samples (1/4, 1/16, 1/64 via one md5 bucket) answer the
# per-type count/sum questions, scaled estimates stand next to the
# exact answers with integer error ppm. The audit every AQP deployment
# runs before trusting sampled dashboards.
# ---------------------------------------------------------------------------

_R93_BKT = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '#aqp'), 1, 15)"
    " AS BIGINT) % 64"
)

_R93_SQL = f"""
    WITH base AS (
      SELECT event_type, {_R93_BKT} AS bkt,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    cnt AS (
      SELECT event_type AS segment, bkt,
             count(*) AS n, sum(cents) AS s
      FROM base GROUP BY 1, 2
      UNION ALL
      SELECT 'ALL', bkt, count(*), sum(cents) FROM base GROUP BY 2
    ),
    rates AS (SELECT unnest([4, 16, 64]) AS r),
    est AS (
      SELECT c.segment, ra.r,
             sum(c.n) AS true_n, sum(c.s) AS true_sum,
             r * sum(CASE WHEN c.bkt < 64 // ra.r THEN c.n ELSE 0 END)
               AS est_n,
             r * sum(CASE WHEN c.bkt < 64 // ra.r THEN c.s ELSE 0 END)
               AS est_sum
      FROM cnt c CROSS JOIN rates ra GROUP BY 1, 2
    )
    SELECT segment, CAST(r AS BIGINT) AS rate_denom,
           CAST(true_n AS BIGINT) AS true_n,
           CAST(est_n AS BIGINT) AS est_n,
           CAST((1000000 * abs(est_n - true_n)) // true_n AS BIGINT)
             AS n_err_ppm,
           CAST(true_sum AS BIGINT) AS true_sum_cents,
           CAST(est_sum AS BIGINT) AS est_sum_cents,
           CASE WHEN true_sum > 0 THEN
             CAST((1000000 * abs(est_sum - true_sum)) // true_sum AS BIGINT)
           END AS sum_err_ppm
    FROM est
"""


@_register("r93_aqp_accuracy", _R93_SQL)
def r93_aqp_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-query-processing accuracy audit: per event_type (and
    'ALL'), the exact count and cents-sum stand next to scaled
    estimates from NESTED deterministic hash samples at 1/4, 1/16 and
    1/64 (one md5 bucket column; rate 1/r keeps buckets < 64/r, so the
    1/64 sample is inside the 1/16 inside the 1/4 — the m19 nesting,
    isolating rate from sample luck), with integer |error| ppm for
    both. This is how a lake decides which dashboard tiles can run on
    the sample table: the error column IS the decision input, and the
    determinism means the audit replays bit-for-bit.

    Scale: ONE corpus scan collapses to per-(segment, bucket) count/sum
    partials (map-side combined, <= |types| x 64 rows plus the ALL
    re-derivation); all three rates re-aggregate that bounded frame (a
    3-row broadcast cross join), never the corpus. Exactly the two-pass
    economics a production AQP layer uses to VALIDATE its sample
    tables after each refresh.

    Reference parity: the reference's Grafana tiles (Q2) always scan
    fully; this is the sampled alternative with its honesty check (no
    reference equivalent; public AQP methodology)."""
    ev = load_table(spark, sf_dir, "events")
    # Spark-side bucket: conv(substr(md5(...),1,15),16,10) — the
    # engine twin of the oracle's 0x-prefixed CAST (same 60-bit value).
    bkt = F.expr(
        "CAST(conv(substr(md5(CAST(event_id AS STRING) || '#aqp'), 1, 15),"
        " 16, 10) AS BIGINT) % 64"
    )
    base = ev.select(
        "event_type",
        bkt.alias("bkt"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    per = base.groupBy(
        F.col("event_type").alias("segment"), "bkt"
    ).agg(F.count("*").alias("n"), F.sum("cents").alias("s"))
    cnt = per.unionByName(
        per.groupBy("bkt")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        .select(F.lit("ALL").alias("segment"), "bkt", "n", "s")
    )
    rates = spark.createDataFrame([(4,), (16,), (64,)], ["r"])
    est = (
        cnt.crossJoin(F.broadcast(rates))
        .groupBy("segment", "r")
        .agg(
            F.sum("n").alias("true_n"),
            F.sum("s").alias("true_sum"),
            (
                F.first("r")
                * F.sum(
                    F.when(
                        F.col("bkt") < F.expr("64 div r"), F.col("n")
                    ).otherwise(0)
                )
            ).alias("est_n"),
            (
                F.first("r")
                * F.sum(
                    F.when(
                        F.col("bkt") < F.expr("64 div r"), F.col("s")
                    ).otherwise(0)
                )
            ).alias("est_sum"),
        )
    )
    return est.select(
        "segment",
        F.col("r").cast("long").alias("rate_denom"),
        F.col("true_n").cast("long").alias("true_n"),
        F.col("est_n").cast("long").alias("est_n"),
        F.expr(
            "CAST((1000000 * abs(est_n - true_n)) div true_n AS BIGINT)"
        ).alias("n_err_ppm"),
        F.col("true_sum").cast("long").alias("true_sum_cents"),
        F.col("est_sum").cast("long").alias("est_sum_cents"),
        F.when(
            F.col("true_sum") > 0,
            F.expr(
                "CAST((1000000 * abs(est_sum - true_sum)) div true_sum"
                " AS BIGINT)"
            ),
        ).alias("sum_err_ppm"),
    )


# ---------------------------------------------------------------------------
# r94: rolling distinct-user engagement (DAU / WAU / stickiness) — the
# product-analytics staple that needs a SLIDING COUNT DISTINCT, which
# no plain window aggregate provides (distinct is not subtractable).
# Exact formulation: dedup to (day, user) once, then each day's
# trailing-7-day user set is a bounded self-join over the day grid.
# ---------------------------------------------------------------------------

_R94_SQL = """
    WITH du AS (
      SELECT DISTINCT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400
               AS d, user_id
      FROM events
    ),
    dau AS (SELECT d, count(*) AS dau FROM du GROUP BY 1),
    days AS (SELECT DISTINCT d FROM du),
    wau AS (
      SELECT days.d, count(DISTINCT du.user_id) AS wau
      FROM days JOIN du
        ON du.d BETWEEN days.d - 6 AND days.d
      GROUP BY 1
    )
    SELECT dau.d AS day_num,
           CAST(dau.dau AS BIGINT) AS dau,
           CAST(wau.wau AS BIGINT) AS wau,
           CAST((1000000 * dau.dau) // wau.wau AS BIGINT)
             AS stickiness_ppm
    FROM dau JOIN wau ON dau.d = wau.d
"""


@_register("r94_dau_wau", _R94_SQL)
def r94_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling distinct-user engagement: per day, the exact count of
    active users that day (DAU), over the trailing 7 days (WAU), and
    the DAU/WAU stickiness ratio in ppm — the dashboard row every
    product team keeps, and the canonical example of a metric a plain
    sliding-window aggregate CANNOT produce (count distinct is not
    subtractable, so no running-sum trick applies; Grafana fakes it
    with approximations).

    Exact at scale: the corpus collapses ONCE to the deduped (day,
    user) frame — the only corpus-sized shuffle, map-side combined.
    The trailing window then uses membership INVERSION: d in [wd-6, wd]
    iff wd in [d, d+6], so each activity row explodes into its <= 7
    window anchors and a plain (wd, user) count-distinct aggregate
    finishes the job — output bounded by 7 x |day-user pairs|,
    independent of raw event volume, with NO |days| x |activity|
    range join anywhere (the naive formulation Catalyst would execute
    as a nested loop). At 100 TB the (day, user) frame is the
    materialized activity table every analytics warehouse keeps; the
    7x fan-out is a projection of it.

    Reference parity: the exact form of the engagement tiles the
    reference's Grafana board approximates (dashboards.json Q2 family);
    sliding-distinct itself has no reference equivalent."""
    ev = load_table(spark, sf_dir, "events")
    day = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400)
    ).cast("long")
    du = ev.select(day.alias("d"), "user_id").distinct().localCheckpoint()
    dau = du.groupBy("d").agg(F.count("*").alias("dau"))
    # membership inversion: d in [wd-6, wd] <=> wd in [d, d+6], so each
    # activity row EXPLODES into its <=7 window days — a hash-aggregable
    # 7x fan-out, never a |days| x |activity| nested-loop range join.
    # Windows anchored on non-active days are computed and then dropped
    # by the inner join with dau (bounded 7x waste).
    wau = (
        du.select(
            F.explode(F.sequence(F.col("d"), F.col("d") + 6)).alias("wd"),
            "user_id",
        )
        .groupBy("wd")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return dau.join(wau, dau["d"] == wau["wd"]).select(
        F.col("d").alias("day_num"),
        F.col("dau").cast("long").alias("dau"),
        F.col("wau").cast("long").alias("wau"),
        F.expr("CAST((1000000 * dau) div wau AS BIGINT)").alias(
            "stickiness_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# r95: session path mining — the navigation-pattern question funnels
# (r87) fix in advance: which event-type SEQUENCES actually happen?
# Sessions are 30-min-gap islands (r32's rule); each session's first
# four event types concatenate into its path signature, and the report
# is the top-10 paths by frequency.
# ---------------------------------------------------------------------------

_R95_GAP = 1800
_R95_DEPTH = 4
_R95_TOPK = 10

_R95_SQL = f"""
    WITH base AS (
      SELECT user_id, event_id, event_type AS et,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > {_R95_GAP}
                     THEN 1 ELSE 0 END AS new_s
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id
                                 ORDER BY t, event_id) AS sid
      FROM flagged
    ),
    ranked AS (
      SELECT user_id, sid, et, t, event_id,
             row_number() OVER (PARTITION BY user_id, sid
                                ORDER BY t, event_id) AS rn
      FROM sess
    ),
    paths AS (
      SELECT user_id, sid,
             string_agg(et, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {_R95_DEPTH}
      GROUP BY 1, 2
    )
    SELECT path, CAST(n AS BIGINT) AS n_sessions,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT path, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, path ASC) AS rk
      FROM paths GROUP BY 1
    ) WHERE rk <= {_R95_TOPK}
"""


@_register("r95_session_paths", _R95_SQL)
def r95_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session path mining: sessions are 30-minute-gap islands per user
    (r32's sessionization rule, (t, event_id)-ordered so same-second
    ties replay identically); each session's first four event types
    join into a '>'-separated path signature, and the report is the
    top-10 signatures by session count (ties to the lexicographically
    first path). This is the exploratory sibling of the funnel (r87):
    funnels test ONE hypothesized sequence, path mining surfaces which
    sequences the traffic actually contains.

    Scale: ONE user_id shuffle carries sessionization, session-local
    ranking and the path assembly (three window passes over the same
    (user, t, event_id) sort — Catalyst reuses the exchange, the
    r71/r83/r87 posture); paths themselves are <= 4 short enum strings
    per SESSION (bounded by session count, not events), and the final
    top-k is a count aggregate + a k-row rank. Spark-side path
    assembly sorts each session's collected (rn, et) structs —
    collect_list order is not deterministic under retries, array_sort
    makes it so (the same discipline as the oracle's ORDER BY inside
    string_agg).

    Reference parity: generalizes the reference's single hard-coded
    detection sequence (TransactionProcessor.java pipeline) to the
    discovery form; no reference equivalent."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        "user_id", "event_id", F.col("event_type").alias("et"), t.alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    flagged = base.withColumn(
        "new_s",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > _R95_GAP),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    ws = Window.partitionBy("user_id", "sid").orderBy("t", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(ws)).where(
        F.col("rn") <= _R95_DEPTH
    )
    paths = ranked.groupBy("user_id", "sid").agg(
        F.concat_ws(
            ">",
            F.expr("transform(array_sort(collect_list(struct(rn, et))),"
                   " x -> x.et)"),
        ).alias("path")
    )
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n"))
        .withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= _R95_TOPK)
        .select(
            "path",
            F.col("n").cast("long").alias("n_sessions"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


# ---------------------------------------------------------------------------
# r96: association rules over session baskets — the market-basket
# classic (Agrawal et al.): which event types CO-OCCUR in a session
# beyond what their individual frequencies predict. Supports,
# confidences and lift are exact integer cross-ratios in ppm — no
# float probability ever divides another.
# ---------------------------------------------------------------------------

_R96_SQL = f"""
    WITH base AS (
      SELECT user_id, event_id, event_type AS et,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
      FROM events
    ),
    flagged AS (
      SELECT *, CASE WHEN lag(t) OVER w IS NULL
                       OR t - lag(t) OVER w > {_R95_GAP}
                     THEN 1 ELSE 0 END AS new_s
      FROM base
      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
    ),
    sess AS (
      SELECT user_id, et,
             sum(new_s) OVER (PARTITION BY user_id
                              ORDER BY t, event_id) AS sid
      FROM flagged
    ),
    baskets AS (SELECT DISTINCT user_id, sid, et FROM sess),
    nb AS (SELECT count(DISTINCT (user_id, sid)) AS n FROM baskets),
    item AS (SELECT et, count(*) AS c FROM baskets GROUP BY 1),
    pair AS (
      SELECT a.et AS ant, b.et AS cons, count(*) AS c_ab
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.sid = b.sid AND a.et <> b.et
      GROUP BY 1, 2
    )
    SELECT p.ant, p.cons,
           CAST(p.c_ab AS BIGINT) AS n_both,
           CAST(ia.c AS BIGINT) AS n_ant,
           CAST(ic.c AS BIGINT) AS n_cons,
           CAST((1000000 * p.c_ab) // nb.n AS BIGINT) AS support_ppm,
           CAST((1000000 * p.c_ab) // ia.c AS BIGINT) AS confidence_ppm,
           CAST((1000000 * p.c_ab * nb.n) // (ia.c * ic.c) AS BIGINT)
             AS lift_ppm
    FROM pair p
    JOIN item ia ON ia.et = p.ant
    JOIN item ic ON ic.et = p.cons
    CROSS JOIN nb
"""


@_register("r96_association_rules", _R96_SQL)
def r96_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over session baskets (Agrawal et al.'s market
    basket, sessions = r95's 30-min islands, items = the distinct
    event types a session contains): for every ordered rule ant=>cons,
    the exact co-occurrence counts plus support, confidence and lift in
    ppm — all integer floor-divisions of exact counts (lift multiplies
    BEFORE dividing: 1e6 * c_ab * n_baskets // (c_a * c_b), so no float
    probability ratio exists anywhere). Lift > 1e6 marks genuinely
    associated behaviors; confidence ranks the actionable direction.

    Scale: sessionization is the one corpus shuffle (user_id window);
    baskets dedup to (session, item) rows — bounded by sessions x
    |item vocabulary|, which also bounds the pair self-join (per-
    session fan-out <= |vocab|^2, and the join key (user, sid) is
    already co-partitioned by the dedup aggregate). Item and basket
    totals are tiny broadcast frames. The classic Apriori pruning is
    unnecessary at pair length 2 with an enum-sized vocabulary; at
    larger itemset lengths the same baskets frame feeds frequent-
    itemset generation with a support cut per round.

    Reference parity: no reference equivalent; public association-rule
    methodology."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        "user_id", "event_id", F.col("event_type").alias("et"), t.alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    sess = base.withColumn(
        "new_s",
        F.when(
            F.lag("t").over(w).isNull()
            | (F.col("t") - F.lag("t").over(w) > _R95_GAP),
            F.lit(1),
        ).otherwise(F.lit(0)),
    ).withColumn(
        "sid",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    baskets = sess.select("user_id", "sid", "et").distinct().localCheckpoint()
    nb = baskets.select("user_id", "sid").distinct().count()
    item = baskets.groupBy("et").agg(F.count("*").alias("c"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.sid") == F.col("b.sid"))
            & (F.col("a.et") != F.col("b.et")),
        )
        .groupBy(F.col("a.et").alias("ant"), F.col("b.et").alias("cons"))
        .agg(F.count("*").alias("c_ab"))
    )
    ia = item.select(F.col("et").alias("ant"), F.col("c").alias("n_ant"))
    ic = item.select(F.col("et").alias("cons"), F.col("c").alias("n_cons"))
    return (
        pair.join(F.broadcast(ia), "ant")
        .join(F.broadcast(ic), "cons")
        .select(
            "ant",
            "cons",
            F.col("c_ab").cast("long").alias("n_both"),
            F.col("n_ant").cast("long").alias("n_ant"),
            F.col("n_cons").cast("long").alias("n_cons"),
            F.expr(f"CAST((1000000 * c_ab) div {nb} AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST((1000000 * c_ab) div n_ant AS BIGINT)").alias(
                "confidence_ppm"
            ),
            F.expr(
                f"CAST((1000000 * c_ab * {nb}) div (n_ant * n_cons)"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# r97: forecast backtest — the seasonal-naive baseline (tomorrow looks
# like the same weekday last week) evaluated over the event history,
# the sanity bar every forecasting deployment must beat before it
# earns a model. Errors are exact integer cents; MAE is a floor
# division and MAPE a per-day integer ratio summed exactly.
# ---------------------------------------------------------------------------

_R97_SQL = """
    WITH d AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    f AS (
      SELECT d, cents,
             lag(cents, 7) OVER (ORDER BY d) AS pred
      FROM d
    )
    SELECT CAST(d AS BIGINT) AS day_num,
           cents AS actual_cents,
           CAST(pred AS BIGINT) AS pred_cents,
           CAST(abs(cents - pred) AS BIGINT) AS abs_err_cents,
           CAST((1000000 * abs(cents - pred)) // cents AS BIGINT)
             AS ape_ppm
    FROM f WHERE pred IS NOT NULL
"""


@_register("r97_forecast_backtest", _R97_SQL)
def r97_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest over the daily cents totals:
    each day's prediction is the value seven days earlier (the weekday
    baseline), scored with exact integer absolute error and per-day
    APE in ppm — the hurdle rate a forecasting model must beat, and
    the query a capacity-planning dashboard runs nightly. Gaps in the
    day series make lag(7) a SEVEN-ROWS-back prediction, which is the
    standard backtest convention on a dense daily rollup (this corpus
    has every day present; on sparse series gap-fill first — r61).

    Scale: the corpus collapses in one map-side-combined scan to the
    |days|-row frame; the lag window runs on that bounded series (the
    r88/m28/m29 posture). At stream time the same backtest maintains
    itself from the last seven daily totals.

    Reference parity: the predictive upgrade of the reference's
    descriptive Grafana tiles; no reference equivalent."""
    ev = load_table(spark, sf_dir, "events")
    day = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400)
    ).cast("long")
    d = ev.groupBy(day.alias("d")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )
    w = Window.orderBy("d")
    f = d.withColumn("pred", F.lag("cents", 7).over(w)).where(
        F.col("pred").isNotNull()
    )
    return f.select(
        F.col("d").cast("long").alias("day_num"),
        F.col("cents").alias("actual_cents"),
        F.col("pred").cast("long").alias("pred_cents"),
        F.abs(F.col("cents") - F.col("pred")).cast("long").alias(
            "abs_err_cents"
        ),
        F.expr(
            "CAST((1000000 * abs(cents - pred)) div cents AS BIGINT)"
        ).alias("ape_ppm"),
    )


# ---------------------------------------------------------------------------
# r98: Pareto skyline (the "skyline operator", Börzsönyi et al. 2001) —
# the multi-criteria frontier query relational engines ship as a
# first-class operator: rows not dominated in (cheaper, more recent).
# ---------------------------------------------------------------------------

_R98_SQL = """
    WITH o AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS order_date,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
      WHERE o_orderdate >= DATE '1997-01-01'
        AND o_orderdate < DATE '1998-01-01'
    )
    SELECT o_orderkey, order_date, cents
    FROM o b
    WHERE NOT EXISTS (
      SELECT 1 FROM o a
      WHERE a.order_date >= b.order_date AND a.cents <= b.cents
        AND (a.order_date > b.order_date OR a.cents < b.cents)
    )
"""


def skyline_front(pts: DataFrame) -> DataFrame:
    """2-d Pareto front (minimize cents, maximize d) of a (o_orderkey,
    d, cents) frame — the day-bucketed lowering that never runs an
    unpartitioned window over row data: rows pre-aggregate to one
    min-cents row PER DAY (bounded by the date domain, not the corpus),
    the strictly-later-day suffix min runs on that bounded daily frame,
    and rows join back against the broadcast day map. A row survives
    iff it IS its day's min (no same-day row strictly cheaper) and no
    strictly later day reached a min <= its cents. Duplicate (day,
    cents) pairs never dominate each other, so ties on the front all
    survive — the textbook skyline semantics.

    Shared by r98 (one shot) and s42 (per-batch fronts + final merge:
    skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B)))."""
    daily = pts.groupBy("d").agg(F.min("cents").alias("minp_day"))
    w = Window.orderBy("d").rangeBetween(1, Window.unboundedFollowing)
    # the window is over the BOUNDED daily frame (|distinct days|), not
    # corpus rows — the single-partition sort it implies is fine
    daily = daily.withColumn("minp_later", F.min("minp_day").over(w))
    # broadcast bound: one row per distinct day (date-domain sized)
    return (
        pts.join(F.broadcast(daily), "d")
        .where(
            (F.col("cents") == F.col("minp_day"))
            & (
                F.col("minp_later").isNull()
                | (F.col("minp_later") > F.col("cents"))
            )
        )
        .select("o_orderkey", "d", "cents")
    )


def _r98_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    # d is an INTEGER day number (days since epoch): RANGE window frames
    # require a numeric order key on both engines
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return o.where(
        (d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01"))
    ).select(
        "o_orderkey",
        F.datediff(d, F.lit("1970-01-01")).cast("long").alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )


@_register("r98_pareto_skyline", _R98_SQL)
def r98_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-dominance query over 1997 orders: the orders no
    other order beats on BOTH price (lower-or-equal cents) and recency
    (later-or-equal date) with at least one strict improvement — the
    multi-criteria shortlist (cheapest-for-their-recency frontier)
    that motivates the skyline operator in Börzsönyi et al. (ICDE'01).
    Exact integer cents; date granularity is the day.

    Scale: the naive skyline is an all-pairs NOT EXISTS (the oracle
    keeps that independent quadratic form); the engine's lowering
    (skyline_front) pre-aggregates to per-day minima so every unbounded
    ordered window runs on the date-domain-bounded daily frame and the
    corpus-sized side only ever does one groupBy(day) and one broadcast
    equi-join back — one shuffle bounded by |days|, no row-vs-row
    comparison ever materializes.

    Reference parity: no reference equivalent; public skyline-operator
    literature (Börzsönyi/Kossmann/Stocker 2001)."""
    return skyline_front(_r98_points(spark, sf_dir)).select(
        "o_orderkey",
        F.date_add(F.lit("1970-01-01"), F.col("d").cast("int")).alias(
            "order_date"
        ),
        "cents",
    )


# ---------------------------------------------------------------------------
# r99: first-order Markov transition matrix over per-user event streams —
# the behavioral model behind next-event prediction and anomaly scoring
# (an observed transition with near-zero learned probability IS the
# alert). Counts are exact; probabilities are multiply-first ppm.
# ---------------------------------------------------------------------------

_R99_SQL = """
    WITH base AS (
      SELECT user_id, event_id, event_type AS src,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t
      FROM events
    ),
    nxt AS (
      SELECT src,
             lead(src) OVER (PARTITION BY user_id
                             ORDER BY t, event_id) AS dst
      FROM base
    ),
    cnt AS (
      SELECT src, dst, count(*) AS n
      FROM nxt WHERE dst IS NOT NULL GROUP BY 1, 2
    ),
    tot AS (SELECT src, sum(n) AS src_total FROM cnt GROUP BY 1)
    SELECT src, dst, CAST(n AS BIGINT) AS n_transitions,
           CAST(src_total AS BIGINT) AS src_total,
           CAST((1000000 * n) // src_total AS BIGINT) AS p_ppm
    FROM cnt JOIN tot USING (src)
"""


@_register("r99_event_transitions", _R99_SQL)
def r99_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    stream: consecutive event-type pairs under the strict (truncated-
    second t, event_id) per-user ordering (the r82/r95 tie rule, so
    same-second events replay identically), exact transition counts,
    per-source totals, and the conditional probability P(dst | src) in
    multiply-first ppm. The learned matrix is what next-event
    prediction, session simulation, and transition-anomaly scoring
    (a observed pair with p_ppm ~ 0 is the alert) all consume.

    Scale: ONE user_id shuffle carries the lead() pairing; the pair
    stream map-side combines straight to the |types|^2-bounded count
    frame, and everything after (totals join, ppm) runs on that bounded
    matrix. No second corpus pass, no unpartitioned window.

    Reference parity: the data-learned generalization of the
    reference's hand-written event pipeline; no reference equivalent."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("src"),
        t.alias("t"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    pairs = base.withColumn("dst", F.lead("src").over(w)).where(
        F.col("dst").isNotNull()
    )
    cnt = pairs.groupBy("src", "dst").agg(F.count("*").alias("n"))
    return transition_report_from_counts(cnt)


def transition_report_from_counts(cnt: DataFrame) -> DataFrame:
    """(src, dst, n) counts -> the transition-matrix report. Shared by
    r99 and its streaming twin (s43), whose merged inner+stitched
    partials must emit the identical shape."""
    cnt = cnt.localCheckpoint()  # |types|^2 rows; feeds totals AND report
    tot = cnt.groupBy("src").agg(F.sum("n").alias("src_total"))
    # broadcast bound: tot is one row per event type
    return cnt.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        F.col("n").cast("long").alias("n_transitions"),
        F.col("src_total").cast("long").alias("src_total"),
        F.expr("CAST((1000000 * n) div src_total AS BIGINT)").alias(
            "p_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# r100: equi-depth histogram boundaries — the optimizer statistic r91's
# ANALYZE pass doesn't cover (min/max/NDV say nothing about skew).
# Boundary k of B is the smallest value whose cumulative population
# reaches k/B of the column, decided multiply-first (cum * B >= n * k) so
# no division ever rounds.
# ---------------------------------------------------------------------------

_R100_B = 8

_R100_SQL = f"""
    WITH vals AS (
      SELECT 'l_quantity' AS col,
             CAST(round(l_quantity) AS BIGINT) AS v
      FROM lineitem
      UNION ALL
      SELECT 'price_dollars',
             CAST(round(l_extendedprice * 100) AS BIGINT) // 100
      FROM lineitem
    ),
    cnt AS (SELECT col, v, count(*) AS c FROM vals GROUP BY 1, 2),
    cum AS (
      SELECT col, v,
             sum(c) OVER (PARTITION BY col ORDER BY v
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_n
      FROM cnt
    ),
    tot AS (SELECT col, sum(c) AS n FROM cnt GROUP BY 1),
    t AS (
      SELECT col, n, unnest(range(1, {_R100_B} + 1)) AS k FROM tot
    )
    SELECT t.col, CAST(t.k AS BIGINT) AS k,
           CAST(min(cum.v) AS BIGINT) AS boundary,
           CAST(min_by(cum.cum_n, cum.v) AS BIGINT) AS cum_at_boundary,
           CAST(t.n AS BIGINT) AS n
    FROM t JOIN cum ON cum.col = t.col
                   AND cum.cum_n * {_R100_B} >= t.n * t.k
    GROUP BY t.col, t.k, t.n
"""


@_register("r100_equidepth_histogram", _R100_SQL)
def r100_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-frequency) histogram boundaries for lineitem's
    quantity and dollar-quantized price — the skew-aware optimizer
    statistic that complements r91's min/max/NDV: boundary k of 8 is
    the smallest value whose cumulative population reaches k/8 of the
    column (multiply-first integer comparison, so ties and rounding are
    exact), reported with the exact cumulative count at that value.
    These are the boundaries a cost model uses for selectivity and a
    partitioner uses for range splits.

    Scale: this is NOT the sort-and-ntile formulation (a corpus-wide
    sort): one scan melts both columns to (col, value) partials whose
    shuffle is bounded by the VALUE DOMAINS (51 quantities, ~dollar
    range), the cumulative window runs per column over that bounded
    frame, and the boundary pick is an 8-row-per-column theta join.
    The same plan serves any column whose domain quantizes — which is
    what ANALYZE does anyway.

    Reference parity: no reference equivalent; public equi-depth
    histogram methodology (Piatetsky-Shapiro/Connell)."""
    li = load_table(spark, sf_dir, "lineitem")
    vals = li.selectExpr(
        "'l_quantity' AS col", "CAST(round(l_quantity) AS BIGINT) AS v"
    ).unionByName(
        li.selectExpr(
            "'price_dollars' AS col",
            "CAST(round(l_extendedprice * 100) AS BIGINT) div 100 AS v",
        )
    )
    return equidepth_boundaries(vals)


def equidepth_boundaries(vals: DataFrame) -> DataFrame:
    """(col, v) long frame -> per-column equi-depth boundary report.
    Split from r100 so the brute-force closure can drive it with
    generated value lists."""
    cnt = vals.groupBy("col", "v").agg(F.count("*").alias("c"))
    return equidepth_from_counts(cnt)


def equidepth_from_counts(cnt: DataFrame) -> DataFrame:
    """(col, v, c) histogram -> the boundary report. Shared with the
    streaming twin (s47), whose per-batch value-count partials merge to
    this exact shape."""
    cnt = cnt.localCheckpoint()  # value-domain bounded; feeds cum AND tot
    w = Window.partitionBy("col").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = cnt.select("col", "v", F.sum("c").over(w).alias("cum_n"))
    tot = cnt.groupBy("col").agg(F.sum("c").alias("n"))
    t = tot.select(
        "col",
        "n",
        F.explode(
            F.sequence(F.lit(1), F.lit(_R100_B))
        ).alias("k"),
    )
    # theta join: 8 targets per column against the domain-bounded cum
    picked = (
        t.join(
            cum.withColumnRenamed("col", "ccol"),
            (F.col("ccol") == F.col("col"))
            & (F.col("cum_n") * _R100_B >= F.col("n") * F.col("k")),
        )
        .groupBy("col", "k", "n")
        .agg(
            F.min("v").alias("boundary"),
            F.expr("min_by(cum_n, v)").alias("cum_at_boundary"),
        )
    )
    return picked.select(
        "col",
        F.col("k").cast("long").alias("k"),
        F.col("boundary").cast("long").alias("boundary"),
        F.col("cum_at_boundary").cast("long").alias("cum_at_boundary"),
        F.col("n").cast("long").alias("n"),
    )


# ---------------------------------------------------------------------------
# r101: time-weighted average over irregular samples — the financial /
# telemetry aggregate a plain AVG silently fakes (samples arrive
# unevenly; each value is worth the time it was in force). Step-function
# (last-observation-carried-forward) semantics, exact integer
# cents x seconds, multiply-first micro division.
# ---------------------------------------------------------------------------

_R101_SQL = """
    WITH base AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    nxt AS (
      SELECT user_id, t, cents,
             lead(t) OVER (PARTITION BY user_id
                           ORDER BY t, event_id) AS t2
      FROM base
    ),
    agg AS (
      SELECT user_id,
             count(*) AS n_events,
             max(t) - min(t) AS span_s,
             CAST(sum(cents * (t2 - t)) FILTER (WHERE t2 IS NOT NULL)
                  AS BIGINT) AS wsum
      FROM nxt GROUP BY 1
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(span_s AS BIGINT) AS span_s,
           CAST(CASE WHEN span_s > 0
                THEN (1000000 * wsum) // span_s END AS BIGINT)
             AS twa_cents_micro
    FROM agg
"""


@_register("r101_time_weighted_average", _R101_SQL)
def r101_time_weighted_average(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user time-weighted average transaction value: each sample is
    worth the seconds until the user's next event (step-function /
    last-observation-carried-forward — the TWAP convention), so a burst
    of identical readings doesn't multiply its weight the way a plain
    AVG does. Exact integer cents x seconds; the average lands as
    micro-cents via one multiply-first floor division; same-second ties
    order by event_id (zero-width segments contribute zero weight
    deterministically). Single-event users report span 0 and NULL TWA.

    Scale: ONE user_id shuffle carries the lead() pairing AND the
    per-user aggregate (same-key window + groupBy reuse the exchange);
    nothing downstream is corpus-sized. The streaming twin (s45)
    rebuilds the identical numbers from per-batch partials.

    Reference parity: the honest version of the reference dashboard's
    mean tiles (Q2/Q5) for irregular arrival; no reference
    equivalent."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    base = ev.select(
        "user_id",
        "event_id",
        t.alias("t"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    nxt = base.withColumn("t2", F.lead("t").over(w))
    agg = nxt.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        (F.max("t") - F.min("t")).alias("span_s"),
        F.sum(
            F.when(
                F.col("t2").isNotNull(),
                F.col("cents") * (F.col("t2") - F.col("t")),
            )
        )
        .cast("long")
        .alias("wsum"),
    )
    return agg.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("span_s").cast("long").alias("span_s"),
        F.expr(
            "CAST(CASE WHEN span_s > 0"
            " THEN (1000000 * wsum) div span_s END AS BIGINT)"
        ).alias("twa_cents_micro"),
    )


# ---------------------------------------------------------------------------
# r102: join-key (foreign-key) discovery — the schema-profiling operator
# that proposes joinable column pairs: for each candidate (child,
# parent) pair, the share of the child's distinct values contained in
# the parent's distinct set, in exact ppm. Includes a deliberately
# non-key pair so the report demonstrates separation.
# ---------------------------------------------------------------------------

_R102_PAIRS = [
    # (label, child table, child col, parent table, parent col)
    ("orders.o_custkey->customer.c_custkey",
     "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders.o_orderkey",
     "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey",
     "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey",
     "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    # negative control: order keys are NOT customer keys
    ("orders.o_orderkey->customer.c_custkey",
     "orders", "o_orderkey", "customer", "c_custkey"),
]
_R102_FK_PPM = 990_000  # >= 99% containment proposes the pair


def _r102_pair_sql(label, ct, cc, pt, pc) -> str:
    return f"""
      SELECT '{label}' AS candidate,
             CAST(count(*) AS BIGINT) AS n_child_distinct,
             CAST(count(p.v) AS BIGINT) AS n_contained,
             CAST((1000000 * count(p.v)) // count(*) AS BIGINT)
               AS containment_ppm,
             (1000000 * count(p.v)) // count(*) >= {_R102_FK_PPM}
               AS fk_candidate
      FROM (SELECT DISTINCT {cc} AS v FROM {ct} WHERE {cc} IS NOT NULL) c
      LEFT JOIN (SELECT DISTINCT {pc} AS v FROM {pt}) p USING (v)
    """


_R102_SQL = " UNION ALL ".join(
    _r102_pair_sql(*p) for p in _R102_PAIRS
)


@_register("r102_fk_discovery", _R102_SQL)
def r102_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key / join-key discovery over the star schema: for each
    candidate (child column, parent column) pair — the four real FK
    edges plus a deliberate non-key control — the exact share of the
    child's distinct values contained in the parent's distinct set
    (ppm), and the >= 99% proposal verdict. This is the profiling
    operator that lets a catalog suggest joins on an undocumented lake;
    the control row pins that the metric actually separates.

    Scale: each side reduces to its DISTINCT key set first (map-side
    combined, NDV-bounded — never a row-level join), then a keyed
    left join between the two distinct sets; all five pairs run as
    independent branches of one union. At 100 TB the distinct sets are
    the join-key dictionaries a catalog already maintains.

    Reference parity: no reference equivalent; public data-profiling
    methodology (Rostin et al., FK discovery)."""
    out = None
    for label, ct, cc, pt, pc in _R102_PAIRS:
        c = (
            load_table(spark, sf_dir, ct)
            .where(F.col(cc).isNotNull())
            .select(F.col(cc).alias("v"))
            .distinct()
        )
        p = (
            load_table(spark, sf_dir, pt)
            .select(F.col(pc).alias("v"))
            .distinct()
            .withColumn("_hit", F.lit(1))
        )
        pair = (
            c.join(p, "v", "left")
            .agg(
                F.count("*").cast("long").alias("n_child_distinct"),
                F.sum("_hit").cast("long").alias("_contained"),
            )
            .select(
                F.lit(label).alias("candidate"),
                "n_child_distinct",
                F.coalesce("_contained", F.lit(0))
                .cast("long")
                .alias("n_contained"),
                F.expr(
                    "CAST((1000000 * coalesce(_contained, 0))"
                    " div n_child_distinct AS BIGINT)"
                ).alias("containment_ppm"),
                (
                    F.expr(
                        "(1000000 * coalesce(_contained, 0))"
                        " div n_child_distinct"
                    )
                    >= _R102_FK_PPM
                ).alias("fk_candidate"),
            )
        )
        out = pair if out is None else out.unionByName(pair)
    return out


# ---------------------------------------------------------------------------
# r103: exact sliding-window median — the robust dashboard line a
# sliding AVG (r51) can't fake. The naive form re-sorts every window;
# this is the histogram inversion: daily value histograms explode to
# only the windows they serve (membership inversion, the r94 lowering),
# and each window's median is a multiply-first cumulative pick.
# ---------------------------------------------------------------------------

_R103_W = 7  # window: this day + 6 preceding

_R103_SQL = f"""
    WITH base AS (
      SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
               AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    days AS (SELECT min(d) AS d0, max(d) AS d1 FROM base),
    hist AS (SELECT d, cents, count(*) AS c FROM base GROUP BY 1, 2),
    member AS (
      SELECT unnest(range(d, least(d + {_R103_W},
                                   (SELECT d1 FROM days) + 1))) AS wd,
             cents, c
      FROM hist
    ),
    wh AS (
      SELECT wd, cents, sum(c) AS c FROM member GROUP BY 1, 2
    ),
    cum AS (
      SELECT wd, cents,
             sum(c) OVER (PARTITION BY wd ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_n,
             sum(c) OVER (PARTITION BY wd) AS n
      FROM wh
    )
    SELECT CAST(wd AS BIGINT) AS day_num,
           CAST(min(n) AS BIGINT) AS n_vals,
           CAST(min(cents) AS BIGINT) AS median_cents
    FROM cum
    WHERE 2 * cum_n >= n
    GROUP BY wd
"""


def day_cents(t: Column) -> list[Column]:
    """(d, cents): each event's epoch day and its value in cents."""
    return [
        (t / 86400).cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ]


R103 = EventsRule(
    day_cents, lambda e: e.groupBy("d", "cents").agg(F.count("*").alias("c"))
)


@_register("r103_sliding_median", _R103_SQL)
def r103_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-7-day sliding MEDIAN of transaction value per day
    — the robust companion to r51's sliding sums (one whale distorts a
    sliding mean for a week; the median shrugs). Lower-median
    convention, picked multiply-first (smallest value whose cumulative
    count reaches half the window) so no division ever rounds.

    Scale: this is NOT the per-window re-sort: one scan reduces to the
    (day, value) histogram (value-domain bounded, the r91/r100
    posture); each histogram row explodes to only the <= 7 window-days
    it serves (membership inversion — the r94 lowering for sliding
    windows, never a range join that plans BNLJ); the cumulative pick
    runs per window-day over the bounded merged histogram.

    Reference parity: the robust version of the reference dashboard's
    windowed mean (Q4); no reference equivalent."""
    return sliding_median_from_hist(
        R103.reduce(events_projection(spark, sf_dir, R103.cols))
    )


def sliding_median_from_hist(hist: DataFrame) -> DataFrame:
    """(d, cents, c) daily histogram -> per-day trailing-window exact
    median report. Shared by r103 and its streaming twin (s48)."""
    hist = hist.localCheckpoint()  # bounded; feeds bounds AND member
    d1 = hist.agg(F.max("d").alias("d1"))
    # broadcast bound: d1 is 1 row
    member = (
        hist.crossJoin(F.broadcast(d1))
        .select(
            F.explode(
                F.sequence(
                    F.col("d"),
                    F.least(
                        F.col("d") + _R103_W - 1, F.col("d1")
                    ),
                )
            ).alias("wd"),
            "cents",
            "c",
        )
    )
    wh = member.groupBy("wd", "cents").agg(F.sum("c").alias("c"))
    w = Window.partitionBy("wd").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = wh.select(
        "wd",
        "cents",
        F.sum("c").over(w).alias("cum_n"),
        F.sum("c").over(Window.partitionBy("wd")).alias("n"),
    )
    return (
        cum.where(2 * F.col("cum_n") >= F.col("n"))
        .groupBy("wd")
        .agg(
            F.min("n").cast("long").alias("n_vals"),
            F.min("cents").cast("long").alias("median_cents"),
        )
        .select(
            F.col("wd").cast("long").alias("day_num"),
            "n_vals",
            "median_cents",
        )
    )


# ---------------------------------------------------------------------------
# r104: exponentially time-decayed leaderboard — q1's top-scammers
# ranking with recency built in (half-life 7 days). Decay weights are
# ONE shared float-op sequence per (user, day) aggregate row, rounded
# once to micro (the m23 cell discipline), so the decayed scores are
# exact integer sums.
# ---------------------------------------------------------------------------

_R104_HL = 7  # half-life, days
_R104_TOPK = 10
# Exact-integer decay: 2^(-age/7) = 2^(-(age div 7)) * 2^(-(age mod 7)/7).
# The fractional factors are a 7-entry micro table (precomputed literals)
# and the whole-half-life factor is a floor right-shift — NO runtime
# float ever evaluates, because JVM Math.pow and C libm pow disagree by
# an ulp often enough to flip a micro rounding (observed building this).
_R104_FRAC = [1000000, 905724, 820335, 742997, 672950, 609507, 552045]
_R104_CASE = (
    "CASE (d1 - d) % 7 "
    + " ".join(f"WHEN {k} THEN {v}" for k, v in enumerate(_R104_FRAC))
    + " END"
)
_R104_W_SQL = (
    f"(({_R104_CASE}) // (CAST(1 AS BIGINT)"
    " << least((d1 - d) // 7, 62)))"
)
_R104_W_SPARK = (
    f"(({_R104_CASE.replace('%', 'MOD_OP')}) div shiftleft(CAST(1 AS BIGINT),"
    " CAST(least((d1 - d) div 7, 62) AS INT)))"
).replace("MOD_OP", "%")

_R104_SQL = f"""
    WITH base AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
               AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    daily AS (
      SELECT user_id, d, sum(cents) AS day_cents, count(*) AS n
      FROM base GROUP BY 1, 2
    ),
    mx AS (SELECT max(d) AS d1 FROM base),
    weighted AS (
      SELECT user_id,
             day_cents * {_R104_W_SQL} AS wc,
             n
      FROM daily CROSS JOIN mx
    ),
    score AS (
      SELECT user_id,
             CAST(sum(wc) AS BIGINT) AS decayed_micro_cents,
             CAST(sum(n) AS BIGINT) AS n_events
      FROM weighted GROUP BY 1
    )
    SELECT CAST(rk AS BIGINT) AS rk, user_id,
           decayed_micro_cents, n_events
    FROM (
      SELECT *, row_number() OVER (ORDER BY decayed_micro_cents DESC,
                                   user_id ASC) AS rk
      FROM score
    ) WHERE rk <= {_R104_TOPK}
"""


R104 = EventsRule(
    lambda t: ["user_id", *day_cents(t)],
    lambda e: e.groupBy("user_id", "d").agg(
        F.sum("cents").alias("day_cents"), F.count("*").alias("n")
    ),
)


@_register("r104_decayed_leaderboard", _R104_SQL)
def r104_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed top-10 spender leaderboard (half-life
    7 days) — the recency-aware form of the dashboard's all-time top
    scammers (q1): yesterday's whale outranks last month's. Decay
    weights are EXACT integers — a precomputed 7-entry micro table for
    the fractional half-life times a floor right-shift for whole
    half-lives (runtime pow() is banned here: JVM and libm pow differ
    by an ulp often enough to flip a micro rounding) — so decayed
    scores are exact integer sums and ties hash identically.

    Scale: one scan map-side combines to the (user, day) frame
    (key-domain bounded, not row bounded); the decay projection and the
    per-user sum run on that frame; the final top-10 is a k-row
    TakeOrdered, never a global sort materialization.

    Reference parity: generalizes Q1 (dashboards.json top-10) with the
    decay every production leaderboard actually wants; no reference
    equivalent."""
    base = events_projection(spark, sf_dir, R104.cols)
    base = base.localCheckpoint()  # feeds daily AND the max-day bound
    return decayed_leaderboard_from_daily(R104.reduce(base))


def decayed_leaderboard_from_daily(daily: DataFrame) -> DataFrame:
    """(user_id, d, day_cents, n) daily partials -> the decayed top-10.
    Shared by r104 and its streaming twin (s49); the reference day d1
    re-derives from the partials so the merged frame needs nothing
    else."""
    daily = daily.localCheckpoint()  # key-domain bounded
    mx = daily.agg(F.max("d").alias("d1"))
    # broadcast bound: mx is 1 row
    weighted = daily.crossJoin(F.broadcast(mx)).select(
        "user_id",
        (F.col("day_cents") * F.expr(_R104_W_SPARK)).alias("wc"),
        "n",
    )
    score = weighted.groupBy("user_id").agg(
        F.sum("wc").cast("long").alias("decayed_micro_cents"),
        F.sum("n").cast("long").alias("n_events"),
    )
    w = Window.orderBy(F.desc("decayed_micro_cents"), F.asc("user_id"))
    return (
        score.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _R104_TOPK)
        .select(
            F.col("rk").cast("long").alias("rk"),
            "user_id",
            "decayed_micro_cents",
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# r105: exact interpolated percentiles (PERCENTILE_CONT semantics) from
# the value-domain histogram — no corpus sort, no floating quantile math:
# the rank position g = (n-1)*k/100 stays a rational, the bracketing
# values come from cumulative counts, and the interpolation runs in
# exact integer micro-cents.
# ---------------------------------------------------------------------------

_R105_KS = (50, 90, 99)

_R105_SQL = f"""
    WITH base AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    hist AS (
      SELECT flag, cents, count(*) AS c FROM base GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, cents, c,
             sum(c) OVER (PARTITION BY flag ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum_n,
             sum(c) OVER (PARTITION BY flag) AS n
      FROM hist
    ),
    t AS (
      SELECT flag, n, unnest([{", ".join(str(k) for k in _R105_KS)}]) AS k
      FROM (SELECT DISTINCT flag, n FROM cum)
    ),
    lo AS (
      -- bracketing low value: the one holding rank floor(g), 0-indexed
      -- g = (n-1)*k/100; a value v holds ranks [cum_n - c, cum_n - 1]
      SELECT t.flag, t.k, t.n,
             min(cum.cents) AS v_lo,
             min(cum.cum_n) AS cum_lo
      FROM t JOIN cum ON cum.flag = t.flag
                     AND 100 * cum.cum_n > (t.n - 1) * t.k
      GROUP BY 1, 2, 3
    ),
    hi AS (
      -- bracketing high value: the one holding rank floor(g) + 1
      -- (g integral -> same value; frac = 0 makes the upper term vanish)
      SELECT t.flag, t.k,
             min(cum.cents) AS v_hi
      FROM t JOIN cum ON cum.flag = t.flag
                     AND 100 * cum.cum_n > (t.n - 1) * t.k + 100
      GROUP BY 1, 2
    )
    SELECT lo.flag AS l_returnflag, CAST(lo.k AS BIGINT) AS pct,
           CAST(lo.n AS BIGINT) AS n,
           -- frac_micro = ((g_num % 100) * 1e6) // 100 with
           -- g_num = (n-1)*k; interp in micro-cents needs NO final
           -- division: cents * frac_micro IS micro-cents
           CAST(lo.v_lo * 1000000
                + (coalesce(hi.v_hi, lo.v_lo) - lo.v_lo)
                  * ((((lo.n - 1) * lo.k) % 100) * 1000000 // 100)
                AS BIGINT) AS pctl_micro_cents
    FROM lo LEFT JOIN hi ON hi.flag = lo.flag AND hi.k = lo.k
"""


@_register("r105_percentile_cont", _R105_SQL)
def r105_percentile_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact PERCENTILE_CONT (linear interpolation between closest
    ranks) of extended price per return flag, at p50/p90/p99 — the
    ANSI-exact form of the percentile surface (r35 approximates, r68
    takes the discrete percentile): position g = (n-1)*k/100 stays an
    exact rational (multiply-first comparisons pick the two bracketing
    values from cumulative counts), and the interpolation
    v_lo + (v_hi - v_lo) * frac runs entirely in integer micro-cents —
    no float quantile arithmetic anywhere, so the hash pins the exact
    ANSI semantics including integral-position edges.

    Scale: the value-domain histogram posture (r100/r103) — one scan to
    (flag, cents) counts, cumulative windows over the bounded
    histogram, bracketing via two theta joins of the 3-row-per-flag
    target frame. Never a corpus sort.

    Reference parity: no reference equivalent; ANSI SQL
    PERCENTILE_CONT semantics."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    hist = base.groupBy("flag", "cents").agg(F.count("*").alias("c"))
    hist = hist.localCheckpoint()  # value-domain bounded
    w = Window.partitionBy("flag").orderBy("cents").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "flag",
        "cents",
        F.sum("c").over(w).alias("cum_n"),
        F.sum("c").over(Window.partitionBy("flag")).alias("n"),
    ).localCheckpoint()
    t = (
        cum.select("flag", "n")
        .distinct()
        .select(
            "flag",
            "n",
            F.explode(
                F.array(*[F.lit(k) for k in _R105_KS])
            ).alias("k"),
        )
    )
    cum2 = cum.select(
        F.col("flag").alias("cflag"), "cents", "cum_n"
    )
    lo = (
        t.join(
            cum2,
            (F.col("cflag") == F.col("flag"))
            & (100 * F.col("cum_n") > (F.col("n") - 1) * F.col("k")),
        )
        .groupBy("flag", "k", "n")
        .agg(F.min("cents").alias("v_lo"))
    )
    hi = (
        t.join(
            cum2,
            (F.col("cflag") == F.col("flag"))
            & (
                100 * F.col("cum_n")
                > (F.col("n") - 1) * F.col("k") + 100
            ),
        )
        .groupBy("flag", "k")
        .agg(F.min("cents").alias("v_hi"))
        .withColumnRenamed("flag", "hflag")
        .withColumnRenamed("k", "hk")
    )
    j = lo.join(
        hi,
        (F.col("hflag") == F.col("flag")) & (F.col("hk") == F.col("k")),
        "left",
    )
    frac_micro = F.expr("(((n - 1) * k) % 100) * 1000000 div 100")
    return j.select(
        F.col("flag").alias("l_returnflag"),
        F.col("k").cast("long").alias("pct"),
        F.col("n").cast("long").alias("n"),
        (
            F.col("v_lo") * 1000000
            + (F.coalesce("v_hi", F.col("v_lo")) - F.col("v_lo"))
            * frac_micro
        )
        .cast("long")
        .alias("pctl_micro_cents"),
    )


# ---------------------------------------------------------------------------
# r106-r115: the fraud-rules pack. The reference IS a fraud-detection
# pipeline (its whole topology is one `amount > 10000` branch,
# TransactionProcessor.java:37-41); these queries add the classic
# rule-based detection surface a real deployment of that dashboard
# would run next: velocity, repeated amounts, structuring, dormancy
# reactivation, round-amount bias, peer-group deviation. Every rule is
# a declarative window/agg plan over event time — no state machines,
# no per-row Python.
# ---------------------------------------------------------------------------

_R106_WINDOW_S = 86400  # trailing 24 h
_R106_K = 8  # alert when the trailing count reaches K

_R106_SQL = f"""
    WITH e AS (
      SELECT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    c AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN {_R106_WINDOW_S - 1} PRECEDING
                            AND CURRENT ROW) AS c24
      FROM e
    )
    SELECT user_id,
           CAST(count(*) FILTER (c24 >= {_R106_K}) AS BIGINT) AS n_alerts,
           CAST(max(c24) AS BIGINT) AS max_trailing
    FROM c
    GROUP BY user_id
    HAVING count(*) FILTER (c24 >= {_R106_K}) > 0
"""


@_register("r106_velocity_alerts", _R106_SQL)
def r106_velocity_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Velocity rule: alert every event whose trailing-24h per-user
    event count reaches K — the "too many transactions too fast" rule
    that is the first thing a fraud team adds after the reference's
    single amount threshold (TransactionProcessor.java:37-41). One
    event-time RANGE frame per user computes the trailing count
    exactly (ties at the same second included, RANGE not ROWS), then
    a per-user rollup reports alert count and peak velocity.

    Scale: one shuffle on user_id serves both the window and the
    rollup (the groupBy reuses the window's partitioning). The RANGE
    frame is streaming-evaluated per partition — no self-join, no
    all-pairs. Skewed hot users degrade to a single partition's sort,
    which AQE handles; the frame itself is O(events-in-24h) memory.

    Reference parity: extends the amount-threshold branch
    (TransactionProcessor.java:37) to the time dimension."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    e = ev.select("user_id", s.alias("s"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-(_R106_WINDOW_S - 1), Window.currentRow)
    )
    c = e.select("user_id", F.count("*").over(w).alias("c24"))
    return (
        c.groupBy("user_id")
        .agg(
            F.sum((F.col("c24") >= _R106_K).cast("long")).alias("n_alerts"),
            F.max("c24").cast("long").alias("max_trailing"),
        )
        .where(F.col("n_alerts") > 0)
    )


_R107_GAP_S = 86400  # same-amount repeat within a day

_R107_SQL = f"""
    WITH e AS (
      SELECT user_id, CAST(round(value) AS BIGINT) AS v,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    l AS (
      SELECT user_id, v, s,
             s - lag(s) OVER (PARTITION BY user_id, v ORDER BY s) AS gap
      FROM e
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_repeats,
           CAST(min(gap) AS BIGINT) AS min_gap_s,
           CAST(count(DISTINCT v) AS BIGINT) AS n_amounts
    FROM l
    WHERE gap IS NOT NULL AND gap <= {_R107_GAP_S}
    GROUP BY user_id
"""


@_register("r107_duplicate_txn", _R107_SQL)
def r107_duplicate_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-amount rule: the same user posting the same (rounded)
    amount again within 24 h — the classic double-swipe / card-testing
    signal. A lag over (user, amount) ordered by event time finds each
    repeat in one pass; the per-user rollup reports repeat count,
    tightest gap, and how many distinct amounts repeated.

    Scale: one shuffle keyed (user_id, v) for the lag — never a
    self-join (the naive form is events x events on user+amount+range,
    quadratic in hot keys). The rollup re-shuffles the tiny repeat
    subset only.

    Reference parity: the reference's duplicate alerts would hit the
    same fraud-alerts topic (FraudAlertConsumer.java:57-76); public
    rule, no reference implementation."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    e = ev.select(
        "user_id",
        F.round("value").cast("long").alias("v"),
        s.alias("s"),
    )
    w = Window.partitionBy("user_id", "v").orderBy("s")
    l = e.select(
        "user_id",
        "v",
        (F.col("s") - F.lag("s").over(w)).alias("gap"),
    )
    return (
        l.where(F.col("gap").isNotNull() & (F.col("gap") <= _R107_GAP_S))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_repeats"),
            F.min("gap").alias("min_gap_s"),
            F.countDistinct("v").alias("n_amounts"),
        )
    )


_R108_LO, _R108_HI = 90.0, 100.0  # just-under-threshold band
_R108_K = 2  # incidents per user-day

_R108_SQL = f"""
    WITH e AS (
      SELECT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE value >= {_R108_LO} AND value < {_R108_HI}
    )
    SELECT user_id, CAST(d AS BIGINT) AS d,
           CAST(count(*) AS BIGINT) AS n_band,
           CAST(sum(cents) AS BIGINT) AS band_cents
    FROM e
    GROUP BY user_id, d
    HAVING count(*) >= {_R108_K}
"""


R108 = EventsRule(
    lambda t: ["user_id", (t / 86400).cast("long").alias("d"), "value"],
    # The band tests the raw amount, as the oracle does: 99.996 is in
    # the band although its cents round to 10000.
    lambda e: (
        e.where((F.col("value") >= _R108_LO) & (F.col("value") < _R108_HI))
        .groupBy("user_id", "d")
        .agg(
            F.count("*").alias("n_band"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("band_cents"),
        )
    ),
)


@_register("r108_structuring", _R108_SQL)
def r108_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structuring (smurfing) rule: multiple same-day amounts parked
    just under a round threshold (here the [90, 100) band under 100) —
    splitting one large transfer into several sub-threshold ones. The
    plan is a filter + (user, day) count: the band predicate pushes
    down to the parquet scan, so at 100 TB the shuffle sees only the
    ~2% of rows inside the band.

    Scale: predicate pushdown does the work (check PushedFilters on
    value); the agg shuffles band rows only, keyed (user_id, d). Sums
    in integer cents.

    Reference parity: the inverse of the reference's `> 10000` branch
    (TransactionProcessor.java:37) — amounts engineered to stay UNDER
    the alert line; public AML rule."""
    return structuring_from_userday(
        R108.reduce(events_projection(spark, sf_dir, R108.cols))
    )


_R109_DORMANT_S = 3 * 86400  # dormancy gap
_R109_BURST_S = 86400  # post-reactivation burst window

_R109_SQL = f"""
    WITH e AS (
      SELECT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    g AS (
      SELECT user_id, s,
             s - lag(s) OVER (PARTITION BY user_id ORDER BY s) AS gap,
             count(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN CURRENT ROW
                            AND {_R109_BURST_S - 1} FOLLOWING) AS burst
      FROM e
    )
    SELECT user_id, CAST(s AS BIGINT) AS reactivated_s,
           CAST(gap AS BIGINT) AS dormant_s,
           CAST(burst AS BIGINT) AS burst_n,
           CAST(burst >= 2 AS BOOLEAN) AS burst_flag
    FROM g
    WHERE gap > {_R109_DORMANT_S}
"""


@_register("r109_dormancy_reactivation", _R109_SQL)
def r109_dormancy_reactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dormancy-reactivation rule: an account silent for > 3 days that
    suddenly posts again — with the burst size in the following 24 h
    (account-takeover pattern: dormant, then rapid-fire). One window
    pass per user computes BOTH the backward gap (lag) and the forward
    burst (RANGE CURRENT ROW .. 24h FOLLOWING) — same shuffle, same
    sort, two frames.

    Scale: single user_id shuffle; both frames stream within the
    partition. Output is gap-filtered (reactivations only), so the
    result is alert-sized, not corpus-sized.

    Reference parity: public rule; would feed the reference's
    fraud-alerts topic like R6 does."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    e = ev.select("user_id", s.alias("s"))
    wl = Window.partitionBy("user_id").orderBy("s")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(Window.currentRow, _R109_BURST_S - 1)
    )
    g = e.select(
        "user_id",
        "s",
        (F.col("s") - F.lag("s").over(wl)).alias("gap"),
        F.count("*").over(wf).alias("burst"),
    )
    return g.where(F.col("gap") > _R109_DORMANT_S).select(
        "user_id",
        F.col("s").alias("reactivated_s"),
        F.col("gap").alias("dormant_s"),
        F.col("burst").alias("burst_n"),
        (F.col("burst") >= 2).alias("burst_flag"),
    )


_R110_MIN_N = 30  # minimum sample for the per-user z

_R110_SQL = f"""
    WITH e AS (
      SELECT user_id,
             CAST(CAST(round(value * 100) AS BIGINT) % 100 = 0 AS INT) AS r
      FROM events
    ),
    u AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(r) AS BIGINT) AS round_n
      FROM e GROUP BY user_id
    ),
    gl AS (SELECT sum(round_n)::DOUBLE / sum(n)::DOUBLE AS p FROM u)
    SELECT u.user_id, u.n, u.round_n,
           CAST(u.round_n AS DOUBLE) / u.n AS share,
           (u.round_n - u.n * gl.p)
             / sqrt(u.n * gl.p * (1 - gl.p)) AS z
    FROM u, gl
    WHERE u.n >= {_R110_MIN_N}
"""


@_register("r110_round_amount_bias", _R110_SQL)
def r110_round_amount_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-amount bias: fabricated transactions over-use whole
    amounts (cents == 0). Per user: round-amount count, share, and the
    binomial z-score against the GLOBAL round share (one-sample
    proportion test per account). Exact integer counts feed a single
    closed-form float expression, evaluated identically on both
    engines.

    Scale: one user-keyed agg; the global rate is a 1-row frame
    cross-joined (broadcast bound: 1 row). No second scan — the global
    rate derives from the per-user partials.

    Reference parity: public forensic-accounting rule (cousin of m42's
    Benford test) over the reference's amount field."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        (
            (F.round(F.col("value") * 100).cast("long") % 100 == 0)
        ).cast("int").alias("r"),
    )
    u = e.groupBy("user_id").agg(
        F.count("*").alias("n"), F.sum("r").cast("long").alias("round_n")
    )
    u = u.localCheckpoint()  # user-domain bounded; feeds global AND output
    gl = u.agg(
        (
            F.sum("round_n").cast("double") / F.sum("n").cast("double")
        ).alias("p")
    )
    # broadcast bound: gl is 1 row
    j = u.crossJoin(F.broadcast(gl))
    return j.where(F.col("n") >= _R110_MIN_N).select(
        "user_id",
        "n",
        "round_n",
        (F.col("round_n").cast("double") / F.col("n")).alias("share"),
        (
            (F.col("round_n") - F.col("n") * F.col("p"))
            / F.sqrt(F.col("n") * F.col("p") * (1 - F.col("p")))
        ).alias("z"),
    )


_R111_SQL = """
    WITH cust AS (
      SELECT c.c_custkey, c.c_nationkey,
             CAST(count(*) AS BIGINT) AS n_orders,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS spend_cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    peer AS (
      SELECT c_nationkey,
             sum(spend_cents)::DOUBLE / sum(n_orders)::DOUBLE
               AS peer_avg_cents,
             CAST(count(*) AS BIGINT) AS peers
      FROM cust GROUP BY 1
    )
    SELECT cust.c_custkey, cust.c_nationkey, cust.n_orders,
           cust.spend_cents, peer.peers,
           (cust.spend_cents::DOUBLE / cust.n_orders)
             / peer.peer_avg_cents AS dev_ratio
    FROM cust JOIN peer USING (c_nationkey)
    WHERE (cust.spend_cents::DOUBLE / cust.n_orders)
            > 1.4 * peer.peer_avg_cents
"""


@_register("r111_peer_deviation", _R111_SQL)
def r111_peer_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peer-group deviation: customers whose average order value runs
    > 1.4x their nation's peer average — the outlier-vs-cohort rule
    (every fraud scoring stack has one). Two-level aggregate: per-
    customer partials, then the nation peer average derived FROM those
    partials (never a second scan of orders), then a broadcast-back
    comparison.

    Scale: orders shuffles once on o_custkey (the join and the agg
    share it). The peer frame is nation-domain (25 rows) — broadcast
    bound: |nations|. The deviation filter happens map-side after the
    broadcast join.

    Reference parity: public rule; the cohort version of the
    reference's global threshold (TransactionProcessor.java:37)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents"),
        )
    )
    return peer_deviation_from_cust(cust)


_R112_SQL = """
    WITH h AS (
      SELECT user_id, CAST(date_part('hour', ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS hours_active,
             sum(c * ln(c)) AS slc
      FROM h GROUP BY 1
    )
    SELECT user_id, n, hours_active,
           CAST(round((ln(CAST(n AS DOUBLE)) - slc / n) * 1000000000.0, 0)
                AS BIGINT) AS entropy_nanonats
    FROM u
"""


@_register("r112_hourly_profile_entropy", _R112_SQL)
def r112_hourly_profile_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day profile entropy per user: Shannon entropy of the
    24-bin activity histogram, via the aggregation-friendly identity
    H = ln(n) - (sum c*ln c)/n — bots and scripted card-testing show
    near-uniform (high) or single-spike (near-zero) entropy where
    humans sit in between. Both engines evaluate the same 24-term
    float sum on identical integer counts; the result is compared in
    the exact-integer NANO-NAT representation (the house
    ``CAST(round(x*1e9) AS BIGINT)`` recipe) because libm ln() differs
    by ulps between the JVM and DuckDB — at sf0.1 the raw doubles
    diverged in the last bits for 3 of 1500 users (accumulated term
    error ~1e-13). Quantizing the SAME scaled double on both engines
    removes the Spark-BigDecimal-HALF_UP vs DuckDB-scaled-double
    divergence a ``round(x, 9)`` double output would retain; the
    residual risk is only a value within ~1e-4 integer units of a
    .5 boundary, audited absent on the actual sf0.001/0.01/0.1 data
    (min margin recorded in tests/test_relational3.py).

    Scale: (user, hour) agg then user agg — the second agg reuses the
    first's user-side partitioning; 24 rows max per user. No windows,
    no joins.

    Reference parity: public behavioral-profiling rule over the
    reference's event-time field (FraudAlertConsumer.java:67)."""
    ev = load_table(spark, sf_dir, "events")
    h = (
        ev.select("user_id", F.hour("ts").alias("hr"))
        .groupBy("user_id", "hr")
        .agg(F.count("*").alias("c"))
    )
    u = h.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").alias("hours_active"),
        F.sum(F.col("c") * F.log(F.col("c"))).alias("slc"),
    )
    return u.select(
        "user_id",
        "n",
        "hours_active",
        F.round(
            (F.log(F.col("n").cast("double")) - F.col("slc") / F.col("n"))
            * F.lit(1000000000.0),
            0,
        )
        .cast("long")
        .alias("entropy_nanonats"),
    )


_R113_SQL = """
    WITH d AS (
      SELECT DISTINCT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d
      FROM events
    ),
    g AS (
      SELECT user_id, d,
             d - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS grp
      FROM d
    ),
    runs AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS run_len,
             CAST(min(d) AS BIGINT) AS run_start
      FROM g GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_streak,
           CAST(min(run_start) FILTER (
             run_len = (SELECT max(r2.run_len) FROM runs r2
                        WHERE r2.user_id = runs.user_id)
           ) AS BIGINT) AS streak_start_d,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM runs
    GROUP BY user_id
"""


@_register("r113_longest_streak", _R113_SQL)
def r113_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-active-day streak per user (gaps-and-
    islands): distinct active days, island id = day - row_number, run
    lengths per island, max per user — plus the start day of the
    (earliest) longest streak and the island count. The deterministic
    tie-break (earliest start among maximal runs) is pinned on both
    sides.

    Scale: the distinct collapses events to user-days first, so the
    window sorts |user-days| not |events|; everything after is
    user-keyed and reuses one shuffle. The streak-start tie-break is a
    max_by over the bounded runs frame, not a re-scan.

    Reference parity: gaps-and-islands is public SQL folklore; the
    behavioral cousin of the reference's per-user keying
    (TransactionProducer.java:30)."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    d = ev.select("user_id", (s / 86400).cast("long").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    g = d.select("user_id", "d", (F.col("d") - F.row_number().over(w)).alias("grp"))
    runs = g.groupBy("user_id", "grp").agg(
        F.count("*").alias("run_len"), F.min("d").alias("run_start")
    )
    return runs.groupBy("user_id").agg(
        F.max("run_len").cast("long").alias("longest_streak"),
        F.expr("min_by(run_start, struct(-run_len, run_start))")
        .cast("long")
        .alias("streak_start_d"),
        F.count("*").alias("n_runs"),
    ).select("user_id", "longest_streak", "streak_start_d", "n_runs")


_R114_BINS = 10
_R114_WIDTH_CENTS = 5000  # 10 bins x 50.00 covers [0, 500)

_R114_SQL = f"""
    WITH e AS (
      SELECT CAST(round(value * 100) AS BIGINT) // {_R114_WIDTH_CENTS}
               AS bin,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    h AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM e GROUP BY 1
    )
    SELECT CAST(b.bin AS BIGINT) AS bin,
           CAST(b.bin * {_R114_WIDTH_CENTS} AS BIGINT) AS lo_cents,
           coalesce(h.n, 0) AS n,
           coalesce(h.sum_cents, 0) AS sum_cents
    FROM (SELECT unnest(range(0, {_R114_BINS})) AS bin) b
    LEFT JOIN h ON h.bin = b.bin
"""


R114 = EventsRule(
    lambda t: [
        "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ],
    lambda e: (
        e.select(
            (F.col("cents") / _R114_WIDTH_CENTS).cast("long").alias("bin"),
            "cents",
        )
        .groupBy("bin")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
    ),
)


@_register("r114_equiwidth_histogram", _R114_SQL)
def r114_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width amount histogram with EMPTY BINS MATERIALIZED — the
    exact form of the reference's Grafana amount histogram panel
    (README.md:342-356, screenshots/AmountHistogram.jpg), which draws
    zero-height bars for empty buckets; the data-driven groupBy alone
    cannot produce those rows, so a generated bin scaffold LEFT JOINs
    the counted bins (the complement of r100's equi-DEPTH histogram).

    Scale: the histogram agg is one map-side-combinable shuffle of
    bin keys (10 distinct); the scaffold is a literal range — the
    join is scaffold-sized, broadcast bound: {_R114_BINS} rows.

    Reference parity: README.md:342-356 (amount histogram panel)."""
    return equiwidth_from_bins(
        spark, R114.reduce(events_projection(spark, sf_dir, R114.cols))
    )


_R115_SQL = """
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS INT) AS y,
             CAST(date_part('month', o_orderdate) AS INT) AS mo,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS rev_cents,
             CAST(count(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT y, mo, rev_cents, n_orders,
           rev_cents - lag(rev_cents) OVER w AS mom_delta_cents,
           CASE WHEN lag(rev_cents) OVER w IS NULL THEN NULL
                ELSE (rev_cents - lag(rev_cents) OVER w)::DOUBLE
                     / lag(rev_cents) OVER w END AS mom_pct
    FROM m
    WINDOW w AS (ORDER BY y, mo)
"""


R115 = EventsRule(
    lambda t: [
        F.year("o_orderdate").alias("y"),
        F.month("o_orderdate").alias("mo"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ],
    lambda o: o.groupBy("y", "mo").agg(
        F.sum("cents").alias("rev_cents"), F.count("*").alias("n_orders")
    ),
    "orders",
)


@_register("r115_period_over_period", _R115_SQL)
def r115_period_over_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue: per-month integer-cents totals with
    the previous-month delta and percent change — the
    period-over-period comparison every revenue dashboard (including
    the reference's Grafana stat panels, README.md:342-356) bolts on.
    The delta stays exact integer cents; only the ratio is float, and
    both engines divide the same two integers.

    Scale: one month-keyed agg (map-side combinable, |months|
    distinct keys); the lag runs over the MONTH-bounded frame — the
    unpartitioned window is safe because its input is calendar-sized,
    never corpus-sized.

    Reference parity: README.md:342-356 (stat tiles over time)."""
    return mom_from_monthly(
        R115.reduce(events_projection(spark, sf_dir, R115.cols, R115.table))
    )


def velocity_from_second_counts(sc: DataFrame) -> DataFrame:
    """(user_id, s, c) per-second counts -> r106's exact output. Events
    sharing a second share their trailing-24h count (a RANGE frame
    includes all order-value peers), so the per-event statistic
    collapses onto the per-second frame: trailing = windowed sum of c,
    alerts = sum(c) where trailing >= K. Shared by the s50 streaming
    twin, whose micro-batch partials are exactly these counts."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-(_R106_WINDOW_S - 1), Window.currentRow)
    )
    t = sc.select(
        "user_id", "c", F.sum("c").over(w).alias("trailing")
    )
    return (
        t.groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("trailing") >= _R106_K, F.col("c")).otherwise(0)
            )
            .cast("long")
            .alias("n_alerts"),
            F.max("trailing").cast("long").alias("max_trailing"),
        )
        .where(F.col("n_alerts") > 0)
    )


def structuring_from_userday(ud: DataFrame) -> DataFrame:
    """(user_id, d, n_band, band_cents) partials -> r108's output: merge
    by key, apply the >= K incident cut. Shared by the s51 twin."""
    return (
        ud.groupBy("user_id", "d")
        .agg(
            F.sum("n_band").cast("long").alias("n_band"),
            F.sum("band_cents").cast("long").alias("band_cents"),
        )
        .where(F.col("n_band") >= _R108_K)
        .select(
            "user_id",
            F.col("d").cast("long").alias("d"),
            "n_band",
            "band_cents",
        )
    )


def equiwidth_from_bins(spark: SparkSession, h: DataFrame) -> DataFrame:
    """(bin, n, sum_cents) partials -> r114's output including the
    materialized empty bins. Shared by the s52 twin."""
    m = h.groupBy("bin").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sum_cents").cast("long").alias("sum_cents"),
    )
    scaffold = spark.range(_R114_BINS).select(F.col("id").alias("bin"))
    # broadcast bound: merged bin frame is <= _R114_BINS rows
    j = scaffold.join(F.broadcast(m), "bin", "left")
    return j.select(
        "bin",
        (F.col("bin") * _R114_WIDTH_CENTS).cast("long").alias("lo_cents"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n"),
        F.coalesce("sum_cents", F.lit(0)).cast("long").alias("sum_cents"),
    )


_R116_WINDOW_S = 86400  # attribution lookback
_R116_TOUCH = ("click", "view")

_R116_SQL = f"""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT) AS t,
             CASE WHEN event_type IN ('click', 'view') THEN 0 ELSE 1 END
               AS kind
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
    ),
    m AS (
      SELECT user_id, event_type, t, kind,
             last_value(CASE WHEN kind = 0 THEN event_type END IGNORE NULLS)
               OVER w AS last_touch_type,
             last_value(CASE WHEN kind = 0 THEN t END IGNORE NULLS)
               OVER w AS last_touch_t
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY t, kind, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT coalesce(CASE WHEN last_touch_t >= t - {_R116_WINDOW_S}
                         THEN last_touch_type END, 'none') AS touch_type,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM m
    WHERE kind = 1
    GROUP BY 1
"""


@_register("r116_touch_attribution", _R116_SQL)
def r116_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credits the most recent
    click/view by the same user within the 24 h lookback, else 'none'
    — the marketing-analytics join that is NOT a join: interleave
    touches and purchases on one (user, time, kind, id) order and
    carry the last touch forward with last_value(... IGNORE NULLS)
    over ROWS UNBOUNDED PRECEDING .. 1 PRECEDING. Same-second
    purchase/touch ties order touch-first (kind), then event_id —
    pinned identically on both engines.

    Scale: ONE user_id shuffle; the carried columns are two scalars
    per row regardless of lookback depth (compare: the naive as-of
    self-join is events x touches). The report agg is
    touch-type-domain.

    Reference parity: none in reference; public attribution
    methodology (last-touch)."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    e = ev.where(
        F.col("event_type").isin(*_R116_TOUCH, "purchase")
    ).select(
        "user_id",
        "event_id",
        "event_type",
        s.alias("t"),
        F.when(F.col("event_type").isin(*_R116_TOUCH), 0)
        .otherwise(1)
        .alias("kind"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("t", "kind", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch_type = F.when(F.col("kind") == 0, F.col("event_type"))
    touch_t = F.when(F.col("kind") == 0, F.col("t"))
    m = e.select(
        "event_type",
        "t",
        "kind",
        F.last(touch_type, ignorenulls=True).over(w).alias("last_touch_type"),
        F.last(touch_t, ignorenulls=True).over(w).alias("last_touch_t"),
    )
    return (
        m.where(F.col("kind") == 1)
        .select(
            F.coalesce(
                F.when(
                    F.col("last_touch_t") >= F.col("t") - _R116_WINDOW_S,
                    F.col("last_touch_type"),
                ),
                F.lit("none"),
            ).alias("touch_type")
        )
        .groupBy("touch_type")
        .agg(F.count("*").alias("n_purchases"))
    )


_R117_Q = 5  # quintile scores 1..5

_R117_SQL = f"""
    WITH rfm AS (
      SELECT o_custkey AS ck,
             CAST((SELECT max(CAST(date_part('epoch', o_orderdate) AS BIGINT))
                   FROM orders)
                  - max(CAST(date_part('epoch', o_orderdate) AS BIGINT))
                  AS BIGINT) // 86400 AS r_days,
             CAST(count(*) AS BIGINT) AS f_orders,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS m_cents
      FROM orders GROUP BY 1
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rfm),
    bounds AS (
      SELECT metric, k,
             min(v) FILTER (5 * cum >= k * n) AS b
      FROM (
        SELECT metric, v, n,
               sum(c) OVER (PARTITION BY metric ORDER BY v) AS cum
        FROM (
          SELECT 'r' AS metric, r_days AS v, count(*) AS c FROM rfm GROUP BY 2
          UNION ALL
          SELECT 'f', f_orders, count(*) FROM rfm GROUP BY 2
          UNION ALL
          SELECT 'm', m_cents, count(*) FROM rfm GROUP BY 2
        ), n
      ),
      (SELECT unnest(range(1, {_R117_Q})) AS k)
      GROUP BY 1, 2
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_cust,
           CAST(sum(m_cents) AS BIGINT) AS seg_cents
    FROM (
      SELECT ck, m_cents,
             CAST(1 + (SELECT count(*) FROM bounds
                       WHERE metric = 'r' AND rfm.r_days > bounds.b)
                  AS INT) AS r_score,
             CAST(1 + (SELECT count(*) FROM bounds
                       WHERE metric = 'f' AND rfm.f_orders > bounds.b)
                  AS INT) AS f_score,
             CAST(1 + (SELECT count(*) FROM bounds
                       WHERE metric = 'm' AND rfm.m_cents > bounds.b)
                  AS INT) AS m_score
      FROM rfm
    )
    GROUP BY 1, 2, 3
"""


@_register("r117_rfm_segments", _R117_SQL)
def r117_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: recency/frequency/monetary quintile scores per
    customer, reported as the (r, f, m) segment histogram with segment
    revenue — computed WITHOUT a corpus sort: quintile boundaries come
    from per-metric VALUE-DOMAIN histograms (cumulative counts, r100's
    equi-depth posture), and each customer's score is 1 + (# boundaries
    strictly below its value) via a broadcast of the 12-row boundary
    frame. NTILE would sort all customers on all three metrics; the
    boundary form scores map-side. Boundary convention (min v with
    5*cum >= k*n, score bumps when v > boundary) is pinned identically
    in both engines.

    Scale: one custkey agg; three bounded histogram frames; boundary
    frame broadcast bound: 3*(Q-1) rows. The segment report agg has a
    125-key domain.

    Reference parity: none in reference; public segmentation
    methodology (Hughes 1994)."""
    o = load_table(spark, sf_dir, "orders")
    epoch = F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    rfm = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.max(epoch).alias("last_epoch"),
        F.count("*").alias("f_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("m_cents"),
    )
    rfm = rfm.localCheckpoint()  # customer-domain bounded partials
    mx = rfm.agg(F.max("last_epoch").alias("gmax"))
    # broadcast bound: 1 row
    rfm = rfm.crossJoin(F.broadcast(mx)).select(
        "ck",
        ((F.col("gmax") - F.col("last_epoch")) / 86400)
        .cast("long")
        .alias("r_days"),
        "f_orders",
        "m_cents",
    )
    rfm = rfm.localCheckpoint()  # feeds histograms AND scoring
    n = rfm.agg(F.count("*").alias("n"))

    def hist(colname: str, metric: str) -> DataFrame:
        return (
            rfm.groupBy(F.col(colname).alias("v"))
            .agg(F.count("*").alias("c"))
            .select(F.lit(metric).alias("metric"), "v", "c")
        )

    h = hist("r_days", "r").unionAll(hist("f_orders", "f")).unionAll(
        hist("m_cents", "m")
    )
    wcum = Window.partitionBy("metric").orderBy("v")
    cum = h.select("metric", "v", F.sum("c").over(wcum).alias("cum"))
    ks = spark.range(1, _R117_Q).select(F.col("id").alias("k"))
    # broadcast bound: ks is Q-1 rows; n is 1 row
    bounds = (
        cum.crossJoin(F.broadcast(n))
        .join(F.broadcast(ks), 5 * F.col("cum") >= F.col("k") * F.col("n"))
        .groupBy("metric", "k")
        .agg(F.min("v").alias("b"))
    )
    # broadcast bound: bounds is 3*(Q-1) = 12 rows. ONE cross join +
    # ONE conditional aggregate scores all three metrics (12 rows per
    # customer, single ck exchange) — no per-metric join fan-out.
    x = rfm.crossJoin(F.broadcast(bounds))

    def bumps(metric: str, valcol: str):
        return F.sum(
            (
                (F.col("metric") == metric) & (F.col(valcol) > F.col("b"))
            ).cast("int")
        )

    scored = x.groupBy("ck").agg(
        F.first("m_cents").alias("m_cents"),
        (1 + bumps("r", "r_days") ).cast("int").alias("r_score"),
        (1 + bumps("f", "f_orders")).cast("int").alias("f_score"),
        (1 + bumps("m", "m_cents") ).cast("int").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_cust"),
        F.sum("m_cents").cast("long").alias("seg_cents"),
    )


def mom_from_monthly(m: DataFrame) -> DataFrame:
    """(y, mo, rev_cents, n_orders) monthly partials -> r115's output.
    Merge by month, then the calendar-bounded lag. Shared by s54."""
    m = m.groupBy("y", "mo").agg(
        F.sum("rev_cents").cast("long").alias("rev_cents"),
        F.sum("n_orders").cast("long").alias("n_orders"),
    )
    w = Window.orderBy("y", "mo")  # month-bounded frame
    prev = F.lag("rev_cents").over(w)
    return m.select(
        "y",
        "mo",
        "rev_cents",
        "n_orders",
        (F.col("rev_cents") - prev).alias("mom_delta_cents"),
        F.when(prev.isNull(), F.lit(None).cast("double"))
        .otherwise((F.col("rev_cents") - prev).cast("double") / prev)
        .alias("mom_pct"),
    )


def peer_deviation_from_cust(cust: DataFrame) -> DataFrame:
    """(c_custkey, c_nationkey, n_orders, spend_cents) per-customer
    partials -> r111's output: merge by customer, derive the nation
    peer average from the merged frame, broadcast back, cut at 1.4x.
    Shared by s55."""
    cust = cust.groupBy("c_custkey", "c_nationkey").agg(
        F.sum("n_orders").cast("long").alias("n_orders"),
        F.sum("spend_cents").cast("long").alias("spend_cents"),
    )
    cust = cust.localCheckpoint()  # customer-domain bounded
    peer = cust.groupBy("c_nationkey").agg(
        (
            F.sum("spend_cents").cast("double")
            / F.sum("n_orders").cast("double")
        ).alias("peer_avg_cents"),
        F.count("*").alias("peers"),
    )
    # broadcast bound: |nations| rows (25)
    j = cust.join(F.broadcast(peer), "c_nationkey")
    avg_cents = F.col("spend_cents").cast("double") / F.col("n_orders")
    return j.where(avg_cents > 1.4 * F.col("peer_avg_cents")).select(
        "c_custkey",
        "c_nationkey",
        "n_orders",
        "spend_cents",
        "peers",
        (avg_cents / F.col("peer_avg_cents")).alias("dev_ratio"),
    )


_R118_K = 2  # co-active minutes to flag a pair

_R118_SQL = f"""
    WITH m AS (
      SELECT DISTINCT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 60 AS minute
      FROM events
    ),
    p AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             CAST(count(*) AS BIGINT) AS n_shared_minutes
      FROM m a JOIN m b
        ON a.minute = b.minute AND a.user_id < b.user_id
      GROUP BY 1, 2
    )
    SELECT user_a, user_b, n_shared_minutes
    FROM p WHERE n_shared_minutes >= {_R118_K}
"""


R118 = EventsRule(
    lambda t: ["user_id", (t / 60).cast("long").alias("minute")],
    lambda e: e.select("user_id", "minute").distinct(),
)


@_register("r118_cooccurrence_rings", _R118_SQL)
def r118_cooccurrence_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collusion-ring candidates: user pairs repeatedly active in the
    SAME minute (>= K distinct shared minutes) — the temporal
    co-occurrence screen behind bust-out / mule-ring detection. The
    pair generation is a minute-bucket equi-join over the distinct
    (user, minute) frame; the distinct collapses bursts first so a
    hot user contributes each minute once.

    Scale: pair volume is sum over minutes of (active users choose
    2) — governed by per-minute concurrency, not corpus size; a
    surge minute (say 10k concurrent users) makes its bucket
    quadratic, so production caps or salts pathological buckets the
    same way l02 handles stop-shingles; the cap is an explicit knob,
    not silent truncation. The >= K cut runs after a
    map-side-combinable count.

    Reference parity: none in reference; public AML/collusion
    methodology."""
    # The batch tail takes the raw presence rows; R118.reduce is the
    # twin's per-batch set partial.
    return rings_from_user_minutes(events_projection(spark, sf_dir, R118.cols))


_R120_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT a.d,
             sum(b.x * pow(2.0, -(a.d - b.d))) AS num,
             sum(pow(2.0, -(a.d - b.d))) AS den
      FROM daily a JOIN daily b ON b.d <= a.d
      GROUP BY a.d
    )
    SELECT w.d, daily.x AS day_cents, w.num / w.den AS ewma_cents
    FROM w JOIN daily ON daily.d = w.d
"""


@_register("r120_ewma_smoothing", _R120_SQL)
def r120_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing of daily revenue with half-life = 1 day, in the
    non-recursive (adjust=True) form: ewma_t = sum 2^-(t-i) x_i /
    sum 2^-(t-i). The decay base is EXACTLY 2 so every weight is a
    power of two — IEEE pow(2, -k) is exact on both engines, dodging
    the libm pow() ulp drift that exact-integer r104 was built to
    avoid while keeping the classic smoother shape.

    Scale: corpus -> day-bounded daily frame; the weighted sums are a
    |days|^2/2 pair join over that bounded frame (m41/m43's
    rationale). The deep-history weights underflow to 0 harmlessly.

    Reference parity: the smoothed version of the reference's Grafana
    revenue graph (README.md:342-356); public methodology."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    daily = (
        ev.select(
            (t / 86400).cast("long").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("x"))
    )
    daily = daily.localCheckpoint()  # day-bounded
    a = daily.select(F.col("d").alias("da"))
    b = daily.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    # broadcast bound: both sides are the |days| daily frame
    w = (
        a.join(F.broadcast(b), F.col("db") <= F.col("da"))
        .groupBy("da")
        .agg(
            F.sum(
                F.col("xb") * F.pow(F.lit(2.0), -(F.col("da") - F.col("db")))
            ).alias("num"),
            F.sum(
                F.pow(F.lit(2.0), -(F.col("da") - F.col("db")))
            ).alias("den"),
        )
    )
    return (
        w.join(daily, w.da == daily.d)
        .select(
            F.col("d"),
            F.col("x").alias("day_cents"),
            (F.col("num") / F.col("den")).alias("ewma_cents"),
        )
    )


# Scorecard weights (points per signal) — the composition is the point:
# every term below is one of r106-r110 verbatim.
_R121_W_VEL, _R121_W_REP, _R121_W_STR, _R121_W_BURST, _R121_W_ROUND = (
    5, 2, 8, 10, 15,
)

_R121_SQL = f"""
    WITH vel AS ({_R106_SQL}),
    rep AS ({_R107_SQL}),
    str_ AS ({_R108_SQL}),
    rea AS ({_R109_SQL}),
    rnd AS ({_R110_SQL}),
    sig AS (
      SELECT user_id, n_alerts, 0 AS n_repeats, 0 AS n_struct_days,
             0 AS n_bursts, 0 AS round_flag
      FROM vel
      UNION ALL
      SELECT user_id, 0, n_repeats, 0, 0, 0 FROM rep
      UNION ALL
      SELECT user_id, 0, 0, 1, 0, 0 FROM str_
      UNION ALL
      SELECT user_id, 0, 0, 0, CAST(burst_flag AS INT), 0 FROM rea
      UNION ALL
      SELECT user_id, 0, 0, 0, 0, CAST(z > 3.0 AS INT) FROM rnd
    )
    SELECT user_id,
           CAST(sum(n_alerts) AS BIGINT) AS n_alerts,
           CAST(sum(n_repeats) AS BIGINT) AS n_repeats,
           CAST(sum(n_struct_days) AS BIGINT) AS n_struct_days,
           CAST(sum(n_bursts) AS BIGINT) AS n_bursts,
           CAST(max(round_flag) AS INT) AS round_flag,
           CAST({_R121_W_VEL} * sum(n_alerts)
                + {_R121_W_REP} * sum(n_repeats)
                + {_R121_W_STR} * sum(n_struct_days)
                + {_R121_W_BURST} * sum(n_bursts)
                + {_R121_W_ROUND} * max(round_flag) AS BIGINT) AS score
    FROM sig
    GROUP BY user_id
    HAVING {_R121_W_VEL} * sum(n_alerts)
           + {_R121_W_REP} * sum(n_repeats)
           + {_R121_W_STR} * sum(n_struct_days)
           + {_R121_W_BURST} * sum(n_bursts)
           + {_R121_W_ROUND} * max(round_flag) > 0
"""


@_register("r121_fraud_scorecard", _R121_SQL)
def r121_fraud_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The rule-pack capstone: per-user fraud scorecard combining
    r106-r110 — velocity alerts, same-day amount repeats, structuring
    days, reactivation bursts, round-amount bias (z > 3) — into one
    weighted integer score, exactly how production decision engines
    stack rule points before a review queue. Each signal is the
    registered rule VERBATIM (the engine calls the same plan
    functions; the oracle inlines the same five SQL bodies as CTEs),
    composed via a union of sparse signal rows + one keyed sum — no
    five-way join ladder, no NULL-handling maze.

    Scale: each rule keeps its own optimal plan; the union'd signal
    frame is alert-sized (rows only for users that fired something);
    the final agg is one user-keyed sum. Integer points end to end.

    Reference parity: the multi-rule generalization of the
    reference's single-branch alert (TransactionProcessor.java:37)."""
    vel = r106_velocity_alerts(spark, sf_dir)
    rep = r107_duplicate_txn(spark, sf_dir)
    stru = r108_structuring(spark, sf_dir)
    rea = r109_dormancy_reactivation(spark, sf_dir)
    rnd = r110_round_amount_bias(spark, sf_dir)
    z = F.lit(0).cast("long")
    sig = (
        vel.select("user_id", F.col("n_alerts").cast("long"), z.alias("n_repeats"), z.alias("n_struct_days"), z.alias("n_bursts"), z.alias("round_flag"))
        .unionAll(
            rep.select("user_id", z, F.col("n_repeats").cast("long"), z, z, z)
        )
        .unionAll(
            stru.select("user_id", z, z, F.lit(1).cast("long"), z, z)
        )
        .unionAll(
            rea.select(
                "user_id", z, z, z,
                F.col("burst_flag").cast("long"), z,
            )
        )
        .unionAll(
            rnd.select(
                "user_id", z, z, z, z,
                (F.col("z") > 3.0).cast("long"),
            )
        )
    )
    agg = sig.groupBy("user_id").agg(
        F.sum("n_alerts").cast("long").alias("n_alerts"),
        F.sum("n_repeats").cast("long").alias("n_repeats"),
        F.sum("n_struct_days").cast("long").alias("n_struct_days"),
        F.sum("n_bursts").cast("long").alias("n_bursts"),
        F.max("round_flag").cast("int").alias("round_flag"),
    )
    score = (
        _R121_W_VEL * F.col("n_alerts")
        + _R121_W_REP * F.col("n_repeats")
        + _R121_W_STR * F.col("n_struct_days")
        + _R121_W_BURST * F.col("n_bursts")
        + _R121_W_ROUND * F.col("round_flag")
    ).cast("long")
    return agg.select(
        "user_id",
        "n_alerts",
        "n_repeats",
        "n_struct_days",
        "n_bursts",
        "round_flag",
        score.alias("score"),
    ).where(F.col("score") > 0)


def rings_from_user_minutes(m: DataFrame) -> DataFrame:
    """(user_id, minute) presence rows (duplicates tolerated — the
    distinct here is the merge) -> r118's output. Presence sets merge
    by union+distinct, which is why the streaming twin (s59) can land
    per-batch distinct partials and re-derive pairs at refresh."""
    m = m.distinct()
    a = m.select(F.col("user_id").alias("user_a"), "minute")
    b = m.select(F.col("user_id").alias("user_b"), "minute")
    p = (
        a.join(b, "minute")
        .where(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(F.count("*").alias("n_shared_minutes"))
    )
    return p.where(F.col("n_shared_minutes") >= _R118_K)


_R122_K = 3

_R122_SQL = f"""
    WITH d AS (
      SELECT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM events GROUP BY 1, 2
    )
    SELECT user_id, CAST(d AS BIGINT) AS d, day_cents,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT user_id, d, day_cents,
             rank() OVER (PARTITION BY user_id
                          ORDER BY day_cents DESC) AS rk
      FROM d
    )
    WHERE rk <= {_R122_K}
"""


@_register("r122_topk_with_ties", _R122_SQL)
def r122_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user top-3 revenue days WITH TIES — ANSI FETCH FIRST k ROWS
    WITH TIES semantics via rank() (gaps preserved), the complement
    of r12's exact-k row_number form: equal-revenue days at the cut
    all survive, so no arbitrary tie-break hides a day from the
    report. The output is value-deterministic WITHOUT any id
    tie-break precisely because ties are kept, not cut.

    Scale: one (user, day) agg, one user-keyed window — both on the
    same shuffle; the ranking input is the day-bounded daily frame,
    never raw events.

    Reference parity: the WITH TIES form of the reference's top-N
    panels (README.md:342-356, top10scammers.jpg)."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    d = (
        ev.select(
            "user_id",
            (t / 86400).cast("long").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("user_id", "d")
        .agg(F.sum("cents").cast("long").alias("day_cents"))
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("day_cents"))
    return (
        d.withColumn("rk", F.rank().over(w).cast("long"))
        .where(F.col("rk") <= _R122_K)
        .select("user_id", F.col("d").cast("long").alias("d"), "day_cents", "rk")
    )


_R123_SQL = """
    WITH mv AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS x
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    run AS (
      SELECT user_id,
             row_number() OVER w AS rn,
             sum(x) OVER w AS s
      FROM mv
      WINDOW w AS (PARTITION BY user_id ORDER BY es, event_id)
    ),
    bal AS (
      SELECT user_id, rn, s,
             s - least(0, min(s) OVER wm) AS b,
             CASE WHEN s < least(0, min(s) OVER (PARTITION BY user_id
                    ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING))
                  THEN 1 ELSE 0 END AS hit
      FROM run
      WINDOW wm AS (PARTITION BY user_id ORDER BY rn)
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_moves,
           CAST(max_by(b, rn) AS BIGINT) AS final_balance_cents,
           CAST(max(b) AS BIGINT) AS peak_cents,
           CAST(sum(hit) AS BIGINT) AS floor_hits
    FROM bal GROUP BY 1
"""


@_register("r123_clamped_balance", _R123_SQL)
def r123_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Floor-clamped running wallet balance per user — purchases
    credit, errors debit (chargebacks), and the settled balance never
    goes below zero (the deficit is absorbed, not carried). The naive
    semantics are the sequential recurrence B_n = max(B_{n-1} + x_n,
    0), which no single window function expresses — but it has the
    exact closed form B_n = S_n - min(0, min_{k<=n} S_k) (the
    bounded-below prefix-sum identity: the clamp absorbs exactly the
    deepest sub-zero excursion so far), so TWO window passes (running
    sum, then running min over it) compute it entirely JVM-side. A
    floor hit is a row where the pre-clamp balance would have gone
    negative: S_n < min(0, prefix-min before n). Reports per user the
    final clamped balance, the peak, and how often the floor engaged.

    Scale: one shuffle on user_id; both window passes ride the same
    partitioning (no second exchange — the rn window reuses the sort).
    All arithmetic is exact integer cents; no per-key pandas loop and
    no driver-side recursion.

    Reference parity: none in reference; the clamped-prefix-sum
    identity is textbook (e.g. maximum-subarray/ruin-theory folklore).
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    mv = ev.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "event_id",
        event_seconds().alias("es"),
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("x"),
    )
    return clamped_balance_from_moves(mv)


def clamped_balance_from_moves(mv: DataFrame) -> DataFrame:
    """(user_id, es, event_id, x) signed integer moves -> r123's
    per-user report, via the closed-form clamp identity. Factored so
    the brute-force recurrence closure in tests/test_properties.py
    can drive it with generated ledgers."""
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    run = mv.select(
        "user_id",
        F.row_number().over(w).alias("rn"),
        F.sum("x").over(w).alias("s"),
    )
    wm = Window.partitionBy("user_id").orderBy("rn")
    wprev = wm.rowsBetween(Window.unboundedPreceding, -1)
    bal = run.select(
        "user_id",
        "rn",
        (F.col("s") - F.least(F.lit(0), F.min("s").over(wm))).alias("b"),
        F.when(
            F.col("s") < F.least(F.lit(0), F.min("s").over(wprev)), 1
        )
        .otherwise(0)
        .alias("hit"),
    )
    return bal.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.max_by("b", "rn").cast("long").alias("final_balance_cents"),
        F.max("b").cast("long").alias("peak_cents"),
        F.sum("hit").cast("long").alias("floor_hits"),
    )


_R124_SQL = """
    WITH seq AS (
      SELECT user_id, event_type AS cur,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY epoch(date_trunc('second', ts)), event_id) AS prev
      FROM events
    ),
    tr AS (
      SELECT prev, cur, CAST(count(*) AS BIGINT) AS c
      FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
    ),
    marg AS (SELECT prev, CAST(sum(c) AS BIGINT) AS cp FROM tr GROUP BY 1),
    lp AS (
      SELECT prev, cur,
             CAST(round(ln(c * 1.0 / cp) * 1000000.0, 0) AS BIGINT)
               AS lp_micro
      FROM tr JOIN marg USING (prev)
    ),
    us AS (
      SELECT s.user_id, CAST(count(*) AS BIGINT) AS n_trans,
             CAST(sum(lp_micro) AS BIGINT) AS sum_lp_micro
      FROM seq s JOIN lp ON s.prev = lp.prev AND s.cur = lp.cur
      GROUP BY 1
    )
    SELECT user_id, n_trans, sum_lp_micro,
           sum_lp_micro * 1.0 / n_trans / 1000000.0 AS mean_lp
    FROM us
    WHERE n_trans >= 5
    ORDER BY mean_lp, user_id
    LIMIT 10
"""


@_register("r124_markov_sequence_anomaly", _R124_SQL)
def r124_markov_sequence_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain sequence anomaly: fit the global first-order
    event-type transition matrix, score every user's observed
    transition path by its mean log-likelihood under that matrix, and
    report the 10 most improbable journeys (>= 5 transitions). This
    is the sequence-level fraud screen r99's transition matrix feeds:
    a bot replaying an unusual click->error->click loop scores far
    below organic browse->purchase journeys. Each transition's ln
    probability rounds once to micro (the m23 cell discipline), so
    per-user sums are order-free integers; the mean and the top-10
    cut use the exact integer sum with user_id tie-break.

    Scale: one lag window (single shuffle on user_id), a transition
    matrix bounded by |types|^2 = 25 rows (broadcast, bound stated),
    one keyed re-agg per user, and a global top-10 via the
    TakeOrdered path — no corpus-sized sort.

    Reference parity: none in reference; public first-order Markov
    scoring methodology."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_seconds(),
        "event_id",
    )
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("cur"),
        F.lag("event_type").over(w).alias("prev"),
    ).where(F.col("prev").isNotNull())
    seq = seq.localCheckpoint()  # feeds the matrix AND the per-user scan
    tr = seq.groupBy("prev", "cur").agg(F.count("*").cast("long").alias("c"))
    marg = tr.groupBy("prev").agg(F.sum("c").cast("long").alias("cp"))
    # broadcast bounds: tr/marg/lp are |types|^2-row frames (25 here)
    lp = tr.join(F.broadcast(marg), "prev").select(
        "prev",
        "cur",
        F.round(F.log(F.col("c") * 1.0 / F.col("cp")) * 1e6, 0)
        .cast("long")
        .alias("lp_micro"),
    )
    us = (
        seq.join(F.broadcast(lp), ["prev", "cur"])
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_trans"),
            F.sum("lp_micro").cast("long").alias("sum_lp_micro"),
        )
    )
    return (
        us.where(F.col("n_trans") >= 5)
        .select(
            "user_id",
            "n_trans",
            "sum_lp_micro",
            (F.col("sum_lp_micro") * 1.0 / F.col("n_trans") / 1e6).alias(
                "mean_lp"
            ),
        )
        .orderBy("mean_lp", "user_id")
        .limit(10)
    )


_R125_SQL = """
    WITH v AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch(date_trunc('second', ts)), event_id) AS rn
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             row_number() OVER (PARTITION BY user_id
               ORDER BY epoch(date_trunc('second', ts)), event_id) AS rn
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT coalesce(v.user_id, p.user_id) AS user_id,
             CASE WHEN v.rn IS NOT NULL AND p.rn IS NOT NULL
                  THEN 1 ELSE 0 END AS matched,
             CASE WHEN p.rn IS NULL THEN 1 ELSE 0 END AS uv,
             CASE WHEN v.rn IS NULL THEN 1 ELSE 0 END AS up,
             CASE WHEN v.rn IS NOT NULL AND p.rn IS NOT NULL
                  THEN p.t - v.t END AS lat
      FROM v FULL OUTER JOIN p
        ON v.user_id = p.user_id AND v.rn = p.rn
    )
    SELECT user_id, CAST(sum(matched) AS BIGINT) AS matched,
           CAST(sum(uv) AS BIGINT) AS unmatched_views,
           CAST(sum(up) AS BIGINT) AS unmatched_purchases,
           CAST(sum(lat) AS BIGINT) AS latency_total_s
    FROM m GROUP BY 1
"""


@_register("r125_fifo_event_matching", _R125_SQL)
def r125_fifo_event_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIFO reconciliation of each user's views against purchases —
    the rank-match pattern every settlement/clearing pipeline uses to
    pair two ordered legs one-to-one without a quadratic candidate
    join: the k-th view matches the k-th purchase (both ranked by
    time within user), pairs beyond the shorter leg stay unmatched on
    the longer side. Reports per user the matched count, the leftover
    count on each leg, and the exact total signed view->purchase
    latency in seconds (integer — no float mean crosses the hash).

    Scale: both legs rank inside ONE shuffle on user_id each; the
    pairing is an equi-join on (user_id, rn) — co-partitioned by the
    same key, so AQE plans it shuffle-free off the rank exchanges.
    Never an inequality/range join, never all pairs.

    Reference parity: none in reference; public double-entry
    reconciliation pattern."""
    ev = load_table(spark, sf_dir, "events")
    es = event_seconds()

    def leg(kind: str) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy("t", "event_id")
        return (
            ev.where(F.col("event_type") == kind)
            .select("user_id", "event_id", es.alias("t"))
            .select(
                "user_id", "t", F.row_number().over(w).alias("rn")
            )
        )

    v = leg("view").withColumnsRenamed({"t": "vt"})
    p = leg("purchase").withColumnsRenamed({"t": "pt"})
    m = v.join(p, ["user_id", "rn"], "full_outer")
    both = F.col("vt").isNotNull() & F.col("pt").isNotNull()
    return m.groupBy("user_id").agg(
        F.sum(F.when(both, 1).otherwise(0)).cast("long").alias("matched"),
        F.sum(F.when(F.col("pt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("unmatched_views"),
        F.sum(F.when(F.col("vt").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("unmatched_purchases"),
        F.sum(F.when(both, F.col("pt") - F.col("vt")))
        .cast("long")
        .alias("latency_total_s"),
    )


_R126_SQL = """
    WITH mv AS (
      SELECT user_id, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es,
             CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE -CAST(round(value * 100) AS BIGINT) END AS x
      FROM events WHERE event_type IN ('purchase', 'error')
    ),
    run AS (
      SELECT user_id, es, event_id,
             CAST(sum(x) OVER (PARTITION BY user_id ORDER BY es, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS s
      FROM mv
    ),
    dd AS (
      SELECT user_id, s,
             CAST(max(s) OVER (PARTITION BY user_id ORDER BY es, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS peak
      FROM run
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_moves,
           CAST(max(peak) AS BIGINT) AS peak_cents,
           CAST(max(peak - s) AS BIGINT) AS max_drawdown_cents
    FROM dd GROUP BY 1
"""


@_register("r126_max_drawdown", _R126_SQL)
def r126_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of each user's signed equity curve (purchases
    credit, errors debit — r123's ledger WITHOUT the clamp): MDD =
    max_t (running_max_t - S_t), the standard risk statistic for 'how
    deep under its own high-water mark did this account go'. Two
    window passes over ONE user partitioning (running sum, then
    running max over it — the second window reuses the first's sort,
    no extra exchange), then a keyed max. Exact integer cents end to
    end.

    Scale: one shuffle on user_id; both windows and the final agg ride
    it. No self-join, no per-key loop — this is why the closed-form
    window formulation beats the naive all-prefixes scan at 100 TB.

    Reference parity: none in reference; public statistic (Magdon-
    Ismail & Atiya 2004) on the reference's transaction amounts."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    mv = ev.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "event_id",
        event_seconds().alias("es"),
        F.when(F.col("event_type") == "purchase", cents)
        .otherwise(-cents)
        .alias("x"),
    )
    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    run = mv.select(
        "user_id", "es", "event_id", F.sum("x").over(w).cast("long").alias("s")
    )
    dd = run.select(
        "user_id", "s", F.max("s").over(w).cast("long").alias("peak")
    )
    return dd.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_moves"),
        F.max("peak").cast("long").alias("peak_cents"),
        F.max(F.col("peak") - F.col("s")).cast("long").alias("max_drawdown_cents"),
    )


_R127_SQL = """
    WITH cols AS (
      SELECT CAST(event_id AS VARCHAR) AS event_id_s,
             CAST(user_id AS VARCHAR) AS user_id_s,
             event_type,
             CAST(CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
                  AS VARCHAR) AS day_s,
             CAST(CAST((CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                        // 86400 + 3) % 7 + 1 AS INT) AS VARCHAR) AS dow_s
      FROM events
    ),
    pairs AS (
      SELECT 'event_id->user_id' AS fd, event_id_s AS det, user_id_s AS dep
      FROM cols
      UNION ALL
      SELECT 'user_id->event_type', user_id_s, event_type FROM cols
      UNION ALL
      SELECT 'day->isodow', day_s, dow_s FROM cols
      UNION ALL
      SELECT 'user_id->day', user_id_s, day_s FROM cols
    ),
    keys AS (
      SELECT fd, det, CAST(count(DISTINCT dep) AS BIGINT) AS ndv
      FROM pairs GROUP BY 1, 2
    )
    SELECT fd, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(CASE WHEN ndv > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating_keys,
           CAST(max(ndv) AS BIGINT) AS max_ndv,
           CAST(max(ndv) = 1 AS INT) AS holds
    FROM keys GROUP BY 1
"""


@_register("r127_fd_discovery", _R127_SQL)
def r127_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over a candidate list — the
    profiling companion to r102's FK discovery and r91's ANALYZE: for
    each candidate det->dep, count determinant keys whose dependent
    has more than one distinct value (an FD holds iff zero violating
    keys). The four candidates cover the interesting outcomes: a true
    key FD (event_id->user_id), a structural FD (day->isodow, holds by
    arithmetic), and two expected violations. All columns canonicalize
    to strings so ONE exploded frame carries every pair.

    Scale: one scan explodes each row into |candidates| pair rows
    (map-side, no join), then two keyed aggs; the shuffle is bounded
    by sum of per-pair determinant NDVs, never rows x candidates
    squared. countDistinct inside the first agg is per (fd, det)
    group — Spark's partial-aggregation path handles it without a
    second exchange.

    Reference parity: none in reference; public data-profiling
    methodology (TANE-style violation counting, Huhtala et al. 1999).
    """
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    day = (t / 86400).cast("long")
    cols = ev.select(
        F.col("event_id").cast("string").alias("event_id_s"),
        F.col("user_id").cast("string").alias("user_id_s"),
        "event_type",
        day.cast("string").alias("day_s"),
        ((day + 3) % 7 + 1).cast("int").cast("string").alias("dow_s"),
    )
    pairs = cols.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("event_id->user_id").alias("fd"),
                    F.col("event_id_s").alias("det"),
                    F.col("user_id_s").alias("dep"),
                ),
                F.struct(
                    F.lit("user_id->event_type").alias("fd"),
                    F.col("user_id_s").alias("det"),
                    F.col("event_type").alias("dep"),
                ),
                F.struct(
                    F.lit("day->isodow").alias("fd"),
                    F.col("day_s").alias("det"),
                    F.col("dow_s").alias("dep"),
                ),
                F.struct(
                    F.lit("user_id->day").alias("fd"),
                    F.col("user_id_s").alias("det"),
                    F.col("day_s").alias("dep"),
                ),
            )
        ).alias("p")
    ).select("p.fd", "p.det", "p.dep")
    keys = pairs.groupBy("fd", "det").agg(
        F.countDistinct("dep").cast("long").alias("ndv")
    )
    return keys.groupBy("fd").agg(
        F.count("*").cast("long").alias("n_keys"),
        F.sum((F.col("ndv") > 1).cast("long")).cast("long").alias(
            "n_violating_keys"
        ),
        F.max("ndv").cast("long").alias("max_ndv"),
        (F.max("ndv") == 1).cast("int").alias("holds"),
    )


_R128_SQL = """
    WITH e AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    h AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
    ),
    cum AS (
      SELECT g, cents, c,
             CAST(sum(c) OVER (PARTITION BY g ORDER BY cents
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS cc,
             CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
      FROM h
    ),
    fences AS (
      SELECT g, max(n) AS n,
             min(CASE WHEN cc >= (n + 19) // 20 THEN cents END) AS p05,
             min(CASE WHEN cc >= (19 * n + 19) // 20 THEN cents END) AS p95
      FROM cum GROUP BY g
    )
    SELECT h.g AS event_type, max(f.n) AS n,
           max(f.p05) AS p05_cents, max(f.p95) AS p95_cents,
           CAST(sum(h.c * least(greatest(h.cents, f.p05), f.p95))
                AS BIGINT) AS winsorized_sum,
           sum(h.c * least(greatest(h.cents, f.p05), f.p95)) * 1.0
             / max(f.n) AS winsorized_mean,
           sum(h.c * h.cents) * 1.0 / max(f.n) AS raw_mean
    FROM h JOIN fences f ON f.g = h.g
    GROUP BY h.g
"""


R128 = EventsRule(
    lambda t: [
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ],
    lambda e: e.groupBy("g", "cents").agg(F.count("*").cast("long").alias("c")),
)


@_register("r128_winsorized_stats", _R128_SQL)
def r128_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type amount statistics — the outlier-robust mean
    the reporting layer wants when one whale (or one fraud burst)
    shouldn't move the KPI: clamp every amount into [p05, p95] (exact
    discrete percentiles: smallest value whose cumulative count
    reaches ceil(q*n), computed on the value-domain histogram with
    integer ceiling arithmetic) and report the clamped sum/mean next
    to the raw mean. Complements m52's trimmed mean (which DROPS the
    tails; winsorizing CAPS them — the variant that keeps n constant).

    Scale: one scan to the (type, cents) histogram; the cumulative
    window orders distinct values within each type; the fence frame is
    |types| rows and joins back to the histogram, never to rows. Exact
    integers until the two final mean divisions.

    Reference parity: none in reference; public robust statistics
    (Winsor / Tukey); the robust twin of q2's global tiles."""
    return winsorized_from_hist(
        R128.reduce(events_projection(spark, sf_dir, R128.cols))
    )


def winsorized_from_hist(h: DataFrame) -> DataFrame:
    """(g, cents, c) value-histogram partials -> r128's per-type
    report. Cell counts merge by keyed sum; shared by the s73
    streaming twin."""
    h = h.groupBy("g", "cents").agg(F.sum("c").cast("long").alias("c"))
    h = h.localCheckpoint()  # histogram reused by fences AND the clamp
    wg = Window.partitionBy("g").orderBy("cents")
    wall = Window.partitionBy("g")
    cum = h.select(
        "g",
        "cents",
        "c",
        F.sum("c").over(wg).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    k05 = (F.col("n") + 19) / 20
    k95 = (19 * F.col("n") + 19) / 20
    fences = cum.groupBy("g").agg(
        F.max("n").alias("n"),
        F.min(
            F.when(F.col("cc") >= F.floor(k05), F.col("cents"))
        ).alias("p05"),
        F.min(
            F.when(F.col("cc") >= F.floor(k95), F.col("cents"))
        ).alias("p95"),
    )
    # broadcast bound: fences is |types| rows
    j = h.join(F.broadcast(fences), "g")
    clamped = F.least(F.greatest(F.col("cents"), F.col("p05")), F.col("p95"))
    return j.groupBy("g").agg(
        F.max("n").alias("n"),
        F.max("p05").alias("p05_cents"),
        F.max("p95").alias("p95_cents"),
        F.sum(F.col("c") * clamped).cast("long").alias("winsorized_sum"),
        (F.sum(F.col("c") * clamped) * 1.0 / F.max("n")).alias(
            "winsorized_mean"
        ),
        (F.sum(F.col("c") * F.col("cents")) * 1.0 / F.max("n")).alias(
            "raw_mean"
        ),
    ).withColumnRenamed("g", "event_type")


_R129_ROUNDS = 3

_R129_SQL = f"""
    WITH m AS (
      SELECT DISTINCT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 60 AS minute
      FROM events
    ),
    p AS (
      SELECT a.user_id AS ua, b.user_id AS ub,
             CAST(count(*) AS BIGINT) AS c
      FROM m a JOIN m b ON a.minute = b.minute AND a.user_id < b.user_id
      GROUP BY 1, 2
    ),
    e AS (
      SELECT ua AS u, ub AS v, CAST(1000000 // c AS BIGINT) AS cost FROM p
      UNION ALL
      SELECT ub, ua, CAST(1000000 // c AS BIGINT) FROM p
    ),
    src AS (
      SELECT user_id
      FROM events
      GROUP BY user_id
      ORDER BY sum(CAST(round(value * 100) AS BIGINT)) DESC, user_id
      LIMIT 1
    ),
    d0 AS (SELECT user_id, CAST(0 AS BIGINT) AS dist FROM src),
    d1 AS (
      SELECT user_id, min(dist) AS dist FROM (
        SELECT user_id, dist FROM d0
        UNION ALL
        SELECT e.v, d0.dist + e.cost FROM d0 JOIN e ON e.u = d0.user_id
      ) GROUP BY 1
    ),
    d2 AS (
      SELECT user_id, min(dist) AS dist FROM (
        SELECT user_id, dist FROM d1
        UNION ALL
        SELECT e.v, d1.dist + e.cost FROM d1 JOIN e ON e.u = d1.user_id
      ) GROUP BY 1
    ),
    d3 AS (
      SELECT user_id, min(dist) AS dist FROM (
        SELECT user_id, dist FROM d2
        UNION ALL
        SELECT e.v, d2.dist + e.cost FROM d2 JOIN e ON e.u = d2.user_id
      ) GROUP BY 1
    )
    SELECT user_id, CAST(dist AS BIGINT) AS dist_cost FROM d3
"""


@_register("r129_khop_shortest_path", _R129_SQL)
def r129_khop_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted {_R129_ROUNDS}-hop shortest-path ball around the
    highest-revenue account over the co-occurrence graph — the
    'distance from the kingpin' screen AML investigators run after
    r118 flags rings: edge cost = 1e6/shared-minutes (stronger tie =
    cheaper), {_R129_ROUNDS} unrolled Bellman-Ford relaxations (the
    contract is 'the {_R129_ROUNDS}-hop ball', fixed iteration count
    — no convergence nondeterminism, the l102 discipline), exact
    integer costs throughout.

    Scale: each relaxation is ONE keyed equi-join frontier-frame x
    edges plus a keyed min — the l82 BFS posture with weights; no
    collect, no driver loop state beyond the fixed unroll. Edge volume
    is r118's per-minute-concurrency bound.

    Reference parity: none in reference; public algorithm (Bellman
    1958) on the reference's user graph."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    m = ev.select(
        "user_id", (s / 60).cast("long").alias("minute")
    ).distinct()
    a = m.select(F.col("user_id").alias("ua"), "minute")
    b = m.select(F.col("user_id").alias("ub"), "minute")
    p = (
        a.join(b, "minute")
        .where(F.col("ua") < F.col("ub"))
        .groupBy("ua", "ub")
        .agg(F.count("*").cast("long").alias("c"))
    )
    e = p.select(
        F.col("ua").alias("u"),
        F.col("ub").alias("v"),
        F.expr("CAST(1000000 AS BIGINT) div c").alias("cost"),
    ).unionAll(
        p.select(
            F.col("ub").alias("u"),
            F.col("ua").alias("v"),
            F.expr("CAST(1000000 AS BIGINT) div c").alias("cost"),
        )
    )
    e = e.localCheckpoint()  # reused by every relaxation round
    src = (
        ev.groupBy("user_id")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total")
        )
        .orderBy(F.desc("total"), "user_id")
        .limit(1)
        .select("user_id")
    )
    d = src.select("user_id", F.lit(0).cast("long").alias("dist"))
    for _ in range(_R129_ROUNDS):
        relaxed = d.join(e, d.user_id == e.u).select(
            F.col("v").alias("user_id"), (F.col("dist") + F.col("cost")).alias("dist")
        )
        d = (
            d.select("user_id", "dist")
            .unionAll(relaxed)
            .groupBy("user_id")
            .agg(F.min("dist").cast("long").alias("dist"))
        )
    return d.select("user_id", F.col("dist").alias("dist_cost"))


_R130_T1 = 200_000  # cents: first tier boundary
_R130_T2 = 500_000  # cents: second tier boundary
_R130_R1 = 30_000  # ppm rate inside tier 1
_R130_R2 = 20_000  # ppm rate inside tier 2
_R130_R3 = 10_000  # ppm rate above tier 2

_R130_SQL = f"""
    WITH tx AS (
      SELECT user_id, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    fee AS (
      SELECT user_id, cents,
             least(cents, {_R130_T1}) * {_R130_R1}
             + least(greatest(cents - {_R130_T1}, 0),
                     {_R130_T2} - {_R130_T1}) * {_R130_R2}
             + greatest(cents - {_R130_T2}, 0) * {_R130_R3} AS fee_ppm_cents
      FROM tx
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_tx,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(sum(fee_ppm_cents) AS BIGINT) AS fee_ppm_cents,
           sum(fee_ppm_cents) * 1.0 / (sum(cents) * 1000000.0)
             AS effective_rate
    FROM fee GROUP BY 1
"""


@_register("r130_tiered_fees", _R130_SQL)
def r130_tiered_fees(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progressive tiered fee computation per purchase (the
    marginal-bracket pattern every billing/tax engine runs): each
    amount splits into [0,2k), [2k,5k), [5k,inf) dollar brackets at
    3%/2%/1%, via branch-free clamp arithmetic (least/greatest — no
    CASE ladder, so codegen emits straight-line math). Fees stay in
    exact ppm-cents integers; the per-user effective rate is the one
    float division and DECREASES with spend — the marginal-bracket
    invariant the closure test pins.

    Scale: row-local arithmetic in whole-stage codegen + one keyed
    agg; nothing else.

    Reference parity: none in reference; public progressive-pricing
    pattern on the reference's amount field."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    tx = ev.where(F.col("event_type") == "purchase").select(
        "user_id", cents.alias("cents")
    )
    c = F.col("cents")
    fee = (
        F.least(c, F.lit(_R130_T1)) * _R130_R1
        + F.least(
            F.greatest(c - _R130_T1, F.lit(0)), F.lit(_R130_T2 - _R130_T1)
        )
        * _R130_R2
        + F.greatest(c - _R130_T2, F.lit(0)) * _R130_R3
    )
    return tx.select("user_id", "cents", fee.alias("fee_ppm_cents")).groupBy(
        "user_id"
    ).agg(
        F.count("*").cast("long").alias("n_tx"),
        F.sum("cents").cast("long").alias("total_cents"),
        F.sum("fee_ppm_cents").cast("long").alias("fee_ppm_cents"),
        (
            F.sum("fee_ppm_cents") * 1.0 / (F.sum("cents") * 1000000.0)
        ).alias("effective_rate"),
    )


_R131_SQL = """
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400 AS d
      FROM events
    ),
    fs AS (SELECT user_id, min(d) AS f FROM ud GROUP BY 1),
    act AS (SELECT d, CAST(count(*) AS BIGINT) AS active FROM ud GROUP BY 1),
    new_ AS (SELECT f AS d, CAST(count(*) AS BIGINT) AS new_users
             FROM fs GROUP BY 1),
    j AS (
      SELECT act.d, act.active, coalesce(new_.new_users, 0) AS new_users
      FROM act LEFT JOIN new_ ON new_.d = act.d
    )
    SELECT d, active, new_users,
           CAST(active - new_users AS BIGINT) AS returning,
           CAST(sum(new_users) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
                PRECEDING AND CURRENT ROW) AS BIGINT) AS cumulative_reach
    FROM j
"""


R131 = EventsRule(
    lambda t: ["user_id", (t / 86400).cast("long").alias("d")],
    lambda e: e.select("user_id", "d").distinct(),
)


@_register("r131_reach_curve", _R131_SQL)
def r131_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily audience decomposition + cumulative reach curve: per day
    the distinct actives split into NEW (first-ever-seen that day) vs
    RETURNING, and the running sum of new users is the reach curve —
    the growth-accounting view product analytics builds next to r94's
    DAU/WAU and r86's cohort retention. Cumulative distinct collapses
    to a plain cumulative SUM via the first-seen trick (each user
    contributes to exactly one day's new_users), which is the whole
    trick: a naive cumulative COUNT(DISTINCT) window would hold
    corpus-sized state.

    Scale: one (user, day) distinct shuffle feeds BOTH the first-seen
    agg and the daily actives; the reach window orders the day-bounded
    frame. Exact integers throughout.

    Reference parity: the audience view of the reference's dashboard
    (BASELINE.md panels); public growth-accounting methodology."""
    return reach_from_user_days(
        R131.reduce(events_projection(spark, sf_dir, R131.cols))
    )


def reach_from_user_days(ud: DataFrame) -> DataFrame:
    """(user_id, d) active-day pairs -> r131's report. Partials merge
    by distinct union (re-distinct here); shared by the s87 twin."""
    ud = ud.distinct()
    ud = ud.localCheckpoint()  # feeds first-seen AND daily actives
    fs = ud.groupBy("user_id").agg(F.min("d").alias("f"))
    act = ud.groupBy("d").agg(F.count("*").cast("long").alias("active"))
    new_ = fs.groupBy(F.col("f").alias("d")).agg(
        F.count("*").cast("long").alias("new_users")
    )
    j = act.join(new_, "d", "left").select(
        "d",
        "active",
        F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return j.select(
        "d",
        "active",
        "new_users",
        (F.col("active") - F.col("new_users")).cast("long").alias("returning"),
        F.sum("new_users").over(wd).cast("long").alias("cumulative_reach"),
    )


_R132_SQL = """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    reg AS (
      SELECT region, CAST(sum(cents) AS BIGINT) AS region_cents FROM rev
      GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(cents) AS BIGINT) AS total_cents FROM rev)
    SELECT rev.region, rev.nation, rev.cents AS nation_cents,
           reg.region_cents,
           rev.cents * 1.0 / reg.region_cents AS share_of_region,
           reg.region_cents * 1.0 / tot.total_cents AS region_share_of_total
    FROM rev JOIN reg USING (region) CROSS JOIN tot
"""


@_register("r132_share_of_parent", _R132_SQL)
def r132_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level share-of-parent rollup over the TPC-H geography
    hierarchy: each nation's revenue share WITHIN its region plus each
    region's share of total — the ratio_to_report pattern every BI
    tool emits for drill-down bars (r03 gives the absolute rollup;
    this gives the normalized view whose shares sum to 1 at each
    level, the closure invariant the test pins). Exact integer cents
    until the two share divisions.

    Scale: the star join broadcasts the nation/region dims (r47's
    pattern); parent totals are nation-domain frames joined back by
    region key — never a second pass over orders.

    Reference parity: none in reference; public BI pattern
    (RATIO_TO_REPORT) over the TPC-H schema."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    rev = rev.localCheckpoint()  # nation-domain; feeds parents AND output
    reg = rev.groupBy("region").agg(
        F.sum("cents").cast("long").alias("region_cents")
    )
    tot = rev.agg(F.sum("cents").cast("long").alias("total_cents"))
    # broadcast bounds: reg is |regions| rows, tot is 1 row
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            F.col("cents").alias("nation_cents"),
            "region_cents",
            (F.col("cents") * 1.0 / F.col("region_cents")).alias(
                "share_of_region"
            ),
            (F.col("region_cents") * 1.0 / F.col("total_cents")).alias(
                "region_share_of_total"
            ),
        )
    )


_R133_SQL = """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_tx,
           CAST(sum(CAST(round(
             least(greatest(value / 100.0 - 0.5, 0.0), 1.0) * 1000000
           ) AS BIGINT)) AS BIGINT) AS risk_micro_sum,
           CAST(sum(CASE WHEN least(greatest(value / 100.0 - 0.5, 0.0), 1.0)
                              > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events WHERE event_type = 'purchase'
    GROUP BY 1
"""


@_register("r133_sql_udf", _R133_SQL)
def r133_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL user-defined functions (CREATE FUNCTION ... RETURN
    expr) — the catalog-level abstraction layer a SQL-first team uses
    instead of Python UDFs: a scalar risk() (u01's exact formula as a
    declared SQL function) plus a second SQL function high_risk()
    COMPOSED on top of it, both applied in plain SQL over events.
    SQL UDFs inline into the Catalyst plan (no Python worker, no
    serialization boundary — the plan is identical to writing the
    expression inline, which is exactly what the shared oracle checks).

    Scale: whole-stage codegen scan + one keyed agg; the function
    layer costs nothing at runtime.

    Reference parity: the reference's mapValues lambdas
    (TransactionProcessor.java:29-36) as CATALOG functions rather than
    topology code; public Spark 4 SQL UDF surface."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("r133_events")
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION r133_risk(x DOUBLE) "
        "RETURNS DOUBLE RETURN least(greatest(x / 100.0 - 0.5, 0.0), 1.0)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION r133_high(x DOUBLE) "
        "RETURNS BOOLEAN RETURN r133_risk(x) > 0.5"
    )
    return spark.sql(
        """
        SELECT user_id,
               CAST(count(*) AS BIGINT) AS n_tx,
               CAST(sum(CAST(round(r133_risk(value) * 1000000) AS BIGINT))
                    AS BIGINT) AS risk_micro_sum,
               CAST(sum(CASE WHEN r133_high(value) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_high
        FROM r133_events WHERE event_type = 'purchase'
        GROUP BY user_id
        """
    )


_R134_SQL = """
    WITH e AS (
      SELECT user_id, event_type AS t,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s
      FROM events
    ),
    pat AS (
      SELECT DISTINCT a.user_id, a.t AS ante, b.t AS cons
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND b.s > a.s AND b.s <= a.s + 3600
       AND a.t <> b.t
    ),
    ab AS (
      SELECT ante, cons, CAST(count(*) AS BIGINT) AS n_users_ab
      FROM pat GROUP BY 1, 2
    ),
    ua AS (
      SELECT t AS ante, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users_a
      FROM e GROUP BY 1
    ),
    tot AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users FROM e)
    SELECT ante, cons, n_users_ab, n_users_a,
           n_users_ab * 1.0 / n_users AS support,
           n_users_ab * 1.0 / n_users_a AS confidence
    FROM ab JOIN ua USING (ante) CROSS JOIN tot
"""


@_register("r134_sequential_rules", _R134_SQL)
def r134_sequential_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential association rules 'A then B within an hour' at user
    granularity — the ORDERED complement to r96's co-occurrence rules
    and the screen that separates browse->purchase (healthy) from
    error->purchase (suspicious retry-fraud): support = users showing
    the sequence / all users, confidence = / users with the
    antecedent. The pattern set is DISTINCT per user before counting,
    so one hyperactive user can't inflate a rule.

    Scale: the candidate join is user-keyed with a 1-hour residual
    (the r27/s81 posture — co-partitioned, bounded by per-user-hour
    activity, never cross-user pairs); the rule frame is
    |types|^2-bounded.

    Reference parity: none in reference; public sequential-pattern
    methodology (Agrawal & Srikant 1995) on the reference's journey
    data."""
    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    e = ev.select("user_id", F.col("event_type").alias("t"), sec.alias("s"))
    e = e.localCheckpoint()  # feeds the pair join AND both supports
    a = e.select("user_id", F.col("t").alias("ante"), F.col("s").alias("sa"))
    b = e.select("user_id", F.col("t").alias("cons"), F.col("s").alias("sb"))
    pat = (
        a.join(b, "user_id")
        .where(
            (F.col("sb") > F.col("sa"))
            & (F.col("sb") <= F.col("sa") + 3600)
            & (F.col("ante") != F.col("cons"))
        )
        .select("user_id", "ante", "cons")
        .distinct()
    )
    ab = pat.groupBy("ante", "cons").agg(
        F.count("*").cast("long").alias("n_users_ab")
    )
    ua = e.groupBy(F.col("t").alias("ante")).agg(
        F.countDistinct("user_id").cast("long").alias("n_users_a")
    )
    tot = e.agg(F.countDistinct("user_id").cast("long").alias("n_users"))
    # broadcast bounds: ua is |types| rows, tot is 1 row
    return (
        ab.join(F.broadcast(ua), "ante")
        .crossJoin(F.broadcast(tot))
        .select(
            "ante",
            "cons",
            "n_users_ab",
            "n_users_a",
            (F.col("n_users_ab") * 1.0 / F.col("n_users")).alias("support"),
            (F.col("n_users_ab") * 1.0 / F.col("n_users_a")).alias(
                "confidence"
            ),
        )
    )


_R135_SQL = """
    WITH e AS (
      SELECT user_id, event_id, event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS s,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    v AS (SELECT user_id, event_id, s FROM e WHERE event_type = 'view'),
    p AS (SELECT user_id, event_id, s, cents FROM e
          WHERE event_type = 'purchase'),
    nxt AS (
      SELECT v.event_id AS vid,
             min(printf('%020d:%020d', p.s, p.event_id)) AS mk
      FROM v JOIN p ON p.user_id = v.user_id AND p.s >= v.s
      GROUP BY 1
    ),
    m AS (
      SELECT v.user_id, v.event_id, v.s AS view_s,
             p.s AS next_s, p.cents AS next_cents
      FROM v
      LEFT JOIN nxt ON nxt.vid = v.event_id
      LEFT JOIN p ON printf('%020d:%020d', p.s, p.event_id) = nxt.mk
    )
    SELECT user_id, event_id,
           CASE WHEN next_s IS NOT NULL AND next_s - view_s <= 7200
                THEN next_cents END AS next_purchase_cents,
           CASE WHEN next_s IS NOT NULL AND next_s - view_s <= 7200
                THEN next_s - view_s END AS latency_s
    FROM m
"""


@_register("r135_asof_forward", _R135_SQL)
def r135_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with a 2-hour tolerance: each VIEW attaches
    the user's NEXT purchase ("did the browse convert, and how fast")
    — the time-direction mirror of r26's backward as-of, and a
    different operator: backward answers 'state at event time',
    forward answers 'outcome after event time'. Same single-shuffle
    union formulation (operators/asof.py:asof_join_forward): one
    key-partitioned descending time walk carries the nearest following
    purchase; the tolerance applies as a post-filter on the exact
    integer latency. Ties at the same second resolve to the smallest
    (s, event_id) payload — pinned deterministic.

    Scale: one shuffle on user_id, zero pair explosion (the naive
    candidates-then-argmin join is |views| x |purchases| per user
    before aggregating — this never materializes it).

    Reference parity: none in reference; public point-in-time
    methodology, forward direction (next-fill matching in market
    data)."""
    from ..operators.asof import asof_join_forward

    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        sec.alias("s"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    v = e.where(F.col("event_type") == "view").select("user_id", "event_id", "s")
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("s").alias("ps"),
        F.col("event_id").alias("pid"),
        "cents",
    )
    j = asof_join_forward(
        v, p, by=["user_id"], left_ts="s", right_ts="ps",
        payload_cols=["ps", "pid", "cents"],
    )
    within = F.col("asof_ps").isNotNull() & (
        F.col("asof_ps") - F.col("s") <= 7200
    )
    return j.select(
        "user_id",
        "event_id",
        F.when(within, F.col("asof_cents")).alias("next_purchase_cents"),
        F.when(within, F.col("asof_ps") - F.col("s")).alias("latency_s"),
    )
