"""Registered queries for the Arrow/UDF surface and skew-mitigation
operators — each deliberately oracle-checkable so the driver verifies the
whole Arrow round-trip (Spark -> Arrow batch -> pandas -> Arrow -> Spark)
and the salted two-phase aggregation against plain ANSI SQL.

Why these exist (SURVEY.md §2.3 UDF row): the reference's `mapValues`
lambdas (TransactionProcessor.java:29-36,43-51) are ad-hoc record-level
UDFs; the engine's sanctioned custom-code path is Arrow-vectorized pandas
UDFs, never row-at-a-time Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import skew as SK
from ..operators import udfs as U
from ..operators.detect import EVENTS_FRAUD_THRESHOLD, events_as_transactions
from ..sources.tables import event_seconds, events_projection, load_table
from .registry import EventsRule, registrar
from .relational3 import day_cents

QUERIES, ORACLES, _register = registrar()


def _cents() -> Column:
    return F.round(F.col("value") * 100).cast("long").alias("cents")


def _weekend_flag() -> Column:
    return ((F.expr("weekday(ts)") + 1) >= 6).cast("int").alias("wk_flag")


def _tx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events_as_transactions(load_table(spark, sf_dir, "events"))


@_register(
    "u01_pandas_udf_risk",
    f"""
    SELECT printf('user_%03d', user_id) AS userId, event_id,
           round(least(greatest(value / {EVENTS_FRAUD_THRESHOLD} - 0.5, 0.0), 1.0), 6)
             AS risk_score
    FROM events
    """,
)
def u01_pandas_udf_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas_udf: deterministic closed-form risk
    score, so the oracle replays the exact same arithmetic in SQL. Verifies
    the Arrow batch transfer end-to-end, not just the formula."""
    return U.with_risk_score(_tx(spark, sf_dir), EVENTS_FRAUD_THRESHOLD).select(
        "userId", "event_id", "risk_score"
    )


@_register(
    "u02_grouped_map_zscore",
    """
    SELECT printf('user_%03d', user_id) AS userId, event_id,
           round(
             coalesce(
               (value - avg(value) OVER w) / nullif(stddev_samp(value) OVER w, 0),
               0.0), 4
           ) AS amount_z
    FROM events
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def u02_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (one shuffle on userId, pandas transform
    per group) checked against the window-function formulation the optimizer
    would pick natively. Rounded to 4 decimals so the pandas vs SQL-engine
    accumulation order cannot flip the value hash."""
    out = U.per_user_zscore(_tx(spark, sf_dir))
    return out.select("userId", "event_id", F.round("amount_z", 4).alias("amount_z"))


@_register(
    "u04_udtf_shingles",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS sh
      FROM documents WHERE doc_id < 100 AND trim(text) <> ''
    )
    SELECT doc_id, unnest(range(0, len(sh))) AS pos, unnest(sh) AS tok
    FROM t
    """,
)
def u04_udtf_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF lateral join: explode each document into (pos, token)
    rows with imperative row-generation (operators/udfs.make_shingle_udtf).
    Oracle zips parallel unnests over the same tokenization."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    docs.createOrReplaceTempView("_u04_docs")
    spark.udtf.register("shingle_udtf", U.make_shingle_udtf())
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.tok
        FROM _u04_docs d, LATERAL shingle_udtf(d.text) s
        """
    )


@_register(
    "u05_grouped_agg_udaf",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value * value) / sum(value), 4) AS wmean
    FROM events
    GROUP BY 1
    """,
)
def u05_grouped_agg_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pandas GROUPED_AGG UDAF (amount-weighted mean) checked against its
    closed-form SQL — verifies the Arrow grouped-aggregate path."""
    tx = _tx(spark, sf_dir)
    return tx.groupBy("userId").agg(
        F.round(U.amount_weighted_mean("amount"), 4).alias("wmean")
    )


@_register(
    "u06_partial_udaf",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value * value) / sum(value), 4) AS wmean
    FROM events
    GROUP BY 1
    """,
)
def u06_partial_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe twin of u05: custom pandas UDAF with TRUE map-side
    combine (operators/udfs.partial_weighted_mean). Same oracle as u05 —
    the partial split must be invisible in the result — but the plan shows
    mapInPandas partials on the scan partitions plus ONE tiny partial-table
    shuffle, instead of u05's raw-row shuffle concentrating each key on one
    reducer. (The salted GROUPED_AGG variant, udfs.salted_weighted_mean, is
    kept + tested as the pattern for ops needing whole-group data per
    call.)"""
    tx = _tx(spark, sf_dir)
    out = U.partial_weighted_mean(tx, ["userId"], "amount")
    return out.select("userId", F.round("wmean", 4).alias("wmean"))


@_register("m01_mllib_fraud_score")  # learned model -> rows-only + AUC pytest
def m01_mllib_fraud_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib inference path (north star: 'Structured Streaming + MLlib'):
    logistic regression trained on the reference's threshold rule, scoring
    every event with p(fraud). Separation quality (AUC ~ 1.0 against the
    rule) and batch-stream score parity are pinned in tests/test_mlscore.py.

    Build/query split: the LBFGS fit runs ONCE per (session, dataset) via
    mlscore.get_or_train_fraud_scorer; this registered query is the
    score-only path (stateless column mapping, no shuffle). Re-invoking
    it — as the bench does — costs inference only, the same offline-train
    / online-score split every production scorer uses."""
    from ..operators import mlscore as ML

    tx = _tx(spark, sf_dir)
    feats = ML.fraud_features(tx, ML.user_stats(tx))
    model = ML.get_or_train_fraud_scorer(feats, cache_key=sf_dir)
    return ML.score(model, feats).drop("amount")


@_register(
    "u03_salted_agg",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS sum_value, count(*) AS n_rows
    FROM events
    GROUP BY 1
    """,
)
def u03_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.salted_sum_count):
    identical result to a direct groupBy — the oracle proves it — while the
    hot key spreads across salt_buckets reducers in phase 1. The 100 TB
    answer to a power-law userId distribution."""
    out = SK.salted_sum_count(_tx(spark, sf_dir), ["userId"], "amount")
    return out.select(
        "userId", F.round("sum_value", 2).alias("sum_value"), "n_rows"
    )


@_register("m02_kmeans_clusters")  # learned model -> rows-only + pytest
def m02_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib KMeans over the embeddings table (k=10, fixed seed) — the
    unsupervised half of the MLlib surface (m01 is supervised LR) and
    exactly the index-build step l13's IVF path uses in production
    (operators/similarity.ivf_kmeans_centroids: distributed Lloyd's via
    treeAggregate; only the k x dim centers reach the driver). Every
    vector gets its nearest-centroid cluster id through the same
    broadcast-matmul Arrow batch path the ANN queries use.

    Rows-only by design: a learned model has no SQL twin. Seeded
    determinism, full coverage (one row per vector), and agreement
    between MLlib's own transform() and the broadcast-matmul assignment
    are pinned in tests/test_mlscore.py."""
    from ..operators import similarity as SIM
    from ..sources.tables import load_table

    em = load_table(spark, sf_dir, "embeddings")
    cents = SIM.get_or_build_kmeans_centroids(em, nlist=10, cache_key=sf_dir)
    cell = SIM.make_cell_udf(em, cents)
    return em.select(
        "vec_id", "label", cell(F.col("embedding")).alias("cluster")
    )


@_register(
    "u07_scalar_iter_udf",
    f"""
    SELECT printf('user_%03d', user_id) AS userId, event_id,
           round(least(greatest(value / {EVENTS_FRAUD_THRESHOLD} - 0.5, 0.0), 1.0), 6)
             AS risk_score
    FROM events
    """,
)
def u07_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """u01's risk score through the ITERATOR pandas-UDF form
    (operators/udfs.make_risk_score_iter): per-partition init + streamed
    Arrow batches — the shape for UDFs with expensive setup (model /
    tokenizer load). Identical oracle to u01: same result, different
    execution contract."""
    tx = _tx(spark, sf_dir)
    risk = U.make_risk_score_iter(EVENTS_FRAUD_THRESHOLD)
    return tx.select(
        "userId",
        "event_id",
        F.round(risk(F.col("amount")), 6).alias("risk_score"),
    )


@_register(
    "u08_salted_join",
    """
    SELECT printf('user_%03d', user_id) AS userId, event_id, value AS amount,
           CAST(user_id % 5 AS BIGINT) AS cohort
    FROM events
    """,
)
def u08_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted replicated join (operators/skew.replicate_broadcast_join):
    the fact side is salted by a content hash, the 150-row cohort dim is
    replicated across all salt values, and the join key becomes
    (userId, salt) — the hot user's rows spread over 16 tasks instead of
    one. The oracle proves result-set equality with the unsalted join:
    replication+salting must neither drop nor duplicate a single row."""
    tx = _tx(spark, sf_dir).select("userId", "event_id", "amount")
    # The numeric suffix is 'user_%03d' — WIDTH GROWS past 999, so take
    # everything after the prefix, never a fixed 3 chars (a fixed-length
    # substring silently mis-cohorted user_1000+ at sf0.1; caught by the
    # round-11 whole-registry sf0.1 sweep).
    dim = (
        tx.select("userId")
        .distinct()
        .select(
            "userId",
            F.pmod(
                F.regexp_extract("userId", r"(\d+)$", 1).cast("long"),
                F.lit(5),
            ).alias("cohort"),
        )
    )
    return SK.replicate_broadcast_join(tx, dim, "userId")


@_register(
    "u09_map_in_arrow",
    """
    SELECT printf('user_%03d', user_id) AS userId, event_id,
           CAST(floor(value / 100.0) AS BIGINT) AS amount_hundreds,
           round(value - floor(value), 6) AS amount_frac
    FROM events
    """,
)
def u09_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-native batch transform via mapInArrow (operators/udfs.
    arrow_amount_features): pyarrow.compute kernels over RecordBatches,
    no pandas materialization — the zero-copy endpoint of the UDF
    ladder. The oracle replays the identical closed-form arithmetic in
    SQL."""
    return U.arrow_amount_features(_tx(spark, sf_dir))


@_register("m03_stream_mllib_score")  # learned model -> rows-only + parity pytest
def m03_stream_mllib_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north star assembled end-to-end as ONE registered query:
    'Structured Streaming + MLlib' (BASELINE.json) — the session-cached
    LR scorer (m01's build/query split) applied to the replayed event
    stream micro-batch by micro-batch. Features are per-row expressions
    plus a STREAM-STATIC broadcast join against batch-computed per-user
    stats, and PipelineModel.transform is a stateless column mapping, so
    scoring runs identically on bounded and unbounded frames —
    batch-stream score parity is pinned in tests/test_mlscore.py.

    Rows-only by design (a learned model has no SQL twin); the batch
    twin m01 carries the AUC/agreement pytest evidence. Scale: inference
    is a narrow projection (no shuffle, no state); the stats dim is the
    production recompute-on-a-cadence broadcast; per-event identity via
    xxhash64 of the wire triple, not a stateful id assignment."""
    from ..operators import mlscore as ML
    from ..operators.detect import parse_wire
    from ..streaming.replay import replay_wire_stream
    from .streaming_queries import _wire_dir

    tx = _tx(spark, sf_dir)
    stats = ML.user_stats(tx)
    model = ML.get_or_train_fraud_scorer(
        ML.fraud_features(tx, stats), cache_key=sf_dir
    )

    def xform(stream: DataFrame) -> DataFrame:
        parsed = parse_wire(stream).withColumn(
            "event_id", F.xxhash64("userId", "amount", "timestamp")
        )
        return ML.score(model, ML.fraud_features(parsed, stats))

    return replay_wire_stream(
        spark,
        _wire_dir(spark, sf_dir),
        xform,
        output_mode="append",
        name="m03_mem",
        # inference is stateless, so batch cadence doesn't change results;
        # fewer, larger micro-batches amortize the per-batch planning +
        # Arrow setup the model pipeline pays (batch size is the streaming
        # inference throughput knob, exactly as on a real stream)
        files_per_trigger=4,
    ).drop("amount")


# m04's exported model: fixed weights over four closed-form features. The
# squashing link is the RATIONAL sigmoid 0.5*(1 + z/(1+|z|)) — only
# +,*,/,abs, all exactly-rounded IEEE ops, so Spark and DuckDB produce
# bit-identical doubles (exp() is merely faithfully rounded and may differ
# in the last ulp between libm and java.lang.Math, which would poison the
# value hash at round()'s boundaries).
_M04_W = {"b": -2.0, "amt": 1.5, "hour": 0.25, "purchase": 0.75, "error": -0.5}
_M04_Z = (
    f"{_M04_W['b']!r} + {_M04_W['amt']!r} * (value / 100.0) "
    f"+ {_M04_W['hour']!r} * (HOUR_EXPR / 23.0) "
    f"+ {_M04_W['purchase']!r} * (CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END) "
    f"+ {_M04_W['error']!r} * (CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END)"
)


def _m04_z(hour_col=None):
    """m04's linear margin as a Column (shared by m04 and m06). Pass
    `hour_col` when the frame carries a precomputed hour instead of a
    ts column (the s31 wire)."""
    h = F.hour("ts") if hour_col is None else hour_col
    return (
        F.lit(_M04_W["b"])
        + F.lit(_M04_W["amt"]) * (F.col("value") / F.lit(100.0))
        + F.lit(_M04_W["hour"]) * (h / F.lit(23.0))
        + F.lit(_M04_W["purchase"])
        * F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
        + F.lit(_M04_W["error"])
        * F.when(F.col("event_type") == "error", 1.0).otherwise(0.0)
    )


def _m04_p(hour_col=None):
    z = _m04_z(hour_col)
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


@_register(
    "m04_sql_logistic_score",
    f"""
    WITH z AS (
      SELECT event_id, printf('user_%03d', user_id) AS userId,
             {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
      FROM events
    )
    SELECT event_id, userId,
           round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS score,
           0.5 * (1.0 + z / (1.0 + abs(z))) > 0.6 AS flagged
    FROM z
    """,
)
def m04_sql_logistic_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-export scoring: a trained linear model's weights compiled to a
    closed-form columnar expression — the production pattern for scoring
    100 TB (ship the weights INTO the query as built-in expressions; no
    model server, no Python boundary, no MLlib dependency at inference).
    m01/m03 carry the learn-the-weights half; this carries the
    deploy-the-weights half, and being closed-form it is the m-family's
    first FULL value-hash oracle row.

    Scale: stateless narrow projection — one whole-stage-codegen span over
    the scan, embarrassingly parallel, nothing shuffles. The rational
    squashing link (docstring at _M04_W) keeps both engines bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    p = _m04_p()
    return ev.select(
        "event_id",
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        F.round(p, 6).alias("score"),
        (p > F.lit(0.6)).alias("flagged"),
    )


# m05's exported ensemble: three fixed depth-2 decision stumps (the shape a
# gradient-boosted model exports to SQL). Thresholds are exact decimals and
# leaf values sum with plain +, so the score is bit-identical cross-engine.
_M05_TREES_SQL = """
      (CASE WHEN value > 100.0
            THEN CASE WHEN event_type = 'purchase' THEN 1.2 ELSE 0.6 END
            ELSE CASE WHEN value > 50.0 THEN 0.1 ELSE -0.4 END END)
    + (CASE WHEN extract(hour FROM ts) >= 22 OR extract(hour FROM ts) < 5
            THEN CASE WHEN value > 75.0 THEN 0.8 ELSE 0.2 END
            ELSE -0.1 END)
    + (CASE WHEN event_type = 'error' THEN -0.7
            WHEN event_type = 'signup' THEN -0.3
            ELSE 0.05 END)
"""


@_register(
    "m05_tree_ensemble_score",
    f"""
    WITH m AS (
      SELECT event_id, printf('user_%03d', user_id) AS userId,
             -1.0 + ({_M05_TREES_SQL}) AS margin
      FROM events
    )
    SELECT event_id, userId, round(margin, 6) AS margin,
           round(0.5 * (1.0 + margin / (1.0 + abs(margin))), 6) AS score
    FROM m
    """,
)
def m05_tree_ensemble_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-ensemble model export: three depth-2 boosted stumps compiled to
    nested CASE expressions plus an additive margin — how a trained GBDT
    actually ships to a SQL engine for 100 TB inference (each tree is a
    branch ladder Catalyst folds into the same codegen span; no Python, no
    model object). Complements m04's linear export; same rational link,
    same bit-exact cross-engine guarantee (comparisons and + only).

    Scale: stateless narrow projection, zero shuffles; ensemble size grows
    the expression tree, not the pass count."""
    ev = load_table(spark, sf_dir, "events")
    hour = F.hour("ts")
    t1 = (
        F.when(
            F.col("value") > 100.0,
            F.when(F.col("event_type") == "purchase", 1.2).otherwise(0.6),
        ).otherwise(F.when(F.col("value") > 50.0, 0.1).otherwise(-0.4))
    )
    t2 = F.when(
        (hour >= 22) | (hour < 5),
        F.when(F.col("value") > 75.0, 0.8).otherwise(0.2),
    ).otherwise(-0.1)
    t3 = (
        F.when(F.col("event_type") == "error", -0.7)
        .when(F.col("event_type") == "signup", -0.3)
        .otherwise(0.05)
    )
    margin = F.lit(-1.0) + (t1 + t2 + t3)
    score = F.lit(0.5) * (F.lit(1.0) + margin / (F.lit(1.0) + F.abs(margin)))
    return ev.select(
        "event_id",
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        F.round(margin, 6).alias("margin"),
        F.round(score, 6).alias("score"),
    )


@_register(
    "u10_arrow_python_udf",
    f"""
    SELECT printf('user_%03d', user_id) AS userId, event_id,
           round(least(greatest(value / {EVENTS_FRAUD_THRESHOLD} - 0.5, 0.0), 1.0), 6)
             AS risk_score
    FROM events
    """,
)
def u10_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remaining rung of the Python-interop ladder: a PLAIN Python
    UDF with `useArrow=True` (Spark 3.5+/4 arrow-optimized Python UDF) —
    per-VALUE Python semantics (closures over scalars, arbitrary Python
    types) but Arrow-batched transport instead of pickle rows. Same
    closed-form oracle as u01, so the three transports (row-pickle
    semantics + Arrow transport here, vectorized pandas_udf u01,
    iterator pandas_udf u07) are proven result-identical.

    Scale: still executes Python PER VALUE — keep it off the 100 TB hot
    path (that's u01/u09's job); its niche is porting legacy row UDFs
    where the 2-3x Arrow serialization win is free and the rewrite to
    vectorized form is not."""
    from pyspark.sql.functions import udf

    thr = float(EVENTS_FRAUD_THRESHOLD)

    @udf("double", useArrow=True)
    def risk(amount):
        return min(max(amount / thr - 0.5, 0.0), 1.0)

    tx = _tx(spark, sf_dir)
    return tx.select(
        "userId", "event_id", F.round(risk("amount"), 6).alias("risk_score")
    )


@_register(
    "m06_score_calibration",
    f"""
    WITH s AS (
      SELECT round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS score,
             (value > {EVENTS_FRAUD_THRESHOLD}) AS is_fraud
      FROM (
        SELECT value,
               {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
    )
    SELECT CAST(floor(score * 10) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(score * 1000000, 0) AS BIGINT)) / count(*)
                 / 1000000.0, 6) AS mean_score,
           round(CAST(count(*) FILTER (WHERE is_fraud) AS BIGINT)
                 / CAST(count(*) AS DOUBLE), 6) AS fraud_rate
    FROM s
    GROUP BY 1
    """,
)
def m06_score_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the exported m04 scorer: decile-bucketed
    predicted score vs observed fraud rate (the reference's strict
    `> threshold` rule as ground truth) — the monitoring query every
    deployed scorer needs, expressed as plain aggregation so it runs on
    the same 100 TB scan that scoring does. A calibrated model shows
    fraud_rate rising with mean_score; drift shows up as divergence.

    Scale: one narrow projection + one hash aggregate on ≤11 bucket keys,
    map-side combined. Bucketing floors score*10 on the 6-dp-rounded
    score, which is bit-identical cross-engine (m04's rational link)."""
    ev = load_table(spark, sf_dir, "events")
    score = F.round(_m04_p(), 6)
    return (
        ev.select(
            score.alias("score"),
            (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).alias(
                "is_fraud"
            ),
        )
        .groupBy(F.floor(F.col("score") * 10).cast("long").alias("bucket"))
        .agg(
            F.count("*").alias("n"),
            # exact integer micro-score sum (m07's trick): partition order
            # cannot perturb the mean, so the 6-dp round is tie-proof
            F.round(
                F.sum(F.round(F.col("score") * 1000000, 0).cast("long"))
                / F.count("*")
                / F.lit(1000000.0),
                6,
            ).alias("mean_score"),
            F.round(
                F.count_if(F.col("is_fraud")) / F.count("*").cast("double"), 6
            ).alias("fraud_rate"),
        )
    )


# ---------------------------------------------------------------------------
# m08: TRAIN a model with a full value-hash oracle. m04-m07 proved the
# deploy-the-weights half; m08 closes the loop by making the TRAINING run
# itself oracle-replayable: _M08_STEPS unrolled full-batch gradient-descent steps
# whose per-row gradient contributions are quantized to exact int64 micros
# BEFORE the sum (so the only order-sensitive float op — the big sum —
# becomes order-independent integer addition), with the same rational
# squashing link m04/m07 use (no exp; bit-identical cross-engine).
# ---------------------------------------------------------------------------
_M08_LR = 2.0
_M08_STEPS = 6


def _m08_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training frame: the m04 feature pair (scaled amount, scaled hour)
    and the fraud label (value > threshold) the reference's predicate
    branch defines."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.format_string("user_%03d", F.col("user_id").cast("int")).alias("userId"),
        (F.col("value") / F.lit(100.0)).alias("x1"),
        (F.hour("ts") / F.lit(23.0)).alias("x2"),
        F.when(F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD)), 1.0)
        .otherwise(0.0)
        .alias("y"),
    )


def _m08_p() -> F.Column:
    """p = 0.5*(1 + z/(1+|z|)) with z = b + w1*x1 + w2*x2 — resolves the
    weight columns from the broadcast 1-row frame it is selected against."""
    z = (
        F.col("b")
        + F.col("w1") * F.col("x1")
        + F.col("w2") * F.col("x2")
    )
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


def _m08_step(feats: DataFrame, w: DataFrame) -> DataFrame:
    """One full-batch GD step as a composed lazy plan: the 1-row weight
    frame broadcasts onto the feature scan, per-row residual gradients
    quantize to int64 micros, one hash aggregate reduces them, and the
    update arithmetic runs on the resulting 1-row frame. No collect —
    iterative training stays entirely inside the DataFrame plan."""
    r = _m08_p() - F.col("y")
    # Carry the old weights THROUGH the aggregate (first() over the
    # broadcast constants) instead of joining w back in afterwards: each
    # step's plan then references its predecessor exactly once, keeping
    # the unrolled plan linear in step count. Referencing w twice per
    # step doubles the subtree each level — 2^K event scans by step K
    # (measured: 7.2s for K=6 at sf0.1 vs ~1s linear).
    g = feats.crossJoin(F.broadcast(w)).agg(
        F.sum(F.round(r * F.col("x1") * F.lit(1000000.0), 0).cast("long")).alias("g1"),
        F.sum(F.round(r * F.col("x2") * F.lit(1000000.0), 0).cast("long")).alias("g2"),
        F.sum(F.round(r * F.lit(1000000.0), 0).cast("long")).alias("gb"),
        F.count("*").cast("double").alias("n"),
        F.first("w1").alias("w1"),
        F.first("w2").alias("w2"),
        F.first("b").alias("b"),
    )
    lr = F.lit(_M08_LR)
    return g.select(
        (F.col("w1") - lr * (F.col("g1") / F.lit(1000000.0)) / F.col("n")).alias("w1"),
        (F.col("w2") - lr * (F.col("g2") / F.lit(1000000.0)) / F.col("n")).alias("w2"),
        (F.col("b") - lr * (F.col("gb") / F.lit(1000000.0)) / F.col("n")).alias("b"),
    )


def m08_trained_weights(
    spark: SparkSession, sf_dir: str, feats: DataFrame | None = None
) -> DataFrame:
    """The 1-row trained-weight frame after _M08_STEPS GD steps.

    The training frame is materialized ONCE (localCheckpoint) before the
    loop — the canonical iterative-ML shape (MLlib likewise caches its
    training set): every GD pass then aggregates the in-memory columnar
    blocks instead of re-running the scan+projection per step. On a real
    cluster this is .persist(MEMORY_AND_DISK) over executor memory; the
    semantics are identical either way because the per-step aggregate is
    order-independent integer addition."""
    if feats is None:
        feats = _m08_features(spark, sf_dir).localCheckpoint()
    w = spark.range(1).select(
        F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2"), F.lit(0.0).alias("b")
    )
    for _ in range(_M08_STEPS):
        w = _m08_step(feats, w)
    return w


def _m08_sql() -> str:
    """Unrolled SQL twin of the GD loop — built by the same loop count so
    the two sides cannot drift."""
    p = (
        "0.5 * (1.0 + (b + w1 * x1 + w2 * x2) "
        "/ (1.0 + abs(b + w1 * x1 + w2 * x2)))"
    )
    sql = f"""
    WITH d AS (
      SELECT printf('user_%03d', user_id) AS userId,
             value / 100.0 AS x1,
             extract(hour FROM ts) / 23.0 AS x2,
             CASE WHEN value > {EVENTS_FRAUD_THRESHOLD} THEN 1.0 ELSE 0.0 END AS y
      FROM events
    ), w0 AS (SELECT 0.0 AS w1, 0.0 AS w2, 0.0 AS b)"""
    for k in range(1, _M08_STEPS + 1):
        sql += f""", g{k} AS (
      SELECT sum(CAST(round((p - y) * x1 * 1000000.0, 0) AS BIGINT)) AS g1,
             sum(CAST(round((p - y) * x2 * 1000000.0, 0) AS BIGINT)) AS g2,
             sum(CAST(round((p - y) * 1000000.0, 0) AS BIGINT)) AS gb,
             CAST(count(*) AS DOUBLE) AS n
      FROM (SELECT d.*, {p} AS p FROM d CROSS JOIN w{k - 1})
    ), w{k} AS (
      SELECT w1 - {_M08_LR} * (g1 / 1000000.0) / n AS w1,
             w2 - {_M08_LR} * (g2 / 1000000.0) / n AS w2,
             b - {_M08_LR} * (gb / 1000000.0) / n AS b
      FROM w{k - 1} CROSS JOIN g{k}
    )"""
    sql += f"""
    SELECT userId,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE p > 0.6) AS BIGINT) AS n_flagged,
           CAST(sum(CAST(round(p * 1000000.0, 0) AS BIGINT)) AS BIGINT)
             AS risk_micros,
           max(CAST(round(w1 * 1000000000.0, 0) AS BIGINT)) AS w1_nanos,
           max(CAST(round(w2 * 1000000000.0, 0) AS BIGINT)) AS w2_nanos,
           max(CAST(round(b * 1000000000.0, 0) AS BIGINT)) AS b_nanos
    FROM (SELECT d.userId, {p} AS p, w1, w2, b
          FROM d CROSS JOIN w{_M08_STEPS})
    GROUP BY userId"""
    return sql


@_register("m08_gd_trained_scorer", _m08_sql())
def m08_gd_trained_scorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end TRAINED-model row with a FULL value-hash oracle — the
    round-4 verdict's ask that the driver hash-check trained scores, not
    just rows. MLlib's L-BFGS (m01) can never be SQL-replayed bit-exactly,
    so this row trains by a deterministic distributed algorithm instead:
    _M08_STEPS full-batch gradient-descent steps on the fraud label, each step one
    broadcast-join + integer-quantized hash aggregate, the weight state a
    1-row frame flowing between iterations INSIDE the lazy plan (no
    driver collect, no model object). The oracle unrolls the identical
    loop in chained CTEs, so the driver hash-checks the learned weights
    (as exact nano-ints) AND every user's risk mass under them. m01 keeps
    the production MLlib role; tests pin this trainer's loss decrease and
    its directional agreement with the m01 family.

    Scale: each GD step is one scan + one map-side-combined aggregate
    (4 int64 cells), weights ride broadcasts — the classic distributed
    full-batch GD shape; step count grows passes, never shuffle width.
    Quantizing per-row gradients to int64 micros before the sum is what
    makes training reproducible across any partitioning (the float sum
    it replaces is the one op whose value depends on reduce order)."""
    feats = _m08_features(spark, sf_dir).localCheckpoint()
    w = m08_trained_weights(spark, sf_dir, feats)
    scored = feats.crossJoin(F.broadcast(w)).select(
        "userId",
        _m08_p().alias("p"),
        F.round(F.col("w1") * F.lit(1000000000.0), 0).cast("long").alias("w1_nanos"),
        F.round(F.col("w2") * F.lit(1000000000.0), 0).cast("long").alias("w2_nanos"),
        F.round(F.col("b") * F.lit(1000000000.0), 0).cast("long").alias("b_nanos"),
    )
    return scored.groupBy("userId").agg(
        F.count("*").alias("n_events"),
        F.count_if(F.col("p") > 0.6).alias("n_flagged"),
        F.sum(F.round(F.col("p") * F.lit(1000000.0), 0).cast("long")).alias(
            "risk_micros"
        ),
        F.max("w1_nanos").alias("w1_nanos"),
        F.max("w2_nanos").alias("w2_nanos"),
        F.max("b_nanos").alias("b_nanos"),
    )


@_register(
    "u11_apply_in_arrow",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           CAST(count(*) AS BIGINT) AS n_tx,
           round(median(value), 6) AS median_amount,
           round(min(value) + (max(value) - min(value)) / 2.0, 6)
             AS midrange
    FROM events
    GROUP BY 1
    """,
)
def u11_apply_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInArrow — the grouped-map rung of the ZERO-COPY end of the
    interop ladder (u02 is grouped-map via pandas; u09 is ungrouped
    mapInArrow; this is grouped-map straight on pyarrow Tables): one
    shuffle on the group key, then per-group compute entirely in
    pyarrow.compute kernels (exact linear-interpolation quantile, the
    same convention DuckDB's median() uses, plus min/max midrange) with
    no pandas materialization and no Python-object boxing. Note: this
    pyspark build's two-argument (key, table) signature trips an
    UnboundLocalError in worker dispatch, so the single-table form is
    used and the key read from the group's own column.

    Scale: same posture as u02 — grouped-map ships whole groups (no
    partial aggregation), so it's for group-local algorithms that NEED
    the whole group (exact quantiles here); for algebraic stats use the
    JVM aggregate path. The Arrow kernels keep the per-group work
    C-speed and allocation-free."""
    import pyarrow as pa

    from ..operators.detect import events_as_transactions

    tx = events_as_transactions(load_table(spark, sf_dir, "events"))

    def stats(tbl: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        amounts = tbl["amount"]
        med = pc.quantile(amounts, q=0.5, interpolation="linear")[0].as_py()
        lo = pc.min(amounts).as_py()
        hi = pc.max(amounts).as_py()
        return pa.table(
            {
                "userId": [tbl["userId"][0].as_py()],
                "n_tx": [tbl.num_rows],
                "median_amount": [round(med, 6)],
                "midrange": [round(lo + (hi - lo) / 2.0, 6)],
            }
        )

    return (
        tx.select("userId", "amount")
        .groupBy("userId")
        .applyInArrow(
            stats,
            "userId string, n_tx long, median_amount double, midrange double",
        )
    )


# ---------------------------------------------------------------------------
# m09: oracle-replayable distributed KMeans TRAINING. m08 proved gradient
# descent on a continuous model can be value-hash-replayed; m09 does the
# same for Lloyd's algorithm, the other canonical iterative-ML shape
# (and the learned half of the l28/l56 SemDeDup pipeline). The trick is
# exact-integer cluster state: embeddings quantize to int64 once, a
# centroid is carried as (component-sum vector s, member count n) — never
# a float mean — and the nearest-centroid comparison uses
#   d_c = (n_c^2*||x||^2 - 2*n_c*(x . s_c) + ||s_c||^2) / n_c^2
# whose numerator is EXACT int64 (components bounded, no overflow at any
# test SF), so the only float op is one deterministic correctly-rounded
# division — identical IEEE doubles on both engines, ties broken by cid.
# The integer sums that update the state are order-independent, so any
# partitioning reproduces the model bit-exactly. Clusters that lose all
# members die (standard Lloyd variant) — deterministic on both sides.
# ---------------------------------------------------------------------------
_M09_K = 8
_M09_ROUNDS = 3
_M09_Q = 1000
_M09_DIM = 64


def _m09_feat(spark: SparkSession, sf_dir: str) -> DataFrame:
    em = load_table(spark, sf_dir, "embeddings")
    zero = F.lit(0).cast("long")
    return em.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _M09_Q, 0).cast("long"),
        ).alias("f"),
    ).withColumn(
        "xx", F.aggregate("f", zero, lambda a, x: a + x * x)
    )


def _m09_init(feat: DataFrame) -> DataFrame:
    zero = F.lit(0).cast("long")
    return feat.where(F.col("vec_id") < _M09_K).select(
        F.col("vec_id").alias("cid"),
        F.col("f").alias("s"),
        F.lit(1).cast("long").alias("n"),
        F.aggregate("f", zero, lambda a, x: a + x * x).alias("ss"),
    )


def _m09_round(feat: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd round as a composed lazy plan: the K-row centroid state
    collapses to a 1-row broadcast list, assignment is an argmin fold
    over it (narrow projection over the feature scan — no corpus
    shuffle), and the new state comes from ONE aggregation chain
    (cid, component) -> cid, so each round references its predecessor
    exactly once and the unrolled plan stays linear (the m08 lesson)."""
    zero = F.lit(0).cast("long")
    clist = cents.agg(F.collect_list(F.struct("cid", "s", "n", "ss")).alias("cs"))

    def dist(c):
        dot = F.aggregate(
            F.zip_with(F.col("f"), c["s"], lambda x, y: x * y),
            zero,
            lambda a, b: a + b,
        )
        num = (c["n"] * c["n"] * F.col("xx") - F.lit(2) * c["n"] * dot + c["ss"])
        d = num.cast("double") / (c["n"] * c["n"]).cast("double")
        return F.struct(c["cid"].alias("cid"), d.alias("d"))

    dots = F.transform("cs", dist)
    init = F.struct(
        F.lit(-1).cast("long").alias("cid"),
        F.lit(float("inf")).alias("d"),
    )

    def merge(acc, s):
        better = (s["d"] < acc["d"]) | (
            (s["d"] == acc["d"]) & (s["cid"] < acc["cid"])
        )
        return F.when(better, s).otherwise(acc)

    best = F.aggregate(dots, init, merge, lambda acc: acc["cid"])
    # broadcast bound: clist is the k-row centroid list (model frame)
    asg = feat.crossJoin(F.broadcast(clist)).select("f", best.alias("cid"))
    # one chain: (cid, i) partial sums carry the member count for free
    # (every component group of a cluster has exactly n rows)
    comp = asg.select("cid", F.posexplode("f").alias("i", "v")).groupBy(
        "cid", "i"
    ).agg(F.sum("v").alias("sv"), F.count("*").alias("cnt"))
    return (
        comp.groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "sv"))),
                lambda t: t["sv"],
            ).alias("s"),
            F.max("cnt").alias("n"),
        )
        .withColumn("ss", F.aggregate("s", zero, lambda a, x: a + x * x))
    )


def _m09_round_sql(i: int) -> str:
    d = _M09_DIM
    return f"""
    a{i} AS (
      SELECT vec_id, f, cid FROM (
        SELECT f2.vec_id, f2.f, c.cid,
               row_number() OVER (PARTITION BY f2.vec_id ORDER BY
                 CAST(c.n * c.n * f2.xx
                      - 2 * c.n * list_reduce(list_transform(range(1, {d + 1}),
                          j -> f2.f[j] * c.s[j]), (a, b) -> a + b)
                      + c.ss AS DOUBLE)
                 / CAST(c.n * c.n AS DOUBLE), c.cid) AS rn
        FROM feat2 f2 CROSS JOIN c{i - 1} c
      ) WHERE rn = 1
    ),
    comp{i} AS (
      SELECT cid, i, sum(f[i]) AS sv, count(*) AS cnt
      FROM (SELECT cid, unnest(range(1, {d + 1})) AS i, f FROM a{i})
      GROUP BY cid, i
    ),
    c{i} AS (
      SELECT cid, s, n,
             list_reduce(list_transform(s, x -> x * x), (a, b) -> a + b) AS ss
      FROM (
        SELECT cid, list(sv ORDER BY i) AS s, max(cnt) AS n
        FROM comp{i} GROUP BY cid
      )
    )"""


_M09_SQL = (
    f"""
    WITH feat AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_M09_Q}, 0) AS BIGINT)) AS f
      FROM embeddings
    ),
    feat2 AS (
      SELECT vec_id, f,
             list_reduce(list_transform(f, x -> x * x), (a, b) -> a + b) AS xx
      FROM feat
    ),
    c0 AS (
      SELECT vec_id AS cid, f AS s, 1::BIGINT AS n,
             list_reduce(list_transform(f, x -> x * x), (a, b) -> a + b) AS ss
      FROM feat WHERE vec_id < {_M09_K}
    ),"""
    + ",".join(_m09_round_sql(i) for i in range(1, _M09_ROUNDS + 1))
    + f"""
    SELECT cid AS cluster_id,
           CAST(n AS BIGINT) AS n_members,
           CAST(list_reduce(s, (a, b) -> a + b) AS BIGINT) AS comp_sum,
           CAST(ss AS BIGINT) AS norm_sq
    FROM c{_M09_ROUNDS}
    """
)


@_register("m09_kmeans_trainer", _M09_SQL)
def m09_kmeans_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KMeans training whose full trajectory is value-hash
    replayed by the oracle: 3 unrolled Lloyd rounds over the embeddings,
    K=8 seeded from vec_id < 8, exact-int64 centroid state (see the
    header comment). The returned per-cluster member counts, component
    sums, and squared norms pin every intermediate assignment — any
    divergence in any round changes the sums.

    Scale: per round, assignment is a narrow projection (the K-row state
    rides a broadcast; no corpus shuffle — the l51/l56 index-build
    shape) and the update is one two-phase aggregate shuffling
    (cid, component, int64) triples. The interpreted higher-order dot
    is the toy-scale stand-in for l13's Arrow matmul, same as l51; at
    production dim/K the assignment stage swaps to the vectorized
    kernel without changing the state contract."""
    # Materialize the quantized training frame ONCE before the loop (the
    # m08 / MLlib cache shape): every round's assignment pass then reads
    # the in-memory columnar table instead of re-deriving the transform
    # from parquet inside the nested unrolled plan.
    feat = _m09_feat(spark, sf_dir).localCheckpoint()
    cents = _m09_init(feat)
    for _ in range(_M09_ROUNDS):
        cents = _m09_round(feat, cents)
    return cents.select(
        F.col("cid").alias("cluster_id"),
        F.col("n").cast("long").alias("n_members"),
        F.aggregate("s", F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "comp_sum"
        ),
        F.col("ss").alias("norm_sq"),
    )


# ---------------------------------------------------------------------------
# m10/m11: model EVALUATION — the third leg of the m-family after deploy
# (m04-m07) and train (m08/m09). Both run on the m04 exported scorer and
# the reference's ground truth (value > threshold, the R6 predicate
# branch), and both use the l62 shape: score once, aggregate into score
# buckets, and materialize the sweep/report from the TINY bucket
# aggregate — the corpus is touched exactly once, and the bucket
# expression is the identical rounded double on both engines so no
# boundary can disagree.
# ---------------------------------------------------------------------------
def _m10_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(bucket 0..10, n_pos, n_neg) over floor(round(p,6)*10)."""
    ev = load_table(spark, sf_dir, "events")
    p = F.round(_m04_p(), 6)
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    return (
        ev.select(
            F.floor(p * 10).cast("long").alias("b"), y.alias("y"),
            F.round(_m04_p() * 1000000.0, 0).cast("long").alias("p_micro"),
        )
        .groupBy("b")
        .agg(
            F.sum("y").alias("n_pos"),
            F.sum(F.lit(1) - F.col("y")).alias("n_neg"),
            F.sum("p_micro").alias("p_micro_sum"),
        )
    )


_M10_BUCKET_SQL = f"""
      SELECT CAST(floor(round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) * 10)
                  AS BIGINT) AS b,
             CAST(sum(y) AS BIGINT) AS n_pos,
             CAST(sum(1 - y) AS BIGINT) AS n_neg,
             CAST(sum(CAST(round(0.5 * (1.0 + z / (1.0 + abs(z))) * 1000000.0,
                   0) AS BIGINT)) AS BIGINT) AS p_micro_sum
      FROM (
        SELECT {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z,
               CASE WHEN value > {EVENTS_FRAUD_THRESHOLD!r} THEN 1 ELSE 0 END AS y
        FROM events
      ) GROUP BY 1
"""


@_register(
    "m10_model_eval",
    f"""
    WITH bk AS ({_M10_BUCKET_SQL}),
    tot AS (SELECT sum(n_pos) AS pos_tot, sum(n_neg) AS neg_tot FROM bk),
    grid AS (SELECT unnest(range(1, 10)) AS i)
    SELECT round(g.i / 10.0, 1) AS threshold,
           CAST(coalesce(sum(b.n_pos), 0) AS BIGINT) AS tp,
           CAST(coalesce(sum(b.n_neg), 0) AS BIGINT) AS fp,
           CAST(t.pos_tot - coalesce(sum(b.n_pos), 0) AS BIGINT) AS fn,
           CAST(t.neg_tot - coalesce(sum(b.n_neg), 0) AS BIGINT) AS tn,
           CASE WHEN coalesce(sum(b.n_pos + b.n_neg), 0) > 0
                THEN round(coalesce(sum(b.n_pos), 0) * 1.0
                           / (sum(b.n_pos) + sum(b.n_neg)), 6) END AS precision,
           round(coalesce(sum(b.n_pos), 0) * 1.0 / t.pos_tot, 6) AS recall
    FROM grid g CROSS JOIN tot t LEFT JOIN bk b ON b.b >= g.i
    GROUP BY g.i, t.pos_tot, t.neg_tot
    """,
)
def m10_model_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sweep confusion report for the exported m04 scorer
    against the reference's fraud ground truth: tp/fp/fn/tn plus
    precision/recall at every decision threshold 0.1..0.9 — the
    operating-point table a deployment picks its alert threshold from.
    'Flagged at threshold i' is bucket >= i over floor(round(p,6)*10),
    the identical rounded-double expression on both engines.

    Scale: one corpus scan into an 11-row bucket aggregate; the sweep
    is a grid join over aggregates (the l62 shape) — O(9 * 11)
    regardless of corpus size."""
    bk = _m10_bucketed(spark, sf_dir)
    tot = bk.agg(
        F.sum("n_pos").alias("pos_tot"), F.sum("n_neg").alias("neg_tot")
    )
    grid = tot.select(
        "pos_tot", "neg_tot",
        F.explode(F.sequence(F.lit(1), F.lit(9))).alias("i"),
    )
    # broadcast bound: bk is the 10-bucket score histogram (fixed domain)
    flags = grid.join(F.broadcast(bk), F.col("b") >= F.col("i"), "left").groupBy(
        "i", "pos_tot", "neg_tot"
    ).agg(
        F.coalesce(F.sum("n_pos"), F.lit(0)).cast("long").alias("tp"),
        F.coalesce(F.sum("n_neg"), F.lit(0)).cast("long").alias("fp"),
        F.coalesce(F.sum(F.col("n_pos") + F.col("n_neg")), F.lit(0)).alias("n_flag"),
    )
    return flags.select(
        F.round(F.col("i") / 10.0, 1).alias("threshold"),
        "tp",
        "fp",
        (F.col("pos_tot") - F.col("tp")).cast("long").alias("fn"),
        (F.col("neg_tot") - F.col("fp")).cast("long").alias("tn"),
        F.when(
            F.col("n_flag") > 0,
            F.round(F.col("tp") * 1.0 / (F.col("tp") + F.col("fp")), 6),
        ).alias("precision"),
        F.round(F.col("tp") * 1.0 / F.col("pos_tot"), 6).alias("recall"),
    )


@_register(
    "m11_calibration_bins",
    f"""
    WITH bk AS ({_M10_BUCKET_SQL})
    SELECT b AS bin,
           CAST(n_pos + n_neg AS BIGINT) AS n,
           CAST(n_pos AS BIGINT) AS n_pos,
           round(n_pos * 1.0 / (n_pos + n_neg), 6) AS pos_rate,
           CAST(p_micro_sum AS BIGINT) AS p_micro_sum
    FROM bk
    """,
)
def m11_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration report for the m04 scorer: per predicted-probability
    bin, the observed fraud rate vs the summed predicted mass (exact
    int64 micros, so the 'mean predicted probability' is derivable
    without an order-dependent float sum). A well-calibrated scorer has
    pos_rate tracking p_micro_sum/n/1e6 per bin; this one is knowably
    mis-calibrated at the extremes (rational squashing, not a fitted
    sigmoid) — which is exactly what a calibration table is for.

    Scale: one scan, one 11-row aggregate; nothing else."""
    return _m10_bucketed(spark, sf_dir).select(
        F.col("b").alias("bin"),
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        F.round(F.col("n_pos") * 1.0 / (F.col("n_pos") + F.col("n_neg")), 6).alias(
            "pos_rate"
        ),
        F.col("p_micro_sum").alias("p_micro_sum"),
    )


# ---------------------------------------------------------------------------
# m12: decision-STUMP trainer — the m-family's tree-model rung. m08/m09
# train by gradient/centroid iteration; a stump trains by an exhaustive
# split sweep, and that sweep is exactly representable as one unpivoted
# scan + per-feature prefix sums, so the ENTIRE training computation (every
# candidate split's contingency table, not just the winner) value-hash
# replays. Split criterion is misclassification count — pure int64, so the
# argmin needs no float/rational comparison at all (a Gini argmin would
# need cross-multiplied fraction compares; errors-count is the standard
# impurity that stays integer).
# ---------------------------------------------------------------------------
_M12_Y_SQL = f"CASE WHEN value > {EVENTS_FRAUD_THRESHOLD!r} THEN 1 ELSE 0 END"

_M12_SQL = f"""
    WITH f AS (
      SELECT 'hr' AS feature, CAST(extract(hour FROM ts) AS BIGINT) AS v,
             {_M12_Y_SQL} AS y
      FROM events
      UNION ALL
      SELECT 'um', user_id % 10, {_M12_Y_SQL} FROM events
      UNION ALL
      SELECT 'vkb', CAST(floor(value / 50.0) AS BIGINT), {_M12_Y_SQL} FROM events
    ),
    cnt AS (
      SELECT feature, v, count(*) AS tot, sum(y) AS pos
      FROM f GROUP BY 1, 2
    ),
    cum AS (
      SELECT feature,
             lead(v) OVER (PARTITION BY feature ORDER BY v) AS thr,
             sum(tot) OVER (PARTITION BY feature ORDER BY v) AS n_left,
             sum(pos) OVER (PARTITION BY feature ORDER BY v) AS pos_left,
             sum(tot) OVER (PARTITION BY feature) AS n_all,
             sum(pos) OVER (PARTITION BY feature) AS pos_all
      FROM cnt
    ),
    cand AS (
      SELECT feature, thr, n_left, pos_left,
             n_all - n_left AS n_right,
             pos_all - pos_left AS pos_right,
             least(pos_left, n_left - pos_left)
               + least(pos_all - pos_left,
                       (n_all - n_left) - (pos_all - pos_left)) AS errors
      FROM cum WHERE thr IS NOT NULL
    )
    SELECT feature, CAST(thr AS BIGINT) AS thr,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_right AS BIGINT) AS pos_right,
           CAST(errors AS BIGINT) AS errors,
           CAST(row_number() OVER (ORDER BY errors, feature, thr) AS BIGINT)
             AS train_rank
    FROM cand
"""


@_register("m12_stump_trainer", _M12_SQL)
def m12_stump_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump trainer over the reference's fraud label (value >
    threshold, the R6 predicate branch — TransactionProcessor.java:15,39):
    exhaustively sweep every candidate split `feature < thr` across three
    features (event hour, user-id bucket, width-50 value bucket), score each by
    exact misclassification count (each side predicts its majority class),
    and rank candidates; train_rank=1 IS the learned stump. The full sweep
    table is returned so the oracle hash-checks every candidate's
    contingency counts, not just the argmin — and the learned model
    recovers the value-bucket boundary of the fraud predicate from data.

    Scale: the classic sorted-prefix-sum stump sweep. One corpus scan,
    unpivoted 3x into (feature, value-bucket) — the hash aggregate
    combines map-side, so the shuffle carries at most |features| x
    |domain| (~44) partial rows per map task regardless of corpus size.
    All prefix sums and the final rank run on that tiny aggregate (the
    single-partition rank window sees ~41 rows). Errors-count is int64
    end to end: any partitioning reproduces the model bit-exactly."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    feats = ev.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("hr").alias("feature"),
                    F.hour("ts").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("um").alias("feature"),
                    (F.col("user_id") % 10).cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("vkb").alias("feature"),
                    F.floor(F.col("value") / 50.0).cast("long").alias("v"),
                ),
            )
        ).alias("fv"),
        y.alias("y"),
    ).select("fv.feature", "fv.v", "y")
    cnt = feats.groupBy("feature", "v").agg(
        F.count("*").alias("tot"), F.sum("y").alias("pos")
    )
    wo = Window.partitionBy("feature").orderBy("v")
    wa = Window.partitionBy("feature")
    cum = cnt.select(
        "feature",
        F.lead("v").over(wo).alias("thr"),
        F.sum("tot").over(wo).alias("n_left"),
        F.sum("pos").over(wo).alias("pos_left"),
        F.sum("tot").over(wa).alias("n_all"),
        F.sum("pos").over(wa).alias("pos_all"),
    ).where(F.col("thr").isNotNull())
    cand = cum.select(
        "feature",
        "thr",
        "n_left",
        "pos_left",
        (F.col("n_all") - F.col("n_left")).alias("n_right"),
        (F.col("pos_all") - F.col("pos_left")).alias("pos_right"),
        (
            F.least(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
            + F.least(
                F.col("pos_all") - F.col("pos_left"),
                (F.col("n_all") - F.col("n_left"))
                - (F.col("pos_all") - F.col("pos_left")),
            )
        ).alias("errors"),
    )
    return cand.select(
        "feature",
        "thr",
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        "errors",
        F.row_number()
        .over(Window.orderBy("errors", "feature", "thr"))
        .cast("long")
        .alias("train_rank"),
    )


# ---------------------------------------------------------------------------
# m13: boosted-stump ENSEMBLE trainer — closes the m-family's train->deploy
# loop for trees the way m08->m04 did for linear models: m12 trains a single
# stump, m05 *deploys* a hand-specified CASE-stump ensemble, m13 TRAINS the
# ensemble. Boosting scheme is fixed-rate integer AdaBoost (the Hedge /
# fixed-beta variant): sample weights are B^(mistakes so far) with B=3 —
# pure int64 (max weight B^(rounds-1)=9), so every round's weighted sweep,
# argmin, and majority labels are exact integer arithmetic and any
# partitioning reproduces the ensemble bit-exactly. Classic AdaBoost's
# data-dependent weight factor (W-E)/E would overflow int64 by round 3 at
# corpus scale (weights square per round); the fixed-base variant keeps the
# boosting *shape* (misclassified rows gain geometric weight) with bounded
# exact state, and the final classifier is the unweighted majority vote of
# the (odd) ROUNDS stumps.
# ---------------------------------------------------------------------------
_M13_B = 3
_M13_ROUNDS = 3


def _m13_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized training frame: the three m12 features + fraud label,
    4 int64 columns (reference label: TransactionProcessor.java:15,39)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        F.hour("ts").cast("long").alias("hr"),
        (F.col("user_id") % 10).cast("long").alias("um"),
        F.floor(F.col("value") / 50.0).cast("long").alias("vkb"),
        (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD)))
        .cast("long")
        .alias("y"),
    )


def _m13_stump_pred(prefix: str) -> F.Column:
    """Prediction of the winner stump whose columns carry `prefix`:
    rows with feature-value < thr get the left majority label."""
    v = (
        F.when(F.col(f"{prefix}feature") == "hr", F.col("hr"))
        .when(F.col(f"{prefix}feature") == "um", F.col("um"))
        .otherwise(F.col("vkb"))
    )
    return F.when(v < F.col(f"{prefix}thr"), F.col(f"{prefix}ll")).otherwise(
        F.col(f"{prefix}rl")
    )


def _m13_sweep(base_w: DataFrame) -> DataFrame:
    """Weighted stump sweep (the m12 machinery with per-row int64 weights):
    unpivot 3x, map-side-combined (feature, v) aggregate of (sum w,
    sum w*y), prefix sums, weighted-majority leaf labels, exact int64
    weighted misclassification per candidate split."""
    from pyspark.sql.window import Window

    feats = base_w.select(
        F.explode(
            F.array(
                F.struct(F.lit("hr").alias("feature"), F.col("hr").alias("v")),
                F.struct(F.lit("um").alias("feature"), F.col("um").alias("v")),
                F.struct(F.lit("vkb").alias("feature"), F.col("vkb").alias("v")),
            )
        ).alias("fv"),
        "y",
        "w",
    ).select("fv.feature", "fv.v", "y", "w")
    cnt = feats.groupBy("feature", "v").agg(
        F.sum("w").alias("tot"), F.sum(F.col("w") * F.col("y")).alias("pos")
    )
    wo = Window.partitionBy("feature").orderBy("v")
    wa = Window.partitionBy("feature")
    cum = cnt.select(
        "feature",
        F.lead("v").over(wo).alias("thr"),
        F.sum("tot").over(wo).alias("n_left"),
        F.sum("pos").over(wo).alias("pos_left"),
        F.sum("tot").over(wa).alias("n_all"),
        F.sum("pos").over(wa).alias("pos_all"),
    ).where(F.col("thr").isNotNull())
    n_right = F.col("n_all") - F.col("n_left")
    pos_right = F.col("pos_all") - F.col("pos_left")
    return cum.select(
        "feature",
        "thr",
        F.when(F.lit(2) * F.col("pos_left") > F.col("n_left"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ll"),
        F.when(F.lit(2) * pos_right > n_right, F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("rl"),
        (
            F.least(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
            + F.least(pos_right, n_right - pos_right)
        ).alias("w_err"),
        F.col("n_all").alias("w_tot"),
    )


def _m13_sql() -> str:
    """Unrolled SQL twin — built by the same round count so the two sides
    cannot drift."""
    sql = f"""
    WITH d AS (
      SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             CAST(user_id % 10 AS BIGINT) AS um,
             CAST(floor(value / 50.0) AS BIGINT) AS vkb,
             CAST(CASE WHEN value > {EVENTS_FRAUD_THRESHOLD!r} THEN 1 ELSE 0
                  END AS BIGINT) AS y
      FROM events
    )"""
    prev_pred = []  # SQL stump predictions of rounds already chosen
    for t in range(1, _M13_ROUNDS + 1):
        w_expr = " * ".join(
            f"(CASE WHEN ({p}) <> d.y THEN {_M13_B} ELSE 1 END)"
            for p in prev_pred
        ) or "1"
        joins = "".join(f" CROSS JOIN win{k}" for k in range(1, t))
        unpivot = "\n      UNION ALL\n".join(
            f"""      SELECT '{feat}' AS feature, d.{feat} AS v, d.y,
             CAST({w_expr} AS BIGINT) AS w
      FROM d{joins}"""
            for feat in ("hr", "um", "vkb")
        )
        sql += f""", f{t} AS (
{unpivot}
    ), cnt{t} AS (
      SELECT feature, v, sum(w) AS tot, sum(w * y) AS pos
      FROM f{t} GROUP BY 1, 2
    ), cand{t} AS (
      SELECT feature, thr,
             CASE WHEN 2 * pos_left > n_left THEN 1 ELSE 0 END AS ll,
             CASE WHEN 2 * (pos_all - pos_left) > (n_all - n_left)
                  THEN 1 ELSE 0 END AS rl,
             least(pos_left, n_left - pos_left)
               + least(pos_all - pos_left,
                       (n_all - n_left) - (pos_all - pos_left)) AS w_err,
             n_all AS w_tot
      FROM (
        SELECT feature,
               lead(v) OVER (PARTITION BY feature ORDER BY v) AS thr,
               sum(tot) OVER (PARTITION BY feature ORDER BY v) AS n_left,
               sum(pos) OVER (PARTITION BY feature ORDER BY v) AS pos_left,
               sum(tot) OVER (PARTITION BY feature) AS n_all,
               sum(pos) OVER (PARTITION BY feature) AS pos_all
        FROM cnt{t}
      ) WHERE thr IS NOT NULL
    ), win{t} AS (
      SELECT feature AS w{t}_feature, thr AS w{t}_thr, ll AS w{t}_ll,
             rl AS w{t}_rl, w_err AS w{t}_err, w_tot AS w{t}_tot
      FROM cand{t} ORDER BY w_err, feature, thr LIMIT 1
    )"""
        prev_pred.append(
            f"CASE WHEN (CASE win{t}.w{t}_feature WHEN 'hr' THEN d.hr "
            f"WHEN 'um' THEN d.um ELSE d.vkb END) < win{t}.w{t}_thr "
            f"THEN win{t}.w{t}_ll ELSE win{t}.w{t}_rl END"
        )
    vote = " + ".join(f"({p})" for p in prev_pred)
    all_joins = "".join(f" CROSS JOIN win{k}" for k in range(1, _M13_ROUNDS + 1))
    stump_rows = "\n      UNION ALL\n".join(
        f"""      SELECT CAST({t} AS BIGINT) AS round, w{t}_feature AS feature,
             CAST(w{t}_thr AS BIGINT) AS thr, CAST(w{t}_ll AS BIGINT) AS left_label,
             CAST(w{t}_rl AS BIGINT) AS right_label, CAST(w{t}_err AS BIGINT) AS w_err,
             CAST(w{t}_tot AS BIGINT) AS w_tot FROM win{t}"""
        for t in range(1, _M13_ROUNDS + 1)
    )
    sql += f""", ens AS (
      SELECT CAST({_M13_ROUNDS + 1} AS BIGINT) AS round,
             '__vote__' AS feature, CAST(NULL AS BIGINT) AS thr,
             CAST(NULL AS BIGINT) AS left_label, CAST(NULL AS BIGINT) AS right_label,
             CAST(count(*) FILTER (WHERE
               CASE WHEN ({vote}) >= {(_M13_ROUNDS // 2) + 1} THEN 1 ELSE 0 END
                 <> d.y) AS BIGINT) AS w_err,
             CAST(count(*) AS BIGINT) AS w_tot
      FROM d{all_joins}
    )
    SELECT * FROM (
{stump_rows}
      UNION ALL
      SELECT * FROM ens
    ) ORDER BY round"""
    return sql


@_register("m13_boosted_stumps", _m13_sql())
def m13_boosted_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosted-stump ensemble TRAINER (round-6 verdict item 3): 3 unrolled
    fixed-rate-AdaBoost rounds over the m12 sweep machinery. Each round
    reweights rows by B^mistakes (exact int64, B=3), runs the full weighted
    split sweep, and picks the argmin-(weighted-error) stump with
    weighted-majority leaf labels; the returned rows are the 3 chosen
    stumps with their weighted error/total-weight trajectory plus a final
    '__vote__' row evaluating the unweighted majority-vote ensemble on the
    corpus — so the oracle value-hash replays the entire boosting
    trajectory AND the trained classifier's corpus error. Round 1 (uniform
    weights) is by construction m12's train_rank=1 stump, which recovers
    the reference fraud predicate's value boundary from data
    (TransactionProcessor.java:15,39); tests pin that identity and the
    deployed-CASE-scorer (m05 shape) agreement.

    Scale: per round, one scan of the 4-int64-column checkpointed base
    (at production: persist(MEMORY_AND_DISK)), unpivoted 3x and map-side-
    combined to <= ~44 (feature, bucket) rows — the shuffle carries tiny
    weighted-count partials regardless of corpus size; prefix sums, leaf
    labels, and the argmin run on that aggregate. Winner state is a 1-row
    localCheckpointed frame broadcast into the next round's weight
    expression (the m08 linear-plan lesson: each round references its
    predecessor exactly once). The ensemble eval is one more scan into a
    2-cell aggregate. Weights are bounded (B^(ROUNDS-1) = 9) so weighted
    counts never overflow int64 at any scale."""
    base = _m13_base(spark, sf_dir).localCheckpoint()
    winners: list[DataFrame] = []
    rows: list[DataFrame] = []
    for t in range(1, _M13_ROUNDS + 1):
        w = F.lit(1).cast("long")
        for k, _ in enumerate(winners, start=1):
            miss = (_m13_stump_pred(f"w{k}_") != F.col("y")).cast("long")
            w = w * (F.lit(1) + F.lit(_M13_B - 1) * miss)
        base_w = base
        for k, win in enumerate(winners, start=1):
            base_w = base_w.crossJoin(F.broadcast(win))
        base_w = base_w.withColumn("w", w)
        win_t = (
            _m13_sweep(base_w)
            .orderBy("w_err", "feature", "thr")
            .limit(1)
            .select(
                F.col("feature").alias(f"w{t}_feature"),
                F.col("thr").alias(f"w{t}_thr"),
                F.col("ll").alias(f"w{t}_ll"),
                F.col("rl").alias(f"w{t}_rl"),
                F.col("w_err").alias(f"w{t}_err"),
                F.col("w_tot").alias(f"w{t}_tot"),
            )
            .localCheckpoint()
        )
        winners.append(win_t)
        rows.append(
            win_t.select(
                F.lit(t).cast("long").alias("round"),
                F.col(f"w{t}_feature").alias("feature"),
                F.col(f"w{t}_thr").cast("long").alias("thr"),
                F.col(f"w{t}_ll").cast("long").alias("left_label"),
                F.col(f"w{t}_rl").cast("long").alias("right_label"),
                F.col(f"w{t}_err").cast("long").alias("w_err"),
                F.col(f"w{t}_tot").cast("long").alias("w_tot"),
            )
        )
    voted = base
    for win in winners:
        voted = voted.crossJoin(F.broadcast(win))
    vote_sum = sum(
        (_m13_stump_pred(f"w{k}_") for k in range(1, _M13_ROUNDS + 1)),
        F.lit(0),
    )
    pred = (vote_sum >= F.lit((_M13_ROUNDS // 2) + 1)).cast("long")
    ens = voted.agg(
        F.sum((pred != F.col("y")).cast("long")).cast("long").alias("w_err"),
        F.count("*").cast("long").alias("w_tot"),
    ).select(
        F.lit(_M13_ROUNDS + 1).cast("long").alias("round"),
        F.lit("__vote__").alias("feature"),
        F.lit(None).cast("long").alias("thr"),
        F.lit(None).cast("long").alias("left_label"),
        F.lit(None).cast("long").alias("right_label"),
        "w_err",
        "w_tot",
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.unionByName(ens).orderBy("round")


# ---------------------------------------------------------------------------
# m14: Bradley-Terry PAIRWISE preference trainer — the reward-model shape
# (RLHF data curation trains exactly this: sigma(s_a - s_b) on preference
# pairs). m08 proved pointwise logistic GD hash-replays; m14 adds the pair
# CONSTRUCTION step (adjacent event_id pairing — a sort-merge self-join at
# scale, no window over the whole corpus) and the pairwise objective: score
# s = w . x, P(a beats b) via the m08 rational link on the margin
# difference, no bias term (Bradley-Terry is translation-invariant).
# Gradients quantize to int64 micros before the sum, so training is
# order-independent under any partitioning; the oracle unrolls the same
# loop. The learned model must rank pairs by the fraud-amount ground truth
# (preference label = which transaction is larger), and the returned row
# hash-pins the weights AND the exact ranking-accuracy counts under them.
# ---------------------------------------------------------------------------
_M14_LR = 2.0
_M14_STEPS = 5


def _m14_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("value") / F.lit(100.0)).alias("x1"),
        (F.hour("ts") / F.lit(23.0)).alias("x2"),
        "value",
    )
    a = ev.where(F.col("event_id") % 2 == 0).alias("a")
    b = ev.alias("b")
    return (
        a.join(b, F.col("b.event_id") == F.col("a.event_id") + 1)
        .select(
            (F.col("a.x1") - F.col("b.x1")).alias("dx1"),
            (F.col("a.x2") - F.col("b.x2")).alias("dx2"),
            F.when(F.col("a.value") > F.col("b.value"), 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
    )


def _m14_p() -> F.Column:
    m = F.col("w1") * F.col("dx1") + F.col("w2") * F.col("dx2")
    return F.lit(0.5) * (F.lit(1.0) + m / (F.lit(1.0) + F.abs(m)))


def _m14_sql() -> str:
    p = (
        "0.5 * (1.0 + (w1 * dx1 + w2 * dx2) "
        "/ (1.0 + abs(w1 * dx1 + w2 * dx2)))"
    )
    sql = f"""
    WITH e AS (
      SELECT event_id, value / 100.0 AS x1,
             extract(hour FROM ts) / 23.0 AS x2, value
      FROM events
    ),
    d AS (
      SELECT a.x1 - b.x1 AS dx1, a.x2 - b.x2 AS dx2,
             CASE WHEN a.value > b.value THEN 1.0 ELSE 0.0 END AS y
      FROM e a JOIN e b ON b.event_id = a.event_id + 1
      WHERE a.event_id % 2 = 0
    ), w0 AS (SELECT 0.0 AS w1, 0.0 AS w2)"""
    for k in range(1, _M14_STEPS + 1):
        sql += f""", g{k} AS (
      SELECT sum(CAST(round((p - y) * dx1 * 1000000.0, 0) AS BIGINT)) AS g1,
             sum(CAST(round((p - y) * dx2 * 1000000.0, 0) AS BIGINT)) AS g2,
             CAST(count(*) AS DOUBLE) AS n
      FROM (SELECT d.*, {p} AS p FROM d CROSS JOIN w{k - 1})
    ), w{k} AS (
      SELECT w1 - {_M14_LR} * (g1 / 1000000.0) / n AS w1,
             w2 - {_M14_LR} * (g2 / 1000000.0) / n AS w2
      FROM w{k - 1} CROSS JOIN g{k}
    )"""
    return sql + f"""
    SELECT max(CAST(round(w1 * 1000000000.0, 0) AS BIGINT)) AS w1_nanos,
           max(CAST(round(w2 * 1000000000.0, 0) AS BIGINT)) AS w2_nanos,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE (p > 0.5) = (y = 1.0)) AS BIGINT)
             AS n_correct
    FROM (SELECT d.*, {p} AS p, w1, w2 FROM d CROSS JOIN w{_M14_STEPS})"""


@_register("m14_pairwise_preference_trainer", _m14_sql())
def m14_pairwise_preference_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry pairwise preference trainer (the reward-model rung):
    adjacent transactions pair up (sort-merge self-join on event_id — no
    corpus-wide window), the preference label is which of the pair is
    larger, and _M14_STEPS unrolled GD steps fit P(a beats b) =
    link(w . (x_a - x_b)) with the m08 recipe — rational link,
    per-pair gradients quantized to int64 micros before the sum, the
    2-weight state flowing between steps as broadcast 1-row frames. The
    returned row pins the learned weights as exact nanos plus the exact
    pairwise ranking-accuracy counts under them; a pytest asserts the
    model actually ranks (accuracy >> 0.5, w1 strongly positive since
    dx1 is the label's own signal scaled).

    Scale: pair construction shuffles on the 8-byte event_id only; each
    GD step is one map-side-combined 3-cell aggregate over the
    materialized-once pair frame; weights ride broadcasts (the m08/m13
    posture — each step references its predecessor exactly once)."""
    pairs = _m14_pairs(spark, sf_dir).localCheckpoint()
    w = spark.range(1).select(F.lit(0.0).alias("w1"), F.lit(0.0).alias("w2"))
    for _ in range(_M14_STEPS):
        r = _m14_p() - F.col("y")
        g = pairs.crossJoin(F.broadcast(w)).agg(
            F.sum(
                F.round(r * F.col("dx1") * F.lit(1000000.0), 0).cast("long")
            ).alias("g1"),
            F.sum(
                F.round(r * F.col("dx2") * F.lit(1000000.0), 0).cast("long")
            ).alias("g2"),
            F.count("*").cast("double").alias("n"),
            F.first("w1").alias("w1"),
            F.first("w2").alias("w2"),
        )
        lr = F.lit(_M14_LR)
        w = g.select(
            (F.col("w1") - lr * (F.col("g1") / F.lit(1000000.0)) / F.col("n")).alias("w1"),
            (F.col("w2") - lr * (F.col("g2") / F.lit(1000000.0)) / F.col("n")).alias("w2"),
        )
    scored = pairs.crossJoin(F.broadcast(w)).select(
        "y",
        _m14_p().alias("p"),
        F.round(F.col("w1") * F.lit(1000000000.0), 0).cast("long").alias("w1n"),
        F.round(F.col("w2") * F.lit(1000000000.0), 0).cast("long").alias("w2n"),
    )
    return scored.agg(
        F.max("w1n").alias("w1_nanos"),
        F.max("w2n").alias("w2_nanos"),
        F.count("*").cast("long").alias("n_pairs"),
        F.count_if((F.col("p") > 0.5) == (F.col("y") == 1.0))
        .cast("long")
        .alias("n_correct"),
    )


def score_wire(t):
    """(event_type, value, hr): the m04 scoring inputs, with the hour
    taken producer-side, so a replayed wire never re-derives calendar
    fields from a re-parsed timestamp."""
    return [
        F.col("event_type"),
        F.col("value"),
        F.hour("ts").cast("long").alias("hr"),
    ]


@_register(
    "m15_isotonic_calibration",
    f"""
    WITH s AS (
      SELECT round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS score,
             (value > {EVENTS_FRAUD_THRESHOLD}) AS is_fraud
      FROM (
        SELECT value,
               {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
    ),
    b AS (
      SELECT CAST(floor(score * 50) AS BIGINT) AS bucket,
             CAST(count(*) AS BIGINT) AS n,
             CAST(count(*) FILTER (WHERE is_fraud) AS BIGINT) AS k
      FROM s GROUP BY 1
    ),
    pre AS (
      SELECT bucket, n, k,
             row_number() OVER (ORDER BY bucket) AS i,
             sum(n) OVER (ORDER BY bucket) AS cn,
             sum(k) OVER (ORDER BY bucket) AS ck
      FROM b
    ),
    pairs AS (
      SELECT lo.i AS i, hi.i AS j,
             CAST(hi.ck - lo.ck + lo.k AS DOUBLE)
               / CAST(hi.cn - lo.cn + lo.n AS DOUBLE) AS r
      FROM pre lo JOIN pre hi ON lo.i <= hi.i
    ),
    inner_min AS (
      SELECT p.i, bk.i AS b, min(p.r) AS mn
      FROM pairs p JOIN pre bk ON p.i <= bk.i AND bk.i <= p.j
      GROUP BY 1, 2
    ),
    iso AS (SELECT b, max(mn) AS iso_v FROM inner_min GROUP BY 1)
    SELECT pre.bucket, pre.n, pre.k,
           round(CAST(pre.k AS DOUBLE) / pre.n, 6) AS raw_rate,
           round(iso.iso_v, 6) AS iso_rate
    FROM pre JOIN iso ON pre.i = iso.b
    """,
)
def m15_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression (PAV) calibrator TRAINING for the deployed
    m04 scorer — the step after m06's reliability diagram: fit the
    monotone-nondecreasing fraud-probability curve over score buckets
    that sklearn's IsotonicRegression would produce, via the exact
    minimax characterization iso(b) = max_(i<=b) min_(j>=b)
    mean(k/n over buckets i..j) (Robertson/Wright/Dykstra 1988 —
    provably equal to pool-adjacent-violators; the pure-Python PAV
    closure in tests/test_properties.py pins exactly that). Numerators
    and denominators are exact integer prefix sums, so every ratio is
    one deterministic IEEE division — no summation-order float hazard —
    and the 6-dp round is the m06 recipe the driver already
    value-hashes.

    Scale: the corpus-sized work is ONE narrow scan + one <=51-key
    map-side-combined aggregate (the same shape as m06); the minimax
    runs on the 51-row bucket frame, so its theta-joins are
    constant-size regardless of corpus — O(B^2) pairs with B fixed at
    51, the textbook reduction of a sequential PAV sweep to a bounded
    relational closed form."""
    return isotonic_fit(M15.reduce(events_projection(spark, sf_dir, M15.cols)))


def m15_score_buckets(ev: DataFrame) -> DataFrame:
    """The corpus-sized half of m15: `score_wire` rows (hour in `hr`)
    aggregated to <=51 (bucket, n, k) rows — associative, so partial
    bucket counts from independent slices (micro-batches, partitions,
    days) merge by summation into the identical frame (the property
    s26 deploys)."""
    score = F.round(_m04_p(F.col("hr")), 6)
    return (
        ev.select(
            score.alias("score"),
            (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).alias(
                "is_fraud"
            ),
        )
        .groupBy(F.floor(F.col("score") * 50).cast("long").alias("bucket"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.count_if("is_fraud").cast("long").alias("k"),
        )
    )


# The scoring wire -> m15's (bucket, n, k) calibration counts (twin s26).
M15 = EventsRule(score_wire, m15_score_buckets)


def isotonic_fit(b: DataFrame) -> DataFrame:
    """The bounded half of m15: merge (bucket, n, k) partials, then
    minimax isotonic regression over them — see
    m15_isotonic_calibration's docstring. Shared by the s26 twin."""
    from pyspark.sql.window import Window

    b = b.groupBy("bucket").agg(
        F.sum("n").cast("long").alias("n"), F.sum("k").cast("long").alias("k")
    )
    # <=51 rows from here on: the single-partition window is bounded by
    # construction (bucket count is fixed, not corpus-sized)
    w = Window.orderBy("bucket")
    pre = b.select(
        "bucket",
        "n",
        "k",
        F.row_number().over(w).alias("i"),
        F.sum("n").over(w).alias("cn"),
        F.sum("k").over(w).alias("ck"),
    ).localCheckpoint()
    lo = pre.select(
        F.col("i").alias("li"), F.col("n").alias("ln"), F.col("k").alias("lk"),
        F.col("cn").alias("lcn"), F.col("ck").alias("lck"),
    )
    hi = pre.select(
        F.col("i").alias("hi_"), F.col("cn").alias("hcn"),
        F.col("ck").alias("hck"),
    )
    pairs = lo.join(hi, F.col("li") <= F.col("hi_")).select(
        F.col("li").alias("i"),
        F.col("hi_").alias("j"),
        (
            (F.col("hck") - F.col("lck") + F.col("lk")).cast("double")
            / (F.col("hcn") - F.col("lcn") + F.col("ln")).cast("double")
        ).alias("r"),
    )
    bk = pre.select(F.col("i").alias("b"))
    inner_min = (
        pairs.join(
            bk, (F.col("i") <= F.col("b")) & (F.col("b") <= F.col("j"))
        )
        .groupBy("i", "b")
        .agg(F.min("r").alias("mn"))
    )
    iso = inner_min.groupBy("b").agg(F.max("mn").alias("iso_v"))
    return (
        pre.join(iso, pre.i == iso.b)
        .select(
            "bucket",
            "n",
            "k",
            F.round(F.col("k").cast("double") / F.col("n"), 6).alias(
                "raw_rate"
            ),
            F.round("iso_v", 6).alias("iso_rate"),
        )
    )


# ---------------------------------------------------------------------------
# m16: depth-2 decision-TREE trainer — one level of recursion over the m12
# sweep. The root is m12's argmin stump; each child partition then re-runs
# the identical sweep restricted to its rows. Impurity stays exact int64
# misclassification counts throughout, so root pick, both child picks, and
# the error-improvement witness all value-hash replay (the same reason m12
# chose errors-count over Gini). Tie-break everywhere: (errors, feature,
# thr) ascending — total order, engine-independent.
# ---------------------------------------------------------------------------
_M16_FEATS_DUCK = (
    "CAST(extract(hour FROM ts) AS BIGINT) AS hr, "
    "user_id % 10 AS um, "
    "CAST(floor(value / 50.0) AS BIGINT) AS vkb"
)
# One sweep body, parameterized by its source CTE and partition keys; the
# WITH-chain nests it twice (root pass, then per-node pass).
_M16_SWEEP = """
    cnt{sfx} AS (
      SELECT {keys} feature, v, count(*) AS tot, sum(y) AS pos
      FROM f{sfx} GROUP BY ALL
    ),
    cum{sfx} AS (
      SELECT {keys} feature,
             lead(v) OVER (PARTITION BY {keys} feature ORDER BY v) AS thr,
             sum(tot) OVER (PARTITION BY {keys} feature ORDER BY v)
               AS n_left,
             sum(pos) OVER (PARTITION BY {keys} feature ORDER BY v)
               AS pos_left,
             sum(tot) OVER (PARTITION BY {keys} feature) AS n_all,
             sum(pos) OVER (PARTITION BY {keys} feature) AS pos_all
      FROM cnt{sfx}
    ),
    cand{sfx} AS (
      SELECT {keys} feature, thr, n_left, pos_left,
             n_all - n_left AS n_right,
             pos_all - pos_left AS pos_right,
             least(pos_left, n_left - pos_left)
               + least(pos_all - pos_left,
                       (n_all - n_left) - (pos_all - pos_left)) AS errors
      FROM cum{sfx} WHERE thr IS NOT NULL
    )
"""

_M16_SQL = (
    f"""
    WITH base AS (
      SELECT {_M16_FEATS_DUCK},
             CASE WHEN value > {{thr}} THEN 1 ELSE 0 END AS y
      FROM events
    ),
    f AS (
      SELECT 'hr' AS feature, hr AS v, y FROM base
      UNION ALL SELECT 'um', um, y FROM base
      UNION ALL SELECT 'vkb', vkb, y FROM base
    ),
    """
    + _M16_SWEEP.format(sfx="", keys="")
    + f""",
    root AS (
      SELECT feature, thr FROM cand
      ORDER BY errors, feature, thr LIMIT 1
    ),
    sided AS (
      SELECT CASE WHEN (CASE r.feature WHEN 'hr' THEN b.hr
                        WHEN 'um' THEN b.um ELSE b.vkb END) < r.thr
                  THEN 'L' ELSE 'R' END AS node,
             b.hr, b.um, b.vkb, b.y
      FROM base b CROSS JOIN root r
    ),
    f2 AS (
      SELECT node, 'hr' AS feature, hr AS v, y FROM sided
      UNION ALL SELECT node, 'um', um, y FROM sided
      UNION ALL SELECT node, 'vkb', vkb, y FROM sided
    ),
    """
    + _M16_SWEEP.format(sfx="2", keys="node,")
    + """,
    best2 AS (
      SELECT node, feature, thr, n_left, pos_left, n_right, pos_right,
             errors,
             row_number() OVER (PARTITION BY node
                                ORDER BY errors, feature, thr) AS rk
      FROM cand2
    ),
    rootrow AS (
      SELECT 'root' AS node, c.feature, c.thr, c.n_left, c.pos_left,
             c.n_right, c.pos_right, c.errors
      FROM cand c JOIN root r ON c.feature = r.feature AND c.thr = r.thr
    )
    SELECT node, feature, CAST(thr AS BIGINT) AS thr,
           CAST(n_left AS BIGINT) AS n_left,
           CAST(pos_left AS BIGINT) AS pos_left,
           CAST(n_right AS BIGINT) AS n_right,
           CAST(pos_right AS BIGINT) AS pos_right,
           CAST(errors AS BIGINT) AS errors
    FROM (
      SELECT * FROM rootrow
      UNION ALL
      SELECT node, feature, thr, n_left, pos_left, n_right, pos_right,
             errors
      FROM best2 WHERE rk = 1
    ) u
    ORDER BY node
"""
).format(thr=repr(EVENTS_FRAUD_THRESHOLD))


def _m16_unpivot(df: DataFrame, *keys: str) -> DataFrame:
    """(feature, v) unpivot of the hr/um/vkb columns, keeping `keys`."""
    return df.select(
        *keys,
        F.explode(
            F.array(
                F.struct(F.lit("hr").alias("feature"), F.col("hr").alias("v")),
                F.struct(F.lit("um").alias("feature"), F.col("um").alias("v")),
                F.struct(
                    F.lit("vkb").alias("feature"), F.col("vkb").alias("v")
                ),
            )
        ).alias("fv"),
        "y",
    ).select(*keys, "fv.feature", "fv.v", "y")


def _m16_sweep(feats: DataFrame, *keys: str) -> DataFrame:
    """The m12 prefix-sum split sweep, partitioned by `keys` + feature."""
    from pyspark.sql.window import Window

    part = [*keys, "feature"]
    cnt = feats.groupBy(*part, "v").agg(
        F.count("*").alias("tot"), F.sum("y").alias("pos")
    )
    wo = Window.partitionBy(*part).orderBy("v")
    wa = Window.partitionBy(*part)
    return (
        cnt.select(
            *part,
            F.lead("v").over(wo).alias("thr"),
            F.sum("tot").over(wo).alias("n_left"),
            F.sum("pos").over(wo).alias("pos_left"),
            F.sum("tot").over(wa).alias("n_all"),
            F.sum("pos").over(wa).alias("pos_all"),
        )
        .where(F.col("thr").isNotNull())
        .select(
            *part,
            "thr",
            "n_left",
            "pos_left",
            (F.col("n_all") - F.col("n_left")).alias("n_right"),
            (F.col("pos_all") - F.col("pos_left")).alias("pos_right"),
            (
                F.least(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
                + F.least(
                    F.col("pos_all") - F.col("pos_left"),
                    (F.col("n_all") - F.col("n_left"))
                    - (F.col("pos_all") - F.col("pos_left")),
                )
            ).alias("errors"),
        )
    )


@_register("m16_depth2_tree_trainer", _M16_SQL)
def m16_depth2_tree_trainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 decision-tree trainer: recursive partitioning, the step from
    m12's single stump to an actual tree (the CART/C4.5 shape every
    production GBDT library builds level-by-level). Pass 1 runs the m12
    sweep and takes its argmin as the ROOT; the 1-row winner is
    localCheckpointed and broadcast so each event row routes to child 'L'
    or 'R' with zero shuffle; pass 2 re-runs the identical sweep with the
    child node in the grouping key. Output: the root's full contingency
    row plus each child's best split — the reader checks errors(L)+
    errors(R) <= errors(root), the level-wise impurity-improvement
    invariant (pinned in pytest and by the brute-force closure).

    Scale: level-wise tree growth exactly as distributed GBDTs do it —
    each level is ONE corpus scan whose hash aggregate combines map-side
    to <= |nodes| x |features| x |buckets| (~88) rows per map task; the
    sweep windows run on that tiny aggregate. Depth-k trees are k scans,
    never k shuffles of the corpus; routing state is a broadcast 1-row
    frame per level (the m13 posture).

    Reference parity: learns the two-level refinement of the reference's
    flat fraud gate (TransactionProcessor.java:15,39)."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.hour("ts").cast("long").alias("hr"),
        (F.col("user_id") % 10).cast("long").alias("um"),
        F.floor(F.col("value") / 50.0).cast("long").alias("vkb"),
        (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD)))
        .cast("long")
        .alias("y"),
    )
    from pyspark.sql.window import Window

    cand = _m16_sweep(_m16_unpivot(base), )
    root = (
        cand.withColumn(
            "rk",
            F.row_number().over(Window.orderBy("errors", "feature", "thr")),
        )
        .where(F.col("rk") == 1)
        .select(
            F.col("feature").alias("rfeat"),
            F.col("thr").alias("rthr"),
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "errors",
        )
        .localCheckpoint()
    )
    sided = base.join(F.broadcast(root.select("rfeat", "rthr"))).select(
        F.when(
            F.when(F.col("rfeat") == "hr", F.col("hr"))
            .when(F.col("rfeat") == "um", F.col("um"))
            .otherwise(F.col("vkb"))
            < F.col("rthr"),
            F.lit("L"),
        )
        .otherwise(F.lit("R"))
        .alias("node"),
        "hr",
        "um",
        "vkb",
        "y",
    )
    best2 = (
        _m16_sweep(_m16_unpivot(sided, "node"), "node")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("node").orderBy("errors", "feature", "thr")
            ),
        )
        .where(F.col("rk") == 1)
        .drop("rk")
    )
    rootrow = root.select(
        F.lit("root").alias("node"),
        F.col("rfeat").alias("feature"),
        F.col("rthr").alias("thr"),
        "n_left",
        "pos_left",
        "n_right",
        "pos_right",
        "errors",
    )
    out = rootrow.unionByName(
        best2.select(
            "node",
            "feature",
            "thr",
            "n_left",
            "pos_left",
            "n_right",
            "pos_right",
            "errors",
        )
    )
    return out.select(
        "node",
        "feature",
        F.col("thr").cast("long").alias("thr"),
        F.col("n_left").cast("long").alias("n_left"),
        F.col("pos_left").cast("long").alias("pos_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("pos_right").cast("long").alias("pos_right"),
        F.col("errors").cast("long").alias("errors"),
    ).orderBy("node")


# ---------------------------------------------------------------------------
# m17: population-stability-index drift monitor — the standard deployed-
# model health metric (and the tabular sibling of the Grafana alert rule
# q8 watches). The month of events splits at its temporal midpoint into a
# reference window and a live window; each event_type's value distribution
# is bucketed (8 fixed buckets) and the two histograms compared with
# Laplace-smoothed PSI. Counts are exact int64; the one float step per
# bucket (two divisions, one ln, one product) runs as a single shared
# expression string on both engines and is rounded once to integer
# micro-units, so the per-type PSI is an exact int64 sum (the l77/m08
# order-proof discipline).
# ---------------------------------------------------------------------------
_M17_NBUCKETS = 8
_M17_BUCKET = (
    "greatest(least(CAST(floor(value / 25.0) AS BIGINT), "
    f"{_M17_NBUCKETS - 1}), 0)"
)
# p = smoothed ref share, q = smoothed live share; contrib = (p-q)*ln(p/q)
_M17_CONTRIB = (
    "CAST(round(((ref_n + 1.0) / (ref_tot + 8.0)"
    " - (live_n + 1.0) / (live_tot + 8.0))"
    " * ln(((ref_n + 1.0) / (ref_tot + 8.0))"
    " / ((live_n + 1.0) / (live_tot + 8.0))) * 1000000.0, 0) AS BIGINT)"
)

_M17_SQL = f"""
    WITH t AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             {_M17_BUCKET} AS bucket
      FROM events
    ),
    st AS (SELECT min(t) AS mn, max(t) AS mx FROM t),
    cnt AS (
      SELECT event_type, bucket,
             count(*) FILTER (WHERE t < st.mn + (st.mx - st.mn) // 2)
               AS ref_n,
             count(*) FILTER (WHERE t >= st.mn + (st.mx - st.mn) // 2)
               AS live_n
      FROM t CROSS JOIN st GROUP BY 1, 2
    ),
    grid AS (
      SELECT et.event_type, g.bucket
      FROM (SELECT DISTINCT event_type FROM t) et
      CROSS JOIN range({_M17_NBUCKETS}) AS g(bucket)
    ),
    filled AS (
      SELECT grid.event_type, grid.bucket,
             coalesce(cnt.ref_n, 0) AS ref_n,
             coalesce(cnt.live_n, 0) AS live_n
      FROM grid LEFT JOIN cnt USING (event_type, bucket)
    ),
    tot AS (
      SELECT event_type, bucket, ref_n, live_n,
             sum(ref_n) OVER (PARTITION BY event_type) AS ref_tot,
             sum(live_n) OVER (PARTITION BY event_type) AS live_tot
      FROM filled
    )
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(live_n AS BIGINT) AS live_n,
           {_M17_CONTRIB} AS contrib_micro,
           CAST(sum({_M17_CONTRIB}) OVER (PARTITION BY event_type)
                AS BIGINT) AS psi_micro
    FROM tot
"""


def m17_psi_from_counts(counts: DataFrame) -> DataFrame:
    """Final PSI step over merged (event_type, bucket, ref_n, live_n)
    counts: densify onto the fixed 8-bucket grid, window the per-type
    totals, and emit exact micro-unit contributions + per-type PSI.
    Shared by the batch query and the streaming deployment (s28), which
    is what makes the streaming result provably equal to the batch one."""
    from pyspark.sql.window import Window

    spark = counts.sparkSession
    grid = (
        counts.select("event_type")
        .distinct()
        .crossJoin(spark.range(_M17_NBUCKETS).withColumnRenamed("id", "bucket"))
    )
    filled = grid.join(counts, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
        F.coalesce("live_n", F.lit(0)).alias("live_n"),
    )
    wt = Window.partitionBy("event_type")
    tot = filled.select(
        "event_type",
        "bucket",
        "ref_n",
        "live_n",
        F.sum("ref_n").over(wt).alias("ref_tot"),
        F.sum("live_n").over(wt).alias("live_tot"),
    )
    return tot.selectExpr(
        "event_type",
        "CAST(bucket AS BIGINT) AS bucket",
        "CAST(ref_n AS BIGINT) AS ref_n",
        "CAST(live_n AS BIGINT) AS live_n",
        f"{_M17_CONTRIB} AS contrib_micro",
    ).select(
        "*",
        F.sum("contrib_micro")
        .over(Window.partitionBy("event_type"))
        .cast("long")
        .alias("psi_micro"),
    )


def m17_split_seconds(spark: SparkSession, sf_dir: str) -> int:
    """Temporal midpoint of the events table in epoch seconds — the
    reference/live boundary. Exact int64 arithmetic on second-truncated
    timestamps; one tiny driver collect of a 1-row aggregate (the same
    class as the ANN index builds, documented there)."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    row = ev.agg(F.min(t).alias("mn"), F.max(t).alias("mx")).collect()[0]
    return int(row.mn + (row.mx - row.mn) // 2)


def m17_bucket_counts(ev: DataFrame, split_s: int) -> DataFrame:
    """(event_type, bucket, ref_n, live_n) exact counts for one frame."""
    t = event_seconds()
    return (
        ev.select(
            "event_type",
            t.alias("t"),
            F.expr(_M17_BUCKET).alias("bucket"),
        )
        .groupBy("event_type", "bucket")
        .agg(
            F.expr(f"count_if(t < {split_s})").alias("ref_n"),
            F.expr(f"count_if(t >= {split_s})").alias("live_n"),
        )
    )


@_register("m17_psi_drift", _M17_SQL)
def m17_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift report per event_type: the first-
    vs-second-half value histograms (8 fixed buckets, Laplace-smoothed)
    compared by PSI in exact integer micro-units. The industry reading:
    psi < 0.1 stable, 0.1-0.25 drifting, > 0.25 action — this corpus is
    stationary by construction, so the report hash-pins near-zero PSI,
    and the streaming twin (s28) must reproduce it bit-for-bit.

    Scale: two corpus scans (a 1-row min/max aggregate, then ONE pass
    whose hash aggregate combines map-side to <= |types| x 8 partial rows
    per map task); everything after runs on the ~40-row grid. No
    corpus-sized join or window anywhere.

    Reference parity: none in reference; public methodology (population stability index, credit-scoring practice).
    """
    ev = load_table(spark, sf_dir, "events")
    split_s = m17_split_seconds(spark, sf_dir)
    return m17_psi_from_counts(m17_bucket_counts(ev, split_s))


_M18_SC_SQL = f"""
      SELECT event_type,
             round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS s,
             CASE WHEN value > {EVENTS_FRAUD_THRESHOLD!r} THEN 1 ELSE 0 END AS y
      FROM (
        SELECT event_type, value,
               {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
"""

_M18_SQL = f"""
    WITH sc AS ({_M18_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, s,
             CAST(sum(y) AS BIGINT) AS n_pos_s,
             CAST(sum(1 - y) AS BIGINT) AS n_neg_s
      FROM sc GROUP BY 1, 2
      UNION ALL
      SELECT 'ALL', s, CAST(sum(y) AS BIGINT), CAST(sum(1 - y) AS BIGINT)
      FROM sc GROUP BY 2
    ),
    w AS (
      SELECT segment, n_pos_s, n_neg_s,
             coalesce(sum(n_neg_s) OVER (
               PARTITION BY segment ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM seg
    )
    SELECT segment,
           CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
           CAST(sum(n_neg_s) AS BIGINT) AS n_neg,
           CAST(sum(n_pos_s * (2 * neg_below + n_neg_s)) AS BIGINT) AS u2,
           CASE WHEN sum(n_pos_s) > 0 AND sum(n_neg_s) > 0 THEN
             CAST((1000000 * sum(n_pos_s * (2 * neg_below + n_neg_s)))
                  // (2 * sum(n_pos_s) * sum(n_neg_s)) AS BIGINT)
           END AS auc_ppm
    FROM w GROUP BY segment
"""


@_register("m18_exact_auc", _M18_SQL)
def m18_exact_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC for the m04 scorer per event_type segment plus
    'ALL', via the Mann-Whitney U statistic over a score HISTOGRAM —
    the one evaluation metric m10's threshold sweep cannot derive
    (AUC integrates over every threshold, not a 0.1 grid). Ties get
    the standard half-credit, kept integer-exact by carrying 2*U:
    u2 = sum_s n_pos(s) * (2 * n_neg(below s) + n_neg(at s)), and
    auc_ppm = floor(1e6 * u2 / (2 * n_pos * n_neg)). Scores are the
    round(p, 6) doubles both engines already agree on bit-for-bit
    (the m10/m11 contract); every count and rank sum after that is
    int64, so a driver hash-match proves the tie handling too.

    Scale: the classic sort-the-corpus AUC is a global sort; this is
    the histogram formulation — ONE map-side-combined hash aggregate
    to <= |types| x |distinct rounded scores| rows, where the score
    codomain (<= 1e6+1 values after round(.,6)) bounds the histogram
    INDEPENDENT of corpus size. The cumulative-negatives window and
    final 6-row aggregate run on that bounded frame; 'ALL' re-derives
    from the per-type histogram (localCheckpointed, so the corpus is
    scanned exactly once). int64 ppm scaling is exact up to ~2e6 rows
    per class per segment; past that the same plan runs with
    DECIMAL(38) ppm math.

    Reference parity: the deployment-grade answer to the question the
    reference's strict >10000 rule (TransactionProcessor.java:43-51)
    hard-codes — how good is the score at separating fraud from clean
    across ALL thresholds."""
    return m18_auc_from_counts(
        SCORE_HIST.reduce(events_projection(spark, sf_dir, SCORE_HIST.cols))
    )


def m18_score_counts(df: DataFrame, hour_col=None) -> DataFrame:
    """Per-(event_type, rounded score) positive/negative counts — the
    bounded AUC histogram. Associative, so partials of this exact shape
    merge by summation (`merge_score_hist`)."""
    s = F.round(_m04_p(hour_col), 6)
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    sc = df.select(F.col("event_type"), s.alias("s"), y.alias("y"))
    return sc.groupBy("event_type", "s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg_s"),
    )


# The scoring wire -> the (event_type, s, n_pos_s, n_neg_s) score
# histogram: m18, m24 and m35 (and their twins s31, s37, s44) reduce to it.
SCORE_HIST = EventsRule(
    score_wire, lambda e: m18_score_counts(e, hour_col=F.col("hr"))
)


def merge_score_hist(per: DataFrame) -> DataFrame:
    """Sum (event_type, s, n_pos_s, n_neg_s) partials per (type, score);
    checkpointed, since every report reads the bounded histogram twice
    (per type and 'ALL')."""
    return (
        per.groupBy("event_type", "s")
        .agg(
            F.sum("n_pos_s").cast("long").alias("n_pos_s"),
            F.sum("n_neg_s").cast("long").alias("n_neg_s"),
        )
        .localCheckpoint()
    )


def m18_auc_from_counts(per: DataFrame) -> DataFrame:
    """(event_type, s, n_pos_s, n_neg_s) histogram partials -> the
    per-segment + ALL exact-AUC report. Shared by m18 and the streaming
    s31."""
    from pyspark.sql.window import Window

    per = merge_score_hist(per)
    seg = per.select(
        F.col("event_type").alias("segment"), "s", "n_pos_s", "n_neg_s"
    ).unionAll(
        per.groupBy("s")
        .agg(
            F.sum("n_pos_s").alias("n_pos_s"),
            F.sum("n_neg_s").alias("n_neg_s"),
        )
        .select(F.lit("ALL").alias("segment"), "s", "n_pos_s", "n_neg_s")
    )
    w = (
        Window.partitionBy("segment")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = seg.withColumn(
        "neg_below", F.coalesce(F.sum("n_neg_s").over(w), F.lit(0))
    )
    return ranked.groupBy("segment").agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos_s")
            * (F.lit(2) * F.col("neg_below") + F.col("n_neg_s"))
        )
        .cast("long")
        .alias("u2"),
        F.when(
            (F.sum("n_pos_s") > 0) & (F.sum("n_neg_s") > 0),
            F.expr(
                "CAST((1000000 * sum(n_pos_s * (2 * neg_below + n_neg_s)))"
                " div (2 * sum(n_pos_s) * sum(n_neg_s)) AS BIGINT)"
            ),
        ).alias("auc_ppm"),
    )


_M19_BKT = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)"
    " % 4"
)

_M19_SQL = f"""
    WITH base AS (
      SELECT {_M19_BKT} AS bkt,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             user_id % 10 AS um,
             CAST(floor(value / 50.0) AS BIGINT) AS vkb,
             {_M12_Y_SQL} AS y
      FROM events
    ),
    f AS (
      SELECT bkt, 'hr' AS feature, hr AS v, y FROM base
      UNION ALL SELECT bkt, 'um', um, y FROM base
      UNION ALL SELECT bkt, 'vkb', vkb, y FROM base
    ),
    cnt AS (
      SELECT bkt, feature, v, count(*) AS tot, sum(y) AS pos
      FROM f GROUP BY 1, 2, 3
    ),
    ho AS (
      SELECT feature, v, sum(tot) AS tot, sum(pos) AS pos
      FROM cnt WHERE bkt = 3 GROUP BY 1, 2
    ),
    sizes AS (SELECT unnest(range(1, 4)) AS sz),
    tcnt AS (
      SELECT s.sz, c.feature, c.v, sum(c.tot) AS tot, sum(c.pos) AS pos
      FROM sizes s JOIN cnt c ON c.bkt < s.sz GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT sz, feature,
             lead(v) OVER (PARTITION BY sz, feature ORDER BY v) AS thr,
             sum(tot) OVER (PARTITION BY sz, feature ORDER BY v) AS n_left,
             sum(pos) OVER (PARTITION BY sz, feature ORDER BY v) AS pos_left,
             sum(tot) OVER (PARTITION BY sz, feature) AS n_all,
             sum(pos) OVER (PARTITION BY sz, feature) AS pos_all
      FROM tcnt
    ),
    cand AS (
      SELECT sz, feature, thr, n_left, pos_left, n_all,
             n_all - n_left AS n_right,
             pos_all - pos_left AS pos_right,
             least(pos_left, n_left - pos_left)
               + least(pos_all - pos_left,
                       (n_all - n_left) - (pos_all - pos_left)) AS errors
      FROM cum WHERE thr IS NOT NULL
    ),
    win AS (
      SELECT * FROM (
        SELECT cand.*, row_number() OVER (PARTITION BY sz
                 ORDER BY errors, feature, thr) AS rk
        FROM cand
      ) WHERE rk = 1
    ),
    evh AS (
      SELECT w.sz,
             sum(CASE WHEN h.v < w.thr
                  THEN CASE WHEN 2 * w.pos_left > w.n_left
                       THEN h.tot - h.pos ELSE h.pos END
                  ELSE CASE WHEN 2 * w.pos_right > w.n_right
                       THEN h.tot - h.pos ELSE h.pos END END) AS ho_errors,
             sum(h.tot) AS ho_n
      FROM win w JOIN ho h ON h.feature = w.feature
      GROUP BY 1
    )
    SELECT CAST(w.sz AS BIGINT) AS size_id,
           CAST(w.n_all AS BIGINT) AS n_train,
           w.feature, CAST(w.thr AS BIGINT) AS thr,
           CAST(w.errors AS BIGINT) AS train_errors,
           CAST(e.ho_errors AS BIGINT) AS holdout_errors,
           CAST(e.ho_n AS BIGINT) AS holdout_n
    FROM win w JOIN evh e ON e.sz = w.sz
"""


@_register("m19_learning_curve", _M19_SQL)
def m19_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the m12 stump family: train the
    exhaustive-sweep stump on NESTED hash-defined subsets (1/4, 2/4,
    3/4 of the corpus — buckets 0..s-1 of an event_id-hash mod 4) and
    evaluate each winner on the held-out bucket 3 — the
    does-more-data-help methodology every training pipeline runs
    before paying for more data. Nested (not disjoint) subsets are the
    textbook curve: each size adds data to the previous one, so the
    curve isolates data volume from sample luck. Winner selection,
    train errors, and holdout errors are all int64 counts (majority
    vote: predict 1 iff 2*pos > n, ties to 0), so the full curve
    value-hash replays.

    Scale: ONE corpus scan into per-(bucket, feature, value-bucket)
    counts (map-side combined, bounded by 4 x |features| x |domain|,
    checkpointed); every size's sweep is a re-aggregation of that tiny
    frame (sizes join is 3 rows x bounded counts), the three winners
    are 1-row frames, and the holdout evaluation joins bounded counts
    against broadcast winners — the corpus is never rescanned or
    reshuffled per curve point, which is what makes a 10-point curve
    at 100 TB cost one scan, not ten.

    Reference parity: extends the m12 trainer (R6's learned
    counterpart) with the evaluation protocol; no reference
    equivalent."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    base = ev.select(
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 4"
        ).alias("bkt"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("hr").alias("feature"),
                    F.hour("ts").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("um").alias("feature"),
                    (F.col("user_id") % 10).cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("vkb").alias("feature"),
                    F.floor(F.col("value") / 50.0).cast("long").alias("v"),
                ),
            )
        ).alias("fv"),
        y.alias("y"),
    ).select("bkt", "fv.feature", "fv.v", "y")
    cnt = (
        base.groupBy("bkt", "feature", "v")
        .agg(F.count("*").alias("tot"), F.sum("y").alias("pos"))
        .localCheckpoint()  # bounded: 4 x |features| x |domain|
    )
    ho = (
        cnt.where(F.col("bkt") == 3)
        .groupBy("feature", "v")
        .agg(F.sum("tot").alias("tot"), F.sum("pos").alias("pos"))
    )
    sizes = spark.range(1, 4).select(F.col("id").alias("sz"))
    tcnt = (
        F.broadcast(sizes)
        .join(cnt, cnt["bkt"] < sizes["sz"])
        .groupBy("sz", "feature", "v")
        .agg(F.sum("tot").alias("tot"), F.sum("pos").alias("pos"))
    )
    wo = Window.partitionBy("sz", "feature").orderBy("v")
    wa = Window.partitionBy("sz", "feature")
    cum = tcnt.select(
        "sz",
        "feature",
        F.lead("v").over(wo).alias("thr"),
        F.sum("tot").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("n_left"),
        F.sum("pos").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("pos_left"),
        F.sum("tot").over(wa).alias("n_all"),
        F.sum("pos").over(wa).alias("pos_all"),
    )
    cand = cum.where(F.col("thr").isNotNull()).select(
        "sz",
        "feature",
        "thr",
        "n_left",
        "pos_left",
        "n_all",
        (F.col("n_all") - F.col("n_left")).alias("n_right"),
        (F.col("pos_all") - F.col("pos_left")).alias("pos_right"),
        (
            F.least(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
            + F.least(
                F.col("pos_all") - F.col("pos_left"),
                (F.col("n_all") - F.col("n_left"))
                - (F.col("pos_all") - F.col("pos_left")),
            )
        ).alias("errors"),
    )
    wr = Window.partitionBy("sz").orderBy("errors", "feature", "thr")
    win = (
        cand.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .drop("rk")
        .localCheckpoint()  # 3 rows; feeds eval join + final projection
    )
    evh = (
        F.broadcast(win)
        .join(ho, "feature")
        .groupBy("sz")
        .agg(
            F.sum(
                F.when(
                    F.col("v") < F.col("thr"),
                    F.when(
                        2 * F.col("pos_left") > F.col("n_left"),
                        F.col("tot") - F.col("pos"),
                    ).otherwise(F.col("pos")),
                ).otherwise(
                    F.when(
                        2 * F.col("pos_right") > F.col("n_right"),
                        F.col("tot") - F.col("pos"),
                    ).otherwise(F.col("pos"))
                )
            ).alias("ho_errors"),
            F.sum("tot").alias("ho_n"),
        )
    )
    return win.join(evh, "sz").select(
        F.col("sz").cast("long").alias("size_id"),
        F.col("n_all").cast("long").alias("n_train"),
        "feature",
        F.col("thr").cast("long").alias("thr"),
        F.col("errors").cast("long").alias("train_errors"),
        F.col("ho_errors").cast("long").alias("holdout_errors"),
        F.col("ho_n").cast("long").alias("holdout_n"),
    )


# ---------------------------------------------------------------------------
# m20: permutation feature importance for the deployed m04 scorer
# ---------------------------------------------------------------------------

_M20_P_SQL = (
    "round(0.5 * (1.0 + ZX / (1.0 + abs(ZX))), 6)"
)


def _m20_z_sql(v: str, h: str, et: str) -> str:
    """m04's margin with explicit value/hour/event_type expressions —
    the permuted-feature variants substitute the donor column."""
    return (
        _M04_Z.replace("value", v)
        .replace("HOUR_EXPR", h)
        .replace("event_type", et)
    )


def _m20_p_sql(v: str, h: str, et: str) -> str:
    return _M20_P_SQL.replace("ZX", f"({_m20_z_sql(v, h, et)})")


_M20_BKT = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)"
    " % 64"
)

_M20_SQL = f"""
    WITH base AS (
      SELECT event_id, event_type, value,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             {_M12_Y_SQL} AS y,
             {_M20_BKT} AS bkt,
             md5(CAST(event_id AS VARCHAR) || '#perm') AS h2
      FROM events
    ),
    ranked AS (
      SELECT event_type, value, hr, y, bkt,
             row_number() OVER (PARTITION BY bkt ORDER BY event_id)
               AS rn_r,
             row_number() OVER (PARTITION BY bkt ORDER BY h2, event_id)
               AS rn_d
      FROM base
    ),
    j AS (
      SELECT r.event_type, r.value, r.hr, r.y,
             d.event_type AS d_et, d.value AS d_value, d.hr AS d_hr
      FROM ranked r JOIN ranked d
        ON d.bkt = r.bkt AND d.rn_d = r.rn_r
    ),
    sc AS (
      SELECT '__base__' AS feature,
             {_m20_p_sql("value", "hr", "event_type")} AS s, y FROM j
      UNION ALL SELECT 'value',
             {_m20_p_sql("d_value", "hr", "event_type")}, y FROM j
      UNION ALL SELECT 'hour',
             {_m20_p_sql("value", "d_hr", "event_type")}, y FROM j
      UNION ALL SELECT 'event_type',
             {_m20_p_sql("value", "hr", "d_et")}, y FROM j
    ),
    hist AS (
      SELECT feature, s,
             CAST(sum(y) AS BIGINT) AS n_pos_s,
             CAST(sum(1 - y) AS BIGINT) AS n_neg_s
      FROM sc GROUP BY 1, 2
    ),
    w AS (
      SELECT feature, n_pos_s, n_neg_s,
             coalesce(sum(n_neg_s) OVER (
               PARTITION BY feature ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM hist
    ),
    auc AS (
      SELECT feature,
             CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
             CAST(sum(n_neg_s) AS BIGINT) AS n_neg,
             CASE WHEN sum(n_pos_s) > 0 AND sum(n_neg_s) > 0 THEN
               CAST((1000000 * sum(n_pos_s * (2 * neg_below + n_neg_s)))
                    // (2 * sum(n_pos_s) * sum(n_neg_s)) AS BIGINT)
             END AS auc_ppm
      FROM w GROUP BY 1
    )
    SELECT feature, n_pos, n_neg, auc_ppm,
           max(CASE WHEN feature = '__base__' THEN auc_ppm END) OVER ()
             AS base_auc_ppm,
           max(CASE WHEN feature = '__base__' THEN auc_ppm END) OVER ()
             - auc_ppm AS importance_ppm
    FROM auc
"""


def _m04_z_of(v, h, et):
    """m04's linear margin over EXPLICIT feature columns — m20 feeds
    donor columns here to score permuted variants."""
    return (
        F.lit(_M04_W["b"])
        + F.lit(_M04_W["amt"]) * (v / F.lit(100.0))
        + F.lit(_M04_W["hour"]) * (h / F.lit(23.0))
        + F.lit(_M04_W["purchase"])
        * F.when(et == "purchase", 1.0).otherwise(0.0)
        + F.lit(_M04_W["error"]) * F.when(et == "error", 1.0).otherwise(0.0)
    )


def _m04_p_of(v, h, et):
    z = _m04_z_of(v, h, et)
    return F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))


@_register("m20_permutation_importance", _M20_SQL)
def m20_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance for the deployed m04 scorer: each
    input column (value, hour-of-day, event_type) is corrupted by a
    DETERMINISTIC within-bucket permutation (labels stay with their
    rows), the exact Mann-Whitney AUC (m18's histogram recipe) is
    recomputed per corrupted variant, and the report ranks features by
    AUC drop in integer ppm. The permutation is reproducible on both
    engines: rows are hash-bucketed (md5 60-bit prefix % 64), then
    within each bucket the receiver order (by event_id) is zipped
    against an independent-hash donor order (md5(event_id||'#perm')) —
    segmented ranking, the l79/l81 machinery, so no global sort exists
    anywhere. The reference hard-codes its one feature (value > T,
    TransactionProcessor.java:43-51); this is the evaluation that tells
    you WHICH wire fields earn their place in the deployed model.

    Scale: one scan -> one exchange on bkt (both row_numbers share the
    single partitionBy-bkt sort), a co-partitioned self-join on
    (bkt, rn), then four score histograms taken in ONE pass via stack()
    with map-side combine to the bounded (feature, score) grid; the AUC
    tail runs on that grid. Buckets are a parameter — at 100 TB raise
    them so each bucket's rank fits an executor; permutation quality is
    unchanged (hash bucketing composed with in-bucket shuffle is a
    uniform permutation family)."""
    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    base = ev.select(
        "event_id",
        "event_type",
        "value",
        F.hour("ts").cast("long").alias("hr"),
        y.alias("y"),
        (
            F.expr(
                "conv(substr(md5(cast(event_id as string)), 1, 15), 16, 10)"
            ).cast("long")
            % 64
        ).alias("bkt"),
        F.md5(F.concat(F.col("event_id").cast("string"), F.lit("#perm"))).alias(
            "h2"
        ),
    )
    from pyspark.sql.window import Window

    wb = Window.partitionBy("bkt")
    ranked = base.select(
        "event_type",
        "value",
        "hr",
        "y",
        "bkt",
        F.row_number().over(wb.orderBy("event_id")).alias("rn_r"),
        F.row_number().over(wb.orderBy("h2", "event_id")).alias("rn_d"),
    ).localCheckpoint()
    r, d = ranked.alias("r"), ranked.alias("d")
    j = r.join(
        d,
        (F.col("d.bkt") == F.col("r.bkt"))
        & (F.col("d.rn_d") == F.col("r.rn_r")),
    ).select(
        F.col("r.event_type").alias("event_type"),
        F.col("r.value").alias("value"),
        F.col("r.hr").alias("hr"),
        F.col("r.y").alias("y"),
        F.col("d.event_type").alias("d_et"),
        F.col("d.value").alias("d_value"),
        F.col("d.hr").alias("d_hr"),
    )
    scored = j.select(
        F.round(
            _m04_p_of(F.col("value"), F.col("hr"), F.col("event_type")), 6
        ).alias("s_base"),
        F.round(
            _m04_p_of(F.col("d_value"), F.col("hr"), F.col("event_type")), 6
        ).alias("s_value"),
        F.round(
            _m04_p_of(F.col("value"), F.col("d_hr"), F.col("event_type")), 6
        ).alias("s_hour"),
        F.round(
            _m04_p_of(F.col("value"), F.col("hr"), F.col("d_et")), 6
        ).alias("s_et"),
        "y",
    )
    sc = scored.select(
        F.expr(
            "stack(4, '__base__', s_base, 'value', s_value,"
            " 'hour', s_hour, 'event_type', s_et) as (feature, s)"
        ),
        "y",
    )
    hist = sc.groupBy("feature", "s").agg(
        F.sum("y").cast("long").alias("n_pos_s"),
        F.sum(F.lit(1) - F.col("y")).cast("long").alias("n_neg_s"),
    )
    wf = (
        Window.partitionBy("feature")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wk = hist.withColumn(
        "neg_below", F.coalesce(F.sum("n_neg_s").over(wf), F.lit(0))
    )
    auc = wk.groupBy("feature").agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
        F.when(
            (F.sum("n_pos_s") > 0) & (F.sum("n_neg_s") > 0),
            F.expr(
                "CAST((1000000 * sum(n_pos_s * (2 * neg_below + n_neg_s)))"
                " div (2 * sum(n_pos_s) * sum(n_neg_s)) AS BIGINT)"
            ),
        ).alias("auc_ppm"),
    )
    wall = Window.partitionBy()
    bcol = F.max(
        F.when(F.col("feature") == "__base__", F.col("auc_ppm"))
    ).over(wall)
    return auc.select(
        "feature",
        "n_pos",
        "n_neg",
        "auc_ppm",
        bcol.alias("base_auc_ppm"),
        (bcol - F.col("auc_ppm")).alias("importance_ppm"),
    )


# ---------------------------------------------------------------------------
# m21: split-conformal anomaly calibration for the m04 scorer
# ---------------------------------------------------------------------------

_M21_SQL = f"""
    WITH sc AS (
      SELECT round(0.5 * (1.0 + z / (1.0 + abs(z))), 6) AS s,
             {_M12_Y_SQL} AS y,
             {_M19_BKT} AS bkt
      FROM (
        SELECT event_id, value, event_type,
               {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
    ),
    grid AS (
      SELECT s,
             CAST(sum(CASE WHEN bkt = 3 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS c_cal,
             CAST(sum(CASE WHEN bkt < 3 AND y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS h_pos,
             CAST(sum(CASE WHEN bkt < 3 AND y = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS h_neg
      FROM sc GROUP BY 1
    ),
    cum AS (
      SELECT *,
             sum(c_cal) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnt_ge,
             sum(c_cal) OVER () AS n_cal
      FROM grid
    ),
    al AS (SELECT unnest([1, 5, 10]) AS alpha_pct)
    SELECT CAST(alpha_pct AS BIGINT) AS alpha_pct,
           CAST(max(n_cal) AS BIGINT) AS n_cal,
           CAST(sum(h_pos) AS BIGINT) AS n_hold_pos,
           CAST(sum(h_neg) AS BIGINT) AS n_hold_neg,
           CAST(sum(CASE WHEN 100 * (cnt_ge + 1) <= alpha_pct * (n_cal + 1)
                THEN h_pos + h_neg ELSE 0 END) AS BIGINT) AS alarms,
           CAST(sum(CASE WHEN 100 * (cnt_ge + 1) <= alpha_pct * (n_cal + 1)
                THEN h_pos ELSE 0 END) AS BIGINT) AS hits,
           CAST(sum(CASE WHEN 100 * (cnt_ge + 1) <= alpha_pct * (n_cal + 1)
                THEN h_neg ELSE 0 END) AS BIGINT) AS false_alarms,
           CASE WHEN sum(h_pos) > 0 THEN CAST(
             (1000000 * sum(CASE WHEN 100 * (cnt_ge + 1)
                 <= alpha_pct * (n_cal + 1) THEN h_pos ELSE 0 END))
             // sum(h_pos) AS BIGINT) END AS tpr_ppm,
           CASE WHEN sum(h_neg) > 0 THEN CAST(
             (1000000 * sum(CASE WHEN 100 * (cnt_ge + 1)
                 <= alpha_pct * (n_cal + 1) THEN h_neg ELSE 0 END))
             // sum(h_neg) AS BIGINT) END AS fpr_ppm
    FROM cum CROSS JOIN al GROUP BY 1
"""


@_register("m21_conformal_anomaly", _M21_SQL)
def m21_conformal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal anomaly calibration for the m04 scorer: the
    calibration split's NORMAL events (hash bucket 3, label 0) define
    the conformal p-value of every production score — p(s) =
    (#{calib >= s} + 1) / (n_cal + 1) — and the monitor alarms when
    p <= alpha. The rule is evaluated on the held-out buckets at
    alpha in {1%, 5%, 10%} entirely in INTEGER arithmetic
    (100*(cnt_ge+1) <= alpha_pct*(n_cal+1)), so the report — alarm /
    hit / false-alarm counts and TPR/FPR in ppm — value-hash replays
    exactly. This is the distribution-free finite-sample guarantee
    (false-alarm rate <= alpha regardless of the score's calibration)
    that the fixed reference threshold (TransactionProcessor.java:43-51)
    cannot give; it completes the deployed-monitoring family
    (calibration m15, drift m17, AUC m18, importance m20).

    Scale: one corpus scan into the bounded distinct-score grid
    (map-side combined); the descending cumulative #{calib >= s} is
    the two-level segmented scan (operators/prefix.py — no global
    single-partition sort); the 3-row alpha frame and the 1-row
    calibration total ride broadcasts. Nothing downstream of the scan
    touches corpus-sized data again."""
    from ..operators.prefix import segmented_running_sum

    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    sc = ev.select(
        F.round(_m04_p(), 6).alias("s"),
        y.alias("y"),
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 4"
        ).alias("bkt"),
    )
    grid = sc.groupBy("s").agg(
        F.sum(
            F.when((F.col("bkt") == 3) & (F.col("y") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("c_cal"),
        F.sum(
            F.when((F.col("bkt") < 3) & (F.col("y") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("h_pos"),
        F.sum(
            F.when((F.col("bkt") < 3) & (F.col("y") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("h_neg"),
    )
    neg = grid.withColumn("_neg", -F.col("s")).withColumn(
        "_seg", F.floor(F.col("_neg") * 32).cast("long")
    )
    cum = segmented_running_sum(neg, "_seg", "_neg", "c_cal", "cnt_ge")
    tot = grid.agg(F.sum("c_cal").cast("long").alias("n_cal"))
    alphas = F.broadcast(
        cum.sparkSession.createDataFrame(
            [(1,), (5,), (10,)], "alpha_pct long"
        )
    )
    alarm = (
        F.lit(100) * (F.col("cnt_ge") + 1)
        <= F.col("alpha_pct") * (F.col("n_cal") + 1)
    )
    counted = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(alphas)
        .groupBy("alpha_pct")
        .agg(
            F.max("n_cal").cast("long").alias("n_cal"),
            F.sum("h_pos").cast("long").alias("n_hold_pos"),
            F.sum("h_neg").cast("long").alias("n_hold_neg"),
            F.sum(F.when(alarm, F.col("h_pos") + F.col("h_neg")).otherwise(0))
            .cast("long")
            .alias("alarms"),
            F.sum(F.when(alarm, F.col("h_pos")).otherwise(0))
            .cast("long")
            .alias("hits"),
            F.sum(F.when(alarm, F.col("h_neg")).otherwise(0))
            .cast("long")
            .alias("false_alarms"),
        )
    )
    return counted.select(
        "*",
        F.when(
            F.col("n_hold_pos") > 0,
            F.expr("CAST((1000000 * hits) div n_hold_pos AS BIGINT)"),
        ).alias("tpr_ppm"),
        F.when(
            F.col("n_hold_neg") > 0,
            F.expr(
                "CAST((1000000 * false_alarms) div n_hold_neg AS BIGINT)"
            ),
        ).alias("fpr_ppm"),
    )


# ---------------------------------------------------------------------------
# m22: exact two-sample Kolmogorov-Smirnov drift test — the unbinned
# companion of the PSI monitor (m17). PSI needs a bucketing choice and
# mixes the Laplace smoothing into the score; KS compares the two raw
# empirical CDFs directly, so it catches shape drift PSI's 8 buckets
# average away. The statistic is exact integer arithmetic end to end:
# with values in cents, D * n_ref * n_cur = max over the value domain of
# |cum_ref * n_cur - cum_cur * n_ref| is an int64 (no float ECDF ever
# computed), and the reported ks_ppm is one integer division at the end.
# ---------------------------------------------------------------------------


def m22_ks_counts(ev: DataFrame, split_s: int) -> DataFrame:
    """(segment, cent, ref_n, cur_n) exact counts for one frame, one
    corpus scan: per-type rows plus the 'ALL' segment derived by
    re-aggregating the per-type counts (never rescanning the corpus).
    Shared by the batch test (m22) and its streaming deployment (s33),
    whose per-micro-batch count partials merge additively."""
    t = event_seconds()
    per_type = (
        ev.select(
            F.col("event_type").alias("segment"),
            t.alias("t"),
            F.round(F.col("value") * 100).cast("long").alias("cent"),
        )
        .groupBy("segment", "cent")
        .agg(
            F.expr(f"count_if(t < {split_s})").alias("ref_n"),
            F.expr(f"count_if(t >= {split_s})").alias("cur_n"),
        )
    )
    all_seg = per_type.groupBy("cent").agg(
        F.sum("ref_n").alias("ref_n"), F.sum("cur_n").alias("cur_n")
    )
    return per_type.unionByName(
        all_seg.select(F.lit("ALL").alias("segment"), "cent", "ref_n", "cur_n")
    )


def m22_ks_from_counts(counts: DataFrame) -> DataFrame:
    """Final KS step over merged (segment, cent, ref_n, cur_n) counts:
    per-segment ECDF scans via the two-level partitioned running sum,
    then the integer max-gap. Shared by m22 and s33 so the streaming
    report provably equals the batch one."""
    from ..operators.prefix import partitioned_running_sums

    from pyspark.sql.window import Window

    c = counts.withColumn("blk", F.expr("cent div 4096"))
    run = partitioned_running_sums(
        c, "segment", "blk", "cent", ["ref_n", "cur_n"]
    )
    wt = Window.partitionBy("segment")
    d = run.select(
        "segment",
        "cent",
        F.sum("ref_n").over(wt).alias("n_ref"),
        F.sum("cur_n").over(wt).alias("n_cur"),
        F.abs(
            F.col("ref_n_run") * F.sum("cur_n").over(wt)
            - F.col("cur_n_run") * F.sum("ref_n").over(wt)
        ).alias("gap"),
    ).localCheckpoint()  # domain-bounded; feeds max, argmax AND the join
    mx = d.groupBy("segment").agg(
        F.max("n_ref").cast("long").alias("n_ref"),
        F.max("n_cur").cast("long").alias("n_cur"),
        F.max("gap").cast("long").alias("d_num"),
    )
    at = (
        d.join(
            mx.select("segment", F.col("d_num").alias("_mx")), "segment"
        )
        .where(F.col("gap") == F.col("_mx"))
        .groupBy("segment")
        .agg(F.min("cent").cast("long").alias("d_at_cent"))
    )
    return mx.join(at, "segment").select(
        "segment",
        "n_ref",
        "n_cur",
        "d_num",
        F.when(
            (F.col("n_ref") > 0) & (F.col("n_cur") > 0),
            F.expr("CAST((1000000 * d_num) div (n_ref * n_cur) AS BIGINT)"),
        ).alias("ks_ppm"),
        "d_at_cent",
    )


_M22_SQL = """
    WITH t AS (
      SELECT event_type,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             CAST(round(value * 100) AS BIGINT) AS cent
      FROM events
    ),
    st AS (SELECT min(t) AS mn, max(t) AS mx FROM t),
    c0 AS (
      SELECT event_type AS segment, cent,
             count(*) FILTER (WHERE t < st.mn + (st.mx - st.mn) // 2)
               AS ref_n,
             count(*) FILTER (WHERE t >= st.mn + (st.mx - st.mn) // 2)
               AS cur_n
      FROM t CROSS JOIN st GROUP BY 1, 2
    ),
    seg AS (
      SELECT * FROM c0
      UNION ALL
      SELECT 'ALL', cent, sum(ref_n), sum(cur_n) FROM c0 GROUP BY 2
    ),
    r AS (
      SELECT segment, cent,
             sum(ref_n) OVER (PARTITION BY segment ORDER BY cent)
               AS ref_run,
             sum(cur_n) OVER (PARTITION BY segment ORDER BY cent)
               AS cur_run,
             sum(ref_n) OVER (PARTITION BY segment) AS n_ref,
             sum(cur_n) OVER (PARTITION BY segment) AS n_cur
      FROM seg
    ),
    d AS (
      SELECT segment, cent, n_ref, n_cur,
             abs(ref_run * n_cur - cur_run * n_ref) AS gap,
             max(abs(ref_run * n_cur - cur_run * n_ref))
               OVER (PARTITION BY segment) AS mx
      FROM r
    )
    SELECT segment,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(mx AS BIGINT) AS d_num,
           CASE WHEN n_ref > 0 AND n_cur > 0 THEN
             CAST((1000000 * mx) // (n_ref * n_cur) AS BIGINT)
           END AS ks_ppm,
           CAST(min(cent) FILTER (WHERE gap = mx) AS BIGINT) AS d_at_cent
    FROM d GROUP BY segment, n_ref, n_cur, mx
"""


@_register("m22_ks_drift", _M22_SQL)
def m22_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test per event_type
    (plus the 'ALL' pool): reference window = the first temporal half of
    events, current window = the second (m17's split), samples = the
    event values in cents. For each segment the statistic is the maximum
    ECDF gap; with cum_ref/cum_cur the cumulative counts at each
    distinct cent value, D * n_ref * n_cur = max |cum_ref * n_cur -
    cum_cur * n_ref| is EXACT int64 (both engines compute the identical
    integer, no float CDF anywhere); ks_ppm is one final integer
    division and d_at_cent pins WHERE the distributions diverge most
    (min cent achieving the max — a deterministic tiebreak). Unbinned
    nonparametric drift closes the monitoring family: PSI (m17, binned
    density shift), AUC (m18, discrimination), conformal (m21, anomaly
    rate), KS (m22, distribution shape).

    Scale: ONE corpus scan collapses to per-(segment, cent) counts
    (map-side combined; bounded by |types| x |value domain in cents|,
    independent of row count). The ECDF running sums use the two-level
    partitioned segmented scan (operators/prefix) — intra-block windows
    partitioned by (segment, cent div 4096) run in parallel and the
    |segments x blocks|-row offset frame rides a broadcast, so no
    corpus- or domain-sized single-partition window exists. The integer
    products stay exact up to n_ref * n_cur <= 9.2e18 / 1e6 for the ppm
    (~3e6 rows per side — beyond that, pre-divide the cumulative counts
    by a common power of two before the gap product; the max is
    invariant).

    Reference parity: the distribution-shape alarm the reference's
    Grafana threshold rule (dashboards.json FOR-duration alert, q8)
    cannot express; no reference equivalent."""
    ev = load_table(spark, sf_dir, "events")
    split_s = m17_split_seconds(spark, sf_dir)
    return m22_ks_from_counts(m22_ks_counts(ev, split_s))


# ---------------------------------------------------------------------------
# m23: categorical Naive Bayes trainer + corpus evaluation — the classic
# count-based generative classifier, and the one major trainer family
# (generative/probabilistic) the m-ladder lacked next to its
# discriminative members (logistic m04/m08, trees m12/m13/m16, pairwise
# m14). Laplace-smoothed log-likelihoods are rounded ONCE per model cell
# to integer micro-units via a shared expression string (the m17 ln
# discipline), so training, the broadcast model, and the corpus
# confusion all value-hash replay.
# ---------------------------------------------------------------------------

# ln((c + 1) / (ny + vf)) in micro-units: c = count of (feature, value,
# class), ny = class prior count, vf = the feature's observed vocabulary
# size. One ln + one multiply + one round per MODEL CELL (not per row).
_M23_CELL = (
    "CAST(round(ln((c + 1.0) / (ny + vf)) * 1000000.0, 0) AS BIGINT)"
)
_M23_PRIOR = "CAST(round(ln((ny * 1.0) / n_all) * 1000000.0, 0) AS BIGINT)"

_M23_SQL = f"""
    WITH rows_f AS (
      SELECT event_type,
             extract(hour FROM ts) AS hr,
             user_id % 10 AS um,
             CAST(floor(value / 50.0) AS BIGINT) AS vkb,
             CASE WHEN value > 100.0 THEN 1 ELSE 0 END AS y
      FROM events
    ),
    long AS (
      SELECT f, v, y FROM (
        SELECT unnest(['hr', 'um', 'vkb']) AS f,
               unnest([hr, um, vkb]) AS v, y
        FROM rows_f
      )
    ),
    cnt AS (SELECT f, v, y, count(*) AS c FROM long GROUP BY 1, 2, 3),
    pri AS (SELECT y, count(*) AS ny FROM rows_f GROUP BY 1),
    tot AS (SELECT count(*) AS n_all FROM rows_f),
    vocab AS (SELECT f, count(DISTINCT v) AS vf FROM long GROUP BY 1),
    grid AS (
      SELECT fv.f, fv.v, pri.y, pri.ny, vocab.vf
      FROM (SELECT DISTINCT f, v FROM long) fv
      CROSS JOIN pri JOIN vocab USING (f)
    ),
    mcells AS (
      SELECT grid.f, grid.v, grid.y, grid.ny, grid.vf,
             coalesce(cnt.c, 0) AS c
      FROM grid LEFT JOIN cnt USING (f, v, y)
    ),
    model AS (
      SELECT f, v, y, {_M23_CELL} AS m FROM mcells
    ),
    pv AS (
      SELECT f, v,
             max(CASE WHEN y = 0 THEN m END) AS m0,
             max(CASE WHEN y = 1 THEN m END) AS m1
      FROM model GROUP BY 1, 2
    ),
    priors AS (
      SELECT max(CASE WHEN y = 0 THEN p END) AS p0,
             max(CASE WHEN y = 1 THEN p END) AS p1
      FROM (SELECT y, {_M23_PRIOR} AS p FROM pri CROSS JOIN tot)
    ),
    scored AS (
      SELECT r.event_type, r.y,
             CASE WHEN (pr.p1 + h.m1 + u.m1 + vb.m1)
                     > (pr.p0 + h.m0 + u.m0 + vb.m0)
                  THEN 1 ELSE 0 END AS pred
      FROM rows_f r
      CROSS JOIN priors pr
      JOIN pv h ON h.f = 'hr' AND h.v = r.hr
      JOIN pv u ON u.f = 'um' AND u.v = r.um
      JOIN pv vb ON vb.f = 'vkb' AND vb.v = r.vkb
    ),
    seg AS (
      SELECT event_type AS segment, y, pred FROM scored
      UNION ALL
      SELECT 'ALL', y, pred FROM scored
    )
    SELECT segment,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(*) FILTER (WHERE y = 1 AND pred = 1) AS BIGINT) AS tp,
           CAST(count(*) FILTER (WHERE y = 0 AND pred = 1) AS BIGINT) AS fp,
           CAST(count(*) FILTER (WHERE y = 1 AND pred = 0) AS BIGINT) AS fn,
           CAST(count(*) FILTER (WHERE y = 0 AND pred = 0) AS BIGINT) AS tn,
           CAST((1000000 * count(*) FILTER (WHERE y = pred)) // count(*)
                AS BIGINT) AS acc_ppm
    FROM seg GROUP BY segment
"""


@_register("m23_naive_bayes", _M23_SQL)
def m23_naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical Naive Bayes: train Laplace-smoothed per-class
    log-likelihoods over three categorical features (hour, user mod-10,
    value band — the m12/m19 feature set), then score the corpus with
    the broadcast model and report the per-event_type (plus 'ALL')
    confusion matrix and accuracy. Every model cell is
    round(ln((c+1)/(ny+vf)) * 1e6) — ONE float op sequence per cell,
    shared verbatim with the oracle (the m17 discipline), so scores are
    int64 sums and argmax (ties to class 0 via strict >) replays
    exactly.

    Scale: training is one corpus scan exploded x3 into (feature,
    value, class) counts — map-side combined, bounded by the feature
    vocabularies (~46 cells), NOT the corpus. The model pivots to
    (f, v, m0, m1) and broadcasts; scoring is three broadcast hash
    joins + row-local integer sums — ZERO shuffle in the scoring path,
    the textbook NB deployment shape (this is why NB scores at wire
    speed on any cluster). The confusion aggregate is the only
    reduction, map-side combined to |types|+1 rows.

    Reference parity: the learned generalization of the reference's
    hard-coded `amount > 10000` branch (TransactionProcessor.java:43-51)
    — same contract as m04/m12, now with calibrated class priors."""
    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        F.hour("ts").cast("long").alias("hr"),
        (F.col("user_id") % 10).cast("long").alias("um"),
        F.floor(F.col("value") / 50.0).cast("long").alias("vkb"),
        (F.col("value") > 100.0).cast("long").alias("y"),
    )
    long = rows.select(
        F.explode(
            F.array(
                F.struct(F.lit("hr").alias("f"), F.col("hr").alias("v")),
                F.struct(F.lit("um").alias("f"), F.col("um").alias("v")),
                F.struct(F.lit("vkb").alias("f"), F.col("vkb").alias("v")),
            )
        ).alias("fv"),
        "y",
    ).select("fv.f", "fv.v", "y")
    cnt = (
        long.groupBy("f", "v", "y")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()  # ~46 cells; priors/vocab/grid re-derive here
    )
    # priors and totals re-derive from the bounded cell frame (every
    # row contributes exactly one 'hr' cell), so training costs ONE
    # corpus scan, not one per statistic
    pri = cnt.where(F.col("f") == "hr").groupBy("y").agg(
        F.sum("c").alias("ny")
    )
    tot = pri.agg(F.sum("ny").alias("n_all"))
    vocab = cnt.groupBy("f").agg(F.countDistinct("v").alias("vf"))
    grid = (
        cnt.select("f", "v")
        .distinct()
        .crossJoin(F.broadcast(pri))
        .join(F.broadcast(vocab), "f")
    )
    model = (
        grid.join(cnt, ["f", "v", "y"], "left")
        .withColumn("c", F.coalesce("c", F.lit(0)))
        .selectExpr("f", "v", "y", f"{_M23_CELL} AS m")
    )
    pv = (
        model.groupBy("f", "v")
        .agg(
            F.max(F.when(F.col("y") == 0, F.col("m"))).alias("m0"),
            F.max(F.when(F.col("y") == 1, F.col("m"))).alias("m1"),
        )
        .localCheckpoint()
    )
    priors = (
        pri.crossJoin(F.broadcast(tot))
        .selectExpr("y", f"{_M23_PRIOR} AS p")
        .groupBy()
        .agg(
            F.max(F.when(F.col("y") == 0, F.col("p"))).alias("p0"),
            F.max(F.when(F.col("y") == 1, F.col("p"))).alias("p1"),
        )
    )
    h, u, vb = pv.alias("h"), pv.alias("u"), pv.alias("vb")
    scored = (
        rows.crossJoin(F.broadcast(priors))
        .join(
            F.broadcast(h),
            (F.col("h.f") == F.lit("hr")) & (F.col("h.v") == F.col("hr")),
        )
        .join(
            F.broadcast(u),
            (F.col("u.f") == F.lit("um")) & (F.col("u.v") == F.col("um")),
        )
        .join(
            F.broadcast(vb),
            (F.col("vb.f") == F.lit("vkb")) & (F.col("vb.v") == F.col("vkb")),
        )
        .select(
            "event_type",
            "y",
            (
                (F.col("p1") + F.col("h.m1") + F.col("u.m1") + F.col("vb.m1"))
                > (F.col("p0") + F.col("h.m0") + F.col("u.m0") + F.col("vb.m0"))
            )
            .cast("long")
            .alias("pred"),
        )
    )
    seg = scored.select(
        F.col("event_type").alias("segment"), "y", "pred"
    ).unionByName(scored.select(F.lit("ALL").alias("segment"), "y", "pred"))
    return seg.groupBy("segment").agg(
        F.count("*").cast("long").alias("n"),
        F.expr("count_if(y = 1 AND pred = 1)").cast("long").alias("tp"),
        F.expr("count_if(y = 0 AND pred = 1)").cast("long").alias("fp"),
        F.expr("count_if(y = 1 AND pred = 0)").cast("long").alias("fn"),
        F.expr("count_if(y = 0 AND pred = 0)").cast("long").alias("tn"),
        F.expr(
            "CAST((1000000 * count_if(y = pred)) div count(*) AS BIGINT)"
        ).alias("acc_ppm"),
    )


# ---------------------------------------------------------------------------
# m24: cost-sensitive alert-threshold tuning — the decision-theoretic
# step between a trained scorer (m04) and a deployed alert rule (q8):
# pick the score cutoff maximizing expected utility B*TP - C*FP. m10
# sweeps a fixed 0.1 grid; m18 integrates over all thresholds (AUC);
# m24 OPTIMIZES over all observed thresholds with integer utilities.
# ---------------------------------------------------------------------------

_M24_BENEFIT = 5  # caught fraud is worth 5x a false alarm's cost
_M24_COST = 1

_M24_SQL = f"""
    WITH sc AS ({_M18_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, s,
             CAST(sum(y) AS BIGINT) AS n_pos_s,
             CAST(sum(1 - y) AS BIGINT) AS n_neg_s
      FROM sc GROUP BY 1, 2
      UNION ALL
      SELECT 'ALL', s, CAST(sum(y) AS BIGINT), CAST(sum(1 - y) AS BIGINT)
      FROM sc GROUP BY 2
    ),
    cum AS (
      SELECT segment, s,
             sum(n_pos_s) OVER (PARTITION BY segment ORDER BY s DESC)
               AS tp,
             sum(n_neg_s) OVER (PARTITION BY segment ORDER BY s DESC)
               AS fp,
             sum(n_pos_s) OVER (PARTITION BY segment) AS n_pos,
             sum(n_neg_s) OVER (PARTITION BY segment) AS n_neg
      FROM seg
    ),
    u AS (
      SELECT segment, s, tp, fp, n_pos, n_neg,
             {_M24_BENEFIT} * tp - {_M24_COST} * fp AS utility,
             max({_M24_BENEFIT} * tp - {_M24_COST} * fp)
               OVER (PARTITION BY segment) AS mx
      FROM cum
    )
    SELECT segment,
           CAST(max(n_pos) AS BIGINT) AS n_pos,
           CAST(max(n_neg) AS BIGINT) AS n_neg,
           max(s) AS thr,
           CAST(max(mx) AS BIGINT) AS utility,
           CAST(max(tp) FILTER (WHERE s = smax) AS BIGINT) AS tp,
           CAST(max(fp) FILTER (WHERE s = smax) AS BIGINT) AS fp,
           CASE WHEN max(n_pos) > 0 THEN
             CAST((1000000 * max(tp) FILTER (WHERE s = smax))
                  // max(n_pos) AS BIGINT) END AS tpr_ppm,
           CASE WHEN max(n_neg) > 0 THEN
             CAST((1000000 * max(fp) FILTER (WHERE s = smax))
                  // max(n_neg) AS BIGINT) END AS fpr_ppm
    FROM (
      SELECT u.*, max(s) FILTER (WHERE utility = mx)
               OVER (PARTITION BY segment) AS smax
      FROM u
    )
    WHERE s = smax
    GROUP BY segment
"""


@_register("m24_threshold_tuning", _M24_SQL)
def m24_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-sensitive alert-threshold optimization for the m04 scorer:
    per event_type segment (plus 'ALL'), sweep EVERY observed score
    cutoff and report the one maximizing integer utility 5*TP - 1*FP
    (the _M24_BENEFIT/_M24_COST model; pred = 1 iff score >= cutoff),
    with ties broken toward the HIGHER threshold (fewest alarms for the
    same utility — the operationally safer rule). Utilities, TP/FP and
    the rate ppms are exact int64; the threshold itself is the
    round(p, 6) score double both engines agree on bit-for-bit (the
    m10/m18 contract). This is the decision step the reference
    hard-codes as `amount > 10000` (TransactionProcessor.java:43-51)
    and q8's Grafana rule inherits — here it is LEARNED from the
    score distribution and the cost model.

    Scale: one corpus scan into the bounded (segment, rounded-score)
    histogram (m18_score_counts, map-side combined, codomain <= 1e6+1
    values regardless of corpus size); the descending cumulative sweep
    and the argmax both run per-segment windows over that bounded
    frame. No corpus-sized sort — the classic sort-all-scores sweep is
    exactly what this histogram formulation replaces."""
    return m24_report_from_counts(
        SCORE_HIST.reduce(events_projection(spark, sf_dir, SCORE_HIST.cols))
    )


def m24_report_from_counts(per: DataFrame) -> DataFrame:
    """(event_type, s, n_pos_s, n_neg_s) histogram partials -> the
    per-segment + ALL utility-optimal threshold report. Shared by the
    batch tuner (m24) and its streaming deployment (s37)."""
    from pyspark.sql.window import Window

    per = merge_score_hist(per)
    seg = per.select(
        F.col("event_type").alias("segment"), "s", "n_pos_s", "n_neg_s"
    ).unionAll(
        per.groupBy("s")
        .agg(
            F.sum("n_pos_s").alias("n_pos_s"),
            F.sum("n_neg_s").alias("n_neg_s"),
        )
        .select(F.lit("ALL").alias("segment"), "s", "n_pos_s", "n_neg_s")
    )
    wd = (
        Window.partitionBy("segment")
        .orderBy(F.desc("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("segment")
    cum = seg.select(
        "segment",
        "s",
        F.sum("n_pos_s").over(wd).alias("tp"),
        F.sum("n_neg_s").over(wd).alias("fp"),
        F.sum("n_pos_s").over(wa).alias("n_pos"),
        F.sum("n_neg_s").over(wa).alias("n_neg"),
    )
    u = cum.withColumn(
        "utility",
        F.lit(_M24_BENEFIT) * F.col("tp") - F.lit(_M24_COST) * F.col("fp"),
    ).withColumn("mx", F.max("utility").over(wa))
    best = u.withColumn(
        "smax",
        F.max(F.when(F.col("utility") == F.col("mx"), F.col("s"))).over(wa),
    ).where(F.col("s") == F.col("smax"))
    return best.groupBy("segment").agg(
        F.max("n_pos").cast("long").alias("n_pos"),
        F.max("n_neg").cast("long").alias("n_neg"),
        F.max("s").alias("thr"),
        F.max("mx").cast("long").alias("utility"),
        F.max("tp").cast("long").alias("tp"),
        F.max("fp").cast("long").alias("fp"),
        F.when(
            F.max("n_pos") > 0,
            F.expr("CAST((1000000 * max(tp)) div max(n_pos) AS BIGINT)"),
        ).alias("tpr_ppm"),
        F.when(
            F.max("n_neg") > 0,
            F.expr("CAST((1000000 * max(fp)) div max(n_neg) AS BIGINT)"),
        ).alias("fpr_ppm"),
    )


# ---------------------------------------------------------------------------
# m25: k-fold cross-validation of the stump trainer — the evaluation
# PROTOCOL the m-family still lacked: m10 evaluates one model on one
# split, m19 varies the training SIZE; CV varies the PARTITION, giving
# k unbiased holdout estimates plus a model-stability signal (do the
# fold winners agree?). Same one-scan bucketed-counts trick as m19: no
# per-fold corpus rescan.
# ---------------------------------------------------------------------------

_M25_SQL = f"""
    WITH base AS (
      SELECT {_M19_BKT} AS bkt,
             CAST(extract(hour FROM ts) AS BIGINT) AS hr,
             user_id % 10 AS um,
             CAST(floor(value / 50.0) AS BIGINT) AS vkb,
             {_M12_Y_SQL} AS y
      FROM events
    ),
    f AS (
      SELECT bkt, 'hr' AS feature, hr AS v, y FROM base
      UNION ALL SELECT bkt, 'um', um, y FROM base
      UNION ALL SELECT bkt, 'vkb', vkb, y FROM base
    ),
    cnt AS (
      SELECT bkt, feature, v, count(*) AS tot, sum(y) AS pos
      FROM f GROUP BY 1, 2, 3
    ),
    folds AS (SELECT unnest(range(0, 4)) AS k),
    tcnt AS (
      SELECT fo.k, c.feature, c.v, sum(c.tot) AS tot, sum(c.pos) AS pos
      FROM folds fo JOIN cnt c ON c.bkt <> fo.k GROUP BY 1, 2, 3
    ),
    hof AS (
      SELECT fo.k, c.feature, c.v, sum(c.tot) AS tot, sum(c.pos) AS pos
      FROM folds fo JOIN cnt c ON c.bkt = fo.k GROUP BY 1, 2, 3
    ),
    cum AS (
      SELECT k, feature,
             lead(v) OVER (PARTITION BY k, feature ORDER BY v) AS thr,
             sum(tot) OVER (PARTITION BY k, feature ORDER BY v) AS n_left,
             sum(pos) OVER (PARTITION BY k, feature ORDER BY v) AS pos_left,
             sum(tot) OVER (PARTITION BY k, feature) AS n_all,
             sum(pos) OVER (PARTITION BY k, feature) AS pos_all
      FROM tcnt
    ),
    cand AS (
      SELECT k, feature, thr, n_left, pos_left, n_all,
             n_all - n_left AS n_right,
             pos_all - pos_left AS pos_right,
             least(pos_left, n_left - pos_left)
               + least(pos_all - pos_left,
                       (n_all - n_left) - (pos_all - pos_left)) AS errors
      FROM cum WHERE thr IS NOT NULL
    ),
    win AS (
      SELECT * FROM (
        SELECT cand.*, row_number() OVER (PARTITION BY k
                 ORDER BY errors, feature, thr) AS rk
        FROM cand
      ) WHERE rk = 1
    ),
    evh AS (
      SELECT w.k,
             sum(CASE WHEN h.v < w.thr
                  THEN CASE WHEN 2 * w.pos_left > w.n_left
                       THEN h.tot - h.pos ELSE h.pos END
                  ELSE CASE WHEN 2 * w.pos_right > w.n_right
                       THEN h.tot - h.pos ELSE h.pos END END) AS fold_errors,
             sum(h.tot) AS fold_n
      FROM win w JOIN hof h ON h.k = w.k AND h.feature = w.feature
      GROUP BY 1
    )
    SELECT CAST(w.k AS BIGINT) AS fold_id,
           CAST(w.n_all AS BIGINT) AS n_train,
           w.feature, CAST(w.thr AS BIGINT) AS thr,
           CAST(w.errors AS BIGINT) AS train_errors,
           CAST(e.fold_errors AS BIGINT) AS fold_errors,
           CAST(e.fold_n AS BIGINT) AS fold_n,
           CAST((1000000 * e.fold_errors) // e.fold_n AS BIGINT)
             AS fold_err_ppm
    FROM win w JOIN evh e ON e.k = w.k
"""


@_register("m25_kfold_cv", _M25_SQL)
def m25_kfold_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-fold cross-validation of the m12 exhaustive-sweep stump: for
    each hash-defined fold k, train on the other three folds' data and
    evaluate the winning (feature, threshold) on fold k — four unbiased
    holdout error estimates (exact integer counts + ppm) AND the
    stability signal (whether the four fold winners agree on feature
    and threshold), the protocol that decides whether m12's corpus-fit
    stump generalizes or just memorized its split. Majority vote on
    each side of the split (ties to 0), the m12/m19 contract.

    Scale: ONE corpus scan into per-(bucket, feature, value) counts
    (map-side combined, bounded by 4 x |features| x |domain|,
    checkpointed); each fold's training sweep is a RE-AGGREGATION of
    that tiny frame (folds join is 4 rows x bounded counts, excluding
    one bucket), each winner is a 1-row broadcast, and the holdout
    evaluations join bounded counts against broadcast winners. k-fold
    CV at 100 TB costs one scan, not k — m19's economics applied to
    the orthogonal protocol axis.

    Reference parity: extends R6's learned counterpart (m12) with the
    generalization test; no reference equivalent."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    base = ev.select(
        F.expr(
            "CAST(conv(substr(md5(CAST(event_id AS STRING)), 1, 15),"
            " 16, 10) AS BIGINT) % 4"
        ).alias("bkt"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("hr").alias("feature"),
                    F.hour("ts").cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("um").alias("feature"),
                    (F.col("user_id") % 10).cast("long").alias("v"),
                ),
                F.struct(
                    F.lit("vkb").alias("feature"),
                    F.floor(F.col("value") / 50.0).cast("long").alias("v"),
                ),
            )
        ).alias("fv"),
        y.alias("y"),
    ).select("bkt", "fv.feature", "fv.v", "y")
    cnt = (
        base.groupBy("bkt", "feature", "v")
        .agg(F.count("*").alias("tot"), F.sum("y").alias("pos"))
        .localCheckpoint()  # bounded: 4 x |features| x |domain|
    )
    folds = spark.range(0, 4).select(F.col("id").alias("k"))
    tcnt = (
        F.broadcast(folds)
        .join(cnt, cnt["bkt"] != folds["k"])
        .groupBy("k", "feature", "v")
        .agg(F.sum("tot").alias("tot"), F.sum("pos").alias("pos"))
    )
    hof = (
        F.broadcast(folds)
        .join(cnt, cnt["bkt"] == folds["k"])
        .groupBy("k", "feature", "v")
        .agg(F.sum("tot").alias("tot"), F.sum("pos").alias("pos"))
    )
    wo = Window.partitionBy("k", "feature").orderBy("v")
    wa = Window.partitionBy("k", "feature")
    cum = tcnt.select(
        "k",
        "feature",
        F.lead("v").over(wo).alias("thr"),
        F.sum("tot").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("n_left"),
        F.sum("pos").over(
            wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("pos_left"),
        F.sum("tot").over(wa).alias("n_all"),
        F.sum("pos").over(wa).alias("pos_all"),
    )
    cand = cum.where(F.col("thr").isNotNull()).select(
        "k",
        "feature",
        "thr",
        "n_left",
        "pos_left",
        "n_all",
        (F.col("n_all") - F.col("n_left")).alias("n_right"),
        (F.col("pos_all") - F.col("pos_left")).alias("pos_right"),
        (
            F.least(F.col("pos_left"), F.col("n_left") - F.col("pos_left"))
            + F.least(
                F.col("pos_all") - F.col("pos_left"),
                (F.col("n_all") - F.col("n_left"))
                - (F.col("pos_all") - F.col("pos_left")),
            )
        ).alias("errors"),
    )
    wr = Window.partitionBy("k").orderBy("errors", "feature", "thr")
    win = (
        cand.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .drop("rk")
        .localCheckpoint()  # 4 rows; feeds eval join + final projection
    )
    evh = (
        F.broadcast(win.select("k", "feature", "thr", "pos_left",
                               "n_left", "pos_right", "n_right"))
        .join(hof, ["k", "feature"])
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    F.col("v") < F.col("thr"),
                    F.when(
                        2 * F.col("pos_left") > F.col("n_left"),
                        F.col("tot") - F.col("pos"),
                    ).otherwise(F.col("pos")),
                ).otherwise(
                    F.when(
                        2 * F.col("pos_right") > F.col("n_right"),
                        F.col("tot") - F.col("pos"),
                    ).otherwise(F.col("pos"))
                )
            ).alias("fold_errors"),
            F.sum("tot").alias("fold_n"),
        )
    )
    return win.join(evh, "k").select(
        F.col("k").cast("long").alias("fold_id"),
        F.col("n_all").cast("long").alias("n_train"),
        "feature",
        F.col("thr").cast("long").alias("thr"),
        F.col("errors").cast("long").alias("train_errors"),
        F.col("fold_errors").cast("long").alias("fold_errors"),
        F.col("fold_n").cast("long").alias("fold_n"),
        F.expr(
            "CAST((1000000 * fold_errors) div fold_n AS BIGINT)"
        ).alias("fold_err_ppm"),
    )


# ---------------------------------------------------------------------------
# m26: A/B experiment readout — the analytics capability behind every
# product launch decision. Arms are deterministic (user_id parity, the
# stand-in for a hash bucketing service); per segment the counts and
# cents sums/squares are exact int64, and the two float steps (mean
# diff, Welch z with population variances) are ONE shared expression
# string each, rounded once to micro-units (the m17 ln discipline,
# sqrt flavor).
# ---------------------------------------------------------------------------

_M26_DIFF = (
    "CAST(round(((sb * 1.0) / nb - (sa * 1.0) / na) * 1000000.0, 0)"
    " AS BIGINT)"
)
_M26_Z = (
    "CAST(round(((sb * 1.0) / nb - (sa * 1.0) / na)"
    " / sqrt(((qa * 1.0) / na - ((sa * 1.0) / na) * ((sa * 1.0) / na)) / na"
    " + ((qb * 1.0) / nb - ((sb * 1.0) / nb) * ((sb * 1.0) / nb)) / nb)"
    " * 1000000.0, 0) AS BIGINT)"
)

_M26_SQL = f"""
    WITH base AS (
      SELECT event_type, user_id % 2 AS arm,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    agg AS (
      SELECT event_type AS segment, arm,
             count(*) AS n, sum(cents) AS s, sum(cents * cents) AS q
      FROM base GROUP BY 1, 2
      UNION ALL
      SELECT 'ALL', arm, count(*), sum(cents), sum(cents * cents)
      FROM base GROUP BY 2
    ),
    wide AS (
      SELECT segment,
             coalesce(max(CASE WHEN arm = 0 THEN n END), 0) AS na,
             coalesce(max(CASE WHEN arm = 0 THEN s END), 0) AS sa,
             coalesce(max(CASE WHEN arm = 0 THEN q END), 0) AS qa,
             coalesce(max(CASE WHEN arm = 1 THEN n END), 0) AS nb,
             coalesce(max(CASE WHEN arm = 1 THEN s END), 0) AS sb,
             coalesce(max(CASE WHEN arm = 1 THEN q END), 0) AS qb
      FROM agg GROUP BY 1
    )
    SELECT segment,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           CAST(sa AS BIGINT) AS sum_a_cents,
           CAST(sb AS BIGINT) AS sum_b_cents,
           CASE WHEN na > 0 AND nb > 0 THEN {_M26_DIFF} END
             AS mean_diff_microcents,
           CASE WHEN na > 1 AND nb > 1
                 AND (qa * 1.0) / na > ((sa * 1.0) / na) * ((sa * 1.0) / na)
                 AND (qb * 1.0) / nb > ((sb * 1.0) / nb) * ((sb * 1.0) / nb)
                THEN {_M26_Z} END AS z_micro,
           CASE WHEN na > 1 AND nb > 1
                 AND (qa * 1.0) / na > ((sa * 1.0) / na) * ((sa * 1.0) / na)
                 AND (qb * 1.0) / nb > ((sb * 1.0) / nb) * ((sb * 1.0) / nb)
                THEN abs({_M26_Z}) > 1959964 END AS significant
    FROM wide
"""


@_register("m26_ab_test", _M26_SQL)
def m26_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout per event_type segment (plus 'ALL'):
    deterministic arm assignment (user_id parity — the stand-in for a
    hash bucketing service), exact per-arm counts and cents sums, mean
    difference in micro-cents, Welch z-score (population variances) in
    micro-units, and the |z| > 1.96 significance verdict. Counts, sums
    and sums-of-squares are exact int64; the two float steps run as ONE
    shared expression string each and round once to integer micro —
    so the whole experiment report value-hash replays (the m17 ln
    discipline, sqrt flavor). Degenerate cells (an arm missing, n <= 1,
    zero variance) yield NULL rather than a fake verdict.

    Scale: ONE corpus scan map-side-combines to <= 2 x (|types| + 1)
    rows (count/sum/sum-of-squares are all algebraic); everything
    after runs on that tiny frame. Sum-of-squares stays exact while
    n * max_cents^2 < 2^63 (~4e8 rows at this value domain); past that
    the same plan carries DECIMAL(38) q columns.

    Reference parity: the reference dashboards compare static tiles by
    eye; this is the statistical form of that comparison (no reference
    equivalent; public experimentation methodology)."""
    return m26_report_from_arm_stats(
        M26.reduce(events_projection(spark, sf_dir, M26.cols))
    )


def m26_arm_stats(ev: DataFrame) -> DataFrame:
    """(segment=event_type, arm, n, s, q) exact per-arm count / cents
    sum / cents sum-of-squares — all associative, so streaming batch
    partials (s38) merge by re-summing per (segment, arm)."""
    base = ev.select(
        "event_type",
        (F.col("user_id") % 2).alias("arm"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return base.groupBy(
        F.col("event_type").alias("segment"), "arm"
    ).agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).alias("q"),
    )


# (event_type, user_id, value) -> m26's arm stats (twin s38).
M26 = EventsRule(
    lambda t: [F.col("event_type"), F.col("user_id"), F.col("value")],
    m26_arm_stats,
)


def m26_report_from_arm_stats(per: DataFrame) -> DataFrame:
    """(segment, arm, n, s, q) stat partials -> the per-segment + ALL
    experiment report. Shared by m26 and its streaming monitor (s38)."""
    per = (
        per.groupBy("segment", "arm")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"), F.sum("q").alias("q"))
        .localCheckpoint()
    )
    agg = per.unionByName(
        per.groupBy("arm")
        .agg(F.sum("n").alias("n"), F.sum("s").alias("s"),
             F.sum("q").alias("q"))
        .select(F.lit("ALL").alias("segment"), "arm", "n", "s", "q")
    )
    z = lambda c: F.coalesce(c, F.lit(0))  # noqa: E731
    wide = agg.groupBy("segment").agg(
        z(F.max(F.when(F.col("arm") == 0, F.col("n")))).alias("na"),
        z(F.max(F.when(F.col("arm") == 0, F.col("s")))).alias("sa"),
        z(F.max(F.when(F.col("arm") == 0, F.col("q")))).alias("qa"),
        z(F.max(F.when(F.col("arm") == 1, F.col("n")))).alias("nb"),
        z(F.max(F.when(F.col("arm") == 1, F.col("s")))).alias("sb"),
        z(F.max(F.when(F.col("arm") == 1, F.col("q")))).alias("qb"),
    )
    var_ok = F.expr(
        "na > 1 AND nb > 1"
        " AND (qa * 1.0) / na > ((sa * 1.0) / na) * ((sa * 1.0) / na)"
        " AND (qb * 1.0) / nb > ((sb * 1.0) / nb) * ((sb * 1.0) / nb)"
    )
    return wide.select(
        "segment",
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        F.col("sa").cast("long").alias("sum_a_cents"),
        F.col("sb").cast("long").alias("sum_b_cents"),
        F.when(
            (F.col("na") > 0) & (F.col("nb") > 0), F.expr(_M26_DIFF)
        ).alias("mean_diff_microcents"),
        F.when(var_ok, F.expr(_M26_Z)).alias("z_micro"),
        F.when(var_ok, F.abs(F.expr(_M26_Z)) > 1959964).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# m27: score-distribution drift TREND — m17 answers "did the month
# drift?" with one reference/live split; production monitoring wants
# the TIME SERIES: weekly PSI of the deployed m04 score distribution
# against the launch week, the line a dashboard alerts on when it
# crosses 0.1/0.25. Ten score-decile buckets, Laplace smoothing, the
# m17 integer-micro discipline.
# ---------------------------------------------------------------------------

_M27_NBUCKETS = 10
_M27_CONTRIB = (
    "CAST(round(((ref_n + 1.0) / (ref_tot + 10.0)"
    " - (live_n + 1.0) / (live_tot + 10.0))"
    " * ln(((ref_n + 1.0) / (ref_tot + 10.0))"
    " / ((live_n + 1.0) / (live_tot + 10.0))) * 1000000.0, 0) AS BIGINT)"
)

_M27_SQL = f"""
    WITH sc AS (
      SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS t,
             least(CAST(floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10)
                   AS BIGINT), 9) AS bucket
      FROM (
        SELECT ts, {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
    ),
    st AS (SELECT min(t) AS mn FROM sc),
    wk AS (
      SELECT (t - st.mn) // 604800 AS w, bucket FROM sc CROSS JOIN st
    ),
    cnt AS (SELECT w, bucket, count(*) AS n FROM wk GROUP BY 1, 2),
    weeks AS (SELECT DISTINCT w FROM cnt WHERE w >= 1),
    grid AS (
      SELECT weeks.w, g.bucket
      FROM weeks CROSS JOIN range({_M27_NBUCKETS}) AS g(bucket)
    ),
    ref AS (SELECT bucket, n AS ref_n FROM cnt WHERE w = 0),
    filled AS (
      SELECT grid.w, grid.bucket,
             coalesce(r.ref_n, 0) AS ref_n,
             coalesce(c.n, 0) AS live_n
      FROM grid
      LEFT JOIN ref r USING (bucket)
      LEFT JOIN cnt c ON c.w = grid.w AND c.bucket = grid.bucket
    ),
    tot AS (
      SELECT w, bucket, ref_n, live_n,
             sum(ref_n) OVER (PARTITION BY w) AS ref_tot,
             sum(live_n) OVER (PARTITION BY w) AS live_tot
      FROM filled
    )
    SELECT CAST(w AS BIGINT) AS week,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(ref_n AS BIGINT) AS ref_n,
           CAST(live_n AS BIGINT) AS live_n,
           {_M27_CONTRIB} AS contrib_micro,
           CAST(sum({_M27_CONTRIB}) OVER (PARTITION BY w) AS BIGINT)
             AS psi_micro
    FROM tot
"""


@_register("m27_score_drift_trend", _M27_SQL)
def m27_score_drift_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly drift trend of the deployed m04 score distribution: every
    event's score lands in one of ten deciles (the score p and its
    decile are the SAME shared IEEE expression sequence on both
    engines, so the floor is identical); week 0 (from the corpus's
    first second) is the frozen launch reference, and every later week
    reports its Laplace-smoothed PSI against it in exact integer
    micro-units per bucket plus the per-week total — the monitoring
    LINE (m17 gives one point) a dashboard alerts on at 0.1/0.25.

    Scale: ONE corpus scan map-side-combines to <= |weeks| x 10 rows;
    the min-timestamp anchor rides a 1-row broadcast; densification,
    smoothing and the per-week sums run on the bounded grid. Adding
    weeks extends the frame by 10 rows each — the trend is O(weeks),
    never a rescan of history (the per-week counts are the
    materialized artifact a real monitor appends to).

    Reference parity: the trend form of the reference's static Grafana
    tiles; no reference equivalent."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    p = _m04_p(None)
    sc = ev.select(
        t.alias("t"),
        F.least(
            F.floor(p * 10).cast("long"), F.lit(9)
        ).alias("bucket"),
    )
    st = sc.agg(F.min("t").alias("mn"))
    wk = sc.crossJoin(F.broadcast(st)).select(
        F.expr("(t - mn) div 604800").alias("w"), "bucket"
    )
    cnt = wk.groupBy("w", "bucket").agg(F.count("*").alias("n")).localCheckpoint()
    weeks = cnt.select("w").where(F.col("w") >= 1).distinct()
    grid = weeks.crossJoin(
        F.broadcast(
            cnt.sparkSession.range(_M27_NBUCKETS).select(
                F.col("id").alias("bucket")
            )
        )
    )
    ref = cnt.where(F.col("w") == 0).select(
        "bucket", F.col("n").alias("ref_n")
    )
    filled = (
        grid.join(F.broadcast(ref), "bucket", "left")
        .join(cnt.withColumnRenamed("n", "live_n"), ["w", "bucket"], "left")
        .select(
            "w",
            "bucket",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("live_n", F.lit(0)).alias("live_n"),
        )
    )
    ww = Window.partitionBy("w")
    tot = filled.select(
        "w",
        "bucket",
        "ref_n",
        "live_n",
        F.sum("ref_n").over(ww).alias("ref_tot"),
        F.sum("live_n").over(ww).alias("live_tot"),
    )
    return tot.selectExpr(
        "CAST(w AS BIGINT) AS week",
        "CAST(bucket AS BIGINT) AS bucket",
        "CAST(ref_n AS BIGINT) AS ref_n",
        "CAST(live_n AS BIGINT) AS live_n",
        f"{_M27_CONTRIB} AS contrib_micro",
    ).select(
        "*",
        F.sum("contrib_micro")
        .over(Window.partitionBy("week"))
        .cast("long")
        .alias("psi_micro"),
    )


# ---------------------------------------------------------------------------
# m28: CUSUM sequential change detection — the classic "has the level
# shifted?" alarm (Page 1954) the threshold rules (q8) and drift tests
# (m17/m22/m27) don't cover: those compare windows; CUSUM accumulates
# small persistent deviations until they cross a decision interval.
# The recurrence S_t = max(0, S_{t-1} + x_t - k) is not a window
# aggregate, but the closed form S_t = P_t - min(0, min_{j<=t} P_j)
# (P = inclusive prefix sum of x - k) IS — two running aggregates over
# the bounded daily frame, exact int64 end to end.
# ---------------------------------------------------------------------------

_M28_K = 1_700_000  # daily allowance in cents (slightly above the mean)
_M28_H = 500_000  # decision interval in cents

_M28_SQL = f"""
    WITH d AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM events GROUP BY 1
    ),
    p AS (
      SELECT d, day_cents,
             sum(day_cents - {_M28_K}) OVER (ORDER BY d) AS pt
      FROM d
    )
    SELECT d AS day_num,
           day_cents,
           CAST(pt AS BIGINT) AS pt,
           CAST(pt - least(0, min(pt) OVER (ORDER BY d)) AS BIGINT)
             AS cusum,
           pt - least(0, min(pt) OVER (ORDER BY d)) > {_M28_H} AS alarm
    FROM p
"""


@_register("m28_cusum_alarm", _M28_SQL)
def m28_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's CUSUM over the daily cents total: per day, the prefix
    statistic, the CUSUM level S_t = max(0, S_(t-1) + x_t - k)
    (allowance k = 1.7M cents, just above the stationary mean), and
    the alarm verdict at decision interval h = 500k — the sequential
    detector that fires on small PERSISTENT shifts long before any
    single day breaches a static threshold (q8's rule class). The
    recurrence lowers to the closed form P_t - min(0, running-min P)
    — two ordered aggregates, no recursion, exact int64.

    Scale: the corpus collapses in ONE map-side-combined scan to the
    |days|-row daily frame; the two ordered windows run on that frame
    alone (tens of thousands of rows after decades — the r88 day-frame
    posture, where a single-partition window over the BOUNDED series
    is the honest plan). At stream time the same statistic maintains
    itself from (P_t, min-P) — two int64s of state.

    Reference parity: the sequential upgrade of the reference's
    FOR-duration Grafana alert (dashboards.json, q8); public
    methodology (Page 1954)."""
    return cusum_from_daily(
        DAILY_CENTS.reduce(events_projection(spark, sf_dir, DAILY_CENTS.cols))
    )


def cusum_from_daily(daily: DataFrame) -> DataFrame:
    """(d, x) daily cents partials -> m28's alarm trace. Shared by the
    s39 twin."""
    from pyspark.sql.window import Window

    d = (
        daily.groupBy("d")
        .agg(F.sum("x").cast("long").alias("day_cents"))
        .localCheckpoint()  # day-bounded
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = d.withColumn(
        "pt", F.sum(F.col("day_cents") - F.lit(_M28_K)).over(w)
    )
    cusum = F.col("pt") - F.least(F.lit(0), F.min("pt").over(w))
    return p.select(
        F.col("d").alias("day_num"),
        "day_cents",
        F.col("pt").cast("long").alias("pt"),
        cusum.cast("long").alias("cusum"),
        (cusum > F.lit(_M28_H)).alias("alarm"),
    )


# ---------------------------------------------------------------------------
# m29: Kaplan-Meier time-to-event — the survival capability none of
# the point metrics cover: how LONG until a user first crosses the
# high-value line, with users who never do properly right-CENSORED at
# their observation horizon instead of dropped or miscounted. The
# curve is reported in LOG micro-units (each step's ln((n-d)/n)
# rounded once to int64, the m17 discipline; the cumulative sum is
# then exact integer addition), sidestepping cross-engine exp()
# entirely — the Nelson-Aalen-style log form every survival library
# exposes.
# ---------------------------------------------------------------------------

_M29_THR = 200.0  # the high-value line whose first crossing is the event
_M29_STEP = (
    "CAST(round(ln(((n_risk - d) * 1.0) / n_risk) * 1000000.0, 0)"
    " AS BIGINT)"
)

_M29_SQL = f"""
    WITH base AS (
      SELECT user_id, value AS v,
             CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d
      FROM events
    ),
    st AS (SELECT max(d) AS mx FROM base),
    users AS (
      SELECT user_id, min(d) AS f,
             min(CASE WHEN v > {_M29_THR} THEN d END) AS hit
      FROM base GROUP BY 1
    ),
    obs AS (
      SELECT user_id,
             CASE WHEN hit IS NOT NULL THEN hit - f
                  ELSE st.mx - f END AS dur,
             CASE WHEN hit IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM users CROSS JOIN st
    ),
    tot AS (SELECT count(*) AS n_users FROM obs),
    byd AS (
      SELECT dur, sum(ev) AS d, count(*) AS ending FROM obs GROUP BY 1
    ),
    risk AS (
      SELECT dur, d,
             tot.n_users
               - coalesce(sum(ending) OVER (ORDER BY dur
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk
      FROM byd CROSS JOIN tot
    ),
    steps AS (
      SELECT dur, d, n_risk,
             CASE WHEN d < n_risk THEN {_M29_STEP} END AS step_micro
      FROM risk WHERE d > 0
    )
    SELECT CAST(dur AS BIGINT) AS duration_days,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d AS BIGINT) AS n_churned,
           step_micro,
           CASE WHEN step_micro IS NOT NULL THEN
             CAST(sum(step_micro) OVER (ORDER BY dur) AS BIGINT)
           END AS log_surv_micro
    FROM steps
"""


@_register("m29_kaplan_meier", _M29_SQL)
def m29_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier time-to-first-high-value-event curve: per user,
    duration runs from their first active day to their first value
    > 200 event (the EVENT — at sf0.01, 103 of 150 users); users who
    never cross the line are right-CENSORED at the corpus horizon
    (47 users — they leave the risk set without an event, the
    distinction naive conversion rates get wrong). At each event duration: the at-risk count (users with
    duration >= t), churn count, the step ln((n-d)/n) rounded once to
    integer micro-units, and the cumulative log-survival (an exact
    int64 sum — survival itself is exp of it; the log form crosses
    engines exactly, exp would gamble on libm ulps).

    Scale: ONE corpus scan collapses to the per-user (first, last)
    frame (map-side combined); everything after runs on the
    duration-bounded (<= |days|) step frame, whose ordered windows are
    the r88/m28 bounded-series posture. At 100 TB the per-user frame
    is the materialized user-activity summary every warehouse keeps.

    Reference parity: no reference equivalent; public survival-analysis
    methodology (Kaplan & Meier 1958)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    day = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400)
    ).cast("long")
    base = ev.select("user_id", F.col("value").alias("v"), day.alias("d"))
    users = base.groupBy("user_id").agg(
        F.min("d").alias("f"),
        F.min(F.when(F.col("v") > _M29_THR, F.col("d"))).alias("hit"),
    )
    st = base.agg(F.max("d").alias("mx"))
    obs = users.crossJoin(F.broadcast(st)).select(
        F.when(
            F.col("hit").isNotNull(), F.col("hit") - F.col("f")
        )
        .otherwise(F.col("mx") - F.col("f"))
        .alias("dur"),
        F.when(F.col("hit").isNotNull(), F.lit(1))
        .otherwise(F.lit(0))
        .alias("ev"),
    )
    tot = obs.agg(F.count("*").alias("n_users"))
    byd = obs.groupBy("dur").agg(
        F.sum("ev").alias("d"), F.count("*").alias("ending")
    )
    wprev = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, -1
    )
    risk = byd.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum("ending").over(wprev), F.lit(0))
        ).alias("n_risk"),
    )
    steps = risk.where(F.col("d") > 0).selectExpr(
        "dur",
        "d",
        "n_risk",
        f"CASE WHEN d < n_risk THEN {_M29_STEP} END AS step_micro",
    )
    wcum = Window.orderBy("dur").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return steps.select(
        F.col("dur").cast("long").alias("duration_days"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("n_churned"),
        "step_micro",
        F.when(
            F.col("step_micro").isNotNull(),
            F.sum("step_micro").over(wcum).cast("long"),
        ).alias("log_surv_micro"),
    )


# ---------------------------------------------------------------------------
# m30: OLS trend over the daily series — "is the level drifting, and
# how fast?" as a point estimate with exact integer moments. The slope
# numerator/denominator n*Sxy - Sx*Sy and n*Sxx - Sx^2 are exact int64
# (days re-based to 0 keep the moments small); the single division is
# the only float step and is rounded once to micro-cents/day.
# ---------------------------------------------------------------------------

_M30_SLOPE = (
    "CAST(round(((n * sxy - sx * sy) * 1.0)"
    " / (n * sxx - sx * sx) * 1000000.0, 0) AS BIGINT)"
)

_M30_SQL = f"""
    WITH d AS (
      SELECT CAST(epoch(date_trunc('day', ts)) AS BIGINT) // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    st AS (SELECT min(d) AS mn FROM d),
    xy AS (SELECT d.d - st.mn AS x, cents AS y FROM d CROSS JOIN st),
    m AS (
      SELECT count(*) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * x) AS BIGINT) AS sxx,
             CAST(sum(x * y) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_days, sx, sy, sxx, sxy,
           CASE WHEN n > 1 AND n * sxx > sx * sx THEN {_M30_SLOPE} END
             AS slope_microcents_per_day,
           CASE WHEN n > 1 AND n * sxx > sx * sx THEN
             CAST(round((sy * 1.0) / n - ((n * sxy - sx * sy) * 1.0)
                  / (n * sxx - sx * sx) * ((sx * 1.0) / n), 0) AS BIGINT)
           END AS intercept_cents
    FROM m
"""


@_register("m30_trend_ols", _M30_SQL)
def m30_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS trend of the daily cents series: exact integer moments (n,
    Sx, Sy, Sxx, Sxy over days re-based to zero), then slope in
    micro-cents/day and the intercept — each ONE shared float
    expression rounded once (the m17 discipline), so the point
    estimate value-hash replays. The moments themselves ship in the
    report: any downstream consumer (a control chart, a capacity
    forecast) can re-derive variance bands from the same integers.
    Complements the detection family: CUSUM (m28) says WHETHER the
    level shifted, the trend says HOW FAST it is moving.

    Scale: one map-side-combined scan to the |days| frame, one 5-term
    moment aggregate (all algebraic), one row out. Moments stay exact
    while n * max_day^2 * max_cents < 2^63 — decades of daily data at
    this domain; past that the same plan carries DECIMAL(38) moments.

    Reference parity: the quantified form of eyeballing a Grafana
    slope; no reference equivalent."""
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
    st = d.agg(F.min("d").alias("mn"))
    # broadcast bound: st is a global min() — exactly 1 row
    xy = d.crossJoin(F.broadcast(st)).select(
        (F.col("d") - F.col("mn")).alias("x"), F.col("cents").alias("y")
    )
    m = xy.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    ok = F.expr("n > 1 AND n * sxx > sx * sx")
    return m.select(
        F.col("n").cast("long").alias("n_days"),
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.when(ok, F.expr(_M30_SLOPE)).alias("slope_microcents_per_day"),
        F.when(
            ok,
            F.expr(
                "CAST(round((sy * 1.0) / n - ((n * sxy - sx * sy) * 1.0)"
                " / (n * sxx - sx * sx) * ((sx * 1.0) / n), 0) AS BIGINT)"
            ),
        ).alias("intercept_cents"),
    )


# ---------------------------------------------------------------------------
# m31: Brier score decomposition — Murphy's reliability / resolution /
# uncertainty split of the probabilistic score's quality, the canonical
# diagnostic beyond a single calibration table (m06/m11/m15 say HOW to
# recalibrate; the decomposition says how much is fixable). Scores are
# quantized once to micro (exact int sums); each decomposition term is
# ONE shared float expression per bucket rounded once to micro, so the
# whole report is integer arithmetic after that.
# ---------------------------------------------------------------------------

_M31_REL = (
    "CAST(round(n * ((sp * 1.0) / n / 1000000.0 - (sy * 1.0) / n)"
    " * ((sp * 1.0) / n / 1000000.0 - (sy * 1.0) / n)"
    " * 1000000.0, 0) AS BIGINT)"
)
_M31_RES = (
    "CAST(round(n * ((sy * 1.0) / n - (gy * 1.0) / gn)"
    " * ((sy * 1.0) / n - (gy * 1.0) / gn) * 1000000.0, 0) AS BIGINT)"
)
_M31_UNC = (
    "CAST(round(((gy * 1.0) / gn) * (1.0 - (gy * 1.0) / gn)"
    " * 1000000.0, 0) AS BIGINT)"
)

_M31_SQL = f"""
    WITH sc AS (
      SELECT CAST(round((0.5 * (1.0 + z / (1.0 + abs(z)))) * 1000000.0, 0)
               AS BIGINT) AS pm,
             least(CAST(floor((0.5 * (1.0 + z / (1.0 + abs(z)))) * 10)
                   AS BIGINT), 9) AS bucket,
             CASE WHEN value > {EVENTS_FRAUD_THRESHOLD!r} THEN 1 ELSE 0 END
               AS y
      FROM (
        SELECT value, {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
    ),
    b AS (
      SELECT bucket, count(*) AS n, sum(y) AS sy, sum(pm) AS sp,
             sum((pm - 1000000 * y) * (pm - 1000000 * y)) AS sq
      FROM sc GROUP BY 1
    ),
    g AS (SELECT sum(n) AS gn, sum(sy) AS gy, sum(sq) AS gsq FROM b)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n AS BIGINT) AS n,
           CAST(sy AS BIGINT) AS n_pos,
           CAST(sp AS BIGINT) AS sum_p_micro,
           CAST(sq AS BIGINT) AS sq_err,
           {_M31_REL} AS rel_c,
           {_M31_RES} AS res_c,
           CAST(sum({_M31_REL}) OVER () AS BIGINT) AS rel_micro,
           CAST(sum({_M31_RES}) OVER () AS BIGINT) AS res_micro,
           {_M31_UNC} AS unc_micro,
           CAST(gsq // (gn * 1000000) AS BIGINT) AS brier_micro
    FROM b CROSS JOIN g
"""


@_register("m31_brier_decomposition", _M31_SQL)
def m31_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the m04 scorer's Brier score over ten
    score deciles: per bucket the exact integer counts (n, positives,
    micro-quantized probability sum, squared-error sum) plus the
    reliability and resolution contributions (one shared float
    expression each, rounded once to micro), and on every row the
    whole-report aggregates — total reliability (calibration error a
    recalibrator like m15 can remove), total resolution (genuine
    discrimination it cannot add), climatological uncertainty, and the
    exact quantized Brier score (pure integer floor division). The
    diagnostic reading: Brier ~= reliability - resolution +
    uncertainty, so a high-reliability report routes to recalibration
    while low resolution routes to retraining.

    Scale: ONE corpus scan map-side-combines to the 10-bucket frame
    (quantized micro scores keep every accumulated sum exact int64 up
    to ~9e6 rows per bucket at this domain; past that the same plan
    carries DECIMAL(38) sums); the decomposition runs on those 10
    rows. The empty OVER () totals are 10-row windows, not corpus
    windows.

    Reference parity: the score-quality audit behind the reference's
    hard threshold; no reference equivalent (public forecasting
    methodology, Murphy 1973)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    p = _m04_p(None)
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    sc = ev.select(
        F.round(p * 1000000.0, 0).cast("long").alias("pm"),
        F.least(F.floor(p * 10).cast("long"), F.lit(9)).alias("bucket"),
        y.alias("y"),
    )
    b = sc.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.sum("y").alias("sy"),
        F.sum("pm").alias("sp"),
        F.sum(
            (F.col("pm") - 1000000 * F.col("y"))
            * (F.col("pm") - 1000000 * F.col("y"))
        ).alias("sq"),
    )
    g = b.agg(
        F.sum("n").alias("gn"),
        F.sum("sy").alias("gy"),
        F.sum("sq").alias("gsq"),
    )
    w = Window.partitionBy()
    return (
        # broadcast bound: g is the global moment aggregate — 1 row
        b.crossJoin(F.broadcast(g))
        .selectExpr(
            "CAST(bucket AS BIGINT) AS bucket",
            "CAST(n AS BIGINT) AS n",
            "CAST(sy AS BIGINT) AS n_pos",
            "CAST(sp AS BIGINT) AS sum_p_micro",
            "CAST(sq AS BIGINT) AS sq_err",
            f"{_M31_REL} AS rel_c",
            f"{_M31_RES} AS res_c",
            f"{_M31_UNC} AS unc_micro",
            "CAST(gsq div (gn * 1000000) AS BIGINT) AS brier_micro",
        )
        .select(
            "bucket",
            "n",
            "n_pos",
            "sum_p_micro",
            "sq_err",
            "rel_c",
            "res_c",
            F.sum("rel_c").over(w).cast("long").alias("rel_micro"),
            F.sum("res_c").over(w).cast("long").alias("res_micro"),
            "unc_micro",
            "brier_micro",
        )
    )


# ---------------------------------------------------------------------------
# m32: McNemar's paired model comparison — the statistically correct
# "is the challenger actually better?" test for two classifiers scored
# on the SAME events: only the discordant pairs (one right, one wrong)
# carry information, and the statistic is (b-c)^2/(b+c) on exact
# integer counts with one shared rounded division. Champion = the m04
# logistic export at p > 0.5; challenger = the m05 tree ensemble at
# margin > 0 — the comparison every model-promotion gate runs.
# ---------------------------------------------------------------------------

_M32_STAT = (
    "CAST(round(((b_cnt - c_cnt) * (b_cnt - c_cnt)) * 1000000.0"
    " / (b_cnt + c_cnt), 0) AS BIGINT)"
)
_M32_CRIT = 3841459  # chi-square(1df) 5% critical value in micro

# the two deployed classifiers' per-event verdicts — shared by m32
# (McNemar) and m39 (Cohen's kappa)
_M32_SC_SQL = f"""
      SELECT event_type,
             {_M12_Y_SQL} AS y,
             CASE WHEN 0.5 * (1.0 + z / (1.0 + abs(z))) > 0.5
                  THEN 1 ELSE 0 END AS pa,
             CASE WHEN -1.0 + ({_M05_TREES_SQL}) > 0.0
                  THEN 1 ELSE 0 END AS pb
      FROM (
        SELECT event_type, value, ts,
               {_M04_Z.replace("HOUR_EXPR", "extract(hour FROM ts)")} AS z
        FROM events
      )
"""

_M32_SQL = f"""
    WITH sc AS ({_M32_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, y, pa, pb FROM sc
      UNION ALL
      SELECT 'ALL', y, pa, pb FROM sc
    ),
    agg AS (
      SELECT segment,
             count(*) AS n,
             count(*) FILTER (WHERE pa = y) AS a_correct,
             count(*) FILTER (WHERE pb = y) AS b_correct,
             count(*) FILTER (WHERE pa = y AND pb <> y) AS b_cnt,
             count(*) FILTER (WHERE pa <> y AND pb = y) AS c_cnt
      FROM seg GROUP BY 1
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           CAST(a_correct AS BIGINT) AS a_correct,
           CAST(b_correct AS BIGINT) AS b_correct,
           CAST(b_cnt AS BIGINT) AS only_a_right,
           CAST(c_cnt AS BIGINT) AS only_b_right,
           CASE WHEN b_cnt + c_cnt > 0 THEN {_M32_STAT} END
             AS mcnemar_micro,
           CASE WHEN b_cnt + c_cnt > 0
                THEN {_M32_STAT} > {_M32_CRIT} END AS significant
    FROM agg
"""


def _m32_scored(ev: DataFrame) -> DataFrame:
    """(event_type, y, pa, pb) verdicts of the two deployed classifiers
    (m04 logistic at 0.5, m05 tree ensemble) — shared by m32 and m39."""
    y = (F.col("value") > F.lit(float(EVENTS_FRAUD_THRESHOLD))).cast("long")
    pa = (_m04_p(None) > F.lit(0.5)).cast("long")
    hour = F.hour("ts")
    t1 = (
        F.when(
            F.col("value") > 100.0,
            F.when(F.col("event_type") == "purchase", 1.2).otherwise(0.6),
        ).otherwise(F.when(F.col("value") > 50.0, 0.1).otherwise(-0.4))
    )
    t2 = F.when(
        (hour >= 22) | (hour < 5),
        F.when(F.col("value") > 75.0, 0.8).otherwise(0.2),
    ).otherwise(-0.1)
    t3 = (
        F.when(F.col("event_type") == "error", -0.7)
        .when(F.col("event_type") == "signup", -0.3)
        .otherwise(0.05)
    )
    pb = ((F.lit(-1.0) + (t1 + t2 + t3)) > F.lit(0.0)).cast("long")
    return ev.select(
        "event_type", y.alias("y"), pa.alias("pa"), pb.alias("pb")
    )


@_register("m32_mcnemar_model_compare", _M32_SQL)
def m32_mcnemar_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired comparison of the two exported scorers on the
    SAME events — champion m04 (logistic, pred = p > 0.5) vs challenger
    m05 (tree ensemble, pred = margin > 0), per event_type segment plus
    'ALL': both accuracies, the discordant counts (only-A-right /
    only-B-right — the ONLY rows that discriminate between paired
    models; shared successes and shared failures cancel, the mistake
    naive accuracy deltas make), the (b-c)^2/(b+c) statistic in micro
    (exact integer counts, one shared rounded division) and the 5%
    chi-square verdict. Both predictions are the scorers' own shared
    IEEE expression sequences, so the whole promotion gate value-hash
    replays.

    Scale: ONE corpus scan, all predicates row-local (both models are
    compiled expressions — the m04/m05 deployment premise), map-side
    combined to (|types|+1) rows. The comparison adds zero cost over
    scoring itself.

    Reference parity: the statistical form of swapping the reference's
    hard-coded rule for a learned one; no reference equivalent (public
    methodology, McNemar 1947)."""
    ev = load_table(spark, sf_dir, "events")
    sc = _m32_scored(ev)
    seg = sc.select(
        F.col("event_type").alias("segment"), "y", "pa", "pb"
    ).unionByName(sc.select(F.lit("ALL").alias("segment"), "y", "pa", "pb"))
    agg = seg.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.expr("count_if(pa = y)").alias("a_correct"),
        F.expr("count_if(pb = y)").alias("b_correct"),
        F.expr("count_if(pa = y AND pb <> y)").alias("b_cnt"),
        F.expr("count_if(pa <> y AND pb = y)").alias("c_cnt"),
    )
    has = F.col("b_cnt") + F.col("c_cnt") > 0
    return agg.select(
        "segment",
        F.col("n").cast("long").alias("n"),
        F.col("a_correct").cast("long").alias("a_correct"),
        F.col("b_correct").cast("long").alias("b_correct"),
        F.col("b_cnt").cast("long").alias("only_a_right"),
        F.col("c_cnt").cast("long").alias("only_b_right"),
        F.when(has, F.expr(_M32_STAT)).alias("mcnemar_micro"),
        F.when(has, F.expr(_M32_STAT) > F.lit(_M32_CRIT)).alias(
            "significant"
        ),
    )


# ---------------------------------------------------------------------------
# m33: chi-square test of independence (order priority x order status) —
# the categorical-association audit every feature pipeline runs before
# one-hot-encoding two columns that might be redundant. The full
# contingency GRID (including empty cells, which still carry expected
# mass) is generated from the two marginal domains; each cell's
# (O - E)^2 / E contribution is ONE shared float-op sequence over exact
# integer counts, rounded once to micro (the m23 ln-cell discipline), so
# the chi-square statistic is an order-free integer SUM both engines
# hash identically.
# ---------------------------------------------------------------------------

_M33_E = "(rt * ct) / (n * 1.0)"
_M33_CELL = (
    "CAST(round(1000000.0 * pow(observed - " + _M33_E + ", 2)"
    " / (" + _M33_E + "), 0) AS BIGINT)"
)
_M33_EXPECTED = "CAST(round(1000000.0 * " + _M33_E + ", 0) AS BIGINT)"
# NULL on a degenerate 1 x k grid (dof 0): Cramer's V is undefined there
_M33_CRAMER = (
    "CASE WHEN least(nr - 1, nc - 1) > 0 THEN"
    " CAST(round(1000000.0 * sqrt((chi2_micro / 1000000.0)"
    " / (n * least(nr - 1, nc - 1))), 0) AS BIGINT) END"
)

_M33_SQL = f"""
    WITH cnt AS (
      SELECT o_orderpriority AS pr, o_orderstatus AS st,
             count(*) AS observed
      FROM orders GROUP BY 1, 2
    ),
    rows_ AS (SELECT pr, sum(observed) AS rt FROM cnt GROUP BY 1),
    cols_ AS (SELECT st, sum(observed) AS ct FROM cnt GROUP BY 1),
    tot AS (
      SELECT sum(observed) AS n,
             count(DISTINCT pr) AS nr, count(DISTINCT st) AS nc
      FROM cnt
    ),
    grid AS (
      SELECT pr, st, rt, ct, n, nr, nc,
             coalesce(observed, 0) AS observed
      FROM rows_ CROSS JOIN cols_ CROSS JOIN tot
      LEFT JOIN cnt USING (pr, st)
    ),
    cells AS (
      SELECT pr, st, observed, rt, ct, n, nr, nc,
             {_M33_EXPECTED} AS expected_micro,
             {_M33_CELL} AS contrib_micro
      FROM grid
    ),
    total AS (SELECT sum(contrib_micro) AS chi2_micro FROM cells)
    SELECT pr AS o_orderpriority, st AS o_orderstatus,
           CAST(observed AS BIGINT) AS observed,
           expected_micro, contrib_micro,
           CAST(chi2_micro AS BIGINT) AS chi2_micro,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           {_M33_CRAMER} AS cramers_v_micro
    FROM cells CROSS JOIN total
"""


@_register("m33_chi_square_independence", _M33_SQL)
def m33_chi_square_independence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Chi-square independence audit of order priority vs order status:
    the full contingency grid (empty combinations included — they still
    carry expected mass), each cell's observed count, expected count in
    micro, and (O-E)^2/E contribution in micro, with the total
    chi-square statistic, degrees of freedom, and Cramer's V effect
    size riding every row. Per-cell contributions are one shared
    float-op sequence over exact BIGINT counts rounded once to micro
    (the m23 cell discipline), so the statistic is an order-free
    integer sum and the driver hash pins the tie-free arithmetic
    end-to-end.

    Scale: ONE corpus scan map-side combines to the <= |priorities| x
    |statuses| contingency; marginals, the grid cross join, and the
    final aggregate all run on that bounded frame (15 cells here) —
    nothing downstream ever sees a corpus-sized row again.

    Reference parity: no reference equivalent; public Pearson
    chi-square methodology."""
    o = load_table(spark, sf_dir, "orders")
    return chi_square_report(
        o, "o_orderpriority", "o_orderstatus"
    ).select(
        F.col("pr").alias("o_orderpriority"),
        F.col("st").alias("o_orderstatus"),
        "observed",
        "expected_micro",
        "contrib_micro",
        "chi2_micro",
        "dof",
        "cramers_v_micro",
    )


def chi_square_report(df: DataFrame, row_col: str, col_col: str) -> DataFrame:
    """Chi-square independence grid over any two categorical columns —
    the m33 lowering, parameterized so the brute-force closure in
    tests/test_properties.py can drive it with generated tables."""
    cnt = df.groupBy(
        F.col(row_col).alias("pr"),
        F.col(col_col).alias("st"),
    ).agg(F.count("*").alias("observed"))
    cnt = cnt.localCheckpoint()  # feeds marginals AND the grid
    rows_ = cnt.groupBy("pr").agg(F.sum("observed").alias("rt"))
    cols_ = cnt.groupBy("st").agg(F.sum("observed").alias("ct"))
    tot = cnt.agg(
        F.sum("observed").alias("n"),
        F.countDistinct("pr").alias("nr"),
        F.countDistinct("st").alias("nc"),
    )
    # broadcast bounds: marginal frames are category-domain sized; tot
    # is 1 row; the grid itself is |priorities| x |statuses| cells
    grid = (
        rows_.crossJoin(F.broadcast(cols_))
        .crossJoin(F.broadcast(tot))
        .join(F.broadcast(cnt), ["pr", "st"], "left")
        .withColumn("observed", F.coalesce("observed", F.lit(0)))
    )
    cells = grid.select(
        "pr", "st", "observed", "rt", "ct", "n", "nr", "nc",
        F.expr(_M33_EXPECTED).alias("expected_micro"),
        F.expr(_M33_CELL).alias("contrib_micro"),
    ).localCheckpoint()
    total = cells.agg(F.sum("contrib_micro").alias("chi2_micro"))
    return cells.crossJoin(F.broadcast(total)).select(
        "pr",
        "st",
        F.col("observed").cast("long").alias("observed"),
        "expected_micro",
        "contrib_micro",
        F.col("chi2_micro").cast("long").alias("chi2_micro"),
        ((F.col("nr") - 1) * (F.col("nc") - 1))
        .cast("long")
        .alias("dof"),
        F.expr(_M33_CRAMER).alias("cramers_v_micro"),
    )


# ---------------------------------------------------------------------------
# m34: pairwise Pearson correlation matrix over the lineitem numeric
# features — ONE corpus scan accumulates every first/second/cross moment
# as EXACT integers (qty units, price cents, discount/tax micro; sums in
# DECIMAL(38) so squared-cents sums cannot overflow int64 at any SF),
# then each pair's r is one shared float-op sequence over the exact
# moments, rounded once to micro.
# ---------------------------------------------------------------------------

_M34_FEATS = ("qty", "cents", "disc", "tax")
_M34_R = (
    "CAST(round(1000000.0 * (1.0 * n * s_{x}{y} - 1.0 * s_{x} * s_{y})"
    " / (sqrt(1.0 * n * s_{x}{x} - 1.0 * s_{x} * s_{x})"
    " * sqrt(1.0 * n * s_{y}{y} - 1.0 * s_{y} * s_{y})), 0) AS BIGINT)"
)


def _m34_pair_select(x: str, y: str) -> str:
    return (
        f"SELECT '{x}' AS feat_a, '{y}' AS feat_b,"
        f" CAST(n AS BIGINT) AS n, "
        + _M34_R.format(x=x, y=y)
        + " AS r_micro FROM mom"
    )


_M34_MOM_SQL = """
      SELECT count(*) AS n,
             {sums}
      FROM (
        SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
               CAST(round(l_discount * 1000000) AS BIGINT) AS disc,
               CAST(round(l_tax * 1000000) AS BIGINT) AS tax
        FROM lineitem
      )
"""


def _m34_sum_exprs(decimal: bool) -> list[str]:
    """Moment sum expressions, identical shape on both engines; Spark
    wraps terms in DECIMAL(38,0) (its BIGINT sum would overflow on the
    squared-micro columns), DuckDB's BIGINT sums already widen to
    HUGEINT."""
    out = []
    fs = _M34_FEATS
    for i, x in enumerate(fs):
        t = f"CAST({x} AS DECIMAL(38,0))" if decimal else x
        out.append(f"sum({t}) AS s_{x}")
        for y in fs[i:]:
            u = f"CAST({y} AS DECIMAL(38,0))" if decimal else y
            out.append(f"sum({t} * {u}) AS s_{x}{y}")
    return out


_M34_SQL = (
    "WITH mom AS ("
    + _M34_MOM_SQL.format(sums=", ".join(_m34_sum_exprs(False)))
    + ") "
    + " UNION ALL ".join(
        _m34_pair_select(x, y)
        for i, x in enumerate(_M34_FEATS)
        for y in _M34_FEATS[i + 1 :]
    )
)


@_register("m34_correlation_matrix", _M34_SQL)
def m34_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem's numeric
    features (quantity, extended price, discount, tax) — the feature-
    redundancy screen run before any model training. Every moment
    (n, sums, squares, cross products) accumulates in ONE scan as exact
    integers over the quantized units (qty units / price cents /
    discount+tax micro); each of the 6 pair correlations is then one
    shared float-op sequence over those exact moments, rounded once to
    micro — no per-row float ever sums, so accumulation order cannot
    flip the hash at any parallelism.

    Scale: one map-side-combined aggregate to a single 15-column moment
    row (DECIMAL(38) sums — squared cents at 100 TB exceed int64 but
    not 38 digits); the pair report is 6 rows computed from that one
    row. This is the textbook single-pass parallel correlation: no
    second centered pass, no corpus-sized shuffle at all.

    Reference parity: no reference equivalent; public single-pass
    moment-based correlation methodology."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS qty",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS cents",
        "CAST(round(l_discount * 1000000) AS BIGINT) AS disc",
        "CAST(round(l_tax * 1000000) AS BIGINT) AS tax",
    )
    mom = q.agg(
        F.count("*").alias("n"),
        *[
            F.expr(e.rsplit(" AS ", 1)[0]).alias(e.rsplit(" AS ", 1)[1])
            for e in _m34_sum_exprs(True)
        ],
    ).localCheckpoint()  # 1 row; feeds all 6 pair selects
    pair_frames = []
    fs = _M34_FEATS
    for i, x in enumerate(fs):
        for y in fs[i + 1 :]:
            pair_frames.append(
                mom.selectExpr(
                    f"'{x}' AS feat_a",
                    f"'{y}' AS feat_b",
                    "CAST(n AS BIGINT) AS n",
                    _M34_R.format(x=x, y=y) + " AS r_micro",
                )
            )
    out = pair_frames[0]
    for p in pair_frames[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# m35: exact average precision (area under the precision-recall curve)
# from the m18 score histogram — the metric that matters when positives
# are rare (fraud!) and ROC-AUC flatters. Integer-exact: walking the
# distinct rounded scores from the top, each step's precision is one
# multiply-first ppm floor division, and AP weights it by that step's
# positive increment — all BIGINT, order-free.
# ---------------------------------------------------------------------------

_M35_SQL = f"""
    WITH sc AS ({_M18_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, s,
             CAST(sum(y) AS BIGINT) AS n_pos_s,
             CAST(sum(1 - y) AS BIGINT) AS n_neg_s
      FROM sc GROUP BY 1, 2
      UNION ALL
      SELECT 'ALL', s, CAST(sum(y) AS BIGINT), CAST(sum(1 - y) AS BIGINT)
      FROM sc GROUP BY 2
    ),
    w AS (
      SELECT segment, s, n_pos_s, n_neg_s,
             sum(n_pos_s) OVER (
               PARTITION BY segment ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp,
             sum(n_neg_s) OVER (
               PARTITION BY segment ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fp
      FROM seg
    )
    SELECT segment,
           CAST(sum(n_pos_s) AS BIGINT) AS n_pos,
           CAST(sum(n_neg_s) AS BIGINT) AS n_neg,
           CASE WHEN sum(n_pos_s) > 0 THEN
             CAST(sum(n_pos_s * ((1000000 * tp) // (tp + fp)))
                  // sum(n_pos_s) AS BIGINT)
           END AS ap_ppm
    FROM w GROUP BY segment
"""


@_register("m35_average_precision", _M35_SQL)
def m35_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact average precision (PR-AUC) for the m04 scorer per
    event_type segment plus 'ALL' — the complement of m18's ROC-AUC for
    the rare-positive regime, where precision against the flood of
    negatives is the honest number. Standard step-wise AP over the
    distinct rounded scores, descending: each score level contributes
    its positive count times the precision of the prefix down to (and
    including) that level; ties collapse into one step (the
    score-quantized convention). precision_ppm is a multiply-first
    floor division and AP is floor(sum(dtp * prec_ppm) / n_pos) — every
    quantity BIGINT, so the hash pins tie handling and quantization.

    Scale: identical posture to m18 — one map-side-combined scan to the
    score-codomain-bounded histogram (round(.,6) caps distinct scores
    at ~1e6 regardless of corpus), cumulative windows and the 6-row
    aggregate on that bounded frame; the corpus is scanned once
    (histogram localCheckpointed, shared with nothing corpus-sized).

    Reference parity: the PR-side evaluation of the reference's
    hard-coded >10000 rule, as m18 is its ROC side."""
    return m35_ap_from_counts(
        SCORE_HIST.reduce(events_projection(spark, sf_dir, SCORE_HIST.cols))
    )


def m35_ap_from_counts(per: DataFrame) -> DataFrame:
    """(event_type, s, n_pos_s, n_neg_s) histogram partials ->
    per-segment + ALL exact average precision. Split from m35 so the
    brute-force closure (tests/test_properties.py) and the streaming
    twin (s44) share it — the m18_auc_from_counts pattern."""
    from pyspark.sql.window import Window

    per = merge_score_hist(per)
    seg = per.select(
        F.col("event_type").alias("segment"), "s", "n_pos_s", "n_neg_s"
    ).unionAll(
        per.groupBy("s")
        .agg(
            F.sum("n_pos_s").alias("n_pos_s"),
            F.sum("n_neg_s").alias("n_neg_s"),
        )
        .select(F.lit("ALL").alias("segment"), "s", "n_pos_s", "n_neg_s")
    )
    # windows over the score-codomain-BOUNDED histogram, per segment
    w = (
        Window.partitionBy("segment")
        .orderBy(F.desc("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = seg.select(
        "segment",
        "n_pos_s",
        "n_neg_s",
        F.sum("n_pos_s").over(w).alias("tp"),
        F.sum("n_neg_s").over(w).alias("fp"),
    )
    has = F.sum("n_pos_s") > 0
    return c.groupBy("segment").agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
        F.when(
            has,
            F.expr(
                "sum(n_pos_s * ((1000000 * tp) div (tp + fp)))"
                " div sum(n_pos_s)"
            ),
        )
        .cast("long")
        .alias("ap_ppm"),
    )


# ---------------------------------------------------------------------------
# m36: cumulative gains / lift table — the campaign-targeting readout
# ("contact the top d deciles, capture X% of fraud at Y x random"). All
# prefixes are LEVEL-ALIGNED on the score histogram: decile d's prefix is
# the largest run of distinct scores (descending) whose population fits
# within floor(n*d/10) — exact integers end to end, no row sampling ties.
# ---------------------------------------------------------------------------

_M36_SQL = f"""
    WITH sc AS ({_M18_SC_SQL}),
    hist AS (
      SELECT s, CAST(sum(y) AS BIGINT) AS n_pos_s,
             CAST(count(*) AS BIGINT) AS n_s
      FROM sc GROUP BY 1
    ),
    cum AS (
      SELECT s,
             sum(n_s) OVER (ORDER BY s DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cum_n,
             sum(n_pos_s) OVER (ORDER BY s DESC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_pos
      FROM hist
    ),
    tot AS (
      SELECT sum(n_s) AS n, sum(n_pos_s) AS n_pos FROM hist
    ),
    dec AS (
      SELECT unnest(range(1, 11)) AS decile, n, n_pos,
             (n * unnest(range(1, 11))) // 10 AS cut
      FROM tot
    ),
    pick AS (
      SELECT d.decile, d.n, d.n_pos, d.cut,
             coalesce(max(c.cum_n), 0) AS used_n,
             coalesce(max_by(c.cum_pos, c.cum_n), 0) AS cum_pos
      FROM dec d LEFT JOIN cum c ON c.cum_n <= d.cut
      GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(cut AS BIGINT) AS cut_n,
           CAST(used_n AS BIGINT) AS used_n,
           CAST(cum_pos AS BIGINT) AS captured_pos,
           CAST(CASE WHEN n_pos > 0
                THEN (1000000 * cum_pos) // n_pos END AS BIGINT)
             AS capture_ppm,
           CAST(CASE WHEN used_n > 0 AND n_pos > 0
                THEN (1000000 * cum_pos * n) // (used_n * n_pos) END
                AS BIGINT) AS lift_ppm
    FROM pick
"""


@_register("m36_gains_lift_table", _M36_SQL)
def m36_gains_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains and lift by score decile for the m04 scorer —
    the targeting readout: investigating the top d/10 of traffic by
    score, what share of the fraud is captured (gains) and at what
    multiple of random (lift)? Prefixes are LEVEL-ALIGNED on the
    rounded-score histogram: decile d uses the largest descending run
    of distinct scores whose population fits floor(n*d/10), so the
    table is a pure function of the histogram (no ambiguous row-level
    tie-breaking) and every number is an exact integer or a
    multiply-first ppm floor division.

    Scale: the m18 posture — one map-side-combined scan to the
    score-codomain-bounded histogram; the cumulative window, the
    10-row decile frame, and the prefix pick (a theta join against the
    bounded cum frame) never touch corpus-sized data again.

    Reference parity: the operations answer to the reference's binary
    alert stream — how deep into the scored queue an investigation
    team should go."""
    ev = load_table(spark, sf_dir, "events")
    per = m18_score_counts(ev)
    hist = per.groupBy("s").agg(
        F.sum("n_pos_s").alias("n_pos_s"),
        (F.sum("n_pos_s") + F.sum("n_neg_s")).alias("n_s"),
    )
    return m36_gains_from_hist(hist)


def m36_gains_from_hist(hist: DataFrame) -> DataFrame:
    """(s, n_pos_s, n_s) histogram -> the 10-row gains/lift table.
    Split from m36 so the integer brute-force closure
    (tests/test_properties.py) can drive it with generated
    histograms."""
    from pyspark.sql.window import Window

    hist = hist.localCheckpoint()  # bounded by the score codomain
    w = Window.orderBy(F.desc("s")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # cumulative over the BOUNDED histogram frame
    cum = hist.select(
        F.sum("n_s").over(w).alias("cum_n"),
        F.sum("n_pos_s").over(w).alias("cum_pos"),
    )
    tot = hist.agg(
        F.sum("n_s").alias("n"), F.sum("n_pos_s").alias("n_pos")
    )
    dec = tot.select(
        F.explode(F.sequence(F.lit(1), F.lit(10))).alias("decile"),
        "n",
        "n_pos",
    ).withColumn("cut", F.expr("(n * decile) div 10"))
    # theta join against the bounded cum frame (10 x |levels| worst case)
    pick = (
        dec.join(F.broadcast(cum), F.col("cum_n") <= F.col("cut"), "left")
        .groupBy("decile", "n", "n_pos", "cut")
        .agg(
            F.coalesce(F.max("cum_n"), F.lit(0)).alias("used_n"),
            F.coalesce(
                F.expr("max_by(cum_pos, cum_n)"), F.lit(0)
            ).alias("cum_pos"),
        )
    )
    return pick.select(
        F.col("decile").cast("long").alias("decile"),
        F.col("cut").cast("long").alias("cut_n"),
        F.col("used_n").cast("long").alias("used_n"),
        F.col("cum_pos").cast("long").alias("captured_pos"),
        F.expr(
            "CAST(CASE WHEN n_pos > 0"
            " THEN (1000000 * cum_pos) div n_pos END AS BIGINT)"
        ).alias("capture_ppm"),
        F.expr(
            "CAST(CASE WHEN used_n > 0 AND n_pos > 0"
            " THEN (1000000 * cum_pos * n) div (used_n * n_pos) END"
            " AS BIGINT)"
        ).alias("lift_ppm"),
    )


# ---------------------------------------------------------------------------
# m37: Spearman rank correlation (quantity vs dollar price) — the
# monotone-association complement of m34's Pearson. Ties get midranks,
# kept EXACT by working in doubled ranks (2 x midrank = 2*cum_before +
# count + 1, always an integer); rho is Pearson on the rank columns, and
# the moments formula is scale-invariant so the doubling cancels.
# ---------------------------------------------------------------------------

_M37_RHO = (
    "CAST(round((dn * dsxy - dsx * dsy) * 1000000.0"
    " / (sqrt(dn * dsxx - dsx * dsx) * sqrt(dn * dsyy - dsy * dsy)), 0)"
    " AS BIGINT)"
)
_M37_D = (
    "CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,"
    " CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,"
    " CAST(syy AS DOUBLE) AS dsyy, CAST(sxy AS DOUBLE) AS dsxy"
)

_M37_SQL = f"""
    WITH v AS (
      SELECT CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) // 100 AS y
      FROM lineitem
    ),
    rx AS (
      SELECT x, 2 * coalesce(sum(c) OVER (ORDER BY x
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS dx
      FROM (SELECT x, count(*) AS c FROM v GROUP BY 1)
    ),
    ry AS (
      SELECT y, 2 * coalesce(sum(c) OVER (ORDER BY y
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 + c + 1 AS dy
      FROM (SELECT y, count(*) AS c FROM v GROUP BY 1)
    ),
    j AS (
      SELECT dx, dy
      FROM v JOIN rx USING (x) JOIN ry USING (y)
    ),
    mom AS (
      SELECT count(*) AS n, sum(dx) AS sx, sum(dy) AS sy,
             sum(dx * dx) AS sxx, sum(dy * dy) AS syy,
             sum(dx * dy) AS sxy
      FROM j
    ),
    d AS (SELECT n, {_M37_D} FROM mom)
    SELECT CAST(n AS BIGINT) AS n, {_M37_RHO} AS rho_micro
    FROM d
"""


@_register("m37_spearman_rank_corr", _M37_SQL)
def m37_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation between lineitem quantity and
    dollar-quantized price — the monotone-association screen that
    catches what Pearson (m34) misses on nonlinear-but-monotone
    relationships, and the robust one under outliers. Ties take
    midranks, held exact as INTEGER doubled ranks (2*cum_before + c
    + 1); rho is the Pearson moments formula over those integers
    (scale-invariance cancels the doubling), with DECIMAL(38) sums and
    one shared float-op sequence at the end — the m34 discipline.

    Scale: ranks come from the value-domain-bounded histograms (51
    quantities, ~dollar range) — never a corpus-wide sort; each row
    picks up (dx, dy) through two broadcast joins against those bounded
    rank maps, and ONE scan accumulates the moments.

    Reference parity: no reference equivalent; public rank-correlation
    methodology (Spearman 1904, midrank tie convention)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    v = li.selectExpr(
        "CAST(round(l_quantity) AS BIGINT) AS x",
        "CAST(round(l_extendedprice * 100) AS BIGINT) div 100 AS y",
    )
    v = v.localCheckpoint()  # feeds both histograms AND the moment scan

    def dranks(col: str, out: str) -> DataFrame:
        cnt = v.groupBy(col).agg(F.count("*").alias("c"))
        w = Window.orderBy(col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        # window over the value-domain-bounded histogram
        return cnt.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            ).alias(out),
        )

    # broadcast bounds: rank maps are value-domain sized
    j = v.join(F.broadcast(dranks("x", "dx")), "x").join(
        F.broadcast(dranks("y", "dy")), "y"
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    mom = j.agg(
        F.count("*").alias("n"),
        F.sum(dec("dx")).alias("sx"),
        F.sum(dec("dy")).alias("sy"),
        F.sum(dec("dx") * dec("dx")).alias("sxx"),
        F.sum(dec("dy") * dec("dy")).alias("syy"),
        F.sum(dec("dx") * dec("dy")).alias("sxy"),
    )
    d = mom.selectExpr("n", *_M37_D.split(", "))
    return d.selectExpr(
        "CAST(n AS BIGINT) AS n", f"{_M37_RHO} AS rho_micro"
    )


# ---------------------------------------------------------------------------
# m38: Poisson-bootstrap confidence interval for the per-segment mean —
# the bootstrap that actually works on a cluster (Chamandy et al.,
# Google): instead of resampling n rows with replacement (impossible to
# coordinate distributed), each row enters replicate b with weight ~
# Poisson(1), drawn DETERMINISTICALLY by inverting the Poisson CDF at a
# 60-bit md5(row, b) uniform. The CDF thresholds are exact integer
# literals at 2^60 scale, so both engines pick identical weights and the
# whole resampling plan is value-hash checkable.
# ---------------------------------------------------------------------------

_M38_B = 40  # bootstrap replicates
# floor(PoissonCDF_1(k) * 2^60), k = 0..7; u >= last -> weight 8
_M38_T = [
    424136118829305344, 848272237658610688, 1060340297073263360,
    1131029650211480960, 1148701988496035328, 1152236456152946176,
    1152825534095764608, 1152909688087595776,
]
_M38_W = (
    "CASE "
    + " ".join(f"WHEN u < {t} THEN {k}" for k, t in enumerate(_M38_T))
    + " ELSE 8 END"
)

_M38_SQL = f"""
    WITH r AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             event_id
      FROM events
    ),
    w AS (
      SELECT event_type, cents, b, {_M38_W} AS w
      FROM (
        SELECT event_type, cents, b,
               CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)
                     || ':' || CAST(b AS VARCHAR)), 1, 15)) AS BIGINT) AS u
        FROM r, unnest(range(0, {_M38_B})) AS t(b)
      )
    ),
    rep AS (
      SELECT event_type, b,
             CAST(sum(w * cents) AS BIGINT) AS s,
             CAST(sum(w) AS BIGINT) AS n
      FROM w GROUP BY 1, 2
    ),
    means AS (
      SELECT event_type,
             CAST((1000000 * s) // n AS BIGINT) AS m,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY (1000000 * s) // n, b) AS rk
      FROM rep WHERE n > 0
    ),
    full_ AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST((1000000 * sum(cents)) // count(*) AS BIGINT)
               AS mean_micro
      FROM r GROUP BY 1
    )
    SELECT f.event_type, f.n_rows, f.mean_micro,
           min(CASE WHEN rk = 2 THEN m END) AS ci_lo_micro,
           min(CASE WHEN rk = {_M38_B} - 1 THEN m END) AS ci_hi_micro
    FROM full_ f JOIN means USING (event_type)
    GROUP BY 1, 2, 3
"""


@_register("m38_bootstrap_ci", _M38_SQL)
def m38_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for each event type's mean
    transaction value — the distributed bootstrap (each row joins
    replicate b with a Poisson(1) multiplicity, so replicates never
    need coordinated row resampling): 40 replicates, weights drawn by
    inverting the exact integer-threshold Poisson CDF at a 60-bit
    md5(event_id, b) uniform — fully deterministic, identical on both
    engines. The interval is the 2nd-smallest / 2nd-largest replicate
    mean (the 5%-trim percentile-bootstrap convention at B=40),
    reported beside the full-sample mean, all in exact micro-cents.

    Scale: one scan explodes each row into its B weighted copies and
    map-side combines straight to |types| x B partial sums — the
    shuffle is replicate-bounded, not row-bounded (the whole point of
    the Poisson formulation); the rank window runs on that 40-row-per-
    type frame. B multiplies scan-side compute only, and B is fixed.

    Reference parity: the uncertainty quantification the reference's
    Grafana mean tiles (Q2/Q5) silently lack; public Poisson-bootstrap
    methodology (Chamandy et al. 2012)."""
    return m38_ci_from_partials(
        M38.reduce(events_projection(spark, sf_dir, M38.cols))
    )


def m38_partials(r: DataFrame) -> DataFrame:
    """(event_type, cents, event_id) rows -> (event_type, b, s, n):
    each replicate b's weighted cents sum and weight total, plus the
    full-sample cents sum and row count tagged b = -1. All sums, so
    partials from independent slices merge by keyed summation."""
    r = r.localCheckpoint()  # feeds the replicate explode AND full sums
    w = (
        r.select(
            "event_type",
            "cents",
            F.explode(F.sequence(F.lit(0), F.lit(_M38_B - 1))).alias("b"),
            "event_id",
        )
        .withColumn(
            "u",
            F.expr(
                "conv(substring(md5(CAST(event_id AS STRING) || ':'"
                " || CAST(b AS STRING)), 1, 15), 16, 10)"
            ).cast("long"),
        )
        .withColumn("w", F.expr(_M38_W))
    )
    rep = w.groupBy("event_type", "b").agg(
        F.sum(F.col("w") * F.col("cents")).cast("long").alias("s"),
        F.sum("w").cast("long").alias("n"),
    )
    full_ = r.groupBy("event_type").agg(
        F.lit(-1).alias("b"),
        F.sum("cents").cast("long").alias("s"),
        F.count("*").cast("long").alias("n"),
    )
    return rep.unionByName(full_)


# (event_type, cents, event_id) -> m38's tagged partials (twin s46).
M38 = EventsRule(
    lambda t: [F.col("event_type"), _cents(), F.col("event_id")], m38_partials
)


def m38_ci_from_partials(parts: DataFrame) -> DataFrame:
    """(event_type, b, s, n) partials -> the CI report. Shared by m38
    and the streaming twin (s46)."""
    from pyspark.sql.window import Window

    merged = (
        parts.groupBy("event_type", "b")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .localCheckpoint()
    )
    rep = merged.where(F.col("b") >= 0)
    full_ = merged.where(F.col("b") == -1).select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        F.expr("CAST((1000000 * s) div n AS BIGINT)").alias("mean_micro"),
    )
    means = (
        rep.where(F.col("n") > 0)
        .withColumn("m", F.expr("CAST((1000000 * s) div n AS BIGINT)"))
        .withColumn(
            "rk",
            F.row_number().over(
                # window over the B-row-per-type replicate frame
                Window.partitionBy("event_type").orderBy("m", "b")
            ),
        )
    )
    # broadcast bound: means is |types| x B rows
    return (
        full_.join(F.broadcast(means), "event_type")
        .groupBy("event_type", "n_rows", "mean_micro")
        .agg(
            F.min(F.when(F.col("rk") == 2, F.col("m"))).alias(
                "ci_lo_micro"
            ),
            F.min(
                F.when(F.col("rk") == _M38_B - 1, F.col("m"))
            ).alias("ci_hi_micro"),
        )
    )


# ---------------------------------------------------------------------------
# m39: Cohen's kappa between the two deployed classifiers — chance-
# corrected inter-model agreement. McNemar (m32) asks "is one BETTER";
# kappa asks "do they even AGREE beyond chance" — low kappa with similar
# accuracy means the models disagree on different slices and an ensemble
# is worth building. kappa = (n*agree - sum_marg) / (n^2 - sum_marg)
# with sum_marg = a1*b1 + a0*b0 — exact integer inputs, one shared
# float-op sequence, rounded once to micro.
# ---------------------------------------------------------------------------

_M39_K = (
    "CAST(round(1000000.0 * (1.0 * n * agree - (1.0 * a1 * b1 + 1.0 * a0 * b0))"
    " / (1.0 * n * n - (1.0 * a1 * b1 + 1.0 * a0 * b0)), 0) AS BIGINT)"
)

_M39_SQL = f"""
    WITH sc AS ({_M32_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, pa, pb FROM sc
      UNION ALL
      SELECT 'ALL', pa, pb FROM sc
    ),
    agg AS (
      SELECT segment,
             count(*) AS n,
             count(*) FILTER (WHERE pa = pb) AS agree,
             count(*) FILTER (WHERE pa = 1) AS a1,
             count(*) FILTER (WHERE pa = 0) AS a0,
             count(*) FILTER (WHERE pb = 1) AS b1,
             count(*) FILTER (WHERE pb = 0) AS b0
      FROM seg GROUP BY 1
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           CAST(agree AS BIGINT) AS n_agree,
           CAST(a1 AS BIGINT) AS a_pos,
           CAST(b1 AS BIGINT) AS b_pos,
           CASE WHEN n * n > a1 * b1 + a0 * b0 THEN {_M39_K} END
             AS kappa_micro
    FROM agg
"""


@_register("m39_cohens_kappa", _M39_SQL)
def m39_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the m04 logistic and m05 tree classifiers,
    per event-type segment plus ALL: chance-corrected agreement from
    the 2x2 verdict contingency — the ensemble-worthiness readout
    beside m32's is-one-better McNemar gate (similar accuracies with
    low kappa = the models err on different slices, so ensembling
    buys real lift). Counts are exact integers from one scan; kappa is
    one shared float-op sequence over them, rounded once to micro;
    NULL when chance agreement is total (degenerate constant raters).

    Scale: identical posture to m32 — both models are row-local
    compiled expressions, one map-side-combined scan to (|types|+1)
    rows; the statistic adds nothing over scoring.

    Reference parity: no reference equivalent; public inter-rater
    agreement methodology (Cohen 1960)."""
    ev = load_table(spark, sf_dir, "events")
    sc = _m32_scored(ev)
    seg = sc.select(
        F.col("event_type").alias("segment"), "pa", "pb"
    ).unionByName(sc.select(F.lit("ALL").alias("segment"), "pa", "pb"))
    agg = seg.groupBy("segment").agg(
        F.count("*").alias("n"),
        F.expr("count_if(pa = pb)").alias("agree"),
        F.expr("count_if(pa = 1)").alias("a1"),
        F.expr("count_if(pa = 0)").alias("a0"),
        F.expr("count_if(pb = 1)").alias("b1"),
        F.expr("count_if(pb = 0)").alias("b0"),
    )
    ok = F.col("n") * F.col("n") > F.col("a1") * F.col("b1") + F.col(
        "a0"
    ) * F.col("b0")
    return agg.select(
        "segment",
        F.col("n").cast("long").alias("n"),
        F.col("agree").cast("long").alias("n_agree"),
        F.col("a1").cast("long").alias("a_pos"),
        F.col("b1").cast("long").alias("b_pos"),
        F.when(ok, F.expr(_M39_K)).alias("kappa_micro"),
    )


# ---------------------------------------------------------------------------
# m40: Matthews correlation coefficient — the single-number confusion
# summary robust to class imbalance (accuracy and even F1 flatter a
# majority-class model; MCC doesn't). Exact integer confusion counts,
# one shared float-op sequence, DECIMAL(38) products (tp*tn etc. exceed
# int64 past ~3e9 rows per class pair).
# ---------------------------------------------------------------------------

_M40_MCC = (
    "CAST(round(1000000.0 * (1.0 * tp * tn - 1.0 * fp * fn)"
    " / sqrt(1.0 * (tp + fp) * (tp + fn))"
    " / sqrt(1.0 * (tn + fp) * (tn + fn)), 0) AS BIGINT)"
)

_M40_SQL = f"""
    WITH sc AS ({_M32_SC_SQL}),
    seg AS (
      SELECT event_type AS segment, y, pa FROM sc
      UNION ALL
      SELECT 'ALL', y, pa FROM sc
    ),
    agg AS (
      SELECT segment,
             count(*) FILTER (WHERE pa = 1 AND y = 1) AS tp,
             count(*) FILTER (WHERE pa = 0 AND y = 0) AS tn,
             count(*) FILTER (WHERE pa = 1 AND y = 0) AS fp,
             count(*) FILTER (WHERE pa = 0 AND y = 1) AS fn
      FROM seg GROUP BY 1
    )
    SELECT segment,
           CAST(tp AS BIGINT) AS tp, CAST(tn AS BIGINT) AS tn,
           CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
           CASE WHEN (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn) > 0
                THEN {_M40_MCC} END AS mcc_micro
    FROM agg
"""


@_register("m40_matthews_corrcoef", _M40_SQL)
def m40_matthews_corrcoef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the m04 classifier per
    event-type segment plus ALL — the confusion-matrix summary that
    stays honest under class imbalance (this corpus is ~50/50, but the
    operator is the production fraud metric where positives are rare
    and accuracy/F1 flatter constant models). Exact integer confusion
    counts from one scan; MCC is one shared float-op sequence over them
    (split into two sqrt factors so the product of four marginals never
    materializes as one overflow-prone term), rounded once to micro,
    NULL when any marginal is empty (MCC undefined).

    Scale: the m32/m39 posture — row-local compiled model, one
    map-side-combined scan to (|types|+1) confusion rows.

    Reference parity: the statistically honest summary of the
    reference's binary alert quality; public methodology (Matthews
    1975)."""
    ev = load_table(spark, sf_dir, "events")
    sc = _m32_scored(ev)
    seg = sc.select(
        F.col("event_type").alias("segment"), "y", "pa"
    ).unionByName(sc.select(F.lit("ALL").alias("segment"), "y", "pa"))
    agg = seg.groupBy("segment").agg(
        F.expr("count_if(pa = 1 AND y = 1)").alias("tp"),
        F.expr("count_if(pa = 0 AND y = 0)").alias("tn"),
        F.expr("count_if(pa = 1 AND y = 0)").alias("fp"),
        F.expr("count_if(pa = 0 AND y = 1)").alias("fn"),
    )
    ok = (
        (F.col("tp") + F.col("fp"))
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
        > 0
    )
    return agg.select(
        "segment",
        F.col("tp").cast("long").alias("tp"),
        F.col("tn").cast("long").alias("tn"),
        F.col("fp").cast("long").alias("fp"),
        F.col("fn").cast("long").alias("fn"),
        F.when(ok, F.expr(_M40_MCC)).alias("mcc_micro"),
    )


# ---------------------------------------------------------------------------
# m41: Theil-Sen robust trend — the median of all pairwise slopes, the
# estimator that shrugs at the outlier days that drag m30's OLS around.
# Fully exact: slopes stay RATIONALS (dy, dx) compared by cross-
# multiplication, the median slope is picked by rank over the bounded
# day-pair frame, and only the final report division quantizes (micro,
# multiply-first). Lower-median convention on the cross-multiplication
# order.
# ---------------------------------------------------------------------------

_M41_SQL = """
    WITH daily AS (
      SELECT CAST(epoch(date_trunc('second', ts)) AS BIGINT) // 86400
               AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT b.cents - a.cents AS dy, b.d - a.d AS dx
      FROM daily a JOIN daily b ON a.d < b.d
    ),
    ranked AS (
      SELECT dy, dx,
             row_number() OVER (ORDER BY dy * 1.0 / dx, dy, dx) AS rk,
             count(*) OVER () AS np
      FROM pairs
    )
    SELECT CAST((SELECT count(*) FROM daily) AS BIGINT) AS n_days,
           CAST(np AS BIGINT) AS n_pairs,
           CAST(dy AS BIGINT) AS med_dy,
           CAST(dx AS BIGINT) AS med_dx,
           CAST((1000000 * dy) // dx AS BIGINT) AS slope_micro_cents
    FROM ranked WHERE rk = (np + 1) // 2
"""


@_register("m41_theil_sen_trend", _M41_SQL)
def m41_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust daily-revenue trend: the median of all pairwise
    (day_j - day_i) slopes over the per-day cents totals — the
    breakdown-point-29% estimator that ignores the outlier days which
    drag the OLS line (m30) around. Exactness discipline: each slope
    stays the exact rational (dy, dx); the ordering key dy/dx is a
    single IEEE division BOTH engines evaluate on identical integer
    inputs with deterministic rational tie-breaks (dy, dx) behind it,
    so the lower-median pick is reproducible; only the reported slope
    quantizes (multiply-first micro floor).

    Scale: the pair frame is |days|^2/2 over the DAY-bounded daily
    aggregate (one corpus scan reduces to |days| rows first) — at any
    corpus size this is a few thousand pairs, which is exactly why
    Theil-Sen on pre-aggregated time series is tractable where
    row-level all-pairs would not be. One scan, one bounded self-join,
    one bounded window.

    Reference parity: the robust form of the trend the reference's
    Grafana graphs eyeball; public methodology (Theil 1950, Sen
    1968)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    daily = (
        ev.select(
            (t / 86400).cast("long").alias("d"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("cents"))
        .localCheckpoint()  # |days| rows; feeds pairs AND the count
    )
    a = daily.select(
        F.col("d").alias("da"), F.col("cents").alias("ca")
    )
    b = daily.select(
        F.col("d").alias("db"), F.col("cents").alias("cb")
    )
    # broadcast bound: both sides are the |days|-row daily aggregate
    pairs = a.join(F.broadcast(b), F.col("da") < F.col("db")).select(
        (F.col("cb") - F.col("ca")).alias("dy"),
        (F.col("db") - F.col("da")).alias("dx"),
    )
    w = Window.orderBy(
        F.expr("dy * 1.0 / dx"), F.col("dy"), F.col("dx")
    )
    ranked = pairs.select(
        "dy",
        "dx",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(
            Window.partitionBy()
        ).alias("np"),
    )
    nd = daily.agg(F.count("*").alias("n_days"))
    return (
        ranked.where(F.col("rk") == F.expr("(np + 1) div 2"))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("n_days").cast("long").alias("n_days"),
            F.col("np").cast("long").alias("n_pairs"),
            F.col("dy").cast("long").alias("med_dy"),
            F.col("dx").cast("long").alias("med_dx"),
            F.expr(
                "CAST((1000000 * dy) div dx AS BIGINT)"
            ).alias("slope_micro_cents"),
        )
    )


# ---------------------------------------------------------------------------
# m42-m47: forensic / nonparametric statistics pack — Benford's law,
# Kendall tau-b, Gini, Fano burstiness, two-proportion z, weighted
# median. Each keeps counts in exact integers and confines floats to
# one closed-form expression both engines evaluate on identical inputs.
# ---------------------------------------------------------------------------

_M42_SQL = """
    WITH c AS (
      SELECT CAST(left(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                            AS VARCHAR), 1) AS INT) AS digit
      FROM orders
    ),
    h AS (
      SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c GROUP BY 1
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
    SELECT h.digit, h.n,
           CAST(h.n AS DOUBLE) / t.total AS share,
           log10(1.0 + 1.0 / h.digit) AS benford_share,
           (h.n - t.total * log10(1.0 + 1.0 / h.digit))
             * (h.n - t.total * log10(1.0 + 1.0 / h.digit))
             / (t.total * log10(1.0 + 1.0 / h.digit)) AS chi2_term
    FROM h, t
"""


M42 = EventsRule(
    lambda t: [F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")],
    lambda o: (
        o.select(
            F.substring(F.col("cents").cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").alias("n"))
    ),
    "orders",
)


@_register("m42_benford_first_digit", _M42_SQL)
def m42_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts: observed count
    and share per leading digit of the integer cents value, against the
    Benford expectation log10(1 + 1/d), with the per-digit chi-square
    contribution — THE forensic-accounting screen for fabricated
    amounts (Benford 1938, Nigrini 1996; uniform synthetic amounts like
    the reference generator's U[1000,11000) fail it loudly, which is
    the point of the audit). The leading digit comes from the decimal
    string of the exact cents integer — no float log on the value
    path; chi-square terms are one closed-form float expression over
    exact (n, total).

    Scale: one scan to a 9-key map-side-combinable agg; the total is
    derived from the 9-row frame (no second scan). Digit-domain
    output.

    Reference parity: audits the exact field the reference thresholds
    (TransactionProcessor.java:37); public methodology."""
    return benford_from_digit_counts(
        M42.reduce(events_projection(spark, sf_dir, M42.cols, M42.table))
    )


_M43_SQL = """
    WITH m AS (
      SELECT CAST(date_part('year', o_orderdate) AS INT) * 12
               + CAST(date_part('month', o_orderdate) AS INT) AS mi,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS y
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT CAST(sign(b.x - a.x) * sign(b.y - a.y) AS INT) AS s,
             CAST(a.x = b.x AS INT) AS tx,
             CAST(a.y = b.y AS INT) AS ty
      FROM m a JOIN m b ON a.mi < b.mi
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n0,
             CAST(count(*) FILTER (s > 0) AS BIGINT) AS conc,
             CAST(count(*) FILTER (s < 0) AS BIGINT) AS disc,
             CAST(sum(tx) AS BIGINT) AS ties_x,
             CAST(sum(ty) AS BIGINT) AS ties_y
      FROM p
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_months,
           n0 AS n_pairs, conc, disc, ties_x, ties_y,
           (conc - disc) / sqrt((n0 - ties_x)::DOUBLE * (n0 - ties_y))
             AS tau_b
    FROM agg
"""


@_register("m43_kendall_tau", _M43_SQL)
def m43_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b rank correlation between monthly order count
    and monthly revenue — the tie-corrected concordant/discordant pair
    statistic (Kendall 1945), complementing m37's Spearman: concordant,
    discordant, and tie counts are exact integers off the pairwise
    sign grid; tau-b is one closed-form float at the end.

    Scale: the corpus reduces to the CALENDAR-bounded monthly frame
    first (one scan, |months| rows); the O(|months|^2) pair join is a
    few thousand rows at any corpus size — pairwise on pre-aggregated
    series is the tractable form (m41's rationale), row-level
    all-pairs would not be. Broadcast bound: the month frame.

    Reference parity: none in reference; public statistic."""
    o = load_table(spark, sf_dir, "orders")
    m = (
        o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("mi"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("mi")
        .agg(
            F.count("*").alias("x"),
            F.sum("cents").cast("long").alias("y"),
        )
    )
    m = m.localCheckpoint()  # |months| rows; feeds pairs AND n_months
    a = m.select(
        F.col("mi").alias("ma"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = m.select(
        F.col("mi").alias("mb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    # broadcast bound: month-domain frame (~80 rows)
    pairs = a.join(F.broadcast(b), F.col("ma") < F.col("mb")).select(
        (
            F.signum(F.col("xb") - F.col("xa"))
            * F.signum(F.col("yb") - F.col("ya"))
        ).cast("int").alias("s"),
        (F.col("xa") == F.col("xb")).cast("int").alias("tx"),
        (F.col("ya") == F.col("yb")).cast("int").alias("ty"),
    )
    agg = pairs.agg(
        F.count("*").alias("n0"),
        F.sum((F.col("s") > 0).cast("long")).alias("conc"),
        F.sum((F.col("s") < 0).cast("long")).alias("disc"),
        F.sum("tx").cast("long").alias("ties_x"),
        F.sum("ty").cast("long").alias("ties_y"),
    )
    nm = m.agg(F.count("*").cast("long").alias("n_months"))
    # broadcast bound: 1 row
    return agg.crossJoin(F.broadcast(nm)).select(
        "n_months",
        F.col("n0").alias("n_pairs"),
        "conc",
        "disc",
        "ties_x",
        "ties_y",
        (
            (F.col("conc") - F.col("disc"))
            / F.sqrt(
                (F.col("n0") - F.col("ties_x")).cast("double")
                * (F.col("n0") - F.col("ties_y"))
            )
        ).alias("tau_b"),
    )


_M44_SQL = """
    WITH cust AS (
      SELECT c.c_nationkey AS nk,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_nationkey
    ),
    h AS (
      SELECT nk, cents, CAST(count(*) AS BIGINT) AS c
      FROM cust GROUP BY 1, 2
    ),
    cum AS (
      SELECT nk, cents, c,
             sum(c) OVER (PARTITION BY nk ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - c AS m
      FROM h
    ),
    agg AS (
      SELECT nk,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(cents * c) AS BIGINT) AS total_cents,
             CAST(sum(cents * (c * m + c * (c + 1) // 2)) AS BIGINT)
               AS sri
      FROM cum GROUP BY 1
    )
    SELECT nk AS c_nationkey, n AS n_cust, total_cents,
           (2.0 * sri - (n + 1) * CAST(total_cents AS DOUBLE))
             / (CAST(n AS DOUBLE) * total_cents) AS gini
    FROM agg
    WHERE n > 1
"""


@_register("m44_gini_lorenz", _M44_SQL)
def m44_gini_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer spend per nation — the Lorenz-curve
    inequality of wallet concentration (G = (2*sum(i*x_i) - (n+1)*sum x)
    / (n*sum x) over ascending-sorted spend). The rank-weighted sum
    collapses through the VALUE-DOMAIN histogram: a spend value v with
    count c after cumulative-prior m contributes v*(c*m + c*(c+1)/2) —
    equal values commute, so no row-level sort exists anywhere and the
    statistic is exact in integers until the final division.

    Scale: orders -> per-customer partials (one custkey shuffle), then
    the (nation, cents) histogram; the cumulative window orders the
    HISTOGRAM (distinct spend values per nation), never customers.
    Same posture as r105/r100.

    Reference parity: none in reference; public statistic (Gini 1912),
    the inequality view of q1's top-10 concentration."""
    from pyspark.sql.window import Window

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    h = (
        cust.groupBy(F.col("c_nationkey").alias("nk"), "cents")
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("nk")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "nk", "cents", "c", (F.sum("c").over(w) - F.col("c")).alias("m")
    )
    agg = cum.groupBy("nk").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("cents") * F.col("c")).cast("long").alias("total_cents"),
        F.sum(
            F.col("cents")
            * (
                F.col("c") * F.col("m")
                + F.expr("c * (c + 1) div 2")
            )
        )
        .cast("long")
        .alias("sri"),
    )
    return agg.where(F.col("n") > 1).select(
        F.col("nk").alias("c_nationkey"),
        F.col("n").alias("n_cust"),
        "total_cents",
        (
            (
                2.0 * F.col("sri")
                - (F.col("n") + 1) * F.col("total_cents").cast("double")
            )
            / (F.col("n").cast("double") * F.col("total_cents"))
        ).alias("gini"),
    )


_M45_SQL = """
    WITH span AS (
      SELECT CAST(max(CAST(date_part('epoch', date_trunc('second', ts))
                           AS BIGINT) // 86400)
                  - min(CAST(date_part('epoch', date_trunc('second', ts))
                             AS BIGINT) // 86400) + 1 AS BIGINT) AS nd
      FROM events
    ),
    dc AS (
      SELECT user_id,
             CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    u AS (
      SELECT user_id, CAST(sum(c) AS BIGINT) AS sc,
             CAST(sum(c * c) AS BIGINT) AS scc,
             CAST(count(*) AS BIGINT) AS active_days
      FROM dc GROUP BY 1
    )
    SELECT u.user_id, u.sc AS n_events, u.active_days, span.nd AS n_days,
           (span.nd * u.scc - u.sc * u.sc)::DOUBLE
             / ((span.nd - 1) * u.sc) AS fano
    FROM u, span
"""


@_register("m45_fano_burstiness", _M45_SQL)
def m45_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor (variance-to-mean ratio of daily event counts, zero
    days included) per user — the burstiness index: ~1 for a Poisson
    arrival process, >1 for bursty card-testing bots, <1 for metronomic
    scripts. Inclusion of zero-count days needs NO day scaffold: zeros
    contribute nothing to sum(c) or sum(c^2), so Fano reduces to
    (n*scc - sc^2) / ((n-1)*sc) over active-day partials with n = the
    global day span — exact integers into one final division.

    Scale: (user, day) agg then user agg (shared partitioning); the
    day span is a 1-row broadcast. No scaffold join, no window.

    Reference parity: none in reference; public point-process
    statistic (Fano 1947) over the event stream R1 generates."""
    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    d = ev.select("user_id", (s / 86400).cast("long").alias("d"))
    span = d.agg(
        (F.max("d") - F.min("d") + 1).cast("long").alias("nd")
    )
    dc = d.groupBy("user_id", "d").agg(F.count("*").alias("c"))
    u = dc.groupBy("user_id").agg(
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
        F.count("*").alias("active_days"),
    )
    # broadcast bound: span is 1 row
    j = u.crossJoin(F.broadcast(span))
    return j.select(
        "user_id",
        F.col("sc").alias("n_events"),
        "active_days",
        F.col("nd").alias("n_days"),
        (
            (F.col("nd") * F.col("scc") - F.col("sc") * F.col("sc")).cast(
                "double"
            )
            / ((F.col("nd") - 1) * F.col("sc"))
        ).alias("fano"),
    )


_M46_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(event_type = 'purchase' AS INT) AS conv
      FROM events
    ),
    g AS (
      SELECT CAST(count(*) FILTER (wk = 1) AS BIGINT) AS n1,
             CAST(sum(conv) FILTER (wk = 1) AS BIGINT) AS x1,
             CAST(count(*) FILTER (wk = 0) AS BIGINT) AS n2,
             CAST(sum(conv) FILTER (wk = 0) AS BIGINT) AS x2
      FROM e
    )
    SELECT n1, x1, n2, x2,
           x1::DOUBLE / n1 AS p1, x2::DOUBLE / n2 AS p2,
           (x1::DOUBLE / n1 - x2::DOUBLE / n2)
             / sqrt((x1 + x2)::DOUBLE / (n1 + n2)
                    * (1 - (x1 + x2)::DOUBLE / (n1 + n2))
                    * (1.0 / n1 + 1.0 / n2)) AS z
    FROM g
"""


@_register("m46_two_proportion_ztest", _M46_SQL)
def m46_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test: weekend vs weekday purchase
    conversion — the A/B significance test in its canonical form
    (pooled p under H0, z = (p1-p2)/sqrt(p(1-p)(1/n1+1/n2))). All four
    cell counts are exact integers from ONE conditional aggregate (no
    split/join); the z is a single closed-form float.

    Scale: one scan, one 1-row aggregate — entirely map-side partials.
    ISO day-of-week on both engines (Spark weekday()+1 = DuckDB
    isodow) pins the weekend definition identically.

    Reference parity: none in reference; public test, the
    significance layer for the reference's dashboard comparisons."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        ((F.expr("weekday(ts)") + 1) >= 6).cast("int").alias("wk"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    g = e.agg(
        F.sum((F.col("wk") == 1).cast("long")).alias("n1"),
        F.sum(F.when(F.col("wk") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum((F.col("wk") == 0).cast("long")).alias("n2"),
        F.sum(F.when(F.col("wk") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (
        F.col("n1") + F.col("n2")
    )
    return g.select(
        "n1",
        "x1",
        "n2",
        "x2",
        p1.alias("p1"),
        p2.alias("p2"),
        (
            (p1 - p2)
            / F.sqrt(pp * (1 - pp) * (1.0 / F.col("n1") + 1.0 / F.col("n2")))
        ).alias("z"),
    )


_M47_SQL = """
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, cents, w,
             sum(w) OVER (PARTITION BY flag ORDER BY cents
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cw,
             sum(w) OVER (PARTITION BY flag) AS tw
      FROM h
    )
    SELECT flag AS l_returnflag,
           CAST(min(tw) AS BIGINT) AS total_weight,
           CAST(min(cents) FILTER (2 * cw >= tw) AS BIGINT)
             AS wmedian_cents
    FROM cum
    GROUP BY flag
"""


@_register("m47_weighted_median", _M47_SQL)
def m47_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median (lower) of extended price weighted by quantity,
    per return flag: the smallest value whose cumulative weight reaches
    half the total — exact integer weights (quantities are integral),
    deterministic lower-median convention, zero float arithmetic.

    Scale: value-domain histogram posture (r105/m44) — the cumulative
    window orders distinct (flag, cents) histogram rows, never
    lineitem; one scan, map-side-combinable first agg.

    Reference parity: none in reference; ANSI-adjacent public
    operator (weighted PERCENTILE_DISC 0.5)."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("flag", "cents")
        .agg(F.sum("q").cast("long").alias("w"))
    )
    wcum = (
        Window.partitionBy("flag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.select(
        "flag",
        "cents",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(Window.partitionBy("flag")).alias("tw"),
    )
    return cum.groupBy("flag").agg(
        F.min("tw").cast("long").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("cents")))
        .cast("long")
        .alias("wmedian_cents"),
    ).select(
        F.col("flag").alias("l_returnflag"), "total_weight", "wmedian_cents"
    )


def benford_from_digit_counts(h: "DataFrame") -> "DataFrame":
    """(digit, n) counts -> m42's report rows. The total derives from
    the 9-row frame, so merged micro-batch partials feed it directly.
    Shared by the s53 streaming twin."""
    h = h.groupBy("digit").agg(F.sum("n").cast("long").alias("n"))
    h = h.localCheckpoint()  # 9 rows
    t = h.agg(F.sum("n").cast("long").alias("total"))
    # broadcast bound: t is 1 row
    j = h.crossJoin(F.broadcast(t))
    exp_n = F.col("total") * F.log10(1.0 + 1.0 / F.col("digit"))
    return j.select(
        "digit",
        "n",
        (F.col("n").cast("double") / F.col("total")).alias("share"),
        F.log10(1.0 + 1.0 / F.col("digit")).alias("benford_share"),
        ((F.col("n") - exp_n) * (F.col("n") - exp_n) / exp_n).alias(
            "chi2_term"
        ),
    )


_M48_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    med AS (
      SELECT min(v) AS m FROM (
        SELECT x AS v,
               sum(c) OVER (ORDER BY x) AS cum,
               sum(c) OVER () AS n
        FROM (SELECT x, count(*) AS c FROM daily GROUP BY 1)
      ) WHERE 2 * cum >= n
    ),
    s AS (
      SELECT d, CAST(x > med.m AS INT) AS sgn
      FROM daily, med
      WHERE x <> med.m
    ),
    runs AS (
      SELECT CAST(1 + count(*) FILTER (sgn <> prev) AS BIGINT) AS r,
             CAST(count(*) FILTER (sgn = 1) AS BIGINT) AS n1,
             CAST(count(*) FILTER (sgn = 0) AS BIGINT) AS n2
      FROM (SELECT sgn, lag(sgn) OVER (ORDER BY d) AS prev FROM s)
    )
    SELECT r AS n_runs, n1 AS n_above, n2 AS n_below,
           (r - (2.0 * n1 * n2 / (n1 + n2) + 1))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))) AS z
    FROM runs
"""


@_register("m48_runs_test", _M48_SQL)
def m48_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily revenue vs its (lower) median:
    are above/below-median days randomly interleaved, or do they
    cluster (regime shifts, weekly cycles)? Runs = 1 + sign changes in
    day order; n1/n2 = above/below counts (median-equal days excluded,
    the classic convention); z against the exact run-count moments.
    All counts integer-exact; the z is one closed-form float.

    Scale: the corpus reduces to the day-bounded daily frame first;
    the lower median comes from the value-domain cumulative (r105's
    posture); the lag and counts run on the bounded frame.

    Reference parity: none in reference; public nonparametric test
    (Wald & Wolfowitz 1940)."""
    from pyspark.sql.window import Window

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
    h = daily.groupBy("x").agg(F.count("*").alias("c"))
    wc = Window.orderBy("x")  # value-domain bounded frame
    cum = h.select(
        "x",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    med = cum.where(2 * F.col("cum") >= F.col("n")).agg(
        F.min("x").alias("m")
    )
    # broadcast bound: med is 1 row
    s = (
        daily.crossJoin(F.broadcast(med))
        .where(F.col("x") != F.col("m"))
        .select("d", (F.col("x") > F.col("m")).cast("int").alias("sgn"))
    )
    wl = Window.orderBy("d")  # day-bounded frame
    lagged = s.select("sgn", F.lag("sgn").over(wl).alias("prev"))
    runs = lagged.agg(
        (
            1
            + F.sum(
                (
                    F.col("prev").isNotNull()
                    & (F.col("sgn") != F.col("prev"))
                ).cast("long")
            )
        ).alias("r"),
        F.sum((F.col("sgn") == 1).cast("long")).alias("n1"),
        F.sum((F.col("sgn") == 0).cast("long")).alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mean_r = 2.0 * n1 * n2 / (n1 + n2) + 1
    var_r = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return runs.select(
        r.alias("n_runs"),
        n1.alias("n_above"),
        n2.alias("n_below"),
        ((r - mean_r) / F.sqrt(var_r)).alias("z"),
    )


_M49_MAX_LAG = 7

_M49_SQL = f"""
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    st AS (
      SELECT avg(x::DOUBLE) AS mu,
             sum((x - (SELECT avg(x::DOUBLE) FROM cal))
                 * (x - (SELECT avg(x::DOUBLE) FROM cal))) AS ss,
             CAST(count(*) AS BIGINT) AS n
      FROM cal
    )
    SELECT k, st.n AS n_days,
           sum((a.x - st.mu) * (b.x - st.mu)) / st.ss AS acf
    FROM (SELECT unnest(range(1, {_M49_MAX_LAG + 1})) AS k),
         cal a JOIN cal b ON b.d = a.d + k, st
    GROUP BY k, st.n, st.ss
"""


@_register("m49_autocorrelation", _M49_SQL)
def m49_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue autocorrelation function at lags 1..7 — the weekly
    signature detector: r_k = sum (x_t - mu)(x_{t+k} - mu) / sum
    (x_t - mu)^2 over the CALENDAR day series (missing days filled
    with 0 via a generated scaffold, so gaps don't silently splice
    non-adjacent days together). Integer cents totals; mu/ss/products
    are float but both engines evaluate the same expressions over the
    same bounded frame.

    Scale: corpus -> day-bounded daily frame; the scaffold is a
    sequence literal; the lag join is |days| x 7. Nothing
    corpus-sized past the first agg.

    Reference parity: none in reference; public time-series
    methodology (Box & Jenkins)."""
    from pyspark.sql.window import Window  # noqa: F401 (symmetry w/ pack)

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
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    # broadcast bound: span is 1 row; the scaffold is |days| rows
    cal = (
        span.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
        )
        .join(daily, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).alias("x"))
    )
    cal = cal.localCheckpoint()
    mu_row = cal.agg(
        F.avg(F.col("x").cast("double")).alias("mu"),
        F.count("*").alias("n"),
    )
    # ss via the same direct centered sum the oracle evaluates
    # broadcast bound: mu_row is 1 row
    ss = cal.crossJoin(F.broadcast(mu_row)).agg(
        F.sum(
            (F.col("x") - F.col("mu")) * (F.col("x") - F.col("mu"))
        ).alias("ss"),
        F.first("mu").alias("mu"),
        F.first("n").alias("n"),
    )
    lags = cal.sparkSession.range(1, _M49_MAX_LAG + 1).select(
        F.col("id").alias("k")
    )
    a = cal.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = cal.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    # broadcast bound: b is the |days| calendar frame; lags is 7 rows
    pairs = (
        a.join(F.broadcast(lags), F.lit(True))
        .join(
            F.broadcast(b),
            F.col("db") == F.col("da") + F.col("k"),
        )
    )
    return (
        pairs.crossJoin(F.broadcast(ss))
        .groupBy("k")
        .agg(
            F.first("n").alias("n_days"),
            (
                F.sum((F.col("xa") - F.col("mu")) * (F.col("xb") - F.col("mu")))
                / F.first("ss")
            ).alias("acf"),
        )
        .select(F.col("k").cast("long").alias("k"), "n_days", "acf")
    )


_M50_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    dow AS (
      SELECT CAST((d + 3) % 7 + 1 AS INT) AS isodow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(x) AS BIGINT) AS cents
      FROM cal GROUP BY 1
    ),
    tot AS (
      SELECT sum(cents)::DOUBLE / sum(n_days) AS overall_daily FROM dow
    )
    SELECT isodow, n_days, cents,
           cents::DOUBLE / n_days AS daily_mean_cents,
           (cents::DOUBLE / n_days) / tot.overall_daily AS seasonal_index
    FROM dow, tot
"""


@_register("m50_dow_seasonality", _M50_SQL)
def m50_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal indices of revenue: per ISO weekday, the
    mean daily cents (calendar days, zero-filled, so a missing Monday
    counts as a zero-revenue Monday instead of silently shrinking the
    denominator) and its ratio to the overall daily mean — the
    multiplicative seasonal profile a forecaster divides out (r97's
    seasonal-naive backtest assumes exactly this structure). The ISO
    weekday derives arithmetically from the epoch day ((d+3)%7+1 —
    day 0 is a Thursday), identical integer math on both engines.

    Scale: day-bounded daily frame -> 7-row report; the scaffold is a
    sequence literal. One corpus scan total.

    Reference parity: the weekly texture visible in the reference's
    Grafana time panels (README.md:342-356); public methodology."""
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
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d")
        )
        .join(daily, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).alias("x"))
    )
    dow = (
        cal.select(((F.col("d") + 3) % 7 + 1).cast("int").alias("isodow"), "x")
        .groupBy("isodow")
        .agg(
            F.count("*").alias("n_days"),
            F.sum("x").cast("long").alias("cents"),
        )
    )
    dow = dow.localCheckpoint()  # 7 rows
    tot = dow.agg(
        (
            F.sum("cents").cast("double") / F.sum("n_days")
        ).alias("overall_daily")
    )
    # broadcast bound: tot is 1 row
    j = dow.crossJoin(F.broadcast(tot))
    return j.select(
        "isodow",
        "n_days",
        "cents",
        (F.col("cents").cast("double") / F.col("n_days")).alias(
            "daily_mean_cents"
        ),
        (
            (F.col("cents").cast("double") / F.col("n_days"))
            / F.col("overall_daily")
        ).alias("seasonal_index"),
    )


_M51_SQL = """
    WITH h AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, cents, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
             sum(c) OVER (PARTITION BY event_type) AS n
      FROM h
    ),
    q AS (
      SELECT event_type,
             CAST(min(n) AS BIGINT) AS n,
             min(cents) FILTER (4 * cum >= n) AS q1,
             min(cents) FILTER (4 * cum >= 3 * n) AS q3
      FROM cum GROUP BY 1
    ),
    f AS (
      SELECT event_type, n, q1, q3,
             4 * q1 - 6 * (q3 - q1) AS lo4,
             4 * q3 + 6 * (q3 - q1) AS hi4
      FROM q
    )
    SELECT f.event_type, f.n, f.q1 AS q1_cents, f.q3 AS q3_cents,
           CAST(coalesce(sum(h.c) FILTER (4 * h.cents < f.lo4), 0)
                AS BIGINT) AS n_low_outliers,
           CAST(coalesce(sum(h.c) FILTER (4 * h.cents > f.hi4), 0)
                AS BIGINT) AS n_high_outliers
    FROM f JOIN h ON h.event_type = f.event_type
    GROUP BY 1, 2, 3, 4
"""


M51 = EventsRule(
    lambda t: ["event_type", _cents()],
    lambda e: e.groupBy("event_type", "cents").agg(F.count("*").alias("c")),
)


@_register("m51_tukey_fences", _M51_SQL)
def m51_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey outlier fences per event type: Q1/Q3 as the discrete lower
    quartiles (min v with 4*cum >= n / >= 3n over the value-domain
    histogram), fences Q1 - 1.5*IQR and Q3 + 1.5*IQR compared in
    QUARTER-CENTS (multiply everything by 4: 6*(Q3-Q1) IS 1.5*IQR*4) —
    zero float arithmetic anywhere, which is the entire trick to
    making box-plot outlier counts hash-stable.

    Scale: r105's histogram posture; the fence comparison re-joins the
    histogram (value-domain bounded), never the corpus. Counts are
    map-side-combinable on the first agg.

    Reference parity: the box-plot outlier layer of the reference's
    histogram panel (screenshots/AmountHistogram.jpg); public method
    (Tukey 1977)."""
    return tukey_from_hist(
        M51.reduce(events_projection(spark, sf_dir, M51.cols))
    )


_M52_TRIM_PCT = 5

_M52_SQL = f"""
    WITH h AS (
      SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(count(*) AS BIGINT) AS c
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT flag, cents, c,
             sum(c) OVER (PARTITION BY flag ORDER BY cents) AS cum,
             sum(c) OVER (PARTITION BY flag) AS n
      FROM h
    ),
    kept AS (
      SELECT flag, cents, n, n * {_M52_TRIM_PCT} // 100 AS k,
             greatest(0, least(cum, n - n * {_M52_TRIM_PCT} // 100)
                         - greatest(cum - c, n * {_M52_TRIM_PCT} // 100))
               AS kc
      FROM cum
    )
    SELECT flag AS l_returnflag,
           CAST(min(n) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS k_trimmed_each_side,
           CAST(sum(cents * kc) AS BIGINT) AS kept_cents,
           sum(cents * kc)::DOUBLE / (min(n) - 2 * min(k))
             AS trimmed_mean_cents
    FROM kept
    GROUP BY flag
"""


@_register("m52_trimmed_mean", _M52_SQL)
def m52_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5%-per-side trimmed mean of extended price per return flag — the
    robust location estimate, computed WITHOUT sorting rows: on the
    value-domain histogram, each value keeps
    max(0, min(cum, n-k) - max(cum - c, k)) of its multiplicity (the
    overlap of its rank interval with the kept band [k, n-k)) — exact
    integer clipping, exact integer weighted sum, ONE float division
    at the end.

    Scale: r105's histogram posture — the only wide ops are the
    (flag, cents) partial agg and a value-domain cumulative window.
    The corpus is never sorted.

    Reference parity: none in reference; public robust statistics."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("flag", "cents")
        .agg(F.count("*").alias("c"))
    )
    wc = Window.partitionBy("flag").orderBy("cents")
    cum = h.select(
        "flag",
        "cents",
        "c",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy("flag")).alias("n"),
    )
    k = F.expr(f"n * {_M52_TRIM_PCT} div 100")
    kc = F.greatest(
        F.lit(0),
        F.least(F.col("cum"), F.col("n") - k)
        - F.greatest(F.col("cum") - F.col("c"), k),
    )
    kept = cum.select(
        "flag", "cents", "n", k.alias("k"), kc.alias("kc")
    )
    return kept.groupBy("flag").agg(
        F.min("n").cast("long").alias("n"),
        F.min("k").cast("long").alias("k_trimmed_each_side"),
        F.sum(F.col("cents") * F.col("kc")).cast("long").alias("kept_cents"),
        (
            F.sum(F.col("cents") * F.col("kc")).cast("double")
            / (F.min("n") - 2 * F.min("k"))
        ).alias("trimmed_mean_cents"),
    ).select(
        F.col("flag").alias("l_returnflag"),
        "n",
        "k_trimmed_each_side",
        "kept_cents",
        "trimmed_mean_cents",
    )


def tukey_from_hist(h: "DataFrame") -> "DataFrame":
    """(event_type, cents, c) histogram partials -> m51's fence report.
    Histograms merge by keyed sum, so the whole statistic re-derives
    from partials — shared by the s58 streaming twin."""
    from pyspark.sql.window import Window

    h = h.groupBy("event_type", "cents").agg(
        F.sum("c").cast("long").alias("c")
    )
    h = h.localCheckpoint()  # value-domain bounded; reused for counts
    wc = Window.partitionBy("event_type").orderBy("cents")
    cum = h.select(
        "event_type",
        "cents",
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    q = cum.groupBy("event_type").agg(
        F.min("n").cast("long").alias("n"),
        F.min(F.when(4 * F.col("cum") >= F.col("n"), F.col("cents")))
        .cast("long")
        .alias("q1"),
        F.min(F.when(4 * F.col("cum") >= 3 * F.col("n"), F.col("cents")))
        .cast("long")
        .alias("q3"),
    )
    f = q.select(
        F.col("event_type").alias("ft"),
        "n",
        "q1",
        "q3",
        (4 * F.col("q1") - 6 * (F.col("q3") - F.col("q1"))).alias("lo4"),
        (4 * F.col("q3") + 6 * (F.col("q3") - F.col("q1"))).alias("hi4"),
    )
    # broadcast bound: f is |event types| rows (5)
    j = h.join(F.broadcast(f), F.col("event_type") == F.col("ft"))
    return j.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min("q1").alias("q1_cents"),
        F.min("q3").alias("q3_cents"),
        F.sum(
            F.when(4 * F.col("cents") < F.col("lo4"), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("n_low_outliers"),
        F.sum(
            F.when(4 * F.col("cents") > F.col("hi4"), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("n_high_outliers"),
    )


_M53_SQL = """
    WITH e AS (
      SELECT event_type, CAST(round(value) AS BIGINT) AS u FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(u) AS BIGINT) AS s1,
             CAST(sum(u * u) AS BIGINT) AS s2,
             CAST(sum(u * u * u) AS BIGINT) AS s3,
             CAST(sum(u * u * u * u) AS BIGINT) AS s4
      FROM e GROUP BY 1
    )
    SELECT event_type, n, s1, s2, s3, s4,
           -- central moments over the EXACT integer power sums, with
           -- the algebra in doubles (s1^4 overflows INT64); both
           -- engines evaluate the identical expression tree on the
           -- identical integers, so IEEE rounding agrees bitwise
           (n::DOUBLE * (n::DOUBLE * s3 - 3.0 * s1 * s2)
              + 2.0 * s1 * s1 * s1)
             / pow(n::DOUBLE * s2 - s1::DOUBLE * s1, 1.5) AS skewness,
           (n::DOUBLE
              * (n::DOUBLE * (n::DOUBLE * s4 - 4.0 * s1 * s3)
                 + 6.0 * s1 * s1 * s2)
              - 3.0 * s1 * s1 * s1 * s1)
             / ((n::DOUBLE * s2 - s1::DOUBLE * s1)
                * (n::DOUBLE * s2 - s1::DOUBLE * s1)) - 3 AS excess_kurtosis
    FROM s
"""


M53 = EventsRule(
    lambda t: ["event_type", F.round("value").cast("long").alias("u")],
    lambda e: e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("u").alias("s1"),
        F.sum(F.col("u") * F.col("u")).alias("s2"),
        F.sum(F.col("u") * F.col("u") * F.col("u")).alias("s3"),
        F.sum(F.col("u") * F.col("u") * F.col("u") * F.col("u")).alias("s4"),
    ),
)


@_register("m53_higher_moments", _M53_SQL)
def m53_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population skewness and excess kurtosis of (whole-unit) amounts
    per event type, from EXACT integer power sums s1..s4: the central
    moments expand to n*s3 - 3*s1*s2 + 2*s1^3/n etc., so everything
    until the final normalization is exact BIGINT arithmetic (units
    <= ~500 keep s4 far inside 2^63) and the float tail is one shared
    closed-form expression. The uniform generator should show
    skew ~ 0, kurtosis ~ -1.2 — the audit that catches a distribution
    swap (e.g. fabricated log-normal amounts) at a glance.

    Scale: one scan, one 5-key map-side-combinable aggregate. The
    power sums are THE mergeable representation of moments (same
    partials would merge across streams/batches).

    Reference parity: distribution audit over the reference's amount
    field (TransactionProducer.java:48, U[1000,11000)); public
    moment algebra."""
    return moments_from_power_sums(
        M53.reduce(events_projection(spark, sf_dir, M53.cols))
    )


def moments_from_power_sums(s: "DataFrame") -> "DataFrame":
    """(event_type, n, s1..s4) power-sum partials -> m53's output.
    Power sums merge by keyed sum — THE mergeable moment
    representation; shared by the s61 streaming twin."""
    s = s.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s1").cast("long").alias("s1"),
        F.sum("s2").cast("long").alias("s2"),
        F.sum("s3").cast("long").alias("s3"),
        F.sum("s4").cast("long").alias("s4"),
    )
    nd = F.col("n").cast("double")
    s1d = F.col("s1").cast("double")
    s1, s2, s3, s4 = (F.col(c) for c in ("s1", "s2", "s3", "s4"))
    var_num = nd * s2 - s1d * s1
    skew = (
        nd * (nd * s3 - 3.0 * s1 * s2) + 2.0 * s1 * s1 * s1
    ) / F.pow(var_num, 1.5)
    kurt = (
        (
            nd * (nd * (nd * s4 - 4.0 * s1 * s3) + 6.0 * s1 * s1 * s2)
            - 3.0 * s1 * s1 * s1 * s1
        )
        / (var_num * var_num)
        - 3
    )
    return s.select(
        "event_type",
        "n",
        "s1",
        "s2",
        "s3",
        "s4",
        skew.alias("skewness"),
        kurt.alias("excess_kurtosis"),
    )


_M54_SQL = """
    WITH o AS (
      SELECT CAST((CAST(date_part('epoch', date_trunc('second', ts))
                        AS BIGINT) // 86400 + 3) % 7 + 1 AS INT) AS isodow,
             event_type, CAST(count(*) AS BIGINT) AS obs
      FROM events GROUP BY 1, 2
    ),
    m AS (
      SELECT o.*,
             sum(obs) OVER (PARTITION BY isodow) AS row_n,
             sum(obs) OVER (PARTITION BY event_type) AS col_n,
             sum(obs) OVER () AS n
      FROM o
    )
    SELECT isodow, event_type, obs,
           row_n * col_n / n::DOUBLE AS expected,
           2.0 * obs * ln(obs * n::DOUBLE / (row_n * col_n)) AS g_term
    FROM m
"""


M54 = EventsRule(
    lambda t: [
        (((t / 86400).cast("long") + 3) % 7 + 1).cast("int").alias("isodow"),
        "event_type",
    ],
    lambda e: e.groupBy("isodow", "event_type").agg(F.count("*").alias("obs")),
)


@_register("m54_gtest_llr", _M54_SQL)
def m54_gtest_llr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-likelihood-ratio G-test terms for the weekday x event-type
    contingency table: G = 2 * sum O * ln(O/E) with E = row*col/n —
    the LLR form preferred over chi-square (m33) for sparse cells
    (Dunning 1993, the collocation/fraud-cohort standard). Cell,
    row, column, and grand totals all come from ONE pass via windows
    over the 35-cell table; integer counts feed one shared float
    expression per cell.

    Scale: corpus -> 35-cell contingency aggregate (map-side
    combinable); the window passes run on the cell frame. Cells are
    the mergeable representation (the s60 twin lands cell partials).

    Reference parity: none in reference; public statistic (Dunning
    1993)."""
    return gtest_from_cells(
        M54.reduce(events_projection(spark, sf_dir, M54.cols))
    )


def gtest_from_cells(o: "DataFrame") -> "DataFrame":
    """(isodow, event_type, obs) contingency cells -> m54's G-test
    rows. Cells merge by keyed sum; shared by the s60 twin."""
    from pyspark.sql.window import Window

    o = o.groupBy("isodow", "event_type").agg(
        F.sum("obs").cast("long").alias("obs")
    )
    m = o.select(
        "isodow",
        "event_type",
        "obs",
        F.sum("obs").over(Window.partitionBy("isodow")).alias("row_n"),
        F.sum("obs").over(Window.partitionBy("event_type")).alias("col_n"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    return m.select(
        "isodow",
        "event_type",
        "obs",
        (F.col("row_n") * F.col("col_n") / F.col("n").cast("double")).alias(
            "expected"
        ),
        (
            2.0
            * F.col("obs")
            * F.log(
                F.col("obs") * F.col("n").cast("double")
                / (F.col("row_n") * F.col("col_n"))
            )
        ).alias("g_term"),
    )


_M55_N_EVAL = 100  # deterministic bounded eval set (l96's lesson)
_M55_K = 5

_M55_DOT = """
      list_reduce(list_transform(range(1, len(a.embedding) + 1),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)),
        (x, y) -> x + y)
"""
_M55_NORM = """
      sqrt(list_reduce(list_transform({v}.embedding,
        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))
"""

_M55_SQL = f"""
    WITH pairs AS (
      SELECT a.vec_id AS q, a.label AS true_label,
             b.vec_id AS nb, b.label AS nb_label,
             ({_M55_DOT})
               / (({_M55_NORM.format(v="a")}) * ({_M55_NORM.format(v="b")}))
               AS cos
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      WHERE a.vec_id < {_M55_N_EVAL}
    ),
    topk AS (
      SELECT q, true_label, nb_label
      FROM (
        SELECT q, true_label, nb_label,
               row_number() OVER (PARTITION BY q
                                  ORDER BY cos DESC, nb ASC) AS rn
        FROM pairs
      ) WHERE rn <= {_M55_K}
    ),
    votes AS (
      SELECT q, true_label, nb_label,
             CAST(count(*) AS BIGINT) AS c
      FROM topk GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT q, true_label, nb_label AS pred_label
      FROM (
        SELECT q, true_label, nb_label,
               row_number() OVER (PARTITION BY q
                                  ORDER BY c DESC, nb_label ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT true_label,
           CAST(count(*) AS BIGINT) AS n_eval,
           CAST(count(*) FILTER (pred_label = true_label) AS BIGINT)
             AS n_correct,
           CAST(1000000 * count(*) FILTER (pred_label = true_label)
                // count(*) AS BIGINT) AS accuracy_ppm
    FROM pred
    GROUP BY 1
"""


@_register("m55_knn_loo_accuracy", _M55_SQL)
def m55_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN (k=5, exact cosine) leave-one-out classification accuracy
    over the labeled embeddings, per true label — the baseline every
    learned classifier on this table must beat, and the standard
    embedding-quality probe (neighbors sharing labels = geometry
    carries the signal). Deterministic end to end: the eval set is
    the FIXED first-100 ids (bounded, never corpus-proportional —
    l96's rule), neighbor rank ties break on vec_id, vote ties on
    the smaller label, and accuracy reports in exact integer ppm.
    Cosine accumulates left-to-right over the same doubles on both
    engines (l06's convention).

    Scale: eval x corpus pairs (bounded x n) — the brute yardstick;
    at 100 TB the same eval joins l07/l13's ANN candidates instead
    (identical tail from `pairs` on). One window per query ranks
    the bounded pair frame.

    Reference parity: none in reference; public methodology (Cover &
    Hart 1967; LOO evaluation)."""
    from pyspark.sql.window import Window

    from ..functions.vectors import dot, l2_norm

    emb = load_table(spark, sf_dir, "embeddings")
    # norms precompute ONCE PER SIDE — the naive per-pair cosine
    # re-derives both norms for every pair (3x the aggregate work;
    # measured 7.4 s -> the dot-only form below). Same doubles, same
    # values: the oracle's per-pair form is value-identical.
    a = emb.where(F.col("vec_id") < _M55_N_EVAL).select(
        F.col("vec_id").alias("q"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qvec"),
        l2_norm(F.col("embedding")).alias("qn"),
    )
    b = emb.select(
        F.col("vec_id").alias("nb"),
        F.col("label").alias("nb_label"),
        F.col("embedding").alias("nvec"),
        l2_norm(F.col("embedding")).alias("bn"),
    )
    # broadcast bound: a is the fixed {_M55_N_EVAL}-row eval frame
    pairs = b.join(F.broadcast(a), F.col("q") != F.col("nb")).select(
        "q",
        "true_label",
        "nb",
        "nb_label",
        (dot(F.col("qvec"), F.col("nvec")) / (F.col("qn") * F.col("bn"))).alias("cos"),
    )
    wq = Window.partitionBy("q").orderBy(F.desc("cos"), F.asc("nb"))
    topk = pairs.select(
        "q", "true_label", "nb_label", F.row_number().over(wq).alias("rn")
    ).where(F.col("rn") <= _M55_K)
    votes = topk.groupBy("q", "true_label", "nb_label").agg(
        F.count("*").alias("c")
    )
    wv = Window.partitionBy("q").orderBy(F.desc("c"), F.asc("nb_label"))
    pred = votes.select(
        "q",
        "true_label",
        F.col("nb_label").alias("pred_label"),
        F.row_number().over(wv).alias("rn"),
    ).where(F.col("rn") == 1)
    hit = (F.col("pred_label") == F.col("true_label")).cast("long")
    return pred.groupBy("true_label").agg(
        F.count("*").alias("n_eval"),
        F.sum(hit).alias("n_correct"),
        F.expr(
            "CAST(1000000 * sum(CAST(pred_label = true_label AS LONG))"
            " div count(*) AS BIGINT)"
        ).alias("accuracy_ppm"),
    )


_M56_Z = 2.0

_M56_SQL = f"""
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.x, 0) AS x,
             CAST((s.d + 3) % 7 + 1 AS INT) AS isodow
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    dw AS (
      SELECT isodow, sum(x)::DOUBLE / count(*) AS dmean
      FROM cal GROUP BY 1
    ),
    r AS (
      SELECT cal.d, cal.isodow, cal.x, dw.dmean,
             cal.x / dw.dmean AS ratio
      FROM cal JOIN dw USING (isodow)
    ),
    st AS (
      SELECT avg(ratio) AS mu,
             sqrt(sum((ratio - (SELECT avg(ratio) FROM r))
                      * (ratio - (SELECT avg(ratio) FROM r)))
                  / (count(*) - 1)) AS sd
      FROM r
    )
    SELECT r.d, r.isodow, r.x AS day_cents, r.dmean AS expected_cents,
           r.ratio, (r.ratio - st.mu) / st.sd AS z
    FROM r, st
    WHERE abs((r.ratio - st.mu) / st.sd) > {_M56_Z}
"""


# (d, cents) -> daily cents x: m28, m56, m69, m72 and m80 (and their
# twins s39, s62, s76, s75, s82) all reduce to this one day-domain frame.
DAILY_CENTS = EventsRule(
    day_cents, lambda e: e.groupBy("d").agg(F.sum("cents").alias("x"))
)


@_register("m56_seasonal_adjusted_outliers", _M56_SQL)
def m56_seasonal_adjusted_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted revenue anomalies: each calendar day's cents
    divide by its weekday's mean (m50's multiplicative indices), and
    days whose adjusted ratio sits more than 2 sample-sd from the mean
    ratio are flagged — the fraud-ops day-level alarm that does NOT
    fire every weekend (a raw z-score on daily totals would). Composes
    m50 verbatim; zero-filled calendar so silent outage days flag as
    anomalies instead of vanishing.

    Scale: day-bounded frames end to end after the one corpus scan;
    the dow means are a 7-row broadcast; the ratio stats are a 1-row
    broadcast.

    Reference parity: the alert layer the reference's Grafana panels
    imply (README.md:342-356, FOR-duration alert rule q8's seasonal
    cousin); public methodology (ratio-to-moving-frame adjustment)."""
    return seasonal_outliers_from_daily(
        DAILY_CENTS.reduce(events_projection(spark, sf_dir, DAILY_CENTS.cols))
    )


def seasonal_outliers_from_daily(daily: "DataFrame") -> "DataFrame":
    """(d, x) daily cents partials -> m56's output. Daily totals merge
    by keyed sum, so the whole seasonal-adjustment chain re-derives
    from partials; shared by the s62 streaming twin."""
    daily = daily.groupBy("d").agg(F.sum("x").cast("long").alias("x"))
    daily = daily.localCheckpoint()  # day-bounded
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"))
        .join(daily, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            ((F.col("d") + 3) % 7 + 1).cast("int").alias("isodow"),
        )
    )
    cal = cal.localCheckpoint()
    dw = cal.groupBy("isodow").agg(
        (F.sum("x").cast("double") / F.count("*")).alias("dmean")
    )
    # broadcast bound: dw is 7 rows
    r = cal.join(F.broadcast(dw), "isodow").select(
        "d", "isodow", "x", "dmean", (F.col("x") / F.col("dmean")).alias("ratio")
    )
    r = r.localCheckpoint()  # day-bounded; feeds stats AND output
    mu = r.agg(F.avg("ratio").alias("mu"))
    # broadcast bound: mu is 1 row
    sd = (
        r.crossJoin(F.broadcast(mu))
        .agg(
            F.sqrt(
                F.sum((F.col("ratio") - F.col("mu")) * (F.col("ratio") - F.col("mu")))
                / (F.count("*") - 1)
            ).alias("sd"),
            F.first("mu").alias("mu"),
        )
    )
    # broadcast bound: sd is 1 row
    j = r.crossJoin(F.broadcast(sd))
    z = (F.col("ratio") - F.col("mu")) / F.col("sd")
    return j.where(F.abs(z) > _M56_Z).select(
        "d",
        "isodow",
        F.col("x").alias("day_cents"),
        F.col("dmean").alias("expected_cents"),
        "ratio",
        z.alias("z"),
    )


_M57_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT cents,
             CAST(sum(wk) AS BIGINT) AS c1,
             CAST(count(*) - sum(wk) AS BIGINT) AS c2
      FROM e GROUP BY 1
    ),
    cum AS (
      SELECT cents, c1, c2, c1 + c2 AS c,
             sum(c1 + c2) OVER (ORDER BY cents) - (c1 + c2) AS before_
      FROM h
    ),
    agg AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 * (2 * before_ + c + 1)) AS BIGINT) AS r1x2,
             CAST(sum(c * c * c - c) AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n1, n2,
           r1x2 - n1 * (n1 + 1) AS u1_x2,
           ((r1x2 - n1 * (n1 + 1)) / 2.0 - n1 * n2 / 2.0)
             / sqrt(n1::DOUBLE * n2 / 12.0
                    * ((n1 + n2 + 1)
                       - tie3::DOUBLE
                         / ((n1 + n2) * (n1 + n2 - 1.0)))) AS z
    FROM agg
"""


@_register("m57_mann_whitney_u", _M57_SQL)
def m57_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U (Wilcoxon rank-sum) comparing weekend vs
    weekday PURCHASE amounts — the nonparametric value-shift test
    that complements m46's proportion z: doubled midranks keep the
    rank sum exact integer (midrank(v) = before + (c+1)/2, so
    2*R1 = sum c1*(2*before + c + 1)), U1 = R1 - n1(n1+1)/2 reports
    as the exact integer u1_x2, and the tie-corrected normal z
    (variance scaled by 1 - sum(t^3-t)/((N)(N-1)(N+1))-style Lehmann
    correction) is one closed-form float. No continuity correction
    (both engines, same convention).

    Scale: r105's value-domain histogram posture — one scan to
    (cents, group counts), one bounded cumulative window, a 1-row
    report. The corpus is never ranked row-by-row.

    Reference parity: none in reference; public test (Mann & Whitney
    1947) over the reference's amount field."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "purchase").select(
        ((F.expr("weekday(ts)") + 1) >= 6).cast("int").alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    h = e.groupBy("cents").agg(
        F.sum("wk").cast("long").alias("c1"),
        (F.count("*") - F.sum("wk")).cast("long").alias("c2"),
    )
    wc = Window.orderBy("cents")  # value-domain bounded frame
    cum = h.select(
        "cents",
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        (
            F.sum(F.col("c1") + F.col("c2")).over(wc)
            - (F.col("c1") + F.col("c2"))
        ).alias("before_"),
    )
    agg = cum.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * (2 * F.col("before_") + F.col("c") + 1))
        .cast("long")
        .alias("r1x2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    u1x2 = F.col("r1x2") - n1 * (n1 + 1)
    var = (
        n1.cast("double") * n2 / 12.0
        * (
            (n1 + n2 + 1)
            - F.col("tie3").cast("double") / ((n1 + n2) * (n1 + n2 - 1.0))
        )
    )
    return agg.select(
        "n1",
        "n2",
        u1x2.alias("u1_x2"),
        ((u1x2 / 2.0 - n1 * n2 / 2.0) / F.sqrt(var)).alias("z"),
    )


_M58_SQL = """
    WITH e AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    h AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS cg FROM e GROUP BY 1, 2
    ),
    tot0 AS (SELECT cents, CAST(sum(cg) AS BIGINT) AS c FROM h GROUP BY 1),
    tot AS (
      SELECT cents, c,
             CAST(sum(c) OVER (ORDER BY cents) - c AS BIGINT) AS before_
      FROM tot0
    ),
    gr AS (
      SELECT g, CAST(sum(cg) AS BIGINT) AS ng,
             CAST(sum(cg * (2 * before_ + c + 1)) AS BIGINT) AS r2
      FROM h JOIN tot USING (cents) GROUP BY g
    ),
    t AS (
      SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tie3,
             CAST(sum(c) AS BIGINT) AS n
      FROM tot
    ),
    s AS (
      SELECT n, tie3, CAST(count(*) AS BIGINT) AS k,
             sum(ng * (r2 / (2.0 * ng) - (n + 1) / 2.0)
                    * (r2 / (2.0 * ng) - (n + 1) / 2.0)) AS ss
      FROM gr CROSS JOIN t GROUP BY n, tie3
    )
    SELECT n, k, 12.0 * ss / (n * (n + 1.0)) AS h,
           12.0 * ss / (n * (n + 1.0))
             / (1.0 - tie3 / (CAST(n AS DOUBLE) * n * n - n))
             AS h_tie_corrected
    FROM s
"""


M58 = EventsRule(
    lambda t: [F.col("event_type").alias("g"), _cents()],
    lambda e: e.groupBy("g", "cents").agg(F.count("*").cast("long").alias("cg")),
)


@_register("m58_kruskal_wallis", _M58_SQL)
def m58_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event types on amount cents —
    the k-group extension of m57's rank-sum: doubled midranks keep
    every per-group rank sum an exact integer (2*R_g = sum
    cg*(2*before + c + 1) over the shared value-domain histogram),
    H = 12/(N(N+1)) * sum ng*(rbar_g - (N+1)/2)^2 from those
    integers, and the tie correction divides by
    1 - sum(c^3-c)/(N^3-N). Float math starts only on the 5-row
    group frame, so accumulation order cannot move the hash past
    rtol.

    Scale: m57's posture generalized — one scan to (group, cents)
    partials, a value-domain cumulative window, a |groups|-row
    report. The corpus is never ranked row-by-row.

    Reference parity: none in reference; public test (Kruskal &
    Wallis 1952) over the reference's amount field."""
    return kruskal_from_cells(
        M58.reduce(events_projection(spark, sf_dir, M58.cols))
    )


def kruskal_from_cells(cells: DataFrame) -> DataFrame:
    """(g, cents, cg) histogram partials -> m58's one-row report.
    Cell counts merge by keyed sum, so the whole rank algebra
    re-derives from partials; shared by the s64 streaming twin."""
    from pyspark.sql.window import Window

    cells = cells.groupBy("g", "cents").agg(
        F.sum("cg").cast("long").alias("cg")
    )
    cells = cells.localCheckpoint()  # feeds tot AND the group join
    tot0 = cells.groupBy("cents").agg(F.sum("cg").cast("long").alias("c"))
    wc = Window.orderBy("cents")  # value-domain bounded frame
    tot = tot0.select(
        "cents", "c", (F.sum("c").over(wc) - F.col("c")).cast("long").alias("before_")
    )
    tot = tot.localCheckpoint()  # feeds gr join AND tie stats
    gr = (
        cells.join(tot, "cents")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("ng"),
            F.sum(F.col("cg") * (2 * F.col("before_") + F.col("c") + 1))
            .cast("long")
            .alias("r2"),
        )
    )
    t = tot.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
        F.sum("c").cast("long").alias("n"),
    )
    # broadcast bound: t is 1 row
    j = gr.crossJoin(F.broadcast(t))
    dev = F.col("r2") / (2.0 * F.col("ng")) - (F.col("n") + 1) / 2.0
    s = j.agg(
        F.first("n").alias("n"),
        F.first("tie3").alias("tie3"),
        F.count("*").cast("long").alias("k"),
        F.sum(F.col("ng") * dev * dev).alias("ss"),
    )
    n = F.col("n")
    h = 12.0 * F.col("ss") / (n * (n + 1.0))
    corr = 1.0 - F.col("tie3") / (n.cast("double") * n * n - n)
    return s.select("n", "k", h.alias("h"), (h / corr).alias("h_tie_corrected"))


_M59_SQL = """
    WITH p AS (
      SELECT user_id,
             CAST(sum(CASE WHEN isodow(ts) >= 6
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS wk,
             CAST(sum(CASE WHEN isodow(ts) < 6
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS wd
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    d AS (SELECT wk - wd AS diff FROM p WHERE wk <> wd),
    h AS (
      SELECT abs(diff) AS a, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cp
      FROM d GROUP BY 1
    ),
    cum AS (SELECT a, c, cp, sum(c) OVER (ORDER BY a) - c AS before_ FROM h),
    agg AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(cp * (2 * before_ + c + 1)) AS BIGINT) AS w2,
             CAST(sum(c * c * c - c) AS BIGINT) AS tie3
      FROM cum
    )
    SELECT n AS n_pairs, w2 AS w_plus_x2,
           (w2 / 2.0 - n * (n + 1) / 4.0)
             / sqrt(n * (n + 1.0) * (2 * n + 1) / 24.0 - tie3 / 48.0) AS z
    FROM agg
"""


M59 = EventsRule(
    lambda t: ["user_id", "event_type", _weekend_flag(), _cents()],
    lambda e: e.where(F.col("event_type") == "purchase")
    .groupBy("user_id")
    .agg(
        F.sum(F.when(F.col("wk_flag") == 1, F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("wk"),
        F.sum(F.when(F.col("wk_flag") == 0, F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("wd"),
    ),
)


@_register("m59_wilcoxon_signed_rank", _M59_SQL)
def m59_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test pairing each user's weekend vs
    weekday PURCHASE spend — the paired complement to m57's
    independent-samples U: the paired difference is an exact integer
    (weekend cents total minus weekday cents total per user), zero
    diffs drop per the standard convention, |d| ranks use doubled
    midranks over the difference-domain histogram (2*W+ = sum
    cp*(2*before + c + 1)), and the tie-corrected normal z is one
    closed-form float from three exact integers.

    Scale: per-user totals are one keyed agg (mergeable sums — the
    s66 twin's partials); ranking runs on the |diff|-value histogram,
    never on a per-user sort.

    Reference parity: none in reference; public test (Wilcoxon 1945)
    over the reference's amount field."""
    return wilcoxon_from_pairs(
        M59.reduce(events_projection(spark, sf_dir, M59.cols))
    )


def wilcoxon_from_pairs(p: DataFrame) -> DataFrame:
    """(user_id, wk, wd) integer-cents totals -> m59's one-row
    report. Totals merge by keyed sum, so the signed-rank algebra
    re-derives from partials; shared by the s66 streaming twin."""
    from pyspark.sql.window import Window

    p = p.groupBy("user_id").agg(
        F.sum("wk").cast("long").alias("wk"),
        F.sum("wd").cast("long").alias("wd"),
    )
    d = p.where(F.col("wk") != F.col("wd")).select(
        (F.col("wk") - F.col("wd")).alias("diff")
    )
    h = d.groupBy(F.abs(F.col("diff")).alias("a")).agg(
        F.count("*").cast("long").alias("c"),
        F.sum((F.col("diff") > 0).cast("long")).cast("long").alias("cp"),
    )
    wa = Window.orderBy("a")  # |diff|-domain bounded frame
    cum = h.select(
        "a", "c", "cp", (F.sum("c").over(wa) - F.col("c")).alias("before_")
    )
    agg = cum.agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("cp") * (2 * F.col("before_") + F.col("c") + 1))
        .cast("long")
        .alias("w2"),
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tie3"),
    )
    n = F.col("n")
    var = n * (n + 1.0) * (2 * n + 1) / 24.0 - F.col("tie3") / 48.0
    return agg.select(
        n.alias("n_pairs"),
        F.col("w2").alias("w_plus_x2"),
        ((F.col("w2") / 2.0 - n * (n + 1) / 4.0) / F.sqrt(var)).alias("z"),
    )


# MI cell discipline (the m23/m33 pattern): each cell's ln ratio is one
# shared float-op sequence over exact BIGINT counts rounded ONCE to micro,
# then multiplied by the exact integer cell count — the statistic is an
# order-free integer sum, divided down only in the final 1-row projection.
_M60_SQL = """
    WITH cells AS (
      SELECT event_type AS x, CAST(isodow(ts) AS INT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    rx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
    cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cyn FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
    mi AS (
      SELECT CAST(sum(c * CAST(round(
               ln(c * 1.0 * n / (cx * 1.0 * cyn)) * 1000000.0, 0)
             AS BIGINT)) AS BIGINT) AS mi_scaled
      FROM cells JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN tot
    ),
    hx AS (
      SELECT CAST(sum(cx * CAST(round(ln(n * 1.0 / cx) * 1000000.0, 0)
             AS BIGINT)) AS BIGINT) AS hx_scaled
      FROM rx CROSS JOIN tot
    ),
    hy AS (
      SELECT CAST(sum(cyn * CAST(round(ln(n * 1.0 / cyn) * 1000000.0, 0)
             AS BIGINT)) AS BIGINT) AS hy_scaled
      FROM cy CROSS JOIN tot
    )
    SELECT n, mi_scaled, hx_scaled, hy_scaled,
           mi_scaled / (n * 1000000.0) AS mi_nats,
           mi_scaled / sqrt(hx_scaled * 1.0 * hy_scaled) AS nmi
    FROM tot CROSS JOIN mi CROSS JOIN hx CROSS JOIN hy
"""


# (event_type x, ISO weekday y) -> contingency cells: m60 and m71.
TYPE_WEEKDAY_CELLS = EventsRule(
    lambda t: [
        F.col("event_type").alias("x"),
        (F.expr("weekday(ts)") + 1).cast("int").alias("y"),
    ],
    lambda e: e.groupBy("x", "y").agg(F.count("*").cast("long").alias("c")),
)


@_register("m60_mutual_information", _M60_SQL)
def m60_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and ISO weekday — the
    feature-dependence audit that complements m33's chi-square with
    an information-theoretic effect size: MI = sum p_xy *
    ln(p_xy/(p_x p_y)) over observed cells (empty cells carry zero MI
    mass by the 0*ln0 = 0 convention), plus both marginal entropies
    and the normalized MI = MI/sqrt(H(X) H(Y)). Every cell's ln ratio
    rounds once to micro over exact BIGINT counts and rides an
    integer multiply, so the three sums are order-free integers and
    the two final divisions are single float ops.

    Scale: ONE corpus scan map-side combines to the <= |types| x 7
    cell frame; marginals, the ln grid, and the report all run on
    that bounded frame.

    Reference parity: none in reference; public measure (Shannon
    1948) over the reference's event stream."""
    return mutual_info_from_cells(
        TYPE_WEEKDAY_CELLS.reduce(
            events_projection(spark, sf_dir, TYPE_WEEKDAY_CELLS.cols)
        )
    )


def mutual_info_from_cells(cells: DataFrame) -> DataFrame:
    """(x, y, c) joint-count cells -> m60's one-row report. Cell
    counts merge by keyed sum, so MI/NMI re-derive from partials;
    shared by the s65 streaming twin."""
    cells = cells.groupBy("x", "y").agg(F.sum("c").cast("long").alias("c"))
    cells = cells.localCheckpoint()  # feeds marginals AND the grid
    rx = cells.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    cy = cells.groupBy("y").agg(F.sum("c").cast("long").alias("cyn"))
    tot = cells.agg(F.sum("c").cast("long").alias("n"))

    def _micro(expr):
        return F.round(expr * 1000000.0, 0).cast("long")

    # broadcast bounds: rx/cy are category-domain frames, tot is 1 row
    grid = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(tot))
    )
    mi = grid.agg(
        F.sum(
            F.col("c")
            * _micro(
                F.log(
                    F.col("c") * 1.0 * F.col("n")
                    / (F.col("cx") * 1.0 * F.col("cyn"))
                )
            )
        )
        .cast("long")
        .alias("mi_scaled")
    )
    hx = (
        rx.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(F.col("cx") * _micro(F.log(F.col("n") * 1.0 / F.col("cx"))))
            .cast("long")
            .alias("hx_scaled")
        )
    )
    hy = (
        cy.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("cyn") * _micro(F.log(F.col("n") * 1.0 / F.col("cyn")))
            )
            .cast("long")
            .alias("hy_scaled")
        )
    )
    # broadcast bound: all three stat frames are 1 row
    out = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
    )
    return out.select(
        "n",
        "mi_scaled",
        "hx_scaled",
        "hy_scaled",
        (F.col("mi_scaled") / (F.col("n") * 1000000.0)).alias("mi_nats"),
        (
            F.col("mi_scaled")
            / F.sqrt(F.col("hx_scaled") * 1.0 * F.col("hy_scaled"))
        ).alias("nmi"),
    )


_M61_SQL = """
    WITH c AS (
      SELECT event_type AS g,
             CAST(sum(CASE WHEN isodow(ts) < 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cwd,
             CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cwk
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(cwd) AS BIGINT) AS nwd,
             CAST(sum(cwk) AS BIGINT) AS nwk
      FROM c
    ),
    cell AS (
      SELECT nwd, nwk, CAST(round((
          CASE WHEN cwd > 0 THEN
            0.5 * (cwd * 1.0 / nwd)
              * ln((cwd * 1.0 / nwd)
                   / (0.5 * (cwd * 1.0 / nwd) + 0.5 * (cwk * 1.0 / nwk)))
          ELSE 0.0 END
        + CASE WHEN cwk > 0 THEN
            0.5 * (cwk * 1.0 / nwk)
              * ln((cwk * 1.0 / nwk)
                   / (0.5 * (cwd * 1.0 / nwd) + 0.5 * (cwk * 1.0 / nwk)))
          ELSE 0.0 END) * 1000000000.0, 0) AS BIGINT) AS contrib_nano
      FROM c CROSS JOIN t
    )
    SELECT max(nwd) AS nwd, max(nwk) AS nwk,
           CAST(sum(contrib_nano) AS BIGINT) AS jsd_nano,
           sum(contrib_nano) / 1000000000.0 AS jsd_nats,
           sum(contrib_nano) / 1000000000.0 / ln(2.0) AS jsd_bits,
           sqrt(sum(contrib_nano) / 1000000000.0) AS js_distance
    FROM cell
"""


# (g, wk_flag) -> per-type weekday/weekend counts: m61 and m65.
WEEKPART_MIX = EventsRule(
    lambda t: [F.col("event_type").alias("g"), _weekend_flag()],
    lambda e: e.groupBy("g").agg(
        F.sum((F.col("wk_flag") == 0).cast("long")).cast("long").alias("cwd"),
        F.sum((F.col("wk_flag") == 1).cast("long")).cast("long").alias("cwk"),
    ),
)


@_register("m61_jensen_shannon", _M61_SQL)
def m61_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between the weekday and weekend
    event-type mixes — the symmetric, bounded drift measure that
    complements m17's PSI (which is unbounded and asymmetric in its
    smoothing): JSD = KL(P||M)/2 + KL(Q||M)/2 with M the midpoint,
    reported in nats, bits, and as the sqrt metric distance. Each
    category's contribution is one shared float sequence over exact
    BIGINT counts rounded ONCE to nano (JSD <= ln 2, so nano keeps 9
    significant digits), making the sum an order-free integer.

    Scale: one scan to the |types|-row two-sided count frame;
    everything downstream is category-domain bounded.

    Reference parity: none in reference; public measure (Lin 1991)
    over the reference's event stream."""
    return jsd_from_cells(
        WEEKPART_MIX.reduce(events_projection(spark, sf_dir, WEEKPART_MIX.cols))
    )


def jsd_from_cells(c: DataFrame) -> DataFrame:
    """(g, cwd, cwk) two-sided category counts -> m61's one-row
    report. Counts merge by keyed sum; shared by the s67 twin."""
    c = c.groupBy("g").agg(
        F.sum("cwd").cast("long").alias("cwd"),
        F.sum("cwk").cast("long").alias("cwk"),
    )
    t = c.agg(
        F.sum("cwd").cast("long").alias("nwd"),
        F.sum("cwk").cast("long").alias("nwk"),
    )
    # broadcast bound: t is 1 row
    j = c.crossJoin(F.broadcast(t))
    p = F.col("cwd") * 1.0 / F.col("nwd")
    q = F.col("cwk") * 1.0 / F.col("nwk")
    m = 0.5 * p + 0.5 * q
    contrib = F.when(F.col("cwd") > 0, 0.5 * p * F.log(p / m)).otherwise(
        0.0
    ) + F.when(F.col("cwk") > 0, 0.5 * q * F.log(q / m)).otherwise(0.0)
    cell = j.select(
        "nwd", "nwk", F.round(contrib * 1e9, 0).cast("long").alias("contrib_nano")
    )
    return cell.agg(
        F.max("nwd").alias("nwd"),
        F.max("nwk").alias("nwk"),
        F.sum("contrib_nano").cast("long").alias("jsd_nano"),
        (F.sum("contrib_nano") / 1e9).alias("jsd_nats"),
        (F.sum("contrib_nano") / 1e9 / float(__import__("math").log(2.0))).alias(
            "jsd_bits"
        ),
        F.sqrt(F.sum("contrib_nano") / 1e9).alias("js_distance"),
    )


_M62_SQL = """
    WITH e AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    med AS (
      SELECT g, CAST(round(2 * median(cents)) AS BIGINT) AS med2
      FROM e GROUP BY 1
    ),
    z AS (
      SELECT e.g, abs(2 * cents - med2) AS u
      FROM e JOIN med ON e.g = med.g
    ),
    gr AS (
      SELECT g, CAST(count(*) AS BIGINT) AS ng,
             CAST(sum(u) AS BIGINT) AS su,
             CAST(sum(u * u) AS BIGINT) AS su2
      FROM z GROUP BY g
    ),
    t AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS k,
             CAST(sum(su) AS BIGINT) AS stot
      FROM gr
    ),
    s AS (
      SELECT n, k,
             sum((su2 - su * 1.0 * su / ng) / 4.0) AS ssw,
             sum(ng * (su / (2.0 * ng) - stot / (2.0 * n))
                    * (su / (2.0 * ng) - stot / (2.0 * n))) AS ssb
      FROM gr CROSS JOIN t GROUP BY n, k
    )
    SELECT n, k, (ssb / (k - 1)) / (ssw / (n - k)) AS f_bf FROM s
"""


@_register("m62_brown_forsythe", _M62_SQL)
def m62_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe homogeneity-of-variance test across the five
    event types on amount cents: the one-way ANOVA F statistic on
    absolute deviations from each group's EXACT median. Doubling
    keeps everything integer — the interpolated median of integers
    is a multiple of 0.5, so u = |2*cents - 2*median| is an exact
    BIGINT, per-group sum/sum-of-squares are exact, and SSW/SSB
    algebra (SSW_g = (su2 - su^2/ng)/4) starts float math only on
    the 5-row group frame.

    Scale: one scan for the per-group exact medians (sort-based agg;
    at 100 TB the r105-style cents histogram yields the same exact
    median without a per-group sort), one scan for the deviation
    power sums, then a |groups|-row report. The group-median frame
    broadcasts (bound: |event types| rows).

    Reference parity: none in reference; public test (Brown &
    Forsythe 1974) over the reference's amount field."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = e.localCheckpoint()  # feeds medians AND deviations
    med = e.groupBy("g").agg(
        F.round(2 * F.median("cents")).cast("long").alias("med2")
    )
    # broadcast bound: med is |event types| rows
    z = e.join(F.broadcast(med), "g").select(
        "g", F.abs(2 * F.col("cents") - F.col("med2")).alias("u")
    )
    gr = z.groupBy("g").agg(
        F.count("*").cast("long").alias("ng"),
        F.sum("u").cast("long").alias("su"),
        F.sum(F.col("u") * F.col("u")).cast("long").alias("su2"),
    )
    t = gr.agg(
        F.sum("ng").cast("long").alias("n"),
        F.count("*").cast("long").alias("k"),
        F.sum("su").cast("long").alias("stot"),
    )
    # broadcast bound: t is 1 row
    j = gr.crossJoin(F.broadcast(t))
    zg = F.col("su") / (2.0 * F.col("ng"))
    zbar = F.col("stot") / (2.0 * F.col("n"))
    s = j.agg(
        F.first("n").alias("n"),
        F.first("k").alias("k"),
        F.sum(
            (F.col("su2") - F.col("su") * 1.0 * F.col("su") / F.col("ng"))
            / 4.0
        ).alias("ssw"),
        F.sum(F.col("ng") * (zg - zbar) * (zg - zbar)).alias("ssb"),
    )
    return s.select(
        "n",
        "k",
        (
            (F.col("ssb") / (F.col("k") - 1))
            / (F.col("ssw") / (F.col("n") - F.col("k")))
        ).alias("f_bf"),
    )


_M63_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    g AS (
      SELECT CAST(sum(wk) AS BIGINT) AS n1,
             CAST(count(*) - sum(wk) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN wk = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
             CAST(sum(CASE WHEN wk = 0 THEN cents ELSE 0 END) AS BIGINT) AS s2,
             CAST(sum(CASE WHEN wk = 1 THEN cents * cents ELSE 0 END)
                  AS BIGINT) AS q1,
             CAST(sum(CASE WHEN wk = 0 THEN cents * cents ELSE 0 END)
                  AS BIGINT) AS q2
      FROM e
    ),
    h AS (
      SELECT cents, CAST(sum(wk) AS BIGINT) AS c1,
             CAST(count(*) - sum(wk) AS BIGINT) AS c2
      FROM e GROUP BY 1
    ),
    cum AS (
      SELECT cents, c1, c2, c1 + c2 AS c,
             sum(c1 + c2) OVER (ORDER BY cents) - (c1 + c2) AS before_
      FROM h
    ),
    u AS (
      SELECT CAST(sum(c1 * (2 * before_ + c + 1)) AS BIGINT) AS r1x2 FROM cum
    )
    SELECT n1, n2,
           (s1 * 1.0 / n1 - s2 * 1.0 / n2)
             / sqrt(((q1 - s1 * 1.0 * s1 / n1) + (q2 - s2 * 1.0 * s2 / n2))
                    / (n1 + n2 - 2.0)) AS cohens_d,
           (s1 * 1.0 / n1 - s2 * 1.0 / n2)
             / sqrt(((q1 - s1 * 1.0 * s1 / n1) + (q2 - s2 * 1.0 * s2 / n2))
                    / (n1 + n2 - 2.0))
             * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0)) AS hedges_g,
           (s1 * 1.0 / n1 - s2 * 1.0 / n2)
             / sqrt((q2 - s2 * 1.0 * s2 / n2) / (n2 - 1.0)) AS glass_delta,
           (r1x2 - n1 * (n1 + 1)) * 1.0 / (n1 * n2) - 1.0 AS cliffs_delta
    FROM g CROSS JOIN u
"""


@_register("m63_effect_sizes", _M63_SQL)
def m63_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effect-size report for weekend vs weekday PURCHASE amounts —
    the practical-significance companion to m57/m46's p-value tests:
    Cohen's d (pooled-SD standardized mean difference), Hedges' g
    (small-sample bias correction J = 1 - 3/(4(n1+n2)-9)), Glass's
    delta (control-group SD, weekday as control), and Cliff's delta
    (2*U1/(n1*n2) - 1, reusing m57's exact doubled-midrank U). All
    four derive from exact BIGINT power sums and the exact integer
    rank sum; scale-invariance of d/g/delta means the cents
    transform drops out.

    Scale: one scan to the 1-row power-sum frame plus m57's
    value-domain histogram pass; no corpus-sized frame survives
    either scan.

    Reference parity: none in reference; public effect-size
    methodology (Cohen 1988, Hedges 1981, Cliff 1993)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.where(F.col("event_type") == "purchase").select(
        ((F.expr("weekday(ts)") + 1) >= 6).cast("int").alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    e = e.localCheckpoint()  # feeds power sums AND the rank histogram
    g = e.agg(
        F.sum("wk").cast("long").alias("n1"),
        (F.count("*") - F.sum("wk")).cast("long").alias("n2"),
        F.sum(F.when(F.col("wk") == 1, F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s1"),
        F.sum(F.when(F.col("wk") == 0, F.col("cents")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s2"),
        F.sum(
            F.when(F.col("wk") == 1, F.col("cents") * F.col("cents")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("q1"),
        F.sum(
            F.when(F.col("wk") == 0, F.col("cents") * F.col("cents")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("q2"),
    )
    h = e.groupBy("cents").agg(
        F.sum("wk").cast("long").alias("c1"),
        (F.count("*") - F.sum("wk")).cast("long").alias("c2"),
    )
    wc = Window.orderBy("cents")  # value-domain bounded frame
    cum = h.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("c"),
        (
            F.sum(F.col("c1") + F.col("c2")).over(wc)
            - (F.col("c1") + F.col("c2"))
        ).alias("before_"),
    )
    u = cum.agg(
        F.sum(F.col("c1") * (2 * F.col("before_") + F.col("c") + 1))
        .cast("long")
        .alias("r1x2")
    )
    # broadcast bound: u is 1 row
    j = g.crossJoin(F.broadcast(u))
    n1, n2 = F.col("n1"), F.col("n2")
    s1, s2, q1, q2 = F.col("s1"), F.col("s2"), F.col("q1"), F.col("q2")
    mdiff = s1 * 1.0 / n1 - s2 * 1.0 / n2
    sp = F.sqrt(
        ((q1 - s1 * 1.0 * s1 / n1) + (q2 - s2 * 1.0 * s2 / n2))
        / (n1 + n2 - 2.0)
    )
    d = mdiff / sp
    return j.select(
        "n1",
        "n2",
        d.alias("cohens_d"),
        (d * (1.0 - 3.0 / (4.0 * (n1 + n2) - 9.0))).alias("hedges_g"),
        (mdiff / F.sqrt((q2 - s2 * 1.0 * s2 / n2) / (n2 - 1.0))).alias(
            "glass_delta"
        ),
        (
            (F.col("r1x2") - n1 * (n1 + 1)) * 1.0 / (n1 * n2) - 1.0
        ).alias("cliffs_delta"),
    )


_M64_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT cents, CAST(sum(wk) AS BIGINT) AS c1,
             CAST(count(*) - sum(wk) AS BIGINT) AS c2
      FROM e GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2
      FROM h
    ),
    cum AS (
      SELECT cents,
             CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cc1,
             CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cc2,
             lead(cents) OVER (ORDER BY cents) AS nxt
      FROM h
    ),
    agg AS (
      SELECT CAST(sum(abs(cc1 * n2 - cc2 * n1) * (nxt - cents))
                  AS BIGINT) AS emd_num
      FROM cum CROSS JOIN t WHERE nxt IS NOT NULL
    )
    SELECT n1, n2, emd_num,
           emd_num / (n1 * 1.0 * n2 * 100.0) AS emd_dollars
    FROM t CROSS JOIN agg
"""


# purchase cents -> (cents, weekend c1, weekday c2) histogram: m64, m78.
WEEKPART_PURCHASE_HIST = EventsRule(
    lambda t: ["event_type", _weekend_flag(), _cents()],
    lambda e: e.where(F.col("event_type") == "purchase")
    .groupBy("cents")
    .agg(
        F.sum((F.col("wk_flag") == 1).cast("long")).cast("long").alias("c1"),
        F.sum((F.col("wk_flag") == 0).cast("long")).cast("long").alias("c2"),
    ),
)


@_register("m64_wasserstein_emd", _M64_SQL)
def m64_wasserstein_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-D earth mover's distance (Wasserstein-1) between the
    weekend and weekday purchase-amount distributions — the drift
    measure with UNITS (dollars moved per unit mass), complementing
    m22's KS (sup-distance, unitless) and m61's JSD (information).
    W1 = integral |F1 - F2| collapses on the value-domain histogram:
    between consecutive distinct values the CDF gap is constant, so
    each cell contributes |cc1*n2 - cc2*n1| * (next - cents) with the
    common n1*n2 denominator factored out — the whole statistic is ONE
    exact integer until the final division (bound: <= n1*n2*range,
    ~4e14 at sf0.1).

    Scale: one scan to the cents histogram; the cumulative walk orders
    distinct values, never rows. The m57/m58 rank posture, reused for
    a distance.

    Reference parity: none in reference; public metric (Monge 1781 /
    Vaserstein 1969) over the reference's amount field."""
    return emd_from_cells(
        WEEKPART_PURCHASE_HIST.reduce(
            events_projection(spark, sf_dir, WEEKPART_PURCHASE_HIST.cols)
        )
    )


def emd_from_cells(h: DataFrame) -> DataFrame:
    """(cents, c1, c2) two-sided value-histogram partials -> m64's
    one-row report. Cell counts merge by keyed sum; shared by the s68
    streaming twin."""
    from pyspark.sql.window import Window

    h = h.groupBy("cents").agg(
        F.sum("c1").cast("long").alias("c1"),
        F.sum("c2").cast("long").alias("c2"),
    )
    h = h.localCheckpoint()  # value-domain bounded; feeds totals AND walk
    t = h.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    wc = Window.orderBy("cents")  # value-domain bounded frame
    cum = h.select(
        "cents",
        F.sum("c1").over(wc).cast("long").alias("cc1"),
        F.sum("c2").over(wc).cast("long").alias("cc2"),
        F.lead("cents").over(wc).alias("nxt"),
    )
    # broadcast bound: t is 1 row
    agg = (
        cum.where(F.col("nxt").isNotNull())
        .crossJoin(F.broadcast(t))
        .agg(
            F.sum(
                F.abs(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1"))
                * (F.col("nxt") - F.col("cents"))
            )
            .cast("long")
            .alias("emd_num")
        )
    )
    # broadcast bound: agg is 1 row
    return t.crossJoin(F.broadcast(agg)).select(
        "n1",
        "n2",
        "emd_num",
        (F.col("emd_num") / (F.col("n1") * 1.0 * F.col("n2") * 100.0)).alias(
            "emd_dollars"
        ),
    )


_M65_SQL = """
    WITH c AS (
      SELECT event_type AS g,
             CAST(sum(CASE WHEN isodow(ts) < 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cwd,
             CAST(sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)
                  AS BIGINT) AS cwk
      FROM events GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(cwd) AS BIGINT) AS nwd,
             CAST(sum(cwk) AS BIGINT) AS nwk
      FROM c
    ),
    cell AS (
      SELECT nwd, nwk,
             CAST(round(sqrt((cwd * 1.0 / nwd) * (cwk * 1.0 / nwk))
                        * 1000000000.0, 0) AS BIGINT) AS bc_nano
      FROM c CROSS JOIN t
    )
    SELECT max(nwd) AS nwd, max(nwk) AS nwk,
           CAST(sum(bc_nano) AS BIGINT) AS bc_nano_total,
           sqrt(1.0 - sum(bc_nano) / 1000000000.0) AS hellinger,
           -ln(sum(bc_nano) / 1000000000.0) AS bhattacharyya_dist
    FROM cell
"""


@_register("m65_hellinger_bhattacharyya", _M65_SQL)
def m65_hellinger_bhattacharyya(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hellinger distance and Bhattacharyya distance between the
    weekday and weekend event-type mixes — the geometric pair to m61's
    JSD on the SAME two-sided category frame: BC = sum sqrt(p*q),
    H = sqrt(1 - BC), D_B = -ln BC. Each category's sqrt(p*q) rounds
    once to nano over exact BIGINT counts (BC <= 1, so nano keeps 9
    significant digits), making the coefficient an order-free integer
    sum; H and D_B are single float ops off it.

    Scale: one scan to the |types|-row frame; everything downstream is
    category-domain bounded.

    Reference parity: none in reference; public measures
    (Bhattacharyya 1943, Hellinger 1909)."""
    return hellinger_from_cells(
        WEEKPART_MIX.reduce(events_projection(spark, sf_dir, WEEKPART_MIX.cols))
    )


def hellinger_from_cells(c: DataFrame) -> DataFrame:
    """(g, cwd, cwk) two-sided category counts -> m65's one-row
    report. Counts merge by keyed sum; shared by the s69 twin."""
    c = c.groupBy("g").agg(
        F.sum("cwd").cast("long").alias("cwd"),
        F.sum("cwk").cast("long").alias("cwk"),
    )
    t = c.agg(
        F.sum("cwd").cast("long").alias("nwd"),
        F.sum("cwk").cast("long").alias("nwk"),
    )
    # broadcast bound: t is 1 row
    j = c.crossJoin(F.broadcast(t))
    bc = F.sqrt(
        (F.col("cwd") * 1.0 / F.col("nwd")) * (F.col("cwk") * 1.0 / F.col("nwk"))
    )
    cell = j.select(
        "nwd", "nwk", F.round(bc * 1e9, 0).cast("long").alias("bc_nano")
    )
    return cell.agg(
        F.max("nwd").alias("nwd"),
        F.max("nwk").alias("nwk"),
        F.sum("bc_nano").cast("long").alias("bc_nano_total"),
        F.sqrt(1.0 - F.sum("bc_nano") / 1e9).alias("hellinger"),
        (-F.log(F.sum("bc_nano") / 1e9)).alias("bhattacharyya_dist"),
    )


_M66_SQL = """
    WITH cust AS (
      SELECT event_type AS g, user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY 1, 2
    ),
    h AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS c
      FROM cust GROUP BY 1, 2
    ),
    agg AS (
      SELECT g, CAST(sum(c) AS BIGINT) AS n,
             CAST(sum(c * cents) AS BIGINT) AS total,
             CAST(sum(c * cents * cents) AS BIGINT) AS sq
      FROM h GROUP BY 1
    )
    SELECT g AS event_type, n AS n_users, total AS total_cents,
           sq * 1.0 / (total * 1.0 * total) AS hhi,
           (sq * 1.0 / (total * 1.0 * total) - 1.0 / n)
             / (1.0 - 1.0 / n) AS hhi_normalized,
           total * 1.0 * total / sq AS effective_n
    FROM agg WHERE n > 1
"""


M66 = EventsRule(
    lambda t: [F.col("event_type").alias("g"), "user_id", _cents()],
    lambda e: e.groupBy("g", "user_id").agg(
        F.sum("cents").cast("long").alias("cents")
    ),
)


@_register("m66_hhi_concentration", _M66_SQL)
def m66_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of per-user value share
    within each event type — the antitrust-style concentration gauge
    next to m44's Gini: HHI = sum share_u^2 = sum(x_u^2) / (sum x_u)^2
    needs only the exact integer power sums of per-user totals, so the
    statistic is integer until two final divisions; also the
    normalized HHI ((H - 1/n)/(1 - 1/n)) and the effective number of
    participants 1/H (how many equal users this concentration is
    worth — the fraud tell when one account IS the market).

    Scale: one user-keyed shuffle to per-user totals, then the
    (type, cents) value-domain histogram; power sums ride one pass
    (bound: c*cents^2 <= n*max_total^2 ~ 1e15 at sf0.1, stated).

    Reference parity: the concentration view of q1's top-10 scammers
    (BASELINE.md panel 1); public index (Herfindahl 1950)."""
    return hhi_from_user_totals(
        M66.reduce(events_projection(spark, sf_dir, M66.cols))
    )


def hhi_from_user_totals(cust: DataFrame) -> DataFrame:
    """(g, user_id, cents) per-user totals -> m66's per-type report.
    Totals merge by keyed sum; shared by the s71 streaming twin."""
    cust = cust.groupBy("g", "user_id").agg(
        F.sum("cents").cast("long").alias("cents")
    )
    h = cust.groupBy("g", "cents").agg(F.count("*").cast("long").alias("c"))
    agg = h.groupBy("g").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum(F.col("c") * F.col("cents")).cast("long").alias("total"),
        F.sum(F.col("c") * F.col("cents") * F.col("cents"))
        .cast("long")
        .alias("sq"),
    )
    hhi = F.col("sq") * 1.0 / (F.col("total") * 1.0 * F.col("total"))
    n = F.col("n")
    return agg.where(n > 1).select(
        F.col("g").alias("event_type"),
        n.alias("n_users"),
        F.col("total").alias("total_cents"),
        hhi.alias("hhi"),
        ((hhi - 1.0 / n) / (1.0 - 1.0 / n)).alias("hhi_normalized"),
        (F.col("total") * 1.0 * F.col("total") / F.col("sq")).alias(
            "effective_n"
        ),
    )


_M67_SQL = """
    WITH cust AS (
      SELECT user_id,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    pos AS (SELECT x FROM cust WHERE x > 0),
    t AS (
      SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS xt
      FROM pos
    ),
    h AS (SELECT x, CAST(count(*) AS BIGINT) AS c FROM pos GROUP BY 1),
    cells AS (
      SELECT n, xt,
             CAST(sum(c * x * CAST(round(ln(x * 1.0 * n / xt) * 1000000.0, 0)
                                   AS BIGINT)) AS BIGINT) AS tt_scaled,
             CAST(sum(c * CAST(round(ln(xt * 1.0 / (x * 1.0 * n))
                                     * 1000000.0, 0)
                               AS BIGINT)) AS BIGINT) AS tl_scaled
      FROM h CROSS JOIN t GROUP BY n, xt
    )
    SELECT n AS n_users, xt AS total_cents,
           tt_scaled * 1.0 / (xt * 1000000.0) AS theil_t,
           tl_scaled * 1.0 / (n * 1000000.0) AS theil_l
    FROM cells
"""


M67 = EventsRule(
    lambda t: ["user_id", "event_type", _cents()],
    lambda e: e.where(F.col("event_type") == "purchase")
    .groupBy("user_id")
    .agg(F.sum("cents").cast("long").alias("x")),
)


@_register("m67_theil_inequality", _M67_SQL)
def m67_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T and Theil L (mean log deviation) of per-user purchase
    spend — the DECOMPOSABLE inequality indices next to m44's Gini
    (Theil splits exactly into between-group + within-group terms,
    which Gini does not): T = sum (x/X) ln(x/mu), L = (1/n) sum
    ln(mu/x). Each distinct spend value's ln rounds once to micro over
    exact integers (the m23 cell discipline) and is weighted by the
    exact integer c*x (T) or c (L), so both statistics are order-free
    integer sums until one final division each.

    Scale: per-user totals are one keyed shuffle; the log grid runs on
    the value-domain histogram of distinct totals, never per user.

    Reference parity: none in reference; public indices (Theil 1967)
    over the reference's per-user amounts (q1's concentration,
    measured instead of ranked)."""
    return theil_from_user_totals(
        M67.reduce(events_projection(spark, sf_dir, M67.cols))
    )


def theil_from_user_totals(cust: DataFrame) -> DataFrame:
    """(user_id, x) per-user cents totals -> m67's one-row report.
    Totals merge by keyed sum; shared by the s72 streaming twin."""
    cust = cust.groupBy("user_id").agg(F.sum("x").cast("long").alias("x"))
    pos = cust.where(F.col("x") > 0).select("x")
    pos = pos.localCheckpoint()  # feeds totals AND histogram
    t = pos.agg(
        F.count("*").cast("long").alias("n"), F.sum("x").cast("long").alias("xt")
    )
    h = pos.groupBy("x").agg(F.count("*").cast("long").alias("c"))

    def _micro(expr):
        return F.round(expr * 1000000.0, 0).cast("long")

    # broadcast bound: t is 1 row
    j = h.crossJoin(F.broadcast(t))
    cells = j.agg(
        F.first("n").alias("n"),
        F.first("xt").alias("xt"),
        F.sum(
            F.col("c")
            * F.col("x")
            * _micro(F.log(F.col("x") * 1.0 * F.col("n") / F.col("xt")))
        )
        .cast("long")
        .alias("tt_scaled"),
        F.sum(
            F.col("c")
            * _micro(F.log(F.col("xt") * 1.0 / (F.col("x") * 1.0 * F.col("n"))))
        )
        .cast("long")
        .alias("tl_scaled"),
    )
    return cells.select(
        F.col("n").alias("n_users"),
        F.col("xt").alias("total_cents"),
        (F.col("tt_scaled") * 1.0 / (F.col("xt") * 1000000.0)).alias("theil_t"),
        (F.col("tl_scaled") * 1.0 / (F.col("n") * 1000000.0)).alias("theil_l"),
    )


_M68_SQL = """
    WITH h AS (
      SELECT event_type AS g, CAST(hour(ts) AS INT) AS hr,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT g, CAST(sum(o) AS BIGINT) AS n,
             CAST(sum(o * o) AS BIGINT) AS sq,
             CAST(count(*) AS BIGINT) AS hours_hit
      FROM h GROUP BY 1
    )
    SELECT g AS event_type, n, hours_hit, 23 AS dof,
           24.0 * sq / n - n AS chi2
    FROM agg
"""


M68 = EventsRule(
    lambda t: [F.col("event_type").alias("g"), F.hour("ts").cast("int").alias("hr")],
    lambda e: e.groupBy("g", "hr").agg(F.count("*").cast("long").alias("o")),
)


@_register("m68_chisq_gof_hourly", _M68_SQL)
def m68_chisq_gof_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of each event type's hour-of-day
    profile against uniformity — the bot detector behind r112's
    entropy profile with an actual test statistic: under E = n/24 per
    hour, chi2 = sum (O-E)^2/E collapses to 24*sum(O^2)/n - n, so the
    whole test needs only the exact integer count power sums (hours
    with zero events contribute zero to sum O^2 — the closed form
    absorbs them, no scaffold needed). GOF-vs-uniform complements m33
    (independence) and m42 (Benford's specific law).

    Scale: one scan map-side combines to <= |types| x 24 cells;
    the report is |types| rows.

    Reference parity: none in reference; public test (Pearson 1900)
    over the reference's event timestamps."""
    return chisq_gof_from_cells(
        M68.reduce(events_projection(spark, sf_dir, M68.cols))
    )


def chisq_gof_from_cells(h: DataFrame) -> DataFrame:
    """(g, hr, o) hour-count cells -> m68's per-type report. Counts
    merge by keyed sum; shared by the s70 streaming twin."""
    h = h.groupBy("g", "hr").agg(F.sum("o").cast("long").alias("o"))
    agg = h.groupBy("g").agg(
        F.sum("o").cast("long").alias("n"),
        F.sum(F.col("o") * F.col("o")).cast("long").alias("sq"),
        F.count("*").cast("long").alias("hours_hit"),
    )
    return agg.select(
        F.col("g").alias("event_type"),
        "n",
        "hours_hit",
        F.lit(23).alias("dof"),
        (24.0 * F.col("sq") / F.col("n") - F.col("n")).alias("chi2"),
    )


_M69_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d - span.lo AS t, coalesce(daily.x, 0) AS x
      FROM span, (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    g AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(t) AS BIGINT) AS st,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(t * t) AS BIGINT) AS stt,
             CAST(sum(t * x) AS BIGINT) AS stx
      FROM cal
    ),
    r AS (
      SELECT t,
             x - (sx * 1.0 * stt - st * 1.0 * stx) / (n * stt - st * st)
               - t * (n * 1.0 * stx - st * 1.0 * sx) / (n * stt - st * st)
               AS e
      FROM cal CROSS JOIN g
    ),
    l AS (
      SELECT e, lag(e) OVER (ORDER BY t) AS ep FROM r
    )
    SELECT (SELECT n FROM g) AS n_days,
           (SELECT (n * 1.0 * stx - st * 1.0 * sx) / (n * stt - st * st)
            FROM g) AS slope_cents_per_day,
           sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep) END)
             / sum(e * e) AS dw
    FROM l
"""


@_register("m69_durbin_watson", _M69_SQL)
def m69_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of m30's daily-revenue
    OLS trend — the autocorrelated-residuals alarm that says when a
    LINEAR trend model is lying about a seasonal series (DW ~ 2 means
    independent residuals; DW << 2 means the trend missed structure,
    e.g. the weekly cycle m50 measures). The OLS slope/intercept are
    exact rationals over integer power sums (common denominator
    D = n*stt - st^2); each residual is one shared float sequence from
    those integers, and DW's two sums run over the day-bounded
    calendar frame (m49's float-on-bounded-frame discipline),
    zero-filled so outage days count as real residuals.

    Scale: one corpus scan to daily totals; everything downstream is
    |days| rows.

    Reference parity: none in reference; public test (Durbin & Watson
    1950) on the reference's revenue series."""
    return durbin_watson_from_daily(
        DAILY_CENTS.reduce(events_projection(spark, sf_dir, DAILY_CENTS.cols))
    )


def durbin_watson_from_daily(daily: "DataFrame") -> "DataFrame":
    """(d, x) daily cents partials -> m69's one-row report. Daily
    totals merge by keyed sum; shared by the s76 streaming twin."""
    from pyspark.sql.window import Window

    daily = daily.groupBy("d").agg(F.sum("x").cast("long").alias("x"))
    daily = daily.localCheckpoint()  # day-bounded
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(
            F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"),
            F.col("lo"),
        )
        .join(daily, "d", "left")
        .select(
            (F.col("d") - F.col("lo")).alias("t"),
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    cal = cal.localCheckpoint()  # feeds power sums AND residuals
    g = cal.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("t").cast("long").alias("st"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("stt"),
        F.sum(F.col("t") * F.col("x")).cast("long").alias("stx"),
    )
    # broadcast bound: g is 1 row
    j = cal.crossJoin(F.broadcast(g))
    den = F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    slope = (
        F.col("n") * 1.0 * F.col("stx") - F.col("st") * 1.0 * F.col("sx")
    ) / den
    intercept = (
        F.col("sx") * 1.0 * F.col("stt") - F.col("st") * 1.0 * F.col("stx")
    ) / den
    r = j.select(
        "t",
        "n",
        slope.alias("slope"),
        (F.col("x") - intercept - F.col("t") * slope).alias("e"),
    )
    wt = Window.orderBy("t")  # day-bounded frame
    l = r.select(
        "n", "slope", "e", F.lag("e").over(wt).alias("ep")
    )
    return l.agg(
        F.first("n").alias("n_days"),
        F.first("slope").alias("slope_cents_per_day"),
        (
            F.sum(
                F.when(
                    F.col("ep").isNotNull(),
                    (F.col("e") - F.col("ep")) * (F.col("e") - F.col("ep")),
                )
            )
            / F.sum(F.col("e") * F.col("e"))
        ).alias("dw"),
    )


_M70_MAX_LAG = 3

_M70_SQL = f"""
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS xp,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS xe
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.xp, 0) AS xp, coalesce(daily.xe, 0) AS xe
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    st AS (
      SELECT avg(xp::DOUBLE) AS mup, avg(xe::DOUBLE) AS mue,
             sum((xp - (SELECT avg(xp::DOUBLE) FROM cal))
                 * (xp - (SELECT avg(xp::DOUBLE) FROM cal))) AS ssp,
             sum((xe - (SELECT avg(xe::DOUBLE) FROM cal))
                 * (xe - (SELECT avg(xe::DOUBLE) FROM cal))) AS sse,
             CAST(count(*) AS BIGINT) AS n
      FROM cal
    )
    SELECT k, st.n AS n_days,
           sum((a.xp - st.mup) * (b.xe - st.mue)) / sqrt(st.ssp * st.sse)
             AS ccf
    FROM (SELECT unnest(range(-{_M70_MAX_LAG}, {_M70_MAX_LAG + 1})) AS k),
         cal a JOIN cal b ON b.d = a.d + k, st
    GROUP BY k, st.n, st.ssp, st.sse
"""


M70 = EventsRule(
    lambda t: [
        (t / 86400).cast("long").alias("d"),
        (F.col("event_type") == "purchase").cast("long").alias("isp"),
        (F.col("event_type") == "error").cast("long").alias("ise"),
    ],
    lambda e: e.groupBy("d").agg(
        F.sum("isp").cast("long").alias("xp"),
        F.sum("ise").cast("long").alias("xe"),
    ),
)


@_register("m70_cross_correlation", _M70_SQL)
def m70_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily purchase counts and
    daily error counts at lags -3..+3 — m49's ACF generalized to TWO
    series: does an error spike lead (negative lag) or follow
    (positive lag) the purchase volume? The lead/lag diagnosis behind
    incident forensics. Same discipline as m49: integer daily counts
    on a zero-filled calendar scaffold, float only on the day-bounded
    frame, whole-series means/variances as the normalizer (the
    standard sample CCF).

    Scale: corpus -> day-bounded daily frame; the lag join is
    |days| x 7 rows. Nothing corpus-sized past the first agg.

    Reference parity: none in reference; public methodology (Box &
    Jenkins), pairing the reference's fraud-rate and revenue panels.
    """
    return ccf_from_daily(
        M70.reduce(events_projection(spark, sf_dir, M70.cols))
    )


def ccf_from_daily(daily: "DataFrame") -> "DataFrame":
    """(d, xp, xe) daily two-series count partials -> m70's lag
    report. Counts merge by keyed sum; shared by the s77 twin."""
    daily = daily.groupBy("d").agg(
        F.sum("xp").cast("long").alias("xp"),
        F.sum("xe").cast("long").alias("xe"),
    )
    daily = daily.localCheckpoint()  # day-bounded
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"))
        .join(daily, "d", "left")
        .select(
            "d",
            F.coalesce("xp", F.lit(0)).alias("xp"),
            F.coalesce("xe", F.lit(0)).alias("xe"),
        )
    )
    cal = cal.localCheckpoint()  # feeds stats AND the lag join
    mu = cal.agg(
        F.avg(F.col("xp") * 1.0).alias("mup"),
        F.avg(F.col("xe") * 1.0).alias("mue"),
        F.count("*").cast("long").alias("n"),
    )
    st = (
        cal.crossJoin(F.broadcast(mu))
        .agg(
            F.first("mup").alias("mup"),
            F.first("mue").alias("mue"),
            F.first("n").alias("n"),
            F.sum((F.col("xp") - F.col("mup")) * (F.col("xp") - F.col("mup")))
            .alias("ssp"),
            F.sum((F.col("xe") - F.col("mue")) * (F.col("xe") - F.col("mue")))
            .alias("sse"),
        )
    )
    lags = daily.sparkSession.range(-_M70_MAX_LAG, _M70_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("k")
    )
    a = cal.select(F.col("d").alias("da"), F.col("xp"))
    b = cal.select(F.col("d").alias("db"), F.col("xe"))
    # broadcast bounds: lags is 7 rows, st is 1 row; a/b are day-bounded
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("k"))
        .crossJoin(F.broadcast(st))
    )
    return (
        pairs.groupBy("k")
        .agg(
            F.first("n").alias("n_days"),
            (
                F.sum((F.col("xp") - F.col("mup")) * (F.col("xe") - F.col("mue")))
                / F.sqrt(F.first("ssp") * F.first("sse"))
            ).alias("ccf"),
        )
        .select("k", "n_days", "ccf")
    )


_M71_SQL = """
    WITH cells AS (
      SELECT event_type AS x, CAST(isodow(ts) AS INT) AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    rx AS (SELECT x, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
    cy AS (SELECT y, CAST(sum(c) AS BIGINT) AS cyn FROM cells GROUP BY 1),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n,
             CAST((SELECT count(*) FROM rx) AS BIGINT) AS r,
             CAST((SELECT count(*) FROM cy) AS BIGINT) AS k
      FROM cells
    ),
    chi AS (
      SELECT sum(c * 1.0 * c * n / (cx * 1.0 * cyn)) - max(n) AS chi2
      FROM cells JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN tot
    )
    SELECT n, r, k, chi2,
           sqrt(chi2 / (n * (least(r, k) - 1.0))) AS cramers_v,
           sqrt(greatest(chi2 / n - (r - 1.0) * (k - 1.0) / (n - 1.0), 0.0)
                / least(r - 1.0 * (r - 1.0) * (r - 1.0) / (n - 1.0) - 1.0,
                        k - 1.0 * (k - 1.0) * (k - 1.0) / (n - 1.0) - 1.0))
             AS cramers_v_corrected
    FROM tot CROSS JOIN chi
"""


@_register("m71_cramers_v", _M71_SQL)
def m71_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramer's V for the event-type x weekday contingency — the
    bounded [0,1] effect size m33's chi-square test lacks, plus the
    Bergsma (2013) bias-corrected variant that doesn't inflate on
    sparse grids: chi2 collapses to sum(O^2*n/(rx*cy)) - n over
    OBSERVED cells only (empty cells' (0-E)^2/E mass is exactly the E
    that the -n term absorbs — no scaffold needed), then
    V = sqrt(chi2/(n*(min(r,k)-1))). Float starts on the <= |types|x7
    cell frame (m33's bounded-frame discipline).

    Scale: one scan map-side combines to the cell frame; marginals and
    the report are category-domain bounded.

    Reference parity: none in reference; public effect size (Cramer
    1946, Bergsma 2013), completing m33/m60's dependence suite."""
    return cramers_from_cells(
        TYPE_WEEKDAY_CELLS.reduce(
            events_projection(spark, sf_dir, TYPE_WEEKDAY_CELLS.cols)
        )
    )


def cramers_from_cells(cells: DataFrame) -> DataFrame:
    """(x, y, c) joint-count cells -> m71's one-row report. Cell
    counts merge by keyed sum; shared by the s74 streaming twin."""
    cells = cells.groupBy("x", "y").agg(F.sum("c").cast("long").alias("c"))
    cells = cells.localCheckpoint()  # bounded; feeds marginals AND chi2
    rx = cells.groupBy("x").agg(F.sum("c").cast("long").alias("cx"))
    cy = cells.groupBy("y").agg(F.sum("c").cast("long").alias("cyn"))
    tot = (
        cells.agg(F.sum("c").cast("long").alias("n"))
        .crossJoin(F.broadcast(rx.agg(F.count("*").cast("long").alias("r"))))
        .crossJoin(F.broadcast(cy.agg(F.count("*").cast("long").alias("k"))))
    )
    # broadcast bounds: rx/cy are category frames, tot is 1 row
    chi = (
        cells.join(F.broadcast(rx), "x")
        .join(F.broadcast(cy), "y")
        .crossJoin(F.broadcast(tot))
        .agg(
            (
                F.sum(
                    F.col("c") * 1.0 * F.col("c") * F.col("n")
                    / (F.col("cx") * 1.0 * F.col("cyn"))
                )
                - F.max("n")
            ).alias("chi2")
        )
    )
    j = tot.crossJoin(F.broadcast(chi))
    n, r, k = F.col("n"), F.col("r"), F.col("k")
    chi2 = F.col("chi2")
    phi2c = F.greatest(
        chi2 / n - (r - 1.0) * (k - 1.0) / (n - 1.0), F.lit(0.0)
    )
    rc = r - 1.0 * (r - 1.0) * (r - 1.0) / (n - 1.0)
    kc = k - 1.0 * (k - 1.0) * (k - 1.0) / (n - 1.0)
    return j.select(
        "n",
        "r",
        "k",
        "chi2",
        F.sqrt(chi2 / (n * (F.least(r, k) - 1.0))).alias("cramers_v"),
        F.sqrt(phi2c / F.least(rc - 1.0, kc - 1.0)).alias(
            "cramers_v_corrected"
        ),
    )


_M72_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.x, 0) AS x
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    st AS (
      SELECT sqrt((sum(x * 1.0 * x) - sum(x) * 1.0 * sum(x) / count(*))
                  / (count(*) - 1)) AS sd
      FROM cal
    ),
    walk AS (
      SELECT d, x,
             CAST(sum(x) OVER w AS BIGINT) AS cx,
             CAST(count(*) OVER w AS BIGINT) AS t
      FROM cal
      WINDOW w AS (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    m AS (
      SELECT d, x,
             sum(x - cx * 1.0 / t) OVER (ORDER BY d ROWS BETWEEN
               UNBOUNDED PRECEDING AND CURRENT ROW) AS mt
      FROM walk
    ),
    g AS (
      SELECT d, x, mt,
             mt - min(mt) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS gap
      FROM m
    )
    SELECT d, x AS day_cents, mt, gap
    FROM g CROSS JOIN st
    WHERE gap > 2.0 * st.sd
"""


@_register("m72_page_hinkley", _M72_SQL)
def m72_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley change-point detector on the daily-revenue series
    — the SEQUENTIAL mean-shift alarm next to m28's CUSUM (PH tracks
    deviation from the RUNNING mean, so it needs no in-control
    baseline period): m_t = sum_{s<=t} (x_s - mean_{1..s}), alarm when
    m_t - min_{s<=t} m_s exceeds 2 sample-sd of the series.
    Zero-filled calendar (the m56 discipline), exact integer daily
    cents, float only in the day-ordered running-mean walk.

    Scale: one corpus scan to daily totals; three window passes over
    ONE day-ordered frame (running sum/count, running deviation sum,
    running min) — all |days| rows.

    Reference parity: none in reference; public sequential test (Page
    1954, Hinkley 1971) — the changepoint layer under q8's
    FOR-duration alerts."""
    return page_hinkley_from_daily(
        DAILY_CENTS.reduce(events_projection(spark, sf_dir, DAILY_CENTS.cols))
    )


def page_hinkley_from_daily(daily: "DataFrame") -> "DataFrame":
    """(d, x) daily cents partials -> m72's alarmed-day report.
    Daily totals merge by keyed sum; shared by the s75 twin."""
    from pyspark.sql.window import Window

    daily = daily.groupBy("d").agg(F.sum("x").cast("long").alias("x"))
    daily = daily.localCheckpoint()  # day-bounded
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"))
        .join(daily, "d", "left")
        .select("d", F.coalesce("x", F.lit(0)).alias("x"))
    )
    cal = cal.localCheckpoint()  # feeds sd AND the walk
    st = cal.agg(
        F.sqrt(
            (
                F.sum(F.col("x") * 1.0 * F.col("x"))
                - F.sum("x") * 1.0 * F.sum("x") / F.count("*")
            )
            / (F.count("*") - 1)
        ).alias("sd")
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = cal.select(
        "d",
        "x",
        F.sum("x").over(w).cast("long").alias("cx"),
        F.count("*").over(w).cast("long").alias("t"),
    )
    m = walk.select(
        "d",
        "x",
        F.sum(F.col("x") - F.col("cx") * 1.0 / F.col("t")).over(w).alias("mt"),
    )
    g = m.select(
        "d", "x", "mt", (F.col("mt") - F.min("mt").over(w)).alias("gap")
    )
    # broadcast bound: st is 1 row
    return (
        g.crossJoin(F.broadcast(st))
        .where(F.col("gap") > 2.0 * F.col("sd"))
        .select("d", F.col("x").alias("day_cents"), "mt", "gap")
    )


_M73_SQL = """
    WITH g AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS w,
             CAST(count(*) AS BIGINT) AS ni,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS xi
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(sum(ni) AS BIGINT) AS n, CAST(sum(xi) AS BIGINT) AS x,
             CAST(sum(w * ni) AS BIGINT) AS swn,
             CAST(sum(w * xi) AS BIGINT) AS swx,
             CAST(sum(w * w * ni) AS BIGINT) AS sw2n
      FROM g
    )
    SELECT n, x,
           (swx * 1.0 - x * 1.0 * swn / n)
             / sqrt((x * 1.0 / n) * (1.0 - x * 1.0 / n)
                    * (sw2n - swn * 1.0 * swn / n)) AS z
    FROM s
"""


M73 = EventsRule(
    lambda t: [
        (F.expr("weekday(ts)") + 1).cast("long").alias("w"),
        (F.col("event_type") == "purchase").cast("long").alias("isp"),
    ],
    lambda e: e.groupBy("w").agg(
        F.count("*").cast("long").alias("ni"),
        F.sum("isp").cast("long").alias("xi"),
    ),
)


@_register("m73_cochran_armitage", _M73_SQL)
def m73_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in purchase rate
    across the ordered weekdays (scores w = 1..7) — the ordered
    alternative m33's chi-square ignores (chi-square treats weekdays
    as unordered categories; CA asks 'does conversion RISE through the
    week'): z = sum w_i (x_i - n_i pbar) / sqrt(pbar (1-pbar)
    (sum w^2 n - (sum w n)^2 / n)). Every sum is an exact BIGINT off
    the 7-row dow frame; one float sequence at the end.

    Scale: one scan to 7 rows; the statistic is a 1-row projection.

    Reference parity: none in reference; public test (Cochran 1954,
    Armitage 1955) on the reference's conversion funnel."""
    return trend_test_from_dow_counts(
        M73.reduce(events_projection(spark, sf_dir, M73.cols))
    )


def trend_test_from_dow_counts(g: DataFrame) -> DataFrame:
    """(w, ni, xi) dow count partials -> m73's one-row report.
    Counts merge by keyed sum; shared by the s84 streaming twin."""
    g = g.groupBy("w").agg(
        F.sum("ni").cast("long").alias("ni"),
        F.sum("xi").cast("long").alias("xi"),
    )
    s = g.agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("x"),
        F.sum(F.col("w") * F.col("ni")).cast("long").alias("swn"),
        F.sum(F.col("w") * F.col("xi")).cast("long").alias("swx"),
        F.sum(F.col("w") * F.col("w") * F.col("ni")).cast("long").alias("sw2n"),
    )
    n, x = F.col("n"), F.col("x")
    pbar = x * 1.0 / n
    return s.select(
        "n",
        "x",
        (
            (F.col("swx") * 1.0 - x * 1.0 * F.col("swn") / n)
            / F.sqrt(
                pbar
                * (1.0 - pbar)
                * (F.col("sw2n") - F.col("swn") * 1.0 * F.col("swn") / n)
            )
        ).alias("z"),
    )


_M74_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT cents, CAST(sum(wk) AS BIGINT) AS c1,
             CAST(count(*) - sum(wk) AS BIGINT) AS c2
      FROM e GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM h
    ),
    cum AS (
      SELECT CAST(sum(c1) OVER (ORDER BY cents) AS BIGINT) AS cc1,
             CAST(sum(c2) OVER (ORDER BY cents) AS BIGINT) AS cc2
      FROM h
    ),
    agg AS (
      SELECT CAST(max(cc1 * n2 - cc2 * n1) AS BIGINT) AS dplus_num,
             CAST(max(cc2 * n1 - cc1 * n2) AS BIGINT) AS dminus_num
      FROM cum CROSS JOIN t
    )
    SELECT n1, n2,
           greatest(dplus_num, 0) AS dplus_num,
           greatest(dminus_num, 0) AS dminus_num,
           (greatest(dplus_num, 0) + greatest(dminus_num, 0)) * 1.0
             / (n1 * 1.0 * n2) AS kuiper_v
    FROM t CROSS JOIN agg
"""


@_register("m74_kuiper_test", _M74_SQL)
def m74_kuiper_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kuiper's V between the weekend and weekday purchase-amount
    distributions — the rotation-invariant two-sample statistic
    (V = D+ + D- weights BOTH tails equally, where m22's KS is blind
    to shifts that trade one tail against the other; this is the
    canonical variant for cyclic quantities like time-of-day). Both
    one-sided sups are exact integer maxima over the same common-
    denominator CDF walk m64's EMD uses (cc1*n2 - cc2*n1 over the
    value-domain histogram); one float division at the end.

    Scale: the m57/m64 posture — histogram scan, value-domain
    cumulative walk, 1-row report.

    Reference parity: none in reference; public test (Kuiper 1960)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    wkend = (F.expr("weekday(ts)") + 1) >= 6
    e = ev.where(F.col("event_type") == "purchase").select(
        wkend.cast("int").alias("wk"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    h = e.groupBy("cents").agg(
        F.sum("wk").cast("long").alias("c1"),
        (F.count("*") - F.sum("wk")).cast("long").alias("c2"),
    )
    h = h.localCheckpoint()  # value-domain bounded; feeds totals AND walk
    t = h.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    wc = Window.orderBy("cents")  # value-domain bounded frame
    cum = h.select(
        F.sum("c1").over(wc).cast("long").alias("cc1"),
        F.sum("c2").over(wc).cast("long").alias("cc2"),
    )
    # broadcast bound: t is 1 row
    agg = cum.crossJoin(F.broadcast(t)).agg(
        F.max(F.col("cc1") * F.col("n2") - F.col("cc2") * F.col("n1"))
        .cast("long")
        .alias("dplus_num"),
        F.max(F.col("cc2") * F.col("n1") - F.col("cc1") * F.col("n2"))
        .cast("long")
        .alias("dminus_num"),
    )
    j = t.crossJoin(F.broadcast(agg))
    dp = F.greatest(F.col("dplus_num"), F.lit(0))
    dm = F.greatest(F.col("dminus_num"), F.lit(0))
    return j.select(
        "n1",
        "n2",
        dp.alias("dplus_num"),
        dm.alias("dminus_num"),
        ((dp + dm) * 1.0 / (F.col("n1") * 1.0 * F.col("n2"))).alias(
            "kuiper_v"
        ),
    )


_M75_SQL = """
    WITH c AS (
      SELECT CAST(sum(CASE WHEN isodow(ts) >= 6
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN isodow(ts) >= 6
                       AND event_type <> 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(sum(CASE WHEN isodow(ts) < 6
                       AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(sum(CASE WHEN isodow(ts) < 6
                       AND event_type <> 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM events
    )
    SELECT a, b, c, d,
           (a * 1.0 * d) / (b * 1.0 * c) AS odds_ratio,
           (a * 1.0 / (a + b)) / (c * 1.0 / (c + d)) AS relative_risk,
           exp(ln((a * 1.0 * d) / (b * 1.0 * c))
               - 1.959963984540054
                 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) AS or_ci_lo,
           exp(ln((a * 1.0 * d) / (b * 1.0 * c))
               + 1.959963984540054
                 * sqrt(1.0/a + 1.0/b + 1.0/c + 1.0/d)) AS or_ci_hi
    FROM c
"""


@_register("m75_odds_ratio", _M75_SQL)
def m75_odds_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Odds ratio and relative risk of purchasing on a weekend vs a
    weekday, with the Woolf 95% log-normal CI for the OR — the
    epidemiology-style 2x2 report behind m46's z-test (m46 answers
    'is the difference real', this answers 'how BIG is it, with
    uncertainty'): OR = ad/bc, RR = risk ratio, CI = exp(ln OR +-
    z*sqrt(1/a+1/b+1/c+1/d)), z pinned to the exact double
    1.959963984540054 so both engines evaluate the identical
    expression. The 2x2 cells are exact BIGINTs off one scan.

    Scale: one scan to a 1-row frame; the report is pure projection.

    Reference parity: none in reference; public methodology (Woolf
    1955) on the reference's conversion signal."""
    ev = load_table(spark, sf_dir, "events")
    wkend = (F.expr("weekday(ts)") + 1) >= 6
    conv = F.col("event_type") == "purchase"
    cells = ev.agg(
        F.sum((wkend & conv).cast("long")).cast("long").alias("a"),
        F.sum((wkend & ~conv).cast("long")).cast("long").alias("b"),
        F.sum((~wkend & conv).cast("long")).cast("long").alias("c"),
        F.sum((~wkend & ~conv).cast("long")).cast("long").alias("d"),
    )
    a, b, c, d = F.col("a"), F.col("b"), F.col("c"), F.col("d")
    orr = (a * 1.0 * d) / (b * 1.0 * c)
    se = F.sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)
    z = 1.959963984540054
    return cells.select(
        "a",
        "b",
        "c",
        "d",
        orr.alias("odds_ratio"),
        ((a * 1.0 / (a + b)) / (c * 1.0 / (c + d))).alias("relative_risk"),
        F.exp(F.log(orr) - z * se).alias("or_ci_lo"),
        F.exp(F.log(orr) + z * se).alias("or_ci_hi"),
    )


_M76_SQL = f"""
    WITH b AS ({_M10_BUCKET_SQL}),
    g AS (
      SELECT b.b, n_pos + n_neg AS n,
             abs(n_pos * 1000000 - p_micro_sum) AS gap_num
      FROM b
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS nt FROM g)
    SELECT nt AS n,
           CAST(sum(gap_num) AS BIGINT) AS ece_num,
           sum(gap_num) / (nt * 1000000.0) AS ece,
           max(gap_num * 1.0 / (n * 1000000.0)) AS mce
    FROM g CROSS JOIN t GROUP BY nt
"""


@_register("m76_calibration_error", _M76_SQL)
def m76_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected and maximum calibration error of the m04 scorer over
    m11's decile bins — the single-number summary the m11 table feeds
    a model scorecard: per bin the |observed - predicted| gap has the
    EXACT integer numerator |n_pos*1e6 - p_micro_sum| (both sides of
    the gap live in int64 micros by m11's construction), so ECE =
    sum(n_b/N * gap_b) is one exact integer sum over one division, and
    MCE is a max of 11 single-float-op ratios (no accumulation-order
    hazard in a max).

    Scale: rides _m10_bucketed's one scan to 11 rows; the report is a
    1-row projection.

    Reference parity: none in reference; public calibration
    methodology (Naeini et al. 2015), closing m06/m11/m15's
    calibration suite with its standard summary statistic."""
    g = _m10_bucketed(spark, sf_dir).select(
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n"),
        F.abs(F.col("n_pos") * 1000000 - F.col("p_micro_sum"))
        .cast("long")
        .alias("gap_num"),
    )
    t = g.agg(F.sum("n").cast("long").alias("nt"))
    # broadcast bound: t is 1 row
    return (
        g.crossJoin(F.broadcast(t))
        .groupBy("nt")
        .agg(
            F.sum("gap_num").cast("long").alias("ece_num"),
            (F.sum("gap_num") / (F.col("nt") * 1000000.0)).alias("ece"),
            F.max(
                F.col("gap_num") * 1.0 / (F.col("n") * 1000000.0)
            ).alias("mce"),
        )
        .select(F.col("nt").alias("n"), "ece_num", "ece", "mce")
    )


_M77_SQL = f"""
    WITH b AS ({_M10_BUCKET_SQL}),
    g AS (
      SELECT b, n_pos + n_neg AS n, n_pos,
             p_micro_sum / 1000000.0 AS e
      FROM b
    )
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(n) AS BIGINT) AS n,
           sum((n_pos - e) * (n_pos - e) / (e * (1.0 - e / n))) AS hl_chi2
    FROM g
"""


@_register("m77_hosmer_lemeshow", _M77_SQL)
def m77_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer-Lemeshow goodness-of-fit chi-square for the m04 scorer
    over m11's decile bins: sum (O - E)^2 / (E (1 - E/n)) with E the
    summed predicted mass per bin — the classical 'is the logistic
    model calibrated' TEST to m76's ECE effect size. E derives from
    the exact integer micro sums; the 11 bin terms are one shared
    float sequence each, summed over the bounded bin frame (m33's
    discipline).

    Scale: rides the same one-scan 11-row frame as m10/m11/m76.

    Reference parity: none in reference; public test (Hosmer &
    Lemeshow 1980)."""
    g = _m10_bucketed(spark, sf_dir).select(
        (F.col("n_pos") + F.col("n_neg")).cast("long").alias("n"),
        F.col("n_pos").cast("long").alias("n_pos"),
        (F.col("p_micro_sum") / 1000000.0).alias("e"),
    )
    return g.agg(
        F.count("*").cast("long").alias("n_bins"),
        F.sum("n").cast("long").alias("n"),
        F.sum(
            (F.col("n_pos") - F.col("e"))
            * (F.col("n_pos") - F.col("e"))
            / (F.col("e") * (1.0 - F.col("e") / F.col("n")))
        ).alias("hl_chi2"),
    )


# AD cell discipline: each cell's term is ONE shared float sequence over
# exact BIGINTs (doubled mid-counts keep H2/M2 integer under ties),
# micro-rounded once, so both inner sums are order-free integers.
_M78_SQL = """
    WITH e AS (
      SELECT CAST(isodow(ts) >= 6 AS INT) AS wk,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    h AS (
      SELECT cents, CAST(sum(wk) AS BIGINT) AS c1,
             CAST(count(*) - sum(wk) AS BIGINT) AS c2
      FROM e GROUP BY 1
    ),
    t AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2,
             CAST(sum(c1 + c2) AS BIGINT) AS n
      FROM h
    ),
    cum AS (
      SELECT c1, c2, c1 + c2 AS ch,
             CAST(2 * (sum(c1) OVER w) - c1 AS BIGINT) AS m2a,
             CAST(2 * (sum(c2) OVER w) - c2 AS BIGINT) AS m2b,
             CAST(2 * (sum(c1 + c2) OVER w) - (c1 + c2) AS BIGINT) AS h2
      FROM h
      WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)
    ),
    cells AS (
      SELECT
        CAST(round(ch * (n * 1.0 * m2a - n1 * 1.0 * h2)
                      * (n * 1.0 * m2a - n1 * 1.0 * h2)
                   / (n * 1.0 * (h2 * 1.0 * (2 * n - h2) - n * 1.0 * ch))
                   * 1000000.0, 0) AS BIGINT) AS t1_micro,
        CAST(round(ch * (n * 1.0 * m2b - n2 * 1.0 * h2)
                      * (n * 1.0 * m2b - n2 * 1.0 * h2)
                   / (n * 1.0 * (h2 * 1.0 * (2 * n - h2) - n * 1.0 * ch))
                   * 1000000.0, 0) AS BIGINT) AS t2_micro
      FROM cum CROSS JOIN t WHERE ch < n
    ),
    s AS (
      SELECT CAST(sum(t1_micro) AS BIGINT) AS s1_micro,
             CAST(sum(t2_micro) AS BIGINT) AS s2_micro
      FROM cells
    )
    SELECT n1, n2, s1_micro, s2_micro,
           (n - 1.0) / n * (s1_micro * 1.0 / n1 + s2_micro * 1.0 / n2)
             / 1000000.0 AS a2
    FROM t CROSS JOIN s
"""


@_register("m78_anderson_darling", _M78_SQL)
def m78_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson-Darling A^2 (Scholz & Stephens 1987, k=2,
    ties-adjusted midrank form) between weekend and weekday purchase
    amounts — the tail-SENSITIVE member completing the two-sample
    suite (m22 KS: sup; m74 Kuiper: two sups; m64 EMD: mass; m57 U:
    location): AD weights CDF gaps by 1/(F(1-F)), so divergence in the
    tails counts most — exactly where fraud lives. Doubled mid-counts
    (H2 = 2*cum - h, M2 likewise) keep every input integer under
    ties; each cell's term is one shared float sequence micro-rounded
    once, so both per-sample inner sums are order-free integers and
    A^2 is three float ops off them.

    Scale: the m57/m64/m74 posture — one scan to the value-domain
    histogram, one cumulative walk, 1-row report.

    Reference parity: none in reference; public test (Anderson &
    Darling 1952; Scholz & Stephens 1987)."""
    return anderson_darling_from_cells(
        WEEKPART_PURCHASE_HIST.reduce(
            events_projection(spark, sf_dir, WEEKPART_PURCHASE_HIST.cols)
        )
    )


def anderson_darling_from_cells(h: DataFrame) -> DataFrame:
    """(cents, c1, c2) two-sided value-histogram partials -> m78's
    one-row report. Cell counts merge by keyed sum; shared by the s78
    streaming twin."""
    from pyspark.sql.window import Window

    h = h.groupBy("cents").agg(
        F.sum("c1").cast("long").alias("c1"),
        F.sum("c2").cast("long").alias("c2"),
    )
    h = h.localCheckpoint()  # value-domain bounded; feeds totals AND walk
    t = h.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") + F.col("c2")).cast("long").alias("n"),
    )
    w = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    cum = h.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("ch"),
        (2 * F.sum("c1").over(w) - F.col("c1")).cast("long").alias("m2a"),
        (2 * F.sum("c2").over(w) - F.col("c2")).cast("long").alias("m2b"),
        (2 * F.sum(F.col("c1") + F.col("c2")).over(w)
         - (F.col("c1") + F.col("c2"))).cast("long").alias("h2"),
    )
    # broadcast bound: t is 1 row
    j = cum.crossJoin(F.broadcast(t)).where(F.col("ch") < F.col("n"))
    n, n1, n2 = F.col("n"), F.col("n1"), F.col("n2")
    den = n * 1.0 * (F.col("h2") * 1.0 * (2 * n - F.col("h2")) - n * 1.0 * F.col("ch"))
    da = n * 1.0 * F.col("m2a") - n1 * 1.0 * F.col("h2")
    db = n * 1.0 * F.col("m2b") - n2 * 1.0 * F.col("h2")
    cells = j.select(
        F.round(F.col("ch") * da * da / den * 1e6, 0).cast("long").alias("t1_micro"),
        F.round(F.col("ch") * db * db / den * 1e6, 0).cast("long").alias("t2_micro"),
    )
    s = cells.agg(
        F.sum("t1_micro").cast("long").alias("s1_micro"),
        F.sum("t2_micro").cast("long").alias("s2_micro"),
    )
    # broadcast bound: s is 1 row
    out = t.crossJoin(F.broadcast(s))
    return out.select(
        "n1",
        "n2",
        "s1_micro",
        "s2_micro",
        (
            (n - 1.0) / n
            * (F.col("s1_micro") * 1.0 / n1 + F.col("s2_micro") * 1.0 / n2)
            / 1e6
        ).alias("a2"),
    )


_M79_SQL = """
    WITH g AS (
      SELECT CAST(isodow(ts) AS BIGINT) AS dow,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x
      FROM events GROUP BY 1
    )
    SELECT dow, n, x, x * 1.0 / n AS phat,
           ((x * 1.0 / n) + 1.959963984540054 * 1.959963984540054 / (2.0 * n)
            - 1.959963984540054
              * sqrt((x * 1.0 / n) * (1.0 - x * 1.0 / n) / n
                     + 1.959963984540054 * 1.959963984540054
                       / (4.0 * n * n)))
             / (1.0 + 1.959963984540054 * 1.959963984540054 / n) AS wilson_lo,
           ((x * 1.0 / n) + 1.959963984540054 * 1.959963984540054 / (2.0 * n)
            + 1.959963984540054
              * sqrt((x * 1.0 / n) * (1.0 - x * 1.0 / n) / n
                     + 1.959963984540054 * 1.959963984540054
                       / (4.0 * n * n)))
             / (1.0 + 1.959963984540054 * 1.959963984540054 / n) AS wilson_hi
    FROM g
"""


@_register("m79_wilson_intervals", _M79_SQL)
def m79_wilson_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score intervals for the per-weekday purchase rate —
    the interval the dashboard should draw around conversion tiles
    instead of the Wald interval (Wilson never leaves [0,1] and stays
    honest at small n; Brown, Cai & DasGupta 2001's recommendation).
    Exact integer (n, x) per dow; the interval is one shared float
    sequence with z pinned to its exact double (the m75 discipline).

    Scale: one scan to 7 rows; pure projection after.

    Reference parity: none in reference; public interval (Wilson
    1927), the uncertainty layer under q2/q5's rate tiles."""
    return wilson_from_dow_counts(
        M73.reduce(events_projection(spark, sf_dir, M73.cols))
    )


def wilson_from_dow_counts(g: DataFrame) -> DataFrame:
    """(w, ni, xi) dow count partials -> m79's report: counts merge by
    keyed sum, then the Wilson interval projection. Shared by the s85
    streaming twin."""
    g = g.groupBy("w").agg(
        F.sum("ni").cast("long").alias("n"),
        F.sum("xi").cast("long").alias("x"),
    )
    z = 1.959963984540054
    n, x = F.col("n"), F.col("x")
    phat = x * 1.0 / n
    half = z * F.sqrt(phat * (1.0 - phat) / n + z * z / (4.0 * n * n))
    denom = 1.0 + z * z / n
    return g.select(
        F.col("w").alias("dow"),
        "n",
        "x",
        phat.alias("phat"),
        ((phat + z * z / (2.0 * n) - half) / denom).alias("wilson_lo"),
        ((phat + z * z / (2.0 * n) + half) / denom).alias("wilson_hi"),
    )


_M80_SQL = """
    WITH daily AS (
      SELECT CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400 AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    span AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
    cal AS (
      SELECT s.d, coalesce(daily.x, 0) AS x,
             CAST((s.d + 3) // 7 AS BIGINT) AS wk,
             CAST((s.d + 3) % 7 + 1 AS INT) AS dow
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM span) s
      LEFT JOIN daily ON daily.d = s.d
    ),
    full_weeks AS (
      SELECT wk FROM cal GROUP BY wk HAVING count(*) = 7
    ),
    b AS (SELECT cal.* FROM cal JOIN full_weeks USING (wk)),
    cells AS (
      SELECT wk, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
    ),
    cum AS (
      SELECT wk, x, c,
             CAST(sum(c) OVER (PARTITION BY wk ORDER BY x
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) - c AS BIGINT) AS before_
      FROM cells
    ),
    ranked AS (
      SELECT b.wk, b.dow,
             CAST(2 * cum.before_ + cum.c + 1 AS BIGINT) AS r2
      FROM b JOIN cum ON cum.wk = b.wk AND cum.x = b.x
    ),
    ties AS (
      SELECT CAST(sum(c * c * c - c) AS BIGINT) AS tsum FROM cells
    ),
    rj AS (
      SELECT dow, CAST(sum(r2) AS BIGINT) AS rj2 FROM ranked GROUP BY 1
    ),
    stat AS (
      SELECT CAST((SELECT count(*) FROM full_weeks) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             CAST(sum(rj2 * rj2) AS BIGINT) AS srj2
      FROM rj
    )
    SELECT n, k,
           (3.0 * srj2 - 3.0 * n * n * k * (k + 1) * (k + 1))
             / (n * k * (k + 1.0)) AS q,
           (3.0 * srj2 - 3.0 * n * n * k * (k + 1) * (k + 1))
             / (n * k * (k + 1.0))
             / (1.0 - tsum / (n * 1.0 * k * (k * 1.0 * k - 1))) AS q_tie_corrected
    FROM stat CROSS JOIN ties
"""


@_register("m80_friedman_test", _M80_SQL)
def m80_friedman_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test for a day-of-week effect on revenue with complete
    calendar WEEKS as blocks — the repeated-measures nonparametric
    ANOVA that m58's Kruskal-Wallis is NOT (KW pools all days; Friedman
    ranks WITHIN each week, so week-to-week level shifts cancel):
    doubled midranks within each 7-day block keep every rank sum an
    exact integer (Q's numerator is 3*sum(Rj2^2) - 3n^2k(k+1)^2, pure
    BIGINT), partial first/last weeks drop (blocks must be complete),
    and the tie correction divides by 1 - sum(t^3-t)/(nk(k^2-1)).

    Scale: day-bounded frames end-to-end after one corpus scan; the
    within-week rank window partitions by week over 7-row groups.

    Reference parity: none in reference; public test (Friedman 1937)
    on the reference's revenue series."""
    return friedman_from_daily(
        DAILY_CENTS.reduce(events_projection(spark, sf_dir, DAILY_CENTS.cols))
    )


def friedman_from_daily(daily: "DataFrame") -> "DataFrame":
    """(d, x) daily cents partials -> m80's one-row report. Daily
    totals merge by keyed sum; shared by the s82 streaming twin."""
    from pyspark.sql.window import Window

    daily = daily.groupBy("d").agg(F.sum("x").cast("long").alias("x"))
    daily = daily.localCheckpoint()
    span = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        span.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("d"))
        .join(daily, "d", "left")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            ((F.col("d") + 3) / 7).cast("long").alias("wk"),
            ((F.col("d") + 3) % 7 + 1).cast("int").alias("dow"),
        )
    )
    cal = cal.localCheckpoint()
    full_weeks = cal.groupBy("wk").agg(F.count("*").alias("nd")).where(
        F.col("nd") == 7
    ).select("wk")
    # broadcast bound: full_weeks is week-domain rows
    b = cal.join(F.broadcast(full_weeks), "wk")
    b = b.localCheckpoint()  # feeds cells AND the rank join
    cells = b.groupBy("wk", "x").agg(F.count("*").cast("long").alias("c"))
    ww = Window.partitionBy("wk").orderBy("x")
    cum = cells.select(
        "wk", "x", "c", (F.sum("c").over(ww) - F.col("c")).alias("before_")
    )
    ranked = b.join(cum, ["wk", "x"]).select(
        "wk", "dow", (2 * F.col("before_") + F.col("c") + 1).cast("long").alias("r2")
    )
    ties = cells.agg(
        F.sum(F.col("c") * F.col("c") * F.col("c") - F.col("c"))
        .cast("long")
        .alias("tsum")
    )
    rj = ranked.groupBy("dow").agg(F.sum("r2").cast("long").alias("rj2"))
    nw = full_weeks.agg(F.count("*").cast("long").alias("n"))
    stat = (
        rj.crossJoin(F.broadcast(nw))
        .agg(
            F.first("n").alias("n"),
            F.count("*").cast("long").alias("k"),
            F.sum(F.col("rj2") * F.col("rj2")).cast("long").alias("srj2"),
        )
    )
    n, k = F.col("n"), F.col("k")
    q = (3.0 * F.col("srj2") - 3.0 * n * n * k * (k + 1) * (k + 1)) / (
        n * k * (k + 1.0)
    )
    corr = 1.0 - F.col("tsum") / (n * 1.0 * k * (k * 1.0 * k - 1))
    # broadcast bound: ties is 1 row
    return stat.crossJoin(F.broadcast(ties)).select(
        "n", "k", q.alias("q"), (q / corr).alias("q_tie_corrected")
    )


_M81_SQL = """
    WITH bounds AS (
      SELECT min(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400) AS lo,
             max(CAST(date_part('epoch', date_trunc('second', ts)) AS BIGINT)
               // 86400) AS hi
      FROM events
    ),
    wk_ok AS (
      SELECT CAST((d + 3) // 7 AS BIGINT) AS wk
      FROM (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds)
      GROUP BY 1 HAVING count(*) = 7
    ),
    x AS (
      SELECT DISTINCT user_id,
             CAST((CAST(date_part('epoch', date_trunc('second', ts))
                        AS BIGINT) // 86400 + 3) // 7 AS BIGINT) AS wk
      FROM events WHERE event_type = 'purchase'
    ),
    xk AS (SELECT x.user_id, x.wk FROM x JOIN wk_ok USING (wk)),
    ri AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS r FROM xk GROUP BY 1
    ),
    cj AS (SELECT wk, CAST(count(*) AS BIGINT) AS c FROM xk GROUP BY 1),
    t AS (
      SELECT CAST((SELECT count(*) FROM wk_ok) AS BIGINT) AS k,
             CAST((SELECT count(*) FROM ri) AS BIGINT) AS n_blocks,
             CAST((SELECT sum(r) FROM ri) AS BIGINT) AS nt,
             CAST((SELECT sum(r * r) FROM ri) AS BIGINT) AS sr2,
             CAST((SELECT sum(c * c) FROM cj) AS BIGINT) AS sc2
      FROM (SELECT 1)
    )
    SELECT k, n_blocks, nt,
           (k - 1.0) * (k * sc2 - nt * 1.0 * nt) / (k * 1.0 * nt - sr2) AS q
    FROM t
"""


@_register("m81_cochran_q", _M81_SQL)
def m81_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for 'did each user purchase in week w' across the
    complete calendar weeks — the k-treatment extension of m32's
    McNemar (binary repeated measures: is purchase propensity stable
    week over week for the SAME users?): Q = (k-1)(k*sum Cj^2 - N^2) /
    (k*N - sum Ri^2) over exact integer row/column totals of the
    user x week incidence matrix; users with no purchase in any
    complete week drop (all-zero blocks carry no information and
    cancel from both sums).

    Scale: the incidence matrix never materializes as a grid — one
    distinct (user, week) shuffle, two keyed aggs, a 1-row report.

    Reference parity: none in reference; public test (Cochran 1950)
    on the reference's conversion panel."""
    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    d = (t / 86400).cast("long")
    bounds = ev.agg(F.min(d).alias("lo"), F.max(d).alias("hi"))
    wk_ok = (
        bounds.select(F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("dd"))
        .groupBy(((F.col("dd") + 3) / 7).cast("long").alias("wk"))
        .agg(F.count("*").alias("nd"))
        .where(F.col("nd") == 7)
        .select("wk")
    )
    x = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", ((d + 3) / 7).cast("long").alias("wk"))
        .distinct()
    )
    # broadcast bound: wk_ok is week-domain rows
    xk = x.join(F.broadcast(wk_ok), "wk")
    xk = xk.localCheckpoint()  # feeds row AND column totals
    ri = xk.groupBy("user_id").agg(F.count("*").cast("long").alias("r"))
    cj = xk.groupBy("wk").agg(F.count("*").cast("long").alias("c"))
    kf = wk_ok.agg(F.count("*").cast("long").alias("k"))
    rs = ri.agg(
        F.count("*").cast("long").alias("n_blocks"),
        F.sum("r").cast("long").alias("nt"),
        F.sum(F.col("r") * F.col("r")).cast("long").alias("sr2"),
    )
    cs = cj.agg(F.sum(F.col("c") * F.col("c")).cast("long").alias("sc2"))
    # broadcast bounds: all three stat frames are 1 row
    tj = kf.crossJoin(F.broadcast(rs)).crossJoin(F.broadcast(cs))
    k, nt = F.col("k"), F.col("nt")
    return tj.select(
        "k",
        "n_blocks",
        "nt",
        (
            (k - 1.0) * (k * F.col("sc2") - nt * 1.0 * nt)
            / (k * 1.0 * nt - F.col("sr2"))
        ).alias("q"),
    )


_M82_SQL = """
    WITH e AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    gr AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             CAST(sum(cents * cents) AS BIGINT) AS s2,
             CAST(min(cents) AS BIGINT) AS mn,
             CAST(max(cents) AS BIGINT) AS mx
      FROM e GROUP BY 1
    )
    SELECT g AS event_type, n, mn AS min_cents, mx AS max_cents,
           greatest(mx * 1.0 * n - s, s - mn * 1.0 * n)
             / (n * sqrt((s2 - s * 1.0 * s / n) / (n - 1.0))) AS grubbs_g,
           (mx - mn) / sqrt((s2 - s * 1.0 * s / n) / (n - 1.0))
             AS studentized_range
    FROM gr WHERE n > 1
"""


M82 = EventsRule(
    lambda t: [F.col("event_type").alias("g"), _cents()],
    lambda e: e.groupBy("g").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("s2"),
        F.min("cents").cast("long").alias("mn"),
        F.max("cents").cast("long").alias("mx"),
    ),
)


@_register("m82_grubbs_extremes", _M82_SQL)
def m82_grubbs_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' statistic (max |x - mean| / sd) and the studentized
    range (range / sd) per event type — the single-number extreme-
    value screens behind m51's Tukey fences: G says how many sds the
    worst point sits from the mean, q says how wide the whole
    distribution is in sd units. Both collapse to exact integer
    power sums + min/max (|max*n - s| vs |s - min*n| picks the worse
    tail without materializing deviations): one scan, one float
    sequence per type.

    Scale: one map-side-combinable agg to |types| rows.

    Reference parity: none in reference; public statistics (Grubbs
    1950; Student 1927) on the reference's amount field."""
    return grubbs_from_power_extremes(
        M82.reduce(events_projection(spark, sf_dir, M82.cols))
    )


def grubbs_from_power_extremes(gr: DataFrame) -> DataFrame:
    """(g, n, s, s2, mn, mx) partials -> m82's per-type report.
    Counts/sums merge by keyed sum, extremes by keyed min/max — the
    textbook mergeable statistic pack; shared by the s86 twin."""
    gr = gr.groupBy("g").agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("s").cast("long").alias("s"),
        F.sum("s2").cast("long").alias("s2"),
        F.min("mn").cast("long").alias("mn"),
        F.max("mx").cast("long").alias("mx"),
    )
    n, s, s2 = F.col("n"), F.col("s"), F.col("s2")
    sd = F.sqrt((s2 - s * 1.0 * s / n) / (n - 1.0))
    return gr.where(n > 1).select(
        F.col("g").alias("event_type"),
        "n",
        F.col("mn").alias("min_cents"),
        F.col("mx").alias("max_cents"),
        (
            F.greatest(F.col("mx") * 1.0 * n - s, s - F.col("mn") * 1.0 * n)
            / (n * sd)
        ).alias("grubbs_g"),
        ((F.col("mx") - F.col("mn")) / sd).alias("studentized_range"),
    )


_M83_SQL = """
    WITH e AS (
      SELECT event_type AS g, CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    obs AS (
      SELECT g, cents, CAST(count(*) AS BIGINT) AS c FROM e GROUP BY 1, 2
    ),
    pooled AS (
      SELECT cents, CAST(sum(c) AS BIGINT) AS ch,
             CAST(2 * (sum(sum(c)) OVER (ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  - sum(c) AS BIGINT) AS h2
      FROM obs GROUP BY cents
    ),
    gt AS (SELECT g, CAST(sum(c) AS BIGINT) AS ng FROM obs GROUP BY 1),
    t AS (
      SELECT CAST(sum(ng) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k
      FROM gt
    ),
    grid AS (
      SELECT gt.g, gt.ng, pooled.cents, pooled.ch, pooled.h2,
             coalesce(obs.c, 0) AS cg
      FROM gt CROSS JOIN pooled
      LEFT JOIN obs ON obs.g = gt.g AND obs.cents = pooled.cents
    ),
    walk AS (
      SELECT g, ng, ch, h2,
             CAST(2 * (sum(cg) OVER (PARTITION BY g ORDER BY cents
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                  - cg AS BIGINT) AS m2
      FROM grid
    ),
    cells AS (
      SELECT g, ng,
             CAST(round(ch * (n * 1.0 * m2 - ng * 1.0 * h2)
                           * (n * 1.0 * m2 - ng * 1.0 * h2)
                        / (n * 1.0 * (h2 * 1.0 * (2 * n - h2)
                                      - n * 1.0 * ch))
                        * 1000000.0, 0) AS BIGINT) AS t_micro
      FROM walk CROSS JOIN t WHERE ch < n
    ),
    si AS (
      SELECT g, max(ng) AS ng, CAST(sum(t_micro) AS BIGINT) AS s_micro
      FROM cells GROUP BY 1
    )
    SELECT n, k,
           (n - 1.0) / n * sum(s_micro * 1.0 / ng) / 1000000.0 AS a2kn
    FROM si CROSS JOIN t GROUP BY n, k
"""


@_register("m83_ksample_anderson_darling", _M83_SQL)
def m83_ksample_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-sample Anderson-Darling across ALL five event types (Scholz &
    Stephens 1987, ties-adjusted midrank form) — does ANY event type
    draw its amounts from a different distribution, weighted toward
    the tails (the k-group sibling of m58's Kruskal-Wallis the way m78
    pairs with m57): per (pooled cell, group) the term reuses m78's
    doubled-midcount float sequence micro-rounded once, so all k inner
    sums are order-free integers. The per-group cumulative M2 needs
    every group's count AT EVERY pooled value — the grid scaffold is
    |distinct values| x k (value-domain bounded), built with one left
    join, never a row-level sort.

    Scale: one scan to the (g, cents) histogram; the grid walk
    partitions by group over the value domain; the report is 1 row.

    Reference parity: none in reference; public test (Scholz &
    Stephens 1987)."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("g"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    obs = e.groupBy("g", "cents").agg(F.count("*").cast("long").alias("c"))
    obs = obs.localCheckpoint()  # feeds pooled, group totals AND the grid
    wc = Window.orderBy("cents")
    pooled = (
        obs.groupBy("cents")
        .agg(F.sum("c").cast("long").alias("ch"))
        .select(
            "cents",
            "ch",
            (2 * F.sum("ch").over(wc) - F.col("ch")).cast("long").alias("h2"),
        )
    )
    gt = obs.groupBy("g").agg(F.sum("c").cast("long").alias("ng"))
    t = gt.agg(
        F.sum("ng").cast("long").alias("n"), F.count("*").cast("long").alias("k")
    )
    # grid scaffold: |values| x k rows (bounded); broadcast bound: gt is k rows
    grid = (
        F.broadcast(gt)
        .crossJoin(pooled)
        .join(obs, ["g", "cents"], "left")
        .select(
            "g", "ng", "cents", "ch", "h2",
            F.coalesce("c", F.lit(0)).alias("cg"),
        )
    )
    wg = Window.partitionBy("g").orderBy("cents")
    walk = grid.select(
        "g",
        "ng",
        "ch",
        "h2",
        (2 * F.sum("cg").over(wg) - F.col("cg")).cast("long").alias("m2"),
    )
    # broadcast bound: t is 1 row
    j = walk.crossJoin(F.broadcast(t)).where(F.col("ch") < F.col("n"))
    n = F.col("n")
    d = n * 1.0 * F.col("m2") - F.col("ng") * 1.0 * F.col("h2")
    den = n * 1.0 * (
        F.col("h2") * 1.0 * (2 * n - F.col("h2")) - n * 1.0 * F.col("ch")
    )
    cells = j.select(
        "g",
        "ng",
        F.round(F.col("ch") * d * d / den * 1e6, 0).cast("long").alias("t_micro"),
    )
    si = cells.groupBy("g").agg(
        F.max("ng").alias("ng"), F.sum("t_micro").cast("long").alias("s_micro")
    )
    return (
        si.crossJoin(F.broadcast(t))
        .groupBy("n", "k")
        .agg(
            (
                (F.col("n") - 1.0)
                / F.col("n")
                * F.sum(F.col("s_micro") * 1.0 / F.col("ng"))
                / 1e6
            ).alias("a2kn")
        )
        .select("n", "k", "a2kn")
    )
