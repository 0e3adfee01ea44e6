"""Oracle-checked STREAMING queries: the reference's topology executed as
genuine Structured Streaming micro-batch runs (streaming/replay.py), with
the final snapshot compared against batch ANSI SQL by the driver.

s01: R3-R8 + Q1-style aggregation — wire JSON parse -> null-drop -> strict
     fraud threshold -> streaming groupBy totals, state accumulating
     across 4 micro-batches (complete output mode).
s02: streaming tumbling-window histogram (Q4's streaming form,
     screenshots/AmountHistogram.jpg) — windowed agg state across batches.
s06-s08: the PRODUCTION (bounded-state) shapes — watermarked append-mode
     window agg, watermarked stream-stream join, streaming session
     windows — over an event-time-ORDERED replay with a sentinel record
     that flushes final state (streaming/replay.materialize_ordered_wire_dir).
s09: foreachBatch idempotent sink (deterministic per-batch dynamic
     partition overwrite), run twice to prove exactly-once under replay.

Sink-merge twins (s26-s87, beside the stateful replay_wire_stream
twins s24/s25/s29 and the kstream DSL twins): one replay path.
`_events_proj_wire` serializes a projection of one source table
(`events` unless named) to a JSON wire dir, cached per session by the
projection expression, so twins reading the same projection share one
dir (s26/s31/s37/s44 share the scoring wire). Filtered or joined wires
(s28/s33's post-split live half, s42, s47, s55) are built once per
session through `_session_wire` too. `_partial_replay` replays the dir
as 2 micro-batches, parses each with the twin's schema, drops rows
whose FIRST schema field is null, reduces the batch with the twin's
`reduce_fn` to bounded associative partials and lands them as one file
per batch through `replay_foreach_batch` (streaming/replay.py), the
one foreachBatch lifecycle: each batch overwrites its own `_batch_id`
partition (dynamic overwrite, idempotent), and the landed frame feeds
the batch query's shared tail.

Twins of a mergeable rule (s48, s49, s51-s54, s56-s62, s64-s78, s82,
s84-s87) write no query of their own. Their batch query's
`EventsRule(cols, reduce, table)` (plans/registry.py, defined beside
the tail in its plan module) is the one definition: the batch query
runs `tail(rule.reduce(events_projection(.., rule.cols, rule.table)))`;
the twin runs `tail(_replay_events(.., rule, prefix))`, which replays
the projection's wire, parses it with the projection's own schema and
reduces each micro-batch with the same `rule.reduce`. Two pairs stay
written twice, because no one-table rule fits them: s55's wire is an
orders x customer join (r111's), and s63 parses `embeddings.embedding`
(array<float>) as ARRAY<DOUBLE>, the parse its raw-double oracle
`_PCA_RAW_SQL` was made green against, while its batch row l102
quantizes its output and keeps its moment partials as two frames.

Twins whose per-batch work does not fit the parse/filter/coalesce
contract pass their own per-batch function to `replay_foreach_batch`:
  s23, s27, s36: request-atomic services probing static index tables;
       each batch lands one answer per request, which no key domain
       bounds, so a one-file-per-batch write is not safe for them.
  s34, s35: no null filter — r90's audit and r91's n_nulls count the
       rows a first-field filter would drop.
  s40: its (50-doc bucket, token) partial grows with the documents in
       the batch, so no key domain bounds the one-file-per-batch write.
  s41: folds per-batch deltas in `_batch_id` order.
  s45: stitches per-(user, batch) edge rows by `_batch_id` over an
       event-time-ordered wire.
Twins that keep a hand-rolled stream, because the lifecycle itself is
what they exercise:
  s09: runs twice into one sink (exactly-once under full replay).
  s14: a stateful append-mode watermarked window feeds the sink.
  s21: two queries on one checkpoint (stop/restart recovery).
  s43: lands two frames per batch (inner counts and boundary rows).

Every snapshot equals its batch formulation by construction (same column
transformations from operators/detect), and the driver proves it against
DuckDB.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.detect import EVENTS_FRAUD_THRESHOLD, events_as_transactions
from ..sessioncache import session_cached
from ..sources.tables import event_seconds, events_projection, load_table
from ..streaming.replay import (
    materialize_ordered_wire_dir,
    materialize_wire_dir,
    replay_foreach_batch,
    replay_wire_stream,
    temp_dir,
)
from ..streaming.topology import fraud_topology
from .advanced import ORACLES as _AD
from .analytics import Q4_SQL, Q6_SQL
from .llmops import _PCA_RAW_SQL, ORACLES as _LL
from .registry import registrar
from .relational3 import ORACLES as _R3
from .timeseries import ORACLES as _TS

QUERIES, ORACLES, _register = registrar()

_FRAUD_SQL = (
    "SELECT printf('user_%03d', user_id) AS userId, value AS amount, "
    "date_trunc('second', ts) AS event_time FROM events WHERE value > 100.0"
)


def _events_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events in the reference's JSON wire format (TransactionProducer.java:27):
    {"userId": ..., "amount": ..., "timestamp": epoch-seconds}."""
    tx = events_as_transactions(load_table(spark, sf_dir, "events"))
    return tx.select(
        F.to_json(
            F.struct(
                F.col("userId"),
                F.col("amount"),
                F.unix_timestamp(F.col("event_time").cast("timestamp")).alias(
                    "timestamp"
                ),
            )
        ).alias("value")
    )


# The serialized wire directory is identical for every streaming query at a
# given sf_dir — write it once per session and replay from the cache
# (harness plumbing, not query work: each query still runs its own full
# micro-batch streaming execution over the files).
_WIRE_DIRS: dict[tuple, str] = {}


def _session_wire(
    spark: SparkSession, tag: str, sf_dir: str, build: Callable[[], str], *key
) -> str:
    """Get-or-build the `tag` wire dir for (session, sf_dir, *key); dirs
    of dead sessions are evicted (sessioncache.session_cached)."""
    app = spark.sparkContext.applicationId
    return session_cached(_WIRE_DIRS, (app, tag, sf_dir, *key), build)


def _wire_dir(spark: SparkSession, sf_dir: str) -> str:
    return _session_wire(
        spark,
        "plain",
        sf_dir,
        lambda: materialize_wire_dir(_events_wire(spark, sf_dir)),
    )


def _doubled_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """Every wire record twice, spread across the replay files by the
    repartition — so duplicates land in DIFFERENT micro-batches and the
    streaming dedup must use cross-batch state, not per-batch distinct."""

    def build() -> str:
        w = _events_wire(spark, sf_dir)
        return materialize_wire_dir(w.union(w))

    return _session_wire(spark, "doubled", sf_dir, build)


# ---------------------------------------------------------------------------
# The sink-merge replay path (see the module docstring).
# ---------------------------------------------------------------------------


def _events_proj_wire(
    spark: SparkSession, sf_dir: str, cols, table: str = "events"
) -> str:
    """JSON wire dir for a projection of `table` (replay input).

    Session-cached by the PROJECTION EXPRESSION (VERDICT r9 task 8):
    twins reading the same projection — e.g. the (d, cents) daily-cents
    wire feeds three queries — share one serialized dir instead of each
    re-materializing it, the same once-per-session policy as the plain
    `_wire_dir` family. The struct Column's repr is a deterministic
    render of the resolved expression tree, so identical projections
    key identically and different ones never collide; a table other
    than `events` adds its name to the key."""
    src = load_table(spark, sf_dir, table)
    struct = F.struct(*cols(event_seconds()))
    # An events key stays (app, "proj", sf_dir, str(struct)): perfbench's
    # batch_mix set-up pre-builds s50's wire under it.
    key = (str(struct),) if table == "events" else (str(struct), table)
    return _session_wire(
        spark,
        "proj",
        sf_dir,
        lambda: materialize_wire_dir(src.select(F.to_json(struct).alias("value"))),
        *key,
    )


def _partial_replay(spark, wire_dir, schema, reduce_fn, prefix):
    """Run the standard partial-merge replay: parse wire JSON, drop rows
    whose first schema field is null, reduce each micro-batch with
    reduce_fn, land it through replay_foreach_batch, return the merged
    parquet frame."""

    def land(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(F.from_json("value", schema).alias("r")).select(
            "r.*"
        )
        b = b.where(b.columns[0] + " IS NOT NULL")
        # coalesce(1): every reduce_fn lands BOUNDED keyed partials
        # (that is the twins' merge contract), so one output file
        # per batch — measured ~0.4 s/query off the replay floor
        # vs 32 shuffle-partition files of a few rows each.
        return reduce_fn(b).coalesce(1)

    # 2 micro-batches: associative partials (s31's rationale)
    return replay_foreach_batch(spark, wire_dir, land, prefix, 4).drop(
        "_batch_id"
    )


def _replay_events(spark, sf_dir, rule, prefix):
    """Replay `rule`'s table projection through `_partial_replay` with
    its `reduce`, parsing the wire with the projection's own schema."""
    schema = events_projection(spark, sf_dir, rule.cols, rule.table).schema
    wire = _events_proj_wire(spark, sf_dir, rule.cols, rule.table)
    return _partial_replay(spark, wire, schema, rule.reduce, prefix)


@_register(
    "s01_stream_fraud_totals",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS total_amount, count(*) AS n_tx
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s01_stream_fraud_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-user fraud totals: 4 micro-batches through the R4-R8
    topology, stateful groupBy in complete mode. The snapshot must equal
    the one-shot batch GROUP BY — the driver's oracle proves batch-stream
    parity on real streaming execution, not a batch stand-in."""

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return fraud.groupBy("userId").agg(
            F.round(F.sum("amount"), 2).alias("total_amount"),
            F.count("*").alias("n_tx"),
        )

    return replay_wire_stream(spark, _wire_dir(spark, sf_dir), xform, name="s01_mem")


@_register(
    "s03_stream_stateful_totals",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS total_amount, count(*) AS n_tx
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s03_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState, update mode):
    per-user running totals whose state survives across micro-batches
    (streaming/stateful.py). The update-mode sink records every per-batch
    emission; totals grow monotonically (amounts > 0), so max() per user
    recovers the final state — which must equal the batch GROUP BY."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..streaming.stateful import running_user_totals

        return running_user_totals(
            fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        )

    snap = replay_wire_stream(
        spark, _wire_dir(spark, sf_dir), xform, output_mode="update", name="s03_mem"
    )
    return snap.groupBy("userId").agg(
        F.round(F.max("total_amount"), 2).alias("total_amount"),
        F.max("n_tx").alias("n_tx"),
    )


@_register(
    "s04_stream_dedup",
    """
    SELECT userId, round(sum(amount), 2) AS total_amount, count(*) AS n_tx
    FROM (
      SELECT DISTINCT printf('user_%03d', user_id) AS userId, value AS amount,
             date_trunc('second', ts) AS et
      FROM events WHERE value > 100.0
    )
    GROUP BY userId
    """,
)
def s04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming deduplication: the wire stream carries every record TWICE
    (split across different micro-batches), and dropDuplicates' global
    dedup state must cancel them before the totals aggregate. The snapshot
    equals batch DISTINCT + GROUP BY — duplicates in earlier batches
    suppress re-arrivals in later ones.

    Scale: dedup state is one entry per distinct key in the state store;
    production bounds it with withWatermark + dropDuplicatesWithinWatermark
    (pinned in tests/test_streaming.py); unbounded here so the snapshot is
    exactly the batch DISTINCT."""

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return (
            fraud.dropDuplicates(["userId", "amount", "timestamp"])
            .groupBy("userId")
            .agg(
                F.round(F.sum("amount"), 2).alias("total_amount"),
                F.count("*").alias("n_tx"),
            )
        )

    return replay_wire_stream(
        spark, _doubled_wire_dir(spark, sf_dir), xform, name="s04_mem"
    )


@_register(
    "s05_stream_stream_join",
    """
    SELECT printf('user_%03d', a.user_id) AS userId,
           a.value AS spike_amount, date_trunc('second', a.ts) AS spike_time,
           b.value AS follow_amount, date_trunc('second', b.ts) AS follow_time
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.value > 300.0
     AND date_trunc('second', b.ts) > date_trunc('second', a.ts)
     AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 6 HOUR
    """,
)
def s05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: value spikes (amount > 300) joined against
    the SAME wire replayed as a second independent stream, matching each
    spike with that user's activity in the following 6 hours. The two file
    sources batch independently, so matches genuinely form across
    asynchronous micro-batches via join state.

    No watermark on either side: the replay files are event-time-unordered
    (repartition mixes the whole time range into every batch), so any
    watermark would evict state that later batches still need. Unbounded
    inner-join state makes the append-mode output exactly the batch join —
    which is what the oracle proves. Production bounds state with
    withWatermark on both sides + this same time-range condition; that
    needs event-time-ordered arrival, which Kafka provides and this replay
    deliberately does not."""
    from ..operators.detect import parse_wire

    d = _wire_dir(spark, sf_dir)

    def xform(stream: DataFrame) -> DataFrame:
        spikes = (
            parse_wire(stream)
            .filter(F.col("amount") > 300.0)
            .select(
                "userId",
                F.col("amount").alias("spike_amount"),
                F.col("event_time").alias("spike_time"),
            )
        )
        follows = parse_wire(
            spark.readStream.schema("value STRING")
            .option("maxFilesPerTrigger", 4)
            .text(d)
        ).select(
            F.col("userId").alias("_fu"),
            F.col("amount").alias("follow_amount"),
            F.col("event_time").alias("follow_time"),
        )
        return spikes.join(
            follows,
            (F.col("userId") == F.col("_fu"))
            & (F.col("follow_time") > F.col("spike_time"))
            & (
                F.col("follow_time")
                <= F.col("spike_time") + F.expr("INTERVAL 6 HOURS")
            ),
        ).select(
            "userId", "spike_amount", "spike_time", "follow_amount", "follow_time"
        )

    # 2 micro-batches per side (vs the default 4): join state still spans
    # batches, but the per-batch state-store commit cost halves
    return replay_wire_stream(
        spark, d, xform, output_mode="append", name="s05_mem", files_per_trigger=4
    )


# Far past any event in the testdata (2100-01-01). The sentinel's amount
# deliberately PASSES the fraud/spike filters: Catalyst pushes
# non-event-time predicates below the EventTimeWatermark node, so a
# filtered-out sentinel would never reach the watermark stats. Passing
# through is safe — the sentinel's own window/session/join-match lies
# beyond the final watermark (S - delay), so it is never emitted; it only
# advances stream time. (Sentinels share one timestamp, so they cannot
# match each other in the time-range join either: follow > spike fails on
# equality.)
_SENTINEL_TS = 4102444800
_SENTINEL_JSON = (
    f'{{"userId":"user_999","amount":99999.0,"timestamp":{_SENTINEL_TS}}}'
)


def _ordered_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """Wire records replayed in EVENT-TIME order (range-partitioned files +
    ascending mtimes) with a watermark-flushing sentinel — the Kafka-like
    arrival pattern the watermarked queries (s06-s08) assume."""

    def build() -> str:
        tx = events_as_transactions(load_table(spark, sf_dir, "events"))
        wire_ts = tx.select(
            F.to_json(
                F.struct(
                    F.col("userId"),
                    F.col("amount"),
                    F.unix_timestamp(F.col("event_time").cast("timestamp")).alias(
                        "timestamp"
                    ),
                )
            ).alias("value"),
            F.col("event_time").alias("_ts"),
        )
        return materialize_ordered_wire_dir(
            wire_ts, "_ts", sentinel=_SENTINEL_JSON
        )

    return _session_wire(spark, "ordered", sf_dir, build)


@_register(
    "s06_stream_watermarked_window",
    f"""
    SELECT CAST(to_timestamp(floor(epoch(event_time) / 600) * 600) AS TIMESTAMP)
             AS window_start,
           userId, round(sum(amount), 2) AS total_amount, count(*) AS n_tx
    FROM ({_FRAUD_SQL})
    GROUP BY 1, 2
    """,
)
def s06_stream_watermarked_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of Q4's streaming histogram
    (screenshots/AmountHistogram.jpg): APPEND-mode 10-min tumbling window
    agg under a 10-min watermark, over an event-time-ordered replay.
    Unlike s02 (complete mode, all windows resident forever), finalized
    windows are emitted once and their state evicted — state is bounded by
    the windows inside the watermark horizon, the shape that survives an
    unbounded stream. The sentinel record pushes the watermark past the
    last real window so the final snapshot equals the batch GROUP BY.

    Watermark is applied BEFORE the fraud filter: watermark tracks stream
    time, which the below-threshold sentinel must advance."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..operators.detect import fraud_predicate, parse_wire

        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
        )
        return (
            fraud.groupBy(F.window("event_time", "10 minutes").alias("w"), "userId")
            .agg(F.sum("amount").alias("_total"), F.count("*").alias("n_tx"))
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "userId",
                F.round("_total", 2).alias("total_amount"),
                "n_tx",
            )
        )

    return replay_wire_stream(
        spark,
        _ordered_wire_dir(spark, sf_dir),
        xform,
        output_mode="append",
        name="s06_mem",
    )


@_register(
    "s07_stream_watermarked_join",
    """
    SELECT printf('user_%03d', a.user_id) AS userId,
           a.value AS spike_amount, date_trunc('second', a.ts) AS spike_time,
           b.value AS follow_amount, date_trunc('second', b.ts) AS follow_time
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.value > 300.0
     AND date_trunc('second', b.ts) > date_trunc('second', a.ts)
     AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 6 HOUR
    """,
)
def s07_stream_watermarked_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s05's stream-stream join in its PRODUCTION shape: both sides
    watermarked + the time-range condition, so the engine evicts spike
    state older than watermark - 6h instead of holding it forever. Over
    the event-time-ordered replay no match is ever dropped (a follow for
    an evicted spike would have had to arrive later than the watermark
    allows), so the append output equals the batch join — the oracle
    proves bounded state loses nothing when arrival order matches the
    watermark contract."""
    from ..operators.detect import parse_wire

    d = _ordered_wire_dir(spark, sf_dir)

    def xform(stream: DataFrame) -> DataFrame:
        spikes = (
            parse_wire(stream)
            .withWatermark("event_time", "10 minutes")
            .filter(F.col("amount") > 300.0)
            .select(
                "userId",
                F.col("amount").alias("spike_amount"),
                F.col("event_time").alias("spike_time"),
            )
        )
        follows = (
            parse_wire(
                spark.readStream.schema("value STRING")
                .option("maxFilesPerTrigger", 4)
                .text(d)
            )
            .withWatermark("event_time", "10 minutes")
            .select(
                F.col("userId").alias("_fu"),
                F.col("amount").alias("follow_amount"),
                F.col("event_time").alias("follow_time"),
            )
        )
        return spikes.join(
            follows,
            (F.col("userId") == F.col("_fu"))
            & (F.col("follow_time") > F.col("spike_time"))
            & (
                F.col("follow_time")
                <= F.col("spike_time") + F.expr("INTERVAL 6 HOURS")
            ),
        ).select(
            "userId", "spike_amount", "spike_time", "follow_amount", "follow_time"
        )

    return replay_wire_stream(
        spark, d, xform, output_mode="append", name="s07_mem", files_per_trigger=4
    )


@_register(
    "s08_stream_session_windows",
    """
    WITH f AS (
      SELECT printf('user_%03d', user_id) AS userId,
             date_trunc('second', ts) AS et, value
      FROM events WHERE value > 100.0
    ), marked AS (
      SELECT userId, et, value,
             CASE WHEN et - lag(et) OVER (PARTITION BY userId ORDER BY et)
                       >= INTERVAL 30 MINUTE
                   OR lag(et) OVER (PARTITION BY userId ORDER BY et) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM f
    ), islands AS (
      SELECT userId, et, value,
             sum(new_session) OVER (PARTITION BY userId ORDER BY et
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM marked
    )
    SELECT userId, CAST(min(et) AS TIMESTAMP) AS session_start,
           count(*) AS n_events, round(sum(value), 2) AS session_value
    FROM islands GROUP BY userId, sid
    """,
)
def s08_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING session windows (r32's batch twin): per-user sessions
    closed by 30 minutes of inactivity, computed by the native
    session_window state operator under a watermark, append mode. A
    session's state lives only until the watermark passes its close —
    the bounded-state form of gaps-and-islands. The oracle reconstructs
    identical sessions with classic islands SQL (half-open >= gap
    boundary, matching session_window's [start, last+gap) semantics)."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..operators.detect import fraud_predicate, parse_wire

        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
        )
        return (
            fraud.groupBy(
                F.session_window("event_time", "30 minutes").alias("sw"),
                "userId",
            )
            .agg(
                F.min("event_time").alias("_start"),
                F.count("*").alias("n_events"),
                F.round(F.sum("amount"), 2).alias("session_value"),
            )
            .select(
                "userId",
                F.col("_start").cast("timestamp_ntz").alias("session_start"),
                "n_events",
                "session_value",
            )
        )

    return replay_wire_stream(
        spark,
        _ordered_wire_dir(spark, sf_dir),
        xform,
        output_mode="append",
        name="s08_mem",
    )


@_register(
    "s09_foreachbatch_sink",
    """
    SELECT date_trunc('second', ts) AS event_time,
           printf('user_%03d', user_id) AS userId, value AS amount
    FROM events WHERE value > 100.0
    """,
)
def s09_foreachbatch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch IDEMPOTENT sink — the production replacement for the
    consumer's InfluxDB write (FraudAlertConsumer.java:64-69): each
    micro-batch lands as a deterministic dynamic-overwrite of its own
    `_batch_id=` partition. The stream runs TWICE (fresh checkpoint each
    time) into the SAME directory before reading back: the file source
    batches deterministically (same files, same order, same ids), so the
    re-run overwrites every partition with identical rows — the oracle
    would double-count if the sink appended. This is exactly-once delivery
    under replay, by partition overwrite instead of sink transactions."""
    from ..streaming.topology import alerts_as_points, fraud_topology

    d = _wire_dir(spark, sf_dir)
    out = temp_dir("spark_graft_s09_sink_")
    ckpt_base = temp_dir("spark_graft_s09_ckpt_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )

    for run in range(2):
        stream = (
            spark.readStream.schema("value STRING")
            .option("maxFilesPerTrigger", 4)
            .text(d)
        )
        pts = alerts_as_points(
            fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        )
        q = (
            pts.writeStream.foreachBatch(sink)
            .option("checkpointLocation", f"{ckpt_base}/run{run}")
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    return spark.read.parquet(out).select(
        F.col("event_time").cast("timestamp_ntz").alias("event_time"),
        "userId",
        "amount",
    )


@_register(
    "s02_stream_windowed_amounts",
    f"""
    SELECT CAST(to_timestamp(floor(epoch(event_time) / 600) * 600) AS TIMESTAMP)
             AS window_start,
           userId, round(sum(amount), 2) AS total_amount, count(*) AS n_tx
    FROM ({_FRAUD_SQL})
    GROUP BY 1, 2
    """,
)
def s02_stream_windowed_amounts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window (10 min) per-user histogram — Q4 executed
    as a windowed streaming aggregation whose state spans micro-batches.
    Complete mode (no watermark): every window stays addressable, so the
    final snapshot equals the batch windowed GROUP BY; the watermarked
    append-mode variant (late-data drop) is pinned in tests/test_streaming.py."""

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return (
            fraud.withColumn(
                "event_time", F.col("event_time").cast("timestamp_ntz")
            )
            .groupBy(F.window("event_time", "10 minutes").alias("w"), "userId")
            .agg(F.sum("amount").alias("_total"), F.count("*").alias("n_tx"))
            .select(
                F.col("w.start").alias("window_start"),
                "userId",
                F.round("_total", 2).alias("total_amount"),
                "n_tx",
            )
        )

    return replay_wire_stream(spark, _wire_dir(spark, sf_dir), xform, name="s02_mem")


@_register(
    "s10_stream_sliding_window",
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
def s10_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sliding windows — completes the windows triple on the
    stream side (tumbling s02/s06, session s08, sliding here): 10-minute
    windows every 5 minutes, append mode under a 10-minute watermark over
    the event-time-ordered replay. Each fraud event lands in exactly 2
    window states; a window's state is emitted once and evicted when the
    watermark passes its end. Batch twin: r51 (identical oracle)."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..operators.detect import fraud_predicate, parse_wire

        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
        )
        return (
            fraud.groupBy(
                F.window("event_time", "10 minutes", "5 minutes").alias("w")
            )
            .agg(
                F.round(F.sum("amount"), 2).alias("total_value"),
                F.count("*").alias("n_events"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("window_start"),
                "total_value",
                "n_events",
            )
        )

    return replay_wire_stream(
        spark,
        _ordered_wire_dir(spark, sf_dir),
        xform,
        output_mode="append",
        name="s10_mem",
    )


@_register(
    "s11_stream_python_source",
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
def s11_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource as a STREAM (sources/pydatasource.
    SyntheticTxStreamReader): 20k generated transactions arrive in 2
    micro-batches of 10000 (per-batch planning + Python-source overhead
    is the fixed cost; batch size is the throughput knob, and 2 batches
    still prove cross-batch aggregation state), the strict fraud filter
    and per-user totals
    run as a stateful complete-mode aggregation, and the snapshot must
    equal r56's batch read of the same source — which the oracle
    regenerates arithmetically. Deterministic offsets (plain row ranges)
    make this the rare STREAMING query with a full value-hash oracle, and
    readBetweenOffsets is the checkpoint-recovery replay path."""
    from ..sources.pydatasource import register

    register(spark)
    name = "s11_mem"
    spark.catalog.dropTempView(name)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (
            spark.readStream.format("synthetic_tx")
            .option("rows", 20000)
            .option("stream_batch", 10000)
            .load()
        )
        agg = (
            stream.filter(F.col("amount") > 10000.0)
            .groupBy("user_id")
            .agg(
                F.count("*").alias("n_fraud"),
                F.round(F.sum("amount"), 2).alias("total_amount"),
            )
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@_register(
    "s12_stream_static_join",
    """
    SELECT CASE user_id % 3 WHEN 0 THEN 'low' WHEN 1 THEN 'mid'
           ELSE 'high' END AS risk_tier,
           CAST(count(*) AS BIGINT) AS n_tx,
           round(sum(value), 2) AS total_amount
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s12_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the production shape for joining a
    stream against a slowly-changing dimension: the fraud stream joins a
    STATIC risk-tier dim (broadcast; re-resolved every micro-batch, which
    is how Spark picks up dim refreshes), then aggregates per tier in
    complete mode. Static-side state is zero — only the 3-tier aggregate
    lives in the state store; the dim never enters join state the way
    s05's second stream does. The snapshot must equal the batch
    join+GROUP BY, which the oracle states directly over events."""
    dim = (
        load_table(spark, sf_dir, "events")
        .select(
            F.format_string("user_%03d", F.col("user_id").cast("int")).alias(
                "userId"
            ),
            (F.col("user_id") % 3).alias("_m"),
        )
        .distinct()
        .select(
            "userId",
            F.when(F.col("_m") == 0, "low")
            .when(F.col("_m") == 1, "mid")
            .otherwise("high")
            .alias("risk_tier"),
        )
    )

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return (
            # broadcast bound: the user dimension — one row per distinct
            # user_%03d key, fixed by the reference generator's key space
            fraud.join(F.broadcast(dim), "userId")
            .groupBy("risk_tier")
            .agg(
                F.count("*").alias("n_tx"),
                F.round(F.sum("amount"), 2).alias("total_amount"),
            )
        )

    return replay_wire_stream(spark, _wire_dir(spark, sf_dir), xform, name="s12_mem")


@_register(
    "s13_rocksdb_state_store",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS total_amount, count(*) AS n_tx
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s13_rocksdb_state_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s01's stateful aggregation executed on the RocksDB state store
    provider — the production state backend once per-executor state
    outgrows the JVM heap (off-heap, incremental snapshot/changelog
    upload, no GC pressure from state). The provider is a pure physical
    swap: the snapshot must be bit-identical to the default
    HDFS-backed-store run, which is exactly what sharing s01's oracle
    proves. Provider choice is pinned per-query-lifetime (set before
    start, restored after); on a cluster it is set once per streaming
    job, not per batch."""
    provider_conf = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_conf, "")

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return fraud.groupBy("userId").agg(
            F.round(F.sum("amount"), 2).alias("total_amount"),
            F.count("*").alias("n_tx"),
        )

    spark.conf.set(
        provider_conf,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        return replay_wire_stream(
            spark, _wire_dir(spark, sf_dir), xform, name="s13_mem"
        )
    finally:
        if prev:
            spark.conf.set(provider_conf, prev)
        else:
            spark.conf.unset(provider_conf)


@_register(
    "s14_stream_rollup_pipeline",
    f"""
    SELECT userId,
           CAST(to_timestamp(floor(epoch(event_time) / 21600) * 21600)
                AS TIMESTAMP) AS bucket_start,
           round(sum(amount), 2) AS total_amount,
           CAST(count(*) AS BIGINT) AS n_tx,
           min(amount) AS min_amount,
           max(amount) AS max_amount
    FROM ({_FRAUD_SQL})
    GROUP BY 1, 2
    """,
)
def s14_stream_rollup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's WHOLE production pipeline as one oracle-checked
    query: stream -> continuous aggregate -> dashboard. A watermarked
    APPEND-mode hourly window agg (s06's bounded-state shape) lands each
    finalized (userId, hour) rollup row via a foreachBatch
    dynamic-partition overwrite (s09's idempotent sink shape) into a
    materialized rollup table; the 6-hour dashboard buckets are then
    answered from THAT table alone (r60's merge shape — sums/counts add,
    min/min, max/max, rounding only at the edge). The oracle aggregates
    raw events directly: nothing may be lost or double-counted between
    the stream and the dashboard.

    Scale: this is the 100 TB dashboard architecture — raw events are
    touched exactly once (by the stream), state is bounded by the
    watermark horizon, the rollup is |users| x |hours| rows, and every
    dashboard query reads only the rollup. s09 separately proves the
    sink's exactly-once behavior under full replay."""
    from ..operators.detect import fraud_predicate, parse_wire

    d = _ordered_wire_dir(spark, sf_dir)
    out = temp_dir("spark_graft_s14_rollup_")
    ckpt = temp_dir("spark_graft_s14_ckpt_")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out)
        )

    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        stream = (
            spark.readStream.schema("value STRING")
            .option("maxFilesPerTrigger", 4)
            .text(d)
        )
        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
        )
        hourly = (
            fraud.groupBy(F.window("event_time", "1 hour").alias("w"), "userId")
            .agg(
                F.sum("amount").alias("sum_amount"),
                F.count("*").alias("n_tx"),
                F.min("amount").alias("min_amount"),
                F.max("amount").alias("max_amount"),
            )
            .select(
                F.col("w.start").cast("timestamp_ntz").alias("hour_start"),
                "userId",
                "sum_amount",
                "n_tx",
                "min_amount",
                "max_amount",
            )
        )
        q = (
            hourly.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)

    rollup = spark.read.parquet(out)
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(F.col("hour_start")) / 21600).cast("long") * 21600
    ).cast("timestamp_ntz")
    return (
        rollup.groupBy("userId", bucket.alias("bucket_start"))
        .agg(
            F.sum("sum_amount").alias("_sum"),
            F.sum("n_tx").alias("n_tx"),
            F.min("min_amount").alias("min_amount"),
            F.max("max_amount").alias("max_amount"),
        )
        .select(
            "userId",
            "bucket_start",
            F.round("_sum", 2).alias("total_amount"),
            "n_tx",
            "min_amount",
            "max_amount",
        )
    )


@_register(
    "s15_available_now_trigger",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS total_amount, count(*) AS n_tx
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s15_available_now_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s01's aggregation driven by Trigger.AvailableNow — the production
    trigger for scheduled catch-up jobs: the query snapshots the set of
    available input files at start, processes them in maxFilesPerTrigger-
    bounded micro-batches (state accumulating exactly as in continuous
    mode), and TERMINATES ITSELF at end of data. Sharing s01's oracle
    proves trigger choice is lifecycle-only — the final snapshot is the
    batch GROUP BY either way. This is the shape of 'run the streaming
    pipeline hourly over whatever landed' at 100 TB: same checkpoint,
    same state, bounded run."""

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return fraud.groupBy("userId").agg(
            F.round(F.sum("amount"), 2).alias("total_amount"),
            F.count("*").alias("n_tx"),
        )

    return replay_wire_stream(
        spark,
        _wire_dir(spark, sf_dir),
        xform,
        name="s15_mem",
        available_now=True,
    )


@_register(
    "s16_stream_outer_join",
    """
    SELECT printf('user_%03d', a.user_id) AS userId,
           a.value AS spike_amount, date_trunc('second', a.ts) AS spike_time,
           b.value AS follow_amount, date_trunc('second', b.ts) AS follow_time
    FROM (SELECT * FROM events WHERE value > 300.0) a
    LEFT JOIN events b
      ON a.user_id = b.user_id
     AND date_trunc('second', b.ts) > date_trunc('second', a.ts)
     AND date_trunc('second', b.ts) <= date_trunc('second', a.ts) + INTERVAL 6 HOUR
    """,
)
def s16_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s07's watermarked stream-stream join as LEFT OUTER — the semantic
    inner joins cannot express: a spike with NO follow-up inside its 6h
    horizon must still emit, null-padded, and may only do so once the
    watermark proves no match can still arrive (spike_time + 6h + delay
    behind the watermark). The sentinel pushes the final watermark past
    every horizon, so each unmatched spike emits exactly once; matched
    spikes emit their pairs as in s07. The oracle is the plain batch
    LEFT JOIN — bounded state, null-padding, and exactly-once emission
    all checked by value.

    Scale: state as in s07 (both sides evicted past watermark - range);
    the outer side additionally holds unmatched spikes only until their
    horizon closes — still watermark-bounded, never forever."""
    from ..operators.detect import parse_wire

    d = _ordered_wire_dir(spark, sf_dir)

    def xform(stream: DataFrame) -> DataFrame:
        spikes = (
            parse_wire(stream)
            .withWatermark("event_time", "10 minutes")
            .filter(F.col("amount") > 300.0)
            .select(
                "userId",
                F.col("amount").alias("spike_amount"),
                F.col("event_time").alias("spike_time"),
            )
        )
        follows = (
            parse_wire(
                spark.readStream.schema("value STRING")
                .option("maxFilesPerTrigger", 4)
                .text(d)
            )
            .withWatermark("event_time", "10 minutes")
            .select(
                F.col("userId").alias("_fu"),
                F.col("amount").alias("follow_amount"),
                F.col("event_time").alias("follow_time"),
            )
        )
        return spikes.join(
            follows,
            (F.col("userId") == F.col("_fu"))
            & (F.col("follow_time") > F.col("spike_time"))
            & (
                F.col("follow_time")
                <= F.col("spike_time") + F.expr("INTERVAL 6 HOURS")
            ),
            "left_outer",
        ).select(
            "userId", "spike_amount", "spike_time", "follow_amount", "follow_time"
        )

    return replay_wire_stream(
        spark, d, xform, output_mode="append", name="s16_mem", files_per_trigger=4
    )


def _doubled_ordered_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """Every wire record TWICE on the event-time-ordered replay:
    repartitionByRange keys duplicates (identical event times) into the
    same or adjacent files, so each duplicate arrives while its original
    is still inside the watermark horizon — the arrival pattern
    dropDuplicatesWithinWatermark guarantees correctness for."""

    def build() -> str:
        tx = events_as_transactions(load_table(spark, sf_dir, "events"))
        wire_ts = tx.select(
            F.to_json(
                F.struct(
                    F.col("userId"),
                    F.col("amount"),
                    F.unix_timestamp(F.col("event_time").cast("timestamp")).alias(
                        "timestamp"
                    ),
                )
            ).alias("value"),
            F.col("event_time").alias("_ts"),
        )
        return materialize_ordered_wire_dir(
            wire_ts.union(wire_ts), "_ts", sentinel=_SENTINEL_JSON
        )

    return _session_wire(spark, "doubled_ordered", sf_dir, build)


@_register(
    "s17_dedup_within_watermark",
    """
    SELECT userId, round(sum(amount), 2) AS total_amount, count(*) AS n_tx
    FROM (
      SELECT DISTINCT printf('user_%03d', user_id) AS userId, value AS amount,
             date_trunc('second', ts) AS et
      FROM events WHERE value > 100.0
    )
    GROUP BY userId
    """,
)
def s17_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """s04's streaming dedup in its PRODUCTION (bounded-state) form:
    dropDuplicatesWithinWatermark evicts dedup state once the watermark
    passes a row's event time + horizon, instead of holding every key
    forever. Over the event-time-ordered doubled replay each duplicate
    arrives inside its original's horizon, so the deduped totals equal
    the batch DISTINCT + GROUP BY exactly — the oracle proves eviction
    lost nothing under the arrival pattern the operator contracts for.

    Scale: dedup state is bounded by keys seen within one watermark
    horizon (vs s04's all-keys-ever); this is the form that survives an
    unbounded stream with repeating keys."""
    from ..operators.detect import fraud_predicate, parse_wire

    def xform(stream: DataFrame) -> DataFrame:
        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        # The watermark-advancing sentinel must pass the watermark tracker
        # but not the business logic; unlike s06/s07 (where final-watermark
        # semantics already exclude it from emission), a complete-mode
        # aggregation snapshots EVERY group, so the in-band control record
        # is dropped explicitly by its out-of-range event time.
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
            & (F.col("event_time") < F.timestamp_seconds(F.lit(_SENTINEL_TS)))
        )
        return (
            fraud.dropDuplicatesWithinWatermark(["userId", "amount", "timestamp"])
            .groupBy("userId")
            .agg(
                F.round(F.sum("amount"), 2).alias("total_amount"),
                F.count("*").alias("n_tx"),
            )
        )

    return replay_wire_stream(
        spark,
        _doubled_ordered_wire_dir(spark, sf_dir),
        xform,
        name="s17_mem",
        files_per_trigger=4,
    )


@_register(
    "s18_chained_stream_aggs",
    f"""
    WITH per_user AS (
      SELECT CAST(to_timestamp(floor(epoch(event_time) / 600) * 600) AS TIMESTAMP)
               AS window_start,
             userId, sum(amount) AS total
      FROM ({_FRAUD_SQL})
      GROUP BY 1, 2
    )
    SELECT CAST(to_timestamp(floor(epoch(window_start) / 3600) * 3600) AS TIMESTAMP)
             AS hour_start,
           CAST(count(*) AS BIGINT) AS n_user_windows,
           round(sum(total), 2) AS grand_total
    FROM per_user
    GROUP BY 1
    """,
)
def s18_chained_stream_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (multiple
    stateful operators, Spark 3.4+/4): a 10-min per-user windowed sum
    feeds a second 1-hour windowed rollup via window_time() — the
    dashboard drill-up (per-user detail -> hourly overview) computed in a
    single pass instead of two queries over two sinks. Both operators
    share the stream's watermark; the first agg's finalized windows flow
    into the second as they close, so state at BOTH levels stays bounded
    by the horizon.

    Scale: level-1 state is (active windows x users), level-2 state is
    active hours only; the inter-level exchange is a shuffle keyed on the
    hour window — no re-read of the source, which at 100 TB is the
    difference between one scan and two."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..operators.detect import fraud_predicate, parse_wire

        parsed = parse_wire(stream).withWatermark("event_time", "10 minutes")
        fraud = parsed.filter(
            fraud_predicate(F.col("amount"), EVENTS_FRAUD_THRESHOLD)
        )
        per_user = (
            fraud.groupBy(F.window("event_time", "10 minutes").alias("w"), "userId")
            .agg(F.sum("amount").alias("total"))
        )
        return (
            per_user.groupBy(
                F.window(F.window_time("w"), "1 hour").alias("h")
            )
            .agg(
                F.count("*").alias("n_user_windows"),
                F.round(F.sum("total"), 2).alias("grand_total"),
            )
            .select(
                F.col("h.start").cast("timestamp_ntz").alias("hour_start"),
                "n_user_windows",
                "grand_total",
            )
        )

    return replay_wire_stream(
        spark,
        _ordered_wire_dir(spark, sf_dir),
        xform,
        output_mode="append",
        name="s18_mem",
        # TWO stateful operators -> every micro-batch commits 2x
        # state_partitions store instances; 4 fits the group counts here
        # (150 users x active windows, dozens of hours) and halves the
        # fixed per-batch commit cost vs the replay default of 8
        state_partitions=4,
    )


@_register(
    "s19_stream_pivot_bands",
    """
    SELECT CAST(to_timestamp(floor(epoch(date_trunc('second', ts)) / 600) * 600)
                AS TIMESTAMP) AS window_start,
           CAST(count(*) FILTER (value < 100.0) AS BIGINT) AS n_low,
           CAST(count(*) FILTER (value >= 100.0 AND value < 300.0) AS BIGINT)
             AS n_mid,
           CAST(count(*) FILTER (value >= 300.0) AS BIGINT) AS n_high,
           round(sum(value) FILTER (value >= 300.0), 2) AS high_amount
    FROM events
    GROUP BY 1
    """,
)
def s19_stream_pivot_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming pivot: per-window transaction counts spread across
    amount-band COLUMNS (low / mid / high, plus the high-band amount) —
    the wide dashboard-row shape Grafana's stat panels want. `.pivot()`
    is unsupported on streaming DataFrames, so the pivot is lowered to
    conditional aggregation (count/sum over CASE), the same one-shuffle
    lowering r63 applies in batch — which is also the 100 TB-preferred
    form since the pivoted key set is declared, not discovered.

    State: one row per 10-minute window in the streaming agg store
    (complete mode over the replay, like s02); each micro-batch folds its
    partial band counts into that state, so the final snapshot equals the
    batch GROUP BY the oracle runs."""
    from ..operators.detect import parse_wire

    def xform(stream: DataFrame) -> DataFrame:
        parsed = parse_wire(stream)
        amt = F.col("amount")
        return (
            parsed.withColumn(
                "event_time", F.col("event_time").cast("timestamp_ntz")
            )
            .groupBy(F.window("event_time", "10 minutes").alias("w"))
            .agg(
                F.count(F.when(amt < 100.0, 1)).alias("n_low"),
                F.count(F.when((amt >= 100.0) & (amt < 300.0), 1)).alias("n_mid"),
                F.count(F.when(amt >= 300.0, 1)).alias("n_high"),
                F.round(F.sum(F.when(amt >= 300.0, amt)), 2).alias("high_amount"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_low",
                "n_mid",
                "n_high",
                "high_amount",
            )
        )

    return replay_wire_stream(spark, _wire_dir(spark, sf_dir), xform, name="s19_mem")


@_register(
    "s20_stream_topk",
    f"""
    SELECT userId, round(total, 2) AS total_amount, n_tx
    FROM (
      SELECT userId, sum(amount) AS total, count(*) AS n_tx
      FROM ({_FRAUD_SQL}) GROUP BY userId
      ORDER BY total DESC, userId ASC LIMIT 10
    )
    """,
)
def s20_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1's top-10 leaderboard computed ON the stream: complete-mode
    aggregation state ordered and limited INSIDE the streaming query —
    sort+limit after aggregation is exactly what complete output mode
    licenses (every trigger re-emits the full, re-ranked leaderboard,
    which is how a live dashboard's top-k panel actually refreshes).
    Batch twin: q1 (identical oracle).

    Scale: the sort input is the aggregated per-user state (|users| rows,
    orders of magnitude smaller than the stream), and the limit makes it
    a TakeOrdered, not a global sort. State is one row per user, same as
    s01."""

    def xform(stream: DataFrame) -> DataFrame:
        fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
        return (
            fraud.groupBy("userId")
            .agg(F.sum("amount").alias("total"), F.count("*").alias("n_tx"))
            .orderBy(F.desc("total"), F.asc("userId"))
            .limit(10)
            .select(
                "userId", F.round("total", 2).alias("total_amount"), "n_tx"
            )
        )

    return replay_wire_stream(spark, _wire_dir(spark, sf_dir), xform, name="s20_mem")


@_register(
    "s21_checkpoint_recovery",
    """
    SELECT printf('user_%03d', user_id) AS userId,
           round(sum(value), 2) AS total_amount, count(*) AS n_tx
    FROM events WHERE value > 100.0
    GROUP BY 1
    """,
)
def s21_checkpoint_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once across a RESTART: phase A streams half the wire files
    into a complete-mode per-user totals aggregation and STOPS; phase B
    starts a NEW query from the SAME checkpoint after the remaining files
    appear. The file source's offset log makes phase B process only the
    unseen files, and the state store restores phase A's running totals —
    the final snapshot must equal the batch GROUP BY over ALL events
    (s01's oracle), proving no event is lost or double-counted across the
    stop/start boundary. This is the reference consumer's crash-recovery
    contract (R12: committed offsets + resume) in Structured Streaming
    form.

    Scale: checkpointing is the production lifecycle — every real stream
    restarts (deploys, rebalances, failures); state restore cost is
    proportional to live state (|users| here), not to history."""
    import glob
    import os
    import shutil

    src = _wire_dir(spark, sf_dir)
    files = sorted(glob.glob(os.path.join(src, "part-*")))
    d = temp_dir("spark_graft_s21_files_")
    ckpt = temp_dir("spark_graft_s21_ckpt_")

    name = "s21_mem"
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try:
        half = len(files) // 2
        for phase_files in (files[:half], files[half:]):
            for f in phase_files:
                shutil.copy(f, d)
            spark.catalog.dropTempView(name)
            stream = (
                spark.readStream.schema("value STRING")
                .option("maxFilesPerTrigger", 4)
                .text(d)
            )
            fraud = fraud_topology(stream, threshold=EVENTS_FRAUD_THRESHOLD)
            agg = fraud.groupBy("userId").agg(
                F.round(F.sum("amount"), 2).alias("total_amount"),
                F.count("*").alias("n_tx"),
            )
            q = (
                agg.writeStream.format("memory")
                .queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


@_register(
    "m07_stream_sql_score",
    """
    WITH s AS (
      SELECT printf('user_%03d', user_id) AS userId,
             0.5 * (1.0 + z / (1.0 + abs(z))) AS p
      FROM (
        SELECT user_id,
               -2.0 + 1.5 * (value / 100.0)
                    + 0.25 * (extract(hour FROM ts) / 23.0) AS z
        FROM events
      )
    )
    SELECT userId,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE p > 0.6) AS BIGINT) AS n_flagged,
           CAST(sum(CAST(round(p * 1000000, 0) AS BIGINT)) AS BIGINT)
             AS risk_micros
    FROM s
    GROUP BY 1
    """,
)
def m07_stream_sql_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming inference with the EXPORTED scorer — m03's shape (score
    every wire record micro-batch by micro-batch) but with m04's
    weights-compiled-to-expressions model, which makes it the streaming
    ML row with a FULL value-hash oracle: the closed-form score needs no
    model object, so the batch SQL twin replays it exactly. Features are
    the wire pair (amount, hour of event time); the rational link keeps
    scores bit-identical cross-engine, and the risk mass sums EXACT
    integer micro-scores (round(p*1e6) cast to long per event, BEFORE
    the sum) so neither micro-batch accumulation order nor a decimal
    rounding boundary can flip the hash; the per-user aggregate
    (complete mode) matches the batch GROUP BY.

    Scale: scoring is a stateless narrow projection inside each
    micro-batch — the streaming cost is the per-user agg state, identical
    to s01's. This is the production shape for low-latency model serving
    on a stream when the model exports to expressions (otherwise m03)."""
    from ..operators.detect import parse_wire

    def xform(stream: DataFrame) -> DataFrame:
        parsed = parse_wire(stream)
        z = (
            F.lit(-2.0)
            + F.lit(1.5) * (F.col("amount") / F.lit(100.0))
            + F.lit(0.25) * (F.hour("event_time") / F.lit(23.0))
        )
        p = F.lit(0.5) * (F.lit(1.0) + z / (F.lit(1.0) + F.abs(z)))
        return (
            parsed.select("userId", p.alias("p"))
            .groupBy("userId")
            .agg(
                F.count("*").alias("n_events"),
                F.count_if(F.col("p") > 0.6).alias("n_flagged"),
                F.sum(
                    F.round(F.col("p") * 1000000, 0).cast("long")
                ).alias("risk_micros"),
            )
        )

    return replay_wire_stream(
        spark, _wire_dir(spark, sf_dir), xform, name="m07_mem"
    )


@_register(
    "s22_stream_alert_periods",
    """
    WITH w AS (
      SELECT printf('user_%03d', user_id) AS userId,
             CAST(floor(epoch(date_trunc('second', ts)) / 43200) AS BIGINT)
               AS widx,
             sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS total,
             count(*) AS n_tx
      FROM events WHERE value > 100.0
      GROUP BY 1, 2
    ), isl AS (
      SELECT *, widx - row_number() OVER (PARTITION BY userId ORDER BY widx)
                AS grp
      FROM w
    )
    SELECT userId,
           CAST(to_timestamp(min(widx) * 43200) AS TIMESTAMP) AS alert_start,
           CAST(to_timestamp((max(widx) + 1) * 43200) AS TIMESTAMP) AS alert_end,
           CAST(count(*) AS BIGINT) AS n_windows,
           max(total) AS peak_total,
           CAST(sum(n_tx) AS BIGINT) AS n_tx
    FROM isl
    GROUP BY userId, grp
    HAVING count(*) >= 2
    """,
)
def s22_stream_alert_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q8's alert rule evaluated LIVE: the stream continuously maintains
    the per-(user, 12h-window) breach rollup (complete-mode stateful agg
    across micro-batches, s01's state shape), and the gaps-and-islands
    run detection evaluates on each snapshot — exactly how a production
    alerter works (the rule engine reads the continuously-updated
    rollup; it does not re-scan raw history per evaluation). The final
    snapshot's alerts must equal the batch q8 — the oracle proves the
    streaming rollup loses nothing.

    Scale: streaming state is |users x active-windows| rows; the islands
    window partitions by user over <= |windows-per-user| rows. At true
    scale the rollup would be watermark-bounded append (s14's pattern)
    with the alerter reading the materialized table."""

    def xform(stream: DataFrame) -> DataFrame:
        from ..operators.detect import parse_wire

        fraud = parse_wire(stream).where(
            F.col("amount") > F.lit(float(EVENTS_FRAUD_THRESHOLD))
        )
        widx = F.floor(
            F.unix_timestamp(F.col("event_time").cast("timestamp"))
            / F.lit(43200)
        ).cast("long")
        # exact integer cents before the sum (m07's risk_micros pattern):
        # micro-batch accumulation order can't flip the rounded total
        return (
            fraud.groupBy("userId", widx.alias("widx"))
            .agg(
                F.sum(
                    F.round(F.col("amount") * 100, 0).cast("long")
                ).alias("cents"),
                F.count("*").alias("n_tx"),
            )
            .withColumn("total", F.col("cents") / F.lit(100.0))
        )

    snap = replay_wire_stream(
        spark, _wire_dir(spark, sf_dir), xform, name="s22_mem"
    )
    from pyspark.sql.window import Window

    grp = F.col("widx") - F.row_number().over(
        Window.partitionBy("userId").orderBy("widx")
    )
    return (
        snap.withColumn("grp", grp)
        .groupBy("userId", "grp")
        .agg(
            F.count("*").alias("n_windows"),
            F.timestamp_seconds(F.min("widx") * 43200)
            .cast("timestamp_ntz")
            .alias("alert_start"),
            F.timestamp_seconds((F.max("widx") + 1) * 43200)
            .cast("timestamp_ntz")
            .alias("alert_end"),
            F.max("total").alias("peak_total"),
            F.sum("n_tx").alias("n_tx"),
        )
        .where(F.col("n_windows") >= 2)
        .select(
            "userId",
            "alert_start",
            "alert_end",
            "n_windows",
            "peak_total",
            "n_tx",
        )
    )


@_register("s23_stream_dedup_gate", _LL["l64_incremental_dedup"])
def s23_stream_dedup_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The l64 incremental-ingestion dedup gate run as a STREAM — the
    shape corpus growth actually deploys: incoming documents arrive as
    JSON micro-batches and each batch is classified exact/near/novel
    against the STATIC persisted index (docs < 400) inside foreachBatch,
    landing idempotently in a _batch_id-partitioned sink (the s09
    exactly-once recipe). The index frames are materialized once and
    pre-aggregated to (key -> min index doc) so the per-batch probe is
    two equi-joins plus one batch-local min — no streaming state at all
    (each doc classifies within its own micro-batch; min-of-mins equals
    l64's global min). The final sink contents must equal the batch l64
    output exactly, so the two share one oracle.

    Scale: the static side is the production persisted index (bucketed
    tables); per micro-batch the arriving side is small, so Catalyst's
    broadcast choice inverts l64's merge-hinted posture CORRECTLY — the
    batch, not the index, should broadcast when one micro-batch is being
    probed; state stores hold nothing."""
    from ..operators.dedup import _incremental_index_frames

    docs = load_table(spark, sf_dir, "documents").where(F.trim("text") != "")
    md5f, grams = _incremental_index_frames(docs.where(F.col("doc_id") < 400), 5)
    # Materialize the two probe tables, not just their inputs: every
    # micro-batch action re-planned these groupBys from the checkpointed
    # index frames (N batches x 2 aggregate jobs of pure recompute —
    # the same static-side re-evaluation class fixed in dedup.py, guide
    # §2.4). In production these ARE the persisted (key -> min doc)
    # index generation the gate serves from.
    md5_min = (
        md5f.groupBy("t_md5")
        .agg(F.min("doc_id").alias("exact_id"))
        .localCheckpoint()
    )
    gram_min = (
        grams.groupBy("h")
        .agg(F.min("doc_id").alias("h_near_id"))
        .localCheckpoint()
    )

    wire = docs.where(F.col("doc_id") >= 400).select(
        F.to_json(F.struct("doc_id", "text")).alias("value")
    )

    # 4 files / 2 micro-batches — the documented replay-twin knee (2
    # batches prove cross-batch replay; each doc classifies against the
    # STATIC index only, so the sink union is batch-count-invariant and
    # the default 8-file/4-batch replay bought nothing but 2 extra
    # rounds of micro-batch scheduling + sink-commit latency).
    d = materialize_wire_dir(wire, n_files=4)
    k = 5

    def gate(batch_df: DataFrame) -> DataFrame:
        from ..functions.text import tokens

        b = batch_df.select(
            F.get_json_object("value", "$.doc_id").cast("long").alias("doc_id"),
            F.get_json_object("value", "$.text").alias("text"),
        ).where(F.col("text").isNotNull() & (F.trim("text") != ""))
        bm = b.select(
            "doc_id", F.md5(F.trim("text").cast("binary")).alias("t_md5")
        )
        bw = b.select("doc_id", tokens("text").alias("toks")).where(
            F.size("toks") >= k
        ).select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), F.size("toks") - k)).alias("p"),
            "toks",
        ).select(
            "doc_id",
            F.md5(
                F.concat_ws(" ", F.slice(F.col("toks"), F.col("p") + 1, k))
            ).alias("h"),
        ).distinct()
        near = (
            bw.join(gram_min, "h")
            .groupBy("doc_id")
            .agg(F.min("h_near_id").alias("near_id"))
        )
        return (
            bm.join(md5_min, "t_md5", "left")
            .join(near, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("exact_id").isNotNull(), F.lit("exact"))
                .when(F.col("near_id").isNotNull(), F.lit("near"))
                .otherwise(F.lit("novel"))
                .alias("status"),
                F.coalesce("exact_id", "near_id").alias("match_id"),
            )
        )

    return replay_foreach_batch(spark, d, gate, "s23", 2).select(
        "doc_id", "status", "match_id"
    )


def _cep_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """Event-time-ordered wire carrying event_id (the CEP twin needs the
    deterministic (ts, event_id) tie-break the batch window uses). The
    range key is strictly increasing (epoch-seconds << 20 | event_id —
    event_id < 2^20 at every test SF), so file k's records ALL precede
    file k+1's under the exact batch ordering, and cross-batch
    contiguity is byte-deterministic."""

    def build() -> str:
        ev = load_table(spark, sf_dir, "events")
        t = event_seconds()
        wire_ts = ev.select(
            F.to_json(
                F.struct(
                    F.format_string(
                        "user_%03d", F.col("user_id").cast("int")
                    ).alias("userId"),
                    F.col("value").alias("amount"),
                    t.alias("timestamp"),
                    F.col("event_id").alias("event_id"),
                )
            ).alias("value"),
            (t * F.lit(1 << 20) + F.col("event_id")).alias("_key"),
        )
        return materialize_ordered_wire_dir(wire_ts, "_key")

    return _session_wire(spark, "cep", sf_dir, build)


@_register("s24_stream_cep", _R3["r82_cep_card_testing"])
def s24_stream_cep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r82's card-testing CEP run as a STREAM — the MATCH_RECOGNIZE
    semantics Spark's native streaming can't express, implemented as a
    custom stateful operator (applyInPandasWithState): per-user state is
    exactly the last two events (pattern length - 1, the NFA buffer
    bound), every micro-batch walks its rows in (event-time, event_id)
    order, and a match emits exactly once — in the batch where its third
    event arrives, including matches whose probes arrived in EARLIER
    micro-batches (cross-batch state is the point). The replay delivers
    batches in strict event order (Kafka's per-key guarantee); the
    snapshot must equal the batch lead()-window formulation row-for-row,
    so s24 shares r82's oracle verbatim.

    Scale: one state-store shuffle on userId; O(pattern) state per key
    regardless of stream length; emission is append-like (each match
    once) so no state ever flushes late."""
    from ..streaming.stateful import cep_card_testing_matches

    def xform(stream: DataFrame) -> DataFrame:
        parsed = stream.select(
            F.from_json(
                "value",
                "userId STRING, amount DOUBLE, timestamp LONG, event_id LONG",
            ).alias("r")
        ).select("r.userId", "r.amount", "r.timestamp", "r.event_id")
        parsed = parsed.where(
            F.col("userId").isNotNull() & F.col("event_id").isNotNull()
        )
        return cep_card_testing_matches(parsed, 20.0, 100.0, 86400)

    return replay_wire_stream(
        spark,
        _cep_wire_dir(spark, sf_dir),
        xform,
        output_mode="update",
        name="s24_mem",
    ).select("userId", "probe1_id", "probe2_id", "fraud_id", "span_s")


@_register("s25_stream_cep_kleene", _R3["r83_cep_kleene_probe_run"])
def s25_stream_cep_kleene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r83's variable-length Kleene CEP — PATTERN (probe+ fraud),
    maximal munch — run as a STREAM (round-7 verdict item 3): the batch
    form needs gaps-and-islands because run length is unbounded, and the
    streaming form needs only a CONSTANT-size run summary per user
    (first_probe_id, t_first, last_probe_id, n_probes) in the state
    store — O(1) state where s24's fixed pattern holds O(pattern).
    Probes extend the summary in place; a qualifying fraud event emits
    the match exactly once and clears it; any other event just clears
    it, which is precisely what makes emitted runs maximal. Runs that
    span micro-batches (probes in batch k, fraud in batch k+j) come out
    identical to the batch islands because the summary rides the state
    store and the replay delivers per-key batches in event order —
    so s25 shares r83's oracle verbatim.

    Scale: one state-store shuffle on userId; per-key state is four
    int64s regardless of run length or stream length; emission is
    append-like (each match once) so no state ever flushes late. Same
    wire as s24 (one materialization feeds both CEP twins)."""
    from ..streaming.stateful import cep_kleene_matches

    def xform(stream: DataFrame) -> DataFrame:
        parsed = stream.select(
            F.from_json(
                "value",
                "userId STRING, amount DOUBLE, timestamp LONG, event_id LONG",
            ).alias("r")
        ).select("r.userId", "r.amount", "r.timestamp", "r.event_id")
        parsed = parsed.where(
            F.col("userId").isNotNull() & F.col("event_id").isNotNull()
        )
        return cep_kleene_matches(parsed, 20.0, 100.0, 86400)

    return replay_wire_stream(
        spark,
        _cep_wire_dir(spark, sf_dir),
        xform,
        output_mode="update",
        name="s25_mem",
    ).select(
        "userId", "first_probe_id", "last_probe_id", "n_probes",
        "fraud_id", "span_s",
    )


def _score_wire(t):
    """(event_type, value, producer-side hour): the m04 scoring inputs.
    The wire serializes the hour, so consumers never re-derive calendar
    fields from a re-parsed timestamp; s26, s31, s37 and s44 replay this
    one session-cached dir."""
    return [
        F.col("event_type"),
        F.col("value"),
        F.hour("ts").cast("long").alias("hr"),
    ]


def _score_hist(spark: SparkSession, sf_dir: str, prefix: str) -> DataFrame:
    """Merged (event_type, s, n_pos_s, n_neg_s) m04-score histogram
    replayed from the scoring wire: the associative partial behind the
    AUC (s31), threshold (s37) and AP (s44) monitors."""
    from .advanced import m18_score_counts

    return (
        _partial_replay(
            spark,
            _events_proj_wire(spark, sf_dir, _score_wire),
            "value DOUBLE, event_type STRING, hr LONG",
            lambda b: m18_score_counts(b, hour_col=F.col("hr")),
            prefix,
        )
        .groupBy("event_type", "s")
        .agg(
            F.sum("n_pos_s").cast("long").alias("n_pos_s"),
            F.sum("n_neg_s").cast("long").alias("n_neg_s"),
        )
        .localCheckpoint()
    )


@_register("s26_stream_isotonic_calibration", _AD["m15_isotonic_calibration"])
def s26_stream_isotonic_calibration(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """m15's isotonic calibrator run as a STREAM — the monitoring loop a
    deployed scorer actually runs: scored events arrive as JSON
    micro-batches, each batch aggregates to its partial (bucket, n, k)
    counts in _partial_replay and lands idempotently in a
    _batch_id-partitioned sink (the s09 exactly-once recipe); the fit
    then reads the sink, merges partials by summation (bucket counts
    are associative — m15_score_buckets' contract), and runs the same
    bounded minimax PAV. The final curve must equal the batch fit
    row-for-row, so s26 shares m15's oracle verbatim.

    Scale: per micro-batch one narrow aggregate to <=51 rows — no
    streaming state at all; the sink holds (batches x 51) tiny rows and
    the minimax stays constant-size. Recalibration cost is independent
    of stream length, which is why production fits FROM the running
    bucket counts instead of re-scanning history."""
    from .advanced import isotonic_fit, m15_score_buckets

    def fit_counts(b: DataFrame) -> DataFrame:
        # rebuild the ts-derived hour as a literal timestamp column so
        # m15_score_buckets' F.hour("ts") sees the original value
        return m15_score_buckets(
            b.withColumn(
                "ts",
                F.to_timestamp(
                    F.format_string("2024-01-01 %02d:00:00", F.col("hr"))
                ),
            )
        )

    merged = (
        _partial_replay(
            spark,
            _events_proj_wire(spark, sf_dir, _score_wire),
            "value DOUBLE, hr INT, event_type STRING",
            fit_counts,
            "s26",
        )
        .groupBy("bucket")
        .agg(F.sum("n").cast("long").alias("n"), F.sum("k").cast("long").alias("k"))
    )
    return isotonic_fit(merged.localCheckpoint())


@_register("s27_stream_ann_probe", _LL["l75_ann_recall_eval"])
def s27_stream_ann_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l75's ANN evaluation run as a STREAM — the deployment shape of a
    vector-search service: query ids arrive as JSON micro-batches, each
    batch fetches its vectors from the STATIC embeddings table (floats
    never ride the wire — query-by-id, exactly how a feature store
    serves vectors), probes the static LSH index AND the exact baseline
    via the same two-phase salted top-k, and the per-query
    (n_ann, n_overlap) rows land idempotently in a
    _batch_id-partitioned sink (the s09 recipe). The accumulated table
    must equal the batch l75 evaluation row-for-row, so s27 shares its
    oracle verbatim. No streaming state — every query completes within
    its own micro-batch.

    Scale: the static side is the production persisted index; per
    micro-batch the arriving query set is small and broadcasts, the
    corpus is scanned once per batch for the exact baseline (that is
    the cost of EVALUATING recall online; the ANN probe alone touches
    banded candidates only)."""
    from ..operators import similarity as SIM

    em = load_table(spark, sf_dir, "embeddings").localCheckpoint()
    wire = em.where(F.col("vec_id") < 10).select(
        F.to_json(F.struct("vec_id")).alias("value")
    )

    d = materialize_wire_dir(wire, n_files=4)

    def probe(batch_df: DataFrame) -> DataFrame:
        ids = batch_df.select(
            F.get_json_object("value", "$.vec_id").cast("long").alias("vec_id")
        ).where(F.col("vec_id").isNotNull()).distinct()
        # broadcast bound: ids are THIS micro-batch's arriving probe
        # requests — per-batch sized, never the corpus
        queries = em.join(F.broadcast(ids), "vec_id")
        return SIM.ann_recall_eval(em, k=10, queries=queries)

    return (
        replay_foreach_batch(spark, d, probe, "s27", 2)
        .select("query_id", "n_ann", "n_overlap")
        .orderBy("query_id")
    )


def _live_half_replay(spark, sf_dir, split_s, reduce_fn, prefix):
    """Replay the live half of m17's split (events at or after
    `split_s`) as (value, event_type) records through `_partial_replay`.
    s28 and s33 share its one session-cached wire, keyed on `split_s`."""

    def build() -> str:
        ev = load_table(spark, sf_dir, "events")
        live = ev.where(event_seconds() >= F.lit(split_s))
        return materialize_wire_dir(
            live.select(F.to_json(F.struct("event_type", "value")).alias("value"))
        )

    wire = _session_wire(spark, "live_half", sf_dir, build, split_s)
    return _partial_replay(
        spark, wire, "value DOUBLE, event_type STRING", reduce_fn, prefix
    )


@_register("s28_stream_drift_psi", _AD["m17_psi_drift"])
def s28_stream_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m17's PSI drift monitor run as a STREAM — the deployment shape of
    model monitoring: the reference histogram is frozen batch-side from
    the historical window; live traffic (the post-midpoint half) arrives
    as JSON micro-batches, each aggregating to its partial (event_type,
    bucket, n) counts in _partial_replay and landing idempotently in a
    _batch_id-partitioned sink (the s09 exactly-once recipe, bucket
    counts associative exactly as s26's). The report then merges live
    partials with the frozen reference and runs the identical final PSI
    step (m17_psi_from_counts), so the streaming result equals the batch
    report bit-for-bit and s28 shares m17's oracle verbatim.

    Scale: zero streaming state — each micro-batch reduces to <= |types|
    x 8 rows; the sink grows by that per batch regardless of traffic;
    recomputing PSI costs the ~40-row grid, which is why production
    dashboards re-evaluate it every refresh tick."""
    from .advanced import (
        _M17_BUCKET,
        m17_bucket_counts,
        m17_psi_from_counts,
        m17_split_seconds,
    )

    ev = load_table(spark, sf_dir, "events")
    split_s = m17_split_seconds(spark, sf_dir)
    t = event_seconds()
    ref = (
        m17_bucket_counts(ev.where(t < F.lit(split_s)), split_s)
        .select("event_type", "bucket", "ref_n")
        .localCheckpoint()
    )
    live = (
        _live_half_replay(
            spark,
            sf_dir,
            split_s,
            lambda b: (
                b.select("event_type", F.expr(_M17_BUCKET).alias("bucket"))
                .groupBy("event_type", "bucket")
                .agg(F.count("*").alias("n"))
            ),
            "s28",
        )
        .groupBy("event_type", "bucket")
        .agg(F.sum("n").cast("long").alias("live_n"))
    )
    counts = (
        ref.join(live, ["event_type", "bucket"], "full_outer")
        .select(
            "event_type",
            "bucket",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("live_n", F.lit(0)).alias("live_n"),
        )
    )
    return m17_psi_from_counts(counts)


def _funnel_wire_dir(spark: SparkSession, sf_dir: str) -> str:
    """Event-time-ordered wire carrying event_type (the funnel twin keys
    state on the raw user_id and needs the same strictly-increasing
    (t << 20 | event_id) range key as the CEP wire, so per-key arrival
    order equals the batch window order)."""

    def build() -> str:
        ev = load_table(spark, sf_dir, "events")
        t = event_seconds()
        wire_ts = ev.select(
            F.to_json(
                F.struct(
                    F.col("user_id").alias("user_id"),
                    F.col("event_type").alias("event_type"),
                    t.alias("timestamp"),
                    F.col("event_id").alias("event_id"),
                )
            ).alias("value"),
            (t * F.lit(1 << 20) + F.col("event_id")).alias("_key"),
        )
        return materialize_ordered_wire_dir(wire_ts, "_key")

    return _session_wire(spark, "funnel", sf_dir, build)


@_register("s29_stream_funnel", _R3["r87_funnel_conversion"])
def s29_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r87's ordered conversion funnel run as a STREAM: per-user state is
    one int64 per stage (the conditional first-touch times the batch form
    computes as chained window mins), updated by a custom stateful
    operator; each stage completion emits exactly one (user, step) row —
    append-like, so the post-stream per-step counts equal the batch
    funnel's n_users bit-for-bit and s29 shares r87's oracle verbatim.
    Cross-batch ordering (a user's view in batch k, click in batch k+j)
    is the interesting case the state store carries; the strict
    after-previous-stage comparison runs on the same truncated-second t
    as the batch windows, so same-second step events are excluded
    identically.

    Scale: one state-store shuffle on user_id; O(|steps|) int64 state
    per key regardless of stream length; the report tail aggregates the
    at-most-3-rows-per-user completion stream, and the final 3-row
    shaping is shared code with r87 (funnel_report_from_counts)."""
    from ..streaming.stateful import funnel_step_completions
    from .relational3 import funnel_report_from_counts

    def xform(stream: DataFrame) -> DataFrame:
        parsed = stream.select(
            F.from_json(
                "value",
                "user_id LONG, event_type STRING, timestamp LONG,"
                " event_id LONG",
            ).alias("r")
        ).select("r.user_id", "r.event_type", "r.timestamp", "r.event_id")
        parsed = parsed.where(
            F.col("user_id").isNotNull() & F.col("event_id").isNotNull()
        )
        return funnel_step_completions(parsed)

    res = replay_wire_stream(
        spark,
        _funnel_wire_dir(spark, sf_dir),
        xform,
        output_mode="update",
        name="s29_mem",
    )
    c = res.agg(
        F.expr("count_if(step = 1)").alias("n1"),
        F.expr("count_if(step = 2)").alias("n2"),
        F.expr("count_if(step = 3)").alias("n3"),
    )
    return funnel_report_from_counts(c)


@_register("s30_stream_concurrency", _R3["r88_interval_concurrency"])
def s30_stream_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r88's sweep-line peak-concurrency monitor run as a STREAM — the
    capacity-dashboard deployment shape: each JSON micro-batch reduces
    to its partial per-second (+1 start / -1 end) boundary deltas
    in _partial_replay (deltas are ASSOCIATIVE — the s26/s28 partials
    recipe) and lands idempotently in a _batch_id-partitioned sink (the
    s09 exactly-once recipe). The report then merges partials by
    boundary second and runs the identical segmented-scan tail
    (r88_report_from_deltas), so the streamed top-10 equals the batch
    sweep line bit-for-bit and s30 shares r88's oracle verbatim.

    Scale: ZERO streaming state — each micro-batch reduces map-side to
    its distinct boundary seconds; the sink grows by that per batch
    regardless of traffic; re-deriving the dashboard costs the bounded
    delta frame (time-span seconds), which is why a production monitor
    can re-rank concurrency every refresh tick."""
    from .relational3 import _R88_HOLD, r88_report_from_deltas

    def delta_partials(b: DataFrame) -> DataFrame:
        return (
            b.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("t").alias("bt"), F.lit(1).alias("dl")
                        ),
                        F.struct(
                            (F.col("t") + _R88_HOLD).alias("bt"),
                            F.lit(-1).alias("dl"),
                        ),
                    )
                ).alias("e")
            )
            .select("e.bt", "e.dl")
            .groupBy("bt")
            .agg(F.sum("dl").cast("long").alias("delta"))
        )

    merged = (
        _partial_replay(
            spark,
            _events_proj_wire(
                spark, sf_dir, lambda t: [t.cast("long").alias("t")]
            ),
            "t LONG",
            delta_partials,
            "s30",
        )
        .groupBy("bt")
        .agg(F.sum("delta").cast("long").alias("delta"))
        .withColumn("day", F.expr("bt div 86400"))
        .localCheckpoint()
    )
    return r88_report_from_deltas(merged)


@_register("s31_stream_auc", _AD["m18_exact_auc"])
def s31_stream_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m18's exact-AUC evaluation run as a STREAM — the live
    discrimination monitor completing the deployed-metric family
    (drift s28, calibration s26, now ranking quality): each JSON
    micro-batch scores its events with the m04 model and reduces to
    its partial (event_type, rounded-score) positive/negative counts
    in _partial_replay (the histogram is ASSOCIATIVE — the s26/s28
    partials recipe), landing idempotently in a _batch_id-partitioned
    sink (s09). The report merges partials and runs the identical
    Mann-Whitney tail (m18_auc_from_counts), so the streamed AUC
    equals the batch evaluation bit-for-bit and s31 shares m18's
    oracle verbatim. The wire serializes the producer-side hour (the
    scoring feature), so the consumer never re-derives calendar
    fields from a re-parsed timestamp.

    Scale: ZERO streaming state — each micro-batch reduces map-side
    to its distinct (type, score) rows, bounded by the score codomain;
    the sink grows by that per batch; re-deriving AUC costs the
    bounded histogram, which is why a live dashboard can re-rank the
    model every refresh tick."""
    from .advanced import m18_auc_from_counts

    return m18_auc_from_counts(_score_hist(spark, sf_dir, "s31"))


@_register("s33_stream_ks_drift", _AD["m22_ks_drift"])
def s33_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m22's exact KS drift test run as a STREAM — the second monitor in
    the deployed drift suite (s28 = binned PSI, s33 = unbinned shape):
    the reference ECDF counts are frozen batch-side from the historical
    half; live traffic arrives as JSON micro-batches, each reducing to
    its partial (event_type, cent, n) counts in _partial_replay and
    landing idempotently in a _batch_id-partitioned sink (the s09
    exactly-once recipe). Value counts per cent are associative, so the
    merged live histogram equals the batch one exactly, and the final
    report runs the identical integer ECDF-gap step
    (m22_ks_from_counts) — s33 shares m22's oracle verbatim.

    Scale: zero streaming state — each micro-batch reduces to at most
    |types| x |distinct cents in the batch| rows; the KS re-evaluation
    costs the domain-bounded counts frame, never the traffic. This is
    the production cadence: re-run the test every refresh tick against
    a frozen reference without rescanning history."""
    from .advanced import (
        m17_split_seconds,
        m22_ks_from_counts,
    )

    ev = load_table(spark, sf_dir, "events")
    split_s = m17_split_seconds(spark, sf_dir)
    t = event_seconds()
    cent = F.round(F.col("value") * 100).cast("long").alias("cent")
    ref = (
        ev.where(t < F.lit(split_s))
        .select("event_type", cent)
        .groupBy("event_type", "cent")
        .agg(F.count("*").alias("ref_n"))
        .localCheckpoint()
    )
    live = (
        _live_half_replay(
            spark,
            sf_dir,
            split_s,
            lambda b: (
                b.select("event_type", cent)
                .groupBy("event_type", "cent")
                .agg(F.count("*").alias("n"))
            ),
            "s33",
        )
        .groupBy("event_type", "cent")
        .agg(F.sum("n").cast("long").alias("cur_n"))
    )
    per_type = (
        ref.join(live, ["event_type", "cent"], "full_outer")
        .select(
            F.col("event_type").alias("segment"),
            "cent",
            F.coalesce("ref_n", F.lit(0)).alias("ref_n"),
            F.coalesce("cur_n", F.lit(0)).alias("cur_n"),
        )
        .localCheckpoint()
    )
    all_seg = per_type.groupBy("cent").agg(
        F.sum("ref_n").alias("ref_n"), F.sum("cur_n").alias("cur_n")
    )
    counts = per_type.unionByName(
        all_seg.select(F.lit("ALL").alias("segment"), "cent", "ref_n", "cur_n")
    )
    return m22_ks_from_counts(counts)


@_register("s34_stream_quality_audit", _R3["r90_quality_audit"])
def s34_stream_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r90's Deequ-class constraint audit run as a STREAM — continuous
    data-quality monitoring on ingest: lineitem rows arrive as JSON
    micro-batches; each batch reduces inside foreachBatch to its keyed
    partial frame (per-(orderkey, linenumber) row counts + per-key
    violation counters, r90_keyed_partials — every column an
    associative sum) and lands idempotently in a _batch_id-partitioned
    sink (the s09 exactly-once recipe). The report re-sums partials by
    key and runs the identical final step (r90_report_from_partials),
    so the streamed audit equals the batch one bit-for-bit and s34
    shares r90's oracle verbatim. Uniqueness and referential integrity
    — the two constraints a per-batch-only monitor CANNOT check because
    a key's duplicate may arrive in a different batch — come out exact
    because the keyed partials merge losslessly across batches.

    Scale: zero streaming state; the sink grows by |batch keys| per
    batch; re-running the verdict costs the bounded key frame, never
    the traffic."""
    from .relational3 import r90_keyed_partials, r90_report_from_partials

    li = load_table(spark, sf_dir, "lineitem")
    ords = load_table(spark, sf_dir, "orders")
    wire = li.select(
        F.to_json(
            F.struct(
                "l_orderkey",
                "l_linenumber",
                "l_quantity",
                "l_discount",
                "l_returnflag",
                "l_extendedprice",
                "l_shipdate",
            )
        ).alias("value")
    )

    d = materialize_wire_dir(wire, n_files=4)
    schema = (
        "l_orderkey BIGINT, l_linenumber INT, l_quantity DOUBLE,"
        " l_discount DOUBLE, l_returnflag STRING, l_extendedprice DOUBLE,"
        " l_shipdate TIMESTAMP"
    )

    def audit_partials(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(F.from_json("value", schema).alias("r")).select(
            "r.*"
        )
        return r90_keyed_partials(b)

    merged = (
        replay_foreach_batch(spark, d, audit_partials, "s34", 2)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(
            *[
                F.sum(c).alias(c)
                for c in ("c", "bad_qty", "bad_disc", "bad_flag",
                          "bad_price", "null_ship")
            ]
        )
    )
    return r90_report_from_partials(merged, ords)


@_register("s35_stream_table_stats", _R3["r91_table_stats"])
def s35_stream_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r91's ANALYZE statistics maintained ON INGEST — the production
    cadence for optimizer stats (auto-refresh as data lands, never a
    full rescan): lineitem rows arrive as JSON micro-batches; each
    reduces inside foreachBatch to its per-(column, value-key) partial
    frame (count + numeric min/max — every column of which merges
    associatively) and lands idempotently in a _batch_id-partitioned
    sink (the s09 recipe). The report re-merges partials by (col, vk)
    — exact NDV needs the distinct VALUE SET, which is precisely what
    the keyed partials preserve and a plain per-batch counter cannot —
    then runs the identical second-level reduce, so the streamed stats
    equal the batch ANALYZE bit-for-bit and s35 shares r91's oracle.

    Scale: zero streaming state; the sink grows by |batch distinct
    (col, value)| per batch — the same bound as r91's shuffle — and
    the verdict recomputation costs the bounded value-key frame."""
    from .relational3 import (
        _R91_ALL_COLS,
        _R91_KEY_COLS,
        r91_long_form,
        r91_stats_from_long,
    )

    li = load_table(spark, sf_dir, "lineitem")
    wire = li.select(F.to_json(F.struct(*_R91_ALL_COLS)).alias("value"))

    d = materialize_wire_dir(wire, n_files=4)
    # parse back with the table's own column types, so r91_long_form
    # picks the same typed key as the batch r91
    schema = li.select(_R91_ALL_COLS).schema

    def stats_partials(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(F.from_json("value", schema).alias("r")).select(
            "r.*"
        )
        # narrowed partials (see r91_long_form): (cid, typed key, count)
        # only — min/max re-derive from the key set at report time, so
        # the per-batch shuffle, the sink, and the merge all drop the
        # vn/mn/mx payload (guide §2.3)
        return (
            r91_long_form(b)
            .groupBy("cid", *_R91_KEY_COLS)
            .agg(F.count("*").alias("c"))
        )

    merged = (
        replay_foreach_batch(spark, d, stats_partials, "s35", 2)
        .groupBy("cid", *_R91_KEY_COLS)
        .agg(F.sum("c").alias("c"))
    )
    return r91_stats_from_long(merged)


@_register("s36_stream_bm25_probe", _LL["l77_bm25_topk"])
def s36_stream_bm25_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l77's BM25 retrieval deployed as a QUERY SERVICE — the sparse
    twin of the dense probe service (s27): search requests arrive as
    JSON micro-batches of (query_id, term) rows; each batch probes the
    STATIC persisted inverted index (tf / doc-length / corpus stats,
    frozen batch-side exactly as a search engine serves from an
    immutable index generation) and writes its per-query top-5 to an
    idempotent _batch_id-partitioned sink (the s09 recipe). Because a
    query's terms always travel in one request, per-batch top-k needs
    no cross-batch merge, and the union of batch answers equals the
    batch evaluation — s36 shares l77's oracle verbatim.

    Scale: zero streaming state; per batch only the requested terms'
    postings survive the first broadcast join (the l77 probe path);
    the corpus-sized index frames are localCheckpointed once per
    session, never rebuilt per batch."""
    from pyspark.sql.window import Window

    from .llmops import _L77_CONTRIB, _L77_QUERIES, _L77_TOPK

    docs = load_table(spark, sf_dir, "documents").filter(
        F.trim("text") != ""
    )
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim("text")), "[^a-z0-9]+")).alias("t"),
    ).filter(F.col("t") != "")
    tf = (
        tok.groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
        .localCheckpoint()
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl")).localCheckpoint()
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    ).localCheckpoint()
    # one request LINE per query (terms travel together — the request
    # is the atomic unit, so no cross-batch score merge is ever needed)
    wire = (
        spark.createDataFrame(_L77_QUERIES, ["query_id", "t"])
        .groupBy("query_id")
        .agg(F.sort_array(F.collect_list("t")).alias("terms"))
        .select(F.to_json(F.struct("query_id", "terms")).alias("value"))
    )

    d = materialize_wire_dir(wire, n_files=3)

    def probe(batch_df: DataFrame) -> DataFrame | None:
        q = (
            batch_df.select(
                F.from_json(
                    "value", "query_id BIGINT, terms ARRAY<STRING>"
                ).alias("r")
            )
            .select("r.query_id", F.explode("r.terms").alias("t"))
            .where(F.col("t").isNotNull())
        )
        if q.isEmpty():
            return None
        dfq = (
            tf.join(F.broadcast(q.select("t").distinct()), "t")
            .groupBy("t")
            .agg(F.count("*").alias("df"))
        )
        # c is per-(term, doc): compute it on the index-sized postings
        # BEFORE the request join replicates rows (the l77/l84
        # restructure; guide §2.3) — identical expression, same values.
        contrib = (
            tf.join(F.broadcast(dfq), "t")
            .join(dl.hint("merge"), "doc_id")
            .crossJoin(F.broadcast(stats))
            .selectExpr("t", "doc_id", f"{_L77_CONTRIB} AS c")
            .join(F.broadcast(q), "t")
            .select("query_id", "doc_id", "c")
        )
        win = Window.partitionBy("query_id").orderBy(
            F.desc("score_micro"), F.asc("doc_id")
        )
        return (
            contrib.groupBy("query_id", "doc_id")
            .agg(F.sum("c").alias("score_micro"))
            .withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= _L77_TOPK)
        )

    return replay_foreach_batch(spark, d, probe, "s36", 1).select(
        F.col("query_id").cast("long").alias("query_id"),
        F.col("rnk").cast("long").alias("rnk"),
        "doc_id",
        F.col("score_micro").cast("long").alias("score_micro"),
    )


@_register("s37_stream_threshold_tuning", _AD["m24_threshold_tuning"])
def s37_stream_threshold_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m24's cost-sensitive threshold optimization run as a STREAM —
    the last member of the deployed-metric family (drift s28/s33,
    calibration s26, ranking s31, now the DECISION itself): each JSON
    micro-batch reduces to its partial (event_type, rounded-score)
    positive/negative counts in _partial_replay (the same associative
    histogram s31 maintains) and lands idempotently in a
    _batch_id-partitioned sink (s09). The report merges partials and
    runs the identical utility sweep (m24_report_from_counts), so the
    streamed optimal threshold equals the batch one bit-for-bit and
    s37 shares m24's oracle verbatim. Operationally this is threshold
    RETUNING on live traffic — the alert rule follows the score
    distribution instead of being frozen at deploy time.

    Scale: zero streaming state; per batch the sink grows by the
    distinct (type, score) rows of that batch; re-optimizing costs the
    codomain-bounded histogram sweep."""
    from .advanced import m24_report_from_counts

    return m24_report_from_counts(_score_hist(spark, sf_dir, "s37"))


@_register("s38_stream_ab_monitor", _AD["m26_ab_test"])
def s38_stream_ab_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m26's experiment readout maintained LIVE — the always-on A/B
    dashboard: each JSON micro-batch reduces in _partial_replay to its
    per-(event_type, arm) count / cents-sum / sum-of-squares partials
    (all associative) and lands idempotently in a _batch_id-partitioned
    sink (s09). The report re-sums partials and runs the identical
    wide/Welch tail (m26_report_from_arm_stats), so the streamed
    verdict equals the batch analysis bit-for-bit and s38 shares m26's
    oracle verbatim. (A production deployment would gate on sequential-
    testing corrections; the REPORT arithmetic is what this query
    pins.)

    Scale: zero streaming state; the sink grows by <= 2 x |types| rows
    per batch; re-evaluating the experiment costs a ~12-row frame."""
    from .advanced import m26_arm_stats, m26_report_from_arm_stats

    merged = (
        _partial_replay(
            spark,
            _events_proj_wire(
                spark,
                sf_dir,
                lambda t: [F.col("event_type"), F.col("user_id"), F.col("value")],
            ),
            "value DOUBLE, event_type STRING, user_id BIGINT",
            m26_arm_stats,
            "s38",
        )
        .groupBy("segment", "arm")
        .agg(
            F.sum("n").alias("n"),
            F.sum("s").alias("s"),
            F.sum("q").alias("q"),
        )
        .localCheckpoint()
    )
    return m26_report_from_arm_stats(merged)


@_register("s39_stream_cusum", _AD["m28_cusum_alarm"])
def s39_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m28's CUSUM change detector run as a STREAM — the deployment
    shape sequential detection was invented for: each JSON micro-batch
    reduces in _partial_replay to its partial per-day cents sums
    (associative) and lands idempotently in a _batch_id-partitioned
    sink (s09); the report re-sums partials into the exact daily frame
    and runs the identical closed-form windows, so the streamed alarm
    trace equals the batch one bit-for-bit and s39 shares m28's oracle
    verbatim. (A per-event implementation would instead carry the two
    int64s (P_t, min-P) in keyed state — the day-partial form is the
    replay-auditable one, since it reconstructs the whole alarm
    history, not just the current level.)

    Scale: zero streaming state; the sink grows by <= |days touched|
    rows per batch; re-evaluating the detector costs the bounded daily
    frame."""
    from pyspark.sql.window import Window

    from .advanced import _M28_H, _M28_K

    day = (
        F.unix_timestamp(F.date_trunc("day", F.col("ts")).cast("timestamp"))
        / F.lit(86400)
    ).cast("long")
    daily = (
        _partial_replay(
            spark,
            _events_proj_wire(
                spark, sf_dir, lambda t: [F.col("ts"), F.col("value")]
            ),
            "value DOUBLE, ts TIMESTAMP",
            lambda b: b.groupBy(day.alias("d")).agg(
                F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
            ),
            "s39",
        )
        .groupBy("d")
        .agg(F.sum("cents").cast("long").alias("day_cents"))
        .localCheckpoint()
    )
    w = Window.orderBy("d").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    p = daily.withColumn(
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


@_register("s40_stream_vocab_growth", _LL["l88_vocab_growth"])
def s40_stream_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l88's Heaps-law vocabulary curve maintained ON INGEST — the
    corpus-health monitor that catches encoding garbage or boilerplate
    floods the moment a batch mints an anomalous number of new word
    types: documents arrive as JSON micro-batches; each reduces inside
    foreachBatch to its partial (batch-bucket, token) -> (count,
    min-bucket) facts and lands idempotently (s09). First-seen
    attribution is a MIN — associative — so re-merging partials by
    token reproduces the exact batch-mode min-bucket table, and the
    final curve equals l88's bit-for-bit (shared oracle verbatim).

    Scale: zero streaming state; the sink grows by the batch's
    distinct (bucket, token) pairs; re-plotting the curve costs the
    vocabulary-bounded merge plus the |buckets|-row windows."""
    from .llmops import _L88_BATCH

    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    wire = docs.select(
        F.to_json(F.struct("doc_id", "text")).alias("value")
    )

    d = materialize_wire_dir(wire, n_files=4)

    def vocab_partials(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(
            F.from_json("value", "doc_id BIGINT, text STRING").alias("r")
        ).select("r.doc_id", "r.text")
        b = b.where(F.col("text").isNotNull() & (F.trim("text") != ""))
        tok = b.select(
            (F.col("doc_id") / _L88_BATCH).cast("long").alias("b"),
            F.explode(
                F.split(F.lower(F.trim("text")), "[^a-z0-9]+")
            ).alias("t"),
        ).filter(F.col("t") != "")
        return tok.groupBy("b", "t").agg(F.count("*").alias("c"))

    merged = (
        replay_foreach_batch(spark, d, vocab_partials, "s40", 2)
        .groupBy("b", "t")
        .agg(F.sum("c").alias("c"))
        .localCheckpoint()  # feeds totals AND first-seen
    )
    totals = merged.groupBy("b").agg(F.sum("c").alias("n_tokens"))
    news = (
        merged.groupBy("t")
        .agg(F.min("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("new_types"))
    )
    w = Window.orderBy("b").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        totals.join(news, "b", "left")
        .select(
            "b",
            "n_tokens",
            F.coalesce("new_types", F.lit(0)).alias("new_types"),
        )
        .select(
            F.col("b").cast("long").alias("batch_id"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            F.col("new_types").cast("long").alias("new_types"),
            F.sum("new_types").over(w).cast("long").alias("vocab_size"),
        )
    )


@_register("s41_stream_view_maintenance", _R3["r89_incremental_view_maintenance"])
def s41_stream_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r89's incremental view maintenance run as a STREAM — the natural
    deployment of IVM: order inserts arrive as JSON micro-batches; each
    batch reduces inside foreachBatch to its per-customer delta summary
    via the SAME aggregate r89 uses (_r89_agg) and lands idempotently in
    a _batch_id-partitioned sink (the s09 exactly-once recipe); the
    maintained view is then folded delta-by-delta in batch order with
    the SAME self-maintainable-aggregate merge (_r89_merge). Counts and
    sums add, min/max and date bounds combine via null-safe least /
    greatest, so the folded view equals the one-shot GROUP BY over all
    orders bit-for-bit and s41 shares r89's oracle verbatim. The
    cross-batch case — one customer's orders scattered over several
    micro-batches — is exactly what the merge algebra exists for
    (pinned separately in
    tests/test_streaming.py::test_r89_merge_handles_cross_batch_customers).

    Scale: ZERO streaming state — each micro-batch is pre-aggregated
    map-side to its own key summary before anything persists; the sink
    grows by the batch's distinct customers; each fold step is a keyed
    full-outer join between two aggregate frames (no corpus-sized
    side), localCheckpointed so the plan stays linear in the number of
    deltas. At 100 TB the snapshot view is the only large frame and it
    is never rebuilt — the same posture as r89, now with the refresh
    loop actually running on a stream."""
    from .relational3 import _r89_agg, _r89_merge

    ord_ = load_table(spark, sf_dir, "orders")
    wire = ord_.select(
        F.to_json(
            F.struct(
                "o_custkey",
                "o_totalprice",
                F.col("o_orderdate").cast("date").cast("string").alias("d"),
            )
        ).alias("value")
    )

    d = materialize_wire_dir(wire, n_files=4)

    def view_deltas(batch_df: DataFrame) -> DataFrame:
        b = batch_df.select(
            F.from_json(
                "value", "o_custkey LONG, o_totalprice DOUBLE, d STRING"
            ).alias("r")
        ).select(
            "r.o_custkey",
            "r.o_totalprice",
            F.col("r.d").cast("date").alias("o_orderdate"),
        )
        return _r89_agg(b.where(F.col("o_custkey").isNotNull()))

    parts = replay_foreach_batch(spark, d, view_deltas, "s41", 1)
    batch_ids = sorted(
        r[0] for r in parts.select("_batch_id").distinct().collect()
    )
    view = None
    for bid in batch_ids:
        delta = parts.where(F.col("_batch_id") == bid).drop("_batch_id")
        view = (
            delta.localCheckpoint()
            if view is None
            else _r89_merge(view, delta).localCheckpoint()
        )
    return view


@_register("s42_stream_skyline", _R3["r98_pareto_skyline"])
def s42_stream_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r98's Pareto skyline maintained ON INGEST — the live
    multi-criteria shortlist: orders arrive as JSON micro-batches; each
    batch reduces in _partial_replay to its OWN Pareto front via the
    shared lowering (skyline_front) and lands idempotently in a
    _batch_id-partitioned sink (s09); the final front is the skyline of
    the unioned per-batch fronts. Dominance is transitive across
    batches — skyline(A ∪ B) == skyline(skyline(A) ∪ skyline(B)) — so
    the streamed front equals the one-shot skyline bit-for-bit and s42
    shares r98's oracle verbatim (cross-batch dominance pinned in
    tests/test_streaming.py).

    Scale: zero streaming state; each micro-batch persists only its
    front (typically O(log batch) rows for anti-correlated dims); the
    final merge runs the day-bucketed lowering over the tiny union of
    fronts. A production deployment keeps the running front as the
    'view' and re-merges per refresh tick at front-sized cost."""
    from .relational3 import skyline_front

    ord_ = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    wire = (
        ord_.where((d >= F.lit("1997-01-01")) & (d < F.lit("1998-01-01")))
        .select(
            F.to_json(
                F.struct(
                    "o_orderkey",
                    F.datediff(d, F.lit("1970-01-01"))
                    .cast("long")
                    .alias("d"),
                    F.round(F.col("o_totalprice") * 100)
                    .cast("long")
                    .alias("cents"),
                )
            ).alias("value")
        )
    )
    fronts = _partial_replay(
        spark,
        _session_wire(spark, "s42", sf_dir, lambda: materialize_wire_dir(wire)),
        "o_orderkey LONG, d LONG, cents LONG",
        # skyline_front ends in a broadcast join, not an aggregate: the
        # shuffle keeps the batch scan parallel, so only the front (at
        # most the batch's days x day-min ties) reaches the one writer
        lambda b: skyline_front(b).repartition(1),
        "s42",
    ).localCheckpoint()
    return skyline_front(fronts).select(
        "o_orderkey",
        F.date_add(F.lit("1970-01-01"), F.col("d").cast("int")).alias(
            "order_date"
        ),
        "cents",
    )


@_register("s43_stream_transitions", _R3["r99_event_transitions"])
def s43_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r99's Markov transition matrix learned ON INGEST — with the one
    thing that makes it non-trivially streamable: transitions SPAN
    micro-batch boundaries (a user's last event in batch k pairs with
    their first event in the next batch they appear in). Zero streaming
    state, pure partials: each batch reduces inside foreachBatch to
    (a) its inner (src, dst) transition counts and (b) one boundary row
    per user (first/last event type at the batch's per-user edges);
    because the wire is event-time ordered (the CEP wire's range
    partitioning), batch k's events precede batch k+1's for every user,
    so the read-time stitch is a lead() over each user's boundary rows
    by batch id — a frame bounded by users x batches, not events. The
    merged inner + stitched counts feed the shared report
    (transition_report_from_counts), equal to batch r99 bit-for-bit,
    sharing its oracle verbatim (boundary stitching pinned in
    tests/test_streaming.py).

    Scale: per batch the sink grows by |types|^2 + |active users| rows;
    the stitch and report run on boundary/matrix-bounded frames. This
    is the general recipe for sequence operators as streams: inner
    pairs are associative, edges carry O(1) per (user, batch)."""
    from .relational3 import transition_report_from_counts

    wdir = _funnel_wire_dir(spark, sf_dir)
    out_cnt = temp_dir("spark_graft_s43_cnt_")
    out_bnd = temp_dir("spark_graft_s43_bnd_")
    ckpt = temp_dir("spark_graft_s43_ckpt_")

    def transition_partials(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql.window import Window as W

        b = batch_df.select(
            F.from_json(
                "value",
                "user_id LONG, event_type STRING, timestamp LONG,"
                " event_id LONG",
            ).alias("r")
        ).select(
            "r.user_id",
            F.col("r.event_type").alias("src"),
            (F.col("r.timestamp") * F.lit(1 << 20) + F.col("r.event_id"))
            .alias("k"),
        )
        b = b.where(F.col("user_id").isNotNull()).localCheckpoint()
        w = W.partitionBy("user_id").orderBy("k")
        inner = (
            b.withColumn("dst", F.lead("src").over(w))
            .where(F.col("dst").isNotNull())
            .groupBy("src", "dst")
            .agg(F.count("*").alias("n"))
        )
        (
            inner.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_cnt)
        )
        bnd = b.groupBy("user_id").agg(
            F.min_by("src", "k").alias("first_type"),
            F.max_by("src", "k").alias("last_type"),
        )
        (
            bnd.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(out_bnd)
        )

    stream = (
        spark.readStream.schema("value STRING")
        .option("maxFilesPerTrigger", 2)
        .text(wdir)
    )
    q = (
        stream.writeStream.foreachBatch(transition_partials)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from pyspark.sql.window import Window

    inner = spark.read.parquet(out_cnt).drop("_batch_id")
    bnd = spark.read.parquet(out_bnd)
    wb = Window.partitionBy("user_id").orderBy("_batch_id")
    stitched = (
        bnd.withColumn("nxt_first", F.lead("first_type").over(wb))
        .where(F.col("nxt_first").isNotNull())
        .select(
            F.col("last_type").alias("src"),
            F.col("nxt_first").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n"))
    )
    merged = (
        inner.unionByName(stitched)
        .groupBy("src", "dst")
        .agg(F.sum("n").alias("n"))
    )
    return transition_report_from_counts(merged)


@_register("s44_stream_average_precision", _AD["m35_average_precision"])
def s44_stream_average_precision(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """m35's exact average precision run as a STREAM — the live PR-side
    ranking monitor beside s31's ROC side, sharing the SAME sink
    artifact shape: each micro-batch reduces to its partial
    (event_type, rounded-score) positive/negative counts in
    _partial_replay (associative histogram, s26/s28/s31 recipe), lands
    idempotently (_batch_id-partitioned, s09), and the report merges
    partials into the identical AP tail (m35_ap_from_counts). The
    streamed AP equals batch m35 bit-for-bit and shares its oracle
    verbatim. In production the SAME persisted histogram feeds AUC
    (s31), AP (s44), calibration, and thresholds — one artifact, every
    ranking metric.

    Scale: zero streaming state; the sink grows by each batch's
    distinct (type, score) rows, bounded by the score codomain;
    re-deriving AP costs the bounded histogram."""
    from .advanced import m35_ap_from_counts

    return m35_ap_from_counts(_score_hist(spark, sf_dir, "s44"))


@_register("s45_stream_twa", _R3["r101_time_weighted_average"])
def s45_stream_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r101's time-weighted average maintained ON INGEST — the s43
    boundary-stitch recipe carrying a VALUE across the batch edge, not
    just a type: each event-time-ordered micro-batch reduces inside
    foreachBatch to per-user partials (event count, min/max t, the
    value in force at the batch's last sample, and the batch-inner
    weighted sum); at read time, consecutive batch segments of the same
    user stitch with weight (next segment's first t - this segment's
    last t) x this segment's closing value — a lead() over the bounded
    (user, batch) boundary frame — and the merged sums emit through the
    same integer TWA arithmetic, equal to batch r101 bit-for-bit
    (shares its oracle verbatim).

    Scale: zero streaming state; the sink grows by |active users| rows
    per batch; the stitch and report never touch event-sized frames.
    Together with s43 this pins the general recipe: ordered-sequence
    aggregates stream as inner partials + O(1) per-(key, batch) edge
    state."""
    from pyspark.sql.window import Window

    def wire() -> str:
        ev = load_table(spark, sf_dir, "events")
        t = event_seconds()
        wire_ts = ev.select(
            F.to_json(
                F.struct(
                    F.col("user_id"),
                    t.alias("t"),
                    F.col("event_id"),
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                )
            ).alias("value"),
            (t * F.lit(1 << 20) + F.col("event_id")).alias("_key"),
        )
        return materialize_ordered_wire_dir(wire_ts, "_key")

    wdir = _session_wire(spark, "s45_twa", sf_dir, wire)

    def twa_partials(batch_df: DataFrame) -> DataFrame:
        from pyspark.sql.window import Window as W

        b = batch_df.select(
            F.from_json(
                "value",
                "user_id LONG, t LONG, event_id LONG, cents LONG",
            ).alias("r")
        ).select("r.user_id", "r.t", "r.event_id", "r.cents")
        b = b.where(F.col("user_id").isNotNull()).withColumn(
            "k", F.col("t") * F.lit(1 << 20) + F.col("event_id")
        ).localCheckpoint()
        w = W.partitionBy("user_id").orderBy("k")
        nxt = b.withColumn("t2", F.lead("t").over(w))
        return nxt.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.min("t").alias("min_t"),
            F.max("t").alias("max_t"),
            F.expr("max_by(cents, k)").alias("last_cents"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("t2").isNotNull(),
                        F.col("cents") * (F.col("t2") - F.col("t")),
                    )
                ),
                F.lit(0),
            ).alias("wsum"),
        )

    part = replay_foreach_batch(spark, wdir, twa_partials, "s45", 2)
    wb = Window.partitionBy("user_id").orderBy("_batch_id")
    stitched = part.withColumn(
        "nxt_first_t", F.lead("min_t").over(wb)
    ).withColumn(
        "stitch_w",
        F.when(
            F.col("nxt_first_t").isNotNull(),
            F.col("last_cents") * (F.col("nxt_first_t") - F.col("max_t")),
        ).otherwise(F.lit(0)),
    )
    agg = stitched.groupBy("user_id").agg(
        F.sum("n_events").alias("n_events"),
        (F.max("max_t") - F.min("min_t")).alias("span_s"),
        F.sum(F.col("wsum") + F.col("stitch_w")).alias("wsum"),
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


@_register("s46_stream_bootstrap_ci", _AD["m38_bootstrap_ci"])
def s46_stream_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m38's Poisson-bootstrap CI maintained ON INGEST — uncertainty
    bands that tighten live as data arrives: the Poisson formulation is
    what makes this possible at all (row-wise deterministic weights
    need no cross-batch resampling coordination), so each micro-batch
    reduces in _partial_replay to its (type, replicate) weighted-sum
    partials plus the full-sample partials (tagged b = -1), lands
    idempotently (s09), and the report merges partials into the
    identical CI tail (m38_ci_from_reps) — equal to batch m38
    bit-for-bit, sharing its oracle verbatim.

    Scale: zero streaming state; the sink grows by |types| x (B+1)
    rows per batch; re-deriving the bands costs the replicate-bounded
    merge."""
    from .advanced import _M38_B, _M38_W, m38_ci_from_reps

    def ci_partials(b: DataFrame) -> DataFrame:
        b = b.localCheckpoint()
        w = (
            b.select(
                "event_type",
                "cents",
                F.explode(
                    F.sequence(F.lit(0), F.lit(_M38_B - 1))
                ).alias("b"),
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
        full_ = b.groupBy("event_type").agg(
            F.lit(-1).alias("b"),
            F.sum("cents").cast("long").alias("s"),
            F.count("*").cast("long").alias("n"),
        ).select("event_type", "b", "s", "n")
        return rep.unionByName(full_)

    merged = (
        _partial_replay(
            spark,
            _events_proj_wire(
                spark,
                sf_dir,
                lambda t: [
                    F.col("event_type"),
                    F.round(F.col("value") * 100).cast("long").alias("cents"),
                    F.col("event_id"),
                ],
            ),
            "event_id LONG, event_type STRING, cents LONG",
            ci_partials,
            "s46",
        )
        .groupBy("event_type", "b")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .localCheckpoint()
    )
    rep = merged.where(F.col("b") >= 0)
    full_ = merged.where(F.col("b") == -1).select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        F.expr("CAST((1000000 * s) div n AS BIGINT)").alias("mean_micro"),
    )
    return m38_ci_from_reps(rep, full_)


@_register("s47_stream_equidepth", _R3["r100_equidepth_histogram"])
def s47_stream_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r100's equi-depth boundaries maintained ON INGEST — the ANALYZE-
    statistics companion to s35: each lineitem micro-batch reduces
    in _partial_replay to its (col, value) count partials (associative
    — the s35 recipe over the melted two-column frame), lands
    idempotently, and every refresh recomputes the exact boundaries
    from the merged value histogram via the shared tail
    (equidepth_from_counts), equal to batch r100 bit-for-bit and
    sharing its oracle verbatim. This is how range-partitioner split
    points stay current without rescanning history.

    Scale: zero streaming state; the sink grows by each batch's
    distinct (col, value) rows (value-domain bounded); the boundary
    pick costs the bounded histogram."""
    from .relational3 import equidepth_from_counts

    li = load_table(spark, sf_dir, "lineitem")
    wire = li.select(
        F.to_json(
            F.struct(
                F.col("l_quantity").alias("q"),
                F.col("l_extendedprice").alias("p"),
            )
        ).alias("value")
    )

    def hist_partials(b: DataFrame) -> DataFrame:
        # melt by exploding a 2-struct array, NOT a union of two
        # projections: each union branch re-read and re-parsed the
        # batch's JSON wire (2x the from_json cost — guide §2.4 remove
        # duplicated passes). Same rows, same values: the batch twin
        # r100 keeps the union because its branches are two pruned
        # columnar scans, which ARE the cheap form there.
        vals = b.select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("l_quantity").alias("col"),
                        F.expr("CAST(round(q) AS BIGINT)").alias("v"),
                    ),
                    F.struct(
                        F.lit("price_dollars").alias("col"),
                        F.expr(
                            "CAST(round(p * 100) AS BIGINT) div 100"
                        ).alias("v"),
                    ),
                )
            ).alias("s")
        ).select("s.col", "s.v")
        return vals.groupBy("col", "v").agg(F.count("*").alias("c"))

    merged = (
        _partial_replay(
            spark,
            _session_wire(spark, "s47", sf_dir, lambda: materialize_wire_dir(wire)),
            "q DOUBLE, p DOUBLE",
            hist_partials,
            "s47",
        )
        .groupBy("col", "v")
        .agg(F.sum("c").alias("c"))
    )
    return equidepth_from_counts(merged)


@_register("s48_stream_sliding_median", _R3["r103_sliding_median"])
def s48_stream_sliding_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r103's exact trailing-median dashboard line maintained ON INGEST:
    each micro-batch reduces in _partial_replay to its (day, value)
    histogram partials (associative — the s35/s47 recipe), lands
    idempotently, and every refresh re-derives the exact per-day
    trailing medians from the merged histogram via the shared inversion
    tail (sliding_median_from_hist) — equal to batch r103 bit-for-bit,
    sharing its oracle verbatim. An exact median is famously
    non-mergeable as a scalar; as a value-domain HISTOGRAM it merges
    trivially — that reframing is the whole operator.

    Scale: zero streaming state; the sink grows by each batch's
    distinct (day, value) rows; the report costs the bounded merged
    histogram."""
    from .relational3 import R103, sliding_median_from_hist

    merged = (
        _replay_events(spark, sf_dir, R103, "s48")
        .groupBy("d", "cents")
        .agg(F.sum("c").alias("c"))
    )
    return sliding_median_from_hist(merged)


@_register("s49_stream_decayed_leaderboard", _R3["r104_decayed_leaderboard"])
def s49_stream_decayed_leaderboard(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """r104's recency-decayed leaderboard maintained ON INGEST — the
    live dashboard ranking: each micro-batch reduces in
    _partial_replay to its (user, day) cents/count partials (associative),
    lands idempotently, and every refresh re-ranks from the merged
    daily frame through the shared exact-integer decay tail
    (decayed_leaderboard_from_daily — the reference day re-derives from
    the partials, so the sink carries no extra state). Equal to batch
    r104 bit-for-bit, sharing its oracle verbatim. Note the decay
    SEMANTICS make the re-rank mandatory: aging shifts every score as
    d1 advances, so a leaderboard that only merges score deltas goes
    stale — re-deriving from the key-domain-bounded daily frame is the
    correct (and cheap) refresh.

    Scale: zero streaming state; sink grows by each batch's distinct
    (user, day) rows; the re-rank costs the bounded daily frame."""
    from .relational3 import R104, decayed_leaderboard_from_daily

    merged = (
        _replay_events(spark, sf_dir, R104, "s49")
        .groupBy("user_id", "d")
        .agg(
            F.sum("day_cents").alias("day_cents"),
            F.sum("n").alias("n"),
        )
    )
    return decayed_leaderboard_from_daily(merged)


# ---------------------------------------------------------------------------
# s50-s53: streaming twins of the round-10 fraud-rules pack. Same
# discipline as s41-s49: each micro-batch reduces to associative
# keyed partials inside foreachBatch, lands idempotently (dynamic
# partition overwrite keyed by batch id), and the snapshot re-derives
# through the batch query's shared tail — bit-for-bit equal to the
# batch form, sharing its oracle verbatim.
# ---------------------------------------------------------------------------


@_register("s50_stream_velocity", _R3["r106_velocity_alerts"])
def s50_stream_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r106's velocity rule maintained ON INGEST: micro-batches reduce
    to (user, second) counts — associative, and sufficient because a
    RANGE frame gives every event in a second the identical trailing
    count — then the merged per-second frame flows through the shared
    tail (velocity_from_second_counts). Equal to batch r106
    bit-for-bit, sharing its oracle verbatim.

    Scale: partials are bounded by active (user, second) pairs per
    batch; no raw event is stored twice, no streaming state — the
    trailing-window evaluation happens on the merged bounded frame at
    refresh."""
    from .relational3 import velocity_from_second_counts

    d = _events_proj_wire(
        spark,
        sf_dir,
        lambda t: ["user_id", t.cast("long").alias("s")],
    )
    merged = _partial_replay(
        spark,
        d,
        "user_id LONG, s LONG",
        lambda b: b.groupBy("user_id", "s").agg(F.count("*").alias("c")),
        "s50",
    )
    sc = merged.groupBy("user_id", "s").agg(F.sum("c").alias("c"))
    return velocity_from_second_counts(sc)


@_register("s51_stream_structuring", _R3["r108_structuring"])
def s51_stream_structuring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r108's structuring (smurfing) detector as a live rule: each
    micro-batch filters to the just-under-threshold band (map-side,
    on the raw amount, as r108 does) and lands (user, day)
    count/cents partials; the snapshot merges and applies the >= K
    incident cut through the shared tail. Equal to batch r108,
    sharing its oracle verbatim.

    Scale: the band filter runs BEFORE the wire in production (here:
    in the batch reducer) so partial volume is ~2% of events; merge
    and cut cost the incident-candidate frame only."""
    from .relational3 import R108, structuring_from_userday

    return structuring_from_userday(_replay_events(spark, sf_dir, R108, "s51"))


@_register("s52_stream_equiwidth", _R3["r114_equiwidth_histogram"])
def s52_stream_equiwidth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r114's equi-width amount histogram (the reference's Grafana
    histogram panel, screenshots/AmountHistogram.jpg) maintained ON
    INGEST: per-batch bin partials (count + cents sum per bin — the
    canonical associative histogram merge), snapshot = merged bins
    LEFT JOINed onto the full bin scaffold so empty bars render. Equal
    to batch r114, sharing its oracle verbatim.

    Scale: partial size is |bins| per batch regardless of batch
    volume; the merge is bin-domain. The streaming histogram is THE
    textbook partial-aggregation shape."""
    from .relational3 import R114, equiwidth_from_bins

    return equiwidth_from_bins(spark, _replay_events(spark, sf_dir, R114, "s52"))


@_register("s53_stream_benford", _AD["m42_benford_first_digit"])
def s53_stream_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m42's Benford first-digit audit as a CONTINUOUS control: each
    micro-batch of orders reduces to 9 digit-count partials; the
    snapshot merges and re-derives shares/chi-square through the
    shared tail (benford_from_digit_counts) — the drift of the
    chi-square statistic over ingest is exactly what a fraud-ops team
    alerts on. Equal to batch m42, sharing its oracle verbatim.

    Scale: 9-row partials per batch; the tail is digit-domain. Zero
    streaming state."""
    from .advanced import M42, benford_from_digit_counts

    return benford_from_digit_counts(_replay_events(spark, sf_dir, M42, "s53"))


@_register("s54_stream_mom_revenue", _R3["r115_period_over_period"])
def s54_stream_mom_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r115's month-over-month revenue maintained ON INGEST: monthly
    (rev, count) partials per micro-batch — the canonical associative
    rollup — then the calendar-bounded lag re-derives deltas at
    refresh (a delta-only merge would go stale when late rows land in
    a closed month; re-deriving from the month-bounded frame is
    correct and costs |months|). Equal to batch r115, sharing its
    oracle verbatim.

    Scale: |months| partial rows per batch; zero streaming state."""
    from .relational3 import R115, mom_from_monthly

    return mom_from_monthly(_replay_events(spark, sf_dir, R115, "s54"))


@_register("s55_stream_peer_deviation", _R3["r111_peer_deviation"])
def s55_stream_peer_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r111's peer-group deviation as a live control: order events
    arrive with their customer's nation (the enrichment join happens
    at ingest against the static dimension — the streaming-side
    broadcast join every CDC pipeline runs), micro-batches land
    (customer, nation) order-count/spend partials, and the snapshot
    re-derives the nation peer averages FROM the merged partials
    before the 1.4x cut. Equal to batch r111, sharing its oracle
    verbatim.

    Scale: partials are customer-domain bounded; the peer frame is
    nation-domain. Re-deriving peer averages at refresh is mandatory
    (every batch shifts them) and costs the bounded customer frame."""
    from .relational3 import peer_deviation_from_cust

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    wire = (
        o.join(c, o.o_custkey == c.c_custkey)
        .select(
            F.to_json(
                F.struct(
                    F.col("c_custkey").alias("ck"),
                    F.col("c_nationkey").alias("nk"),
                    F.round(F.col("o_totalprice") * 100)
                    .cast("long")
                    .alias("cents"),
                )
            ).alias("value")
        )
    )
    merged = _partial_replay(
        spark,
        _session_wire(spark, "s55", sf_dir, lambda: materialize_wire_dir(wire)),
        "ck LONG, nk INT, cents LONG",
        lambda b: b.groupBy("ck", "nk").agg(
            F.count("*").alias("n_orders"),
            F.sum("cents").alias("spend_cents"),
        ),
        "s55",
    )
    return peer_deviation_from_cust(
        merged.select(
            F.col("ck").alias("c_custkey"),
            F.col("nk").alias("c_nationkey"),
            "n_orders",
            "spend_cents",
        )
    )


@_register("s56_stream_gopher_audit", _LL["l98_gopher_quality_rules"])
def s56_stream_gopher_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l98's Gopher rule audit as a STREAMING data-quality firewall:
    documents are judged per micro-batch (every rule is a per-row
    expression, so judging happens map-side at ingest) and only the
    (lang, source) rule-count partials land — the audit table a
    curation pipeline maintains while the crawl streams in. Equal to
    batch l98, sharing its oracle verbatim.

    Scale: per-batch partial volume is |slices| rows regardless of
    batch size; document text never lands in the sink and never
    crosses a shuffle."""
    from .llmops import L98, gopher_report_from_slice_partials

    return gopher_report_from_slice_partials(
        _replay_events(spark, sf_dir, L98, "s56")
    )


@_register("s57_stream_ohlc", _TS["r119_ohlc_resample"])
def s57_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r119's daily OHLC candles maintained ON INGEST — the live
    candlestick builder: per-batch partials carry open/close VALUE
    AND KEY ((second, event_id) of the batch-local extremes), because
    FIRST/LAST only merge associatively when the merge can re-compare
    the keys (min_by/max_by over the carried struct); high/low/count/
    volume merge as plain min/max/sums. Equal to batch r119, sharing
    its oracle verbatim.

    Scale: |days| partial rows per batch; the merge is day-keyed over
    the bounded candle frame. The carried-key trick is the general
    recipe for streaming argmin/argmax."""
    from .timeseries import R119, ohlc_from_partials

    return ohlc_from_partials(_replay_events(spark, sf_dir, R119, "s57"))


@_register("s58_stream_tukey", _AD["m51_tukey_fences"])
def s58_stream_tukey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m51's Tukey outlier fences as a live monitor: per-batch
    (event_type, cents) histogram partials — the universal mergeable
    representation this registry leans on (s47/s48's rationale:
    quantile-family statistics don't merge as scalars but merge
    trivially as value histograms) — with the exact integer fence
    arithmetic re-derived at refresh through the shared tail. Equal
    to batch m51, sharing its oracle verbatim.

    Scale: partial volume is the batch's distinct (type, cents)
    domain; no raw row lands twice; zero streaming state."""
    from .advanced import M51, tukey_from_hist

    return tukey_from_hist(_replay_events(spark, sf_dir, M51, "s58"))


@_register("s59_stream_rings", _R3["r118_cooccurrence_rings"])
def s59_stream_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r118's collusion-ring screen maintained ON INGEST: per-batch
    partials are the batch's DISTINCT (user, minute) presence rows —
    presence is a SET, and sets merge by union+distinct, so the sink
    stays bounded by active (user, minute) pairs however the stream
    is batched; the pair join + >= K cut re-derives at refresh
    through the shared tail. Equal to batch r118, sharing its oracle
    verbatim.

    Scale: partial volume <= batch's active pairs; the refresh cost
    is the bounded presence frame's bucket join (r118's analysis),
    never the raw stream."""
    from .relational3 import R118, rings_from_user_minutes

    return rings_from_user_minutes(_replay_events(spark, sf_dir, R118, "s59"))


@_register("s60_stream_gtest", _AD["m54_gtest_llr"])
def s60_stream_gtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m54's G-test as a live independence monitor: per-batch
    contingency-cell partials (35 rows per batch regardless of batch
    size — the canonical mergeable form), with row/column/grand
    totals and LLR terms re-derived at refresh through the shared
    tail. Equal to batch m54, sharing its oracle verbatim.

    Scale: cell-domain partials; zero streaming state."""
    from .advanced import M54, gtest_from_cells

    return gtest_from_cells(_replay_events(spark, sf_dir, M54, "s60"))


@_register("s61_stream_moments", _AD["m53_higher_moments"])
def s61_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m53's skewness/kurtosis as a live distribution monitor:
    per-batch partials are the exact integer power sums s1..s4 per
    event type — the textbook mergeable moment representation (sums
    of sums) — and the closed-form central-moment algebra re-derives
    at refresh through the shared tail. Equal to batch m53, sharing
    its oracle verbatim. A distribution swap in the amount generator
    (the fraud case m53's docstring describes) shows up as kurtosis
    drift within one batch.

    Scale: 5 partial rows per batch per type; zero streaming state."""
    from .advanced import M53, moments_from_power_sums

    return moments_from_power_sums(_replay_events(spark, sf_dir, M53, "s61"))


@_register("s62_stream_seasonal_outliers", _AD["m56_seasonal_adjusted_outliers"])
def s62_stream_seasonal_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m56's seasonally-adjusted anomaly alarm maintained ON INGEST:
    micro-batches land (day, cents) partials — daily totals merge by
    keyed sum — and the refresh re-derives the weekday indices, ratio
    stats, and the 2-sigma cut through the shared tail. The re-derive
    is MANDATORY, not a shortcut: every arriving batch shifts both
    the weekday baselines and the ratio variance, so any incremental
    z-maintenance would alarm against stale baselines. Equal to
    batch m56, sharing its oracle verbatim.

    Scale: |days| partial rows per batch; the tail runs on
    day-bounded frames."""
    from .advanced import DAILY_CENTS, seasonal_outliers_from_daily

    return seasonal_outliers_from_daily(
        _replay_events(spark, sf_dir, DAILY_CENTS, "s62")
    )


# Raw-double variant of l102's oracle: the partials twin merges in
# micro-batch order, so its components sit ~1e-9 off the single-pass
# values — fixed-precision quantization would straddle rounding
# boundaries (measured round 11), while the raw doubles were
# driver-hash-green in r09.
@_register("s63_stream_pca", _PCA_RAW_SQL)
def s63_stream_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l102's principal component maintained ON INGEST — streaming
    LINEAR ALGEBRA via moment partials: each micro-batch of vectors
    reduces to its d x d second-moment contributions (i, j, sum v_i
    v_j) and d mean-sum rows; Gram matrices and mean vectors are sums
    of per-row outer products, so the partials merge by keyed sum and
    the fixed 3-step power iteration re-derives at refresh through
    the shared tail. Equal to batch l102 up to partial-merge float
    order (raw-double outputs against the raw oracle variant; l102
    itself compares in exact-integer quanta) — embedding-drift
    monitoring (does the dominant direction rotate as new data
    streams in?) with zero streaming state.

    Scale: partial volume is d^2 + d rows per batch REGARDLESS of
    batch size — the whole corpus never re-scans; the iteration tail
    costs d^2."""
    from .llmops import pca_from_moment_partials

    def moment_partials(b: DataFrame) -> DataFrame:
        el = b.select(
            "vec_id", F.posexplode("embedding").alias("i0", "x")
        ).select(
            "vec_id",
            (F.col("i0") + 1).alias("i"),
            F.col("x").cast("double").alias("v"),
        )
        el = el.localCheckpoint()  # batch-local element frame
        a = el.select("vec_id", F.col("i").alias("ia"), F.col("v").alias("va"))
        c = el.select("vec_id", F.col("i").alias("jb"), F.col("v").alias("vb"))
        s = (
            a.join(c, "vec_id")
            .groupBy(F.col("ia").alias("i"), F.col("jb").alias("j"))
            .agg(F.sum(F.col("va") * F.col("vb")).alias("s"))
        )
        mu = el.groupBy("i").agg(
            F.sum("v").alias("sv"), F.count("*").alias("n")
        )
        # one partial frame: moment rows tagged kind=0, mean rows kind=1
        return s.select(
            F.lit(0).alias("kind"), "i", "j", "s",
            F.lit(0.0).alias("sv"), F.lit(0).cast("long").alias("n"),
        ).unionAll(
            mu.select(
                F.lit(1).alias("kind"),
                "i",
                F.lit(0).alias("j"),
                F.lit(0.0).alias("s"),
                "sv",
                "n",
            )
        )

    merged = _partial_replay(
        spark,
        _events_proj_wire(
            spark, sf_dir, lambda t: ["vec_id", "embedding"], "embeddings"
        ),
        "vec_id LONG, embedding ARRAY<DOUBLE>",
        moment_partials,
        "s63",
    )
    s = merged.where(F.col("kind") == 0).select("i", "j", "s")
    musum = merged.where(F.col("kind") == 1).select("i", "sv", "n")
    return pca_from_moment_partials(s, musum, quantize=False)


@_register("s64_stream_kruskal", _AD["m58_kruskal_wallis"])
def s64_stream_kruskal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m58's Kruskal-Wallis H maintained ON INGEST: micro-batches land
    (group, cents, count) histogram partials — the value-domain
    histogram is the mergeable sufficient statistic for every rank
    test in the m57-m59 family — and the refresh re-derives the
    doubled-midrank algebra through the shared tail
    (kruskal_from_cells). Equal to batch m58, sharing its oracle
    verbatim. The live use: a continuous "did the amount distribution
    split across event types" monitor whose H value updates per batch
    without ever re-ranking history.

    Scale: partials are bounded by distinct (type, cents) pairs per
    batch, not rows; no streaming state, no corpus re-scan."""
    from .advanced import M58, kruskal_from_cells

    return kruskal_from_cells(_replay_events(spark, sf_dir, M58, "s64"))


@_register("s65_stream_mutual_information", _AD["m60_mutual_information"])
def s65_stream_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m60's MI/NMI between event type and weekday maintained ON
    INGEST: each micro-batch reduces to joint (x, y, count) cells —
    contingency cells merge by keyed sum — and marginals, the
    micro-rounded ln grid, and both entropies re-derive at refresh
    through the shared tail (mutual_info_from_cells). Equal to batch
    m60, sharing its oracle verbatim. The live use: a
    feature-dependence drift monitor (does the type/day association
    strengthen as data arrives?) with zero streaming state.

    Scale: <= |types| x 7 partial rows per batch regardless of batch
    size; the tail runs on that bounded cell frame."""
    from .advanced import TYPE_WEEKDAY_CELLS, mutual_info_from_cells

    return mutual_info_from_cells(
        _replay_events(spark, sf_dir, TYPE_WEEKDAY_CELLS, "s65")
    )


@_register("s66_stream_wilcoxon", _AD["m59_wilcoxon_signed_rank"])
def s66_stream_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m59's paired signed-rank test maintained ON INGEST: per-batch
    partials are each user's weekend/weekday purchase-cents totals
    (keyed integer sums — exactly the pairing frame), and the
    |diff|-histogram rank algebra re-derives at refresh through the
    shared tail (wilcoxon_from_pairs). Users whose totals tie (or who
    haven't purchased yet: 0 == 0) drop at refresh exactly as in
    batch, so arriving data moves users in AND out of the test —
    which is why the re-derive, not an incremental W+, is mandatory.
    Equal to batch m59, sharing its oracle verbatim.

    Scale: <= |active users| partial rows per batch; ranking happens
    on the diff-domain histogram, never a per-user sort."""
    from .advanced import M59, wilcoxon_from_pairs

    return wilcoxon_from_pairs(_replay_events(spark, sf_dir, M59, "s66"))


@_register("s67_stream_jensen_shannon", _AD["m61_jensen_shannon"])
def s67_stream_jensen_shannon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m61's JSD between the weekday and weekend event mixes
    maintained ON INGEST: per-batch partials are two-sided category
    counts (g, cwd, cwk) — keyed sums — and the nano-rounded midpoint
    KL algebra re-derives through the shared tail (jsd_from_cells).
    Equal to batch m61, sharing its oracle verbatim. The live use:
    the bounded, symmetric drift gauge next to s28's PSI — JSD can
    never blow up on a vanishing category, so it's the alarm that
    stays calibrated early in the stream.

    Scale: <= |types| partial rows per batch; the tail is
    category-domain bounded."""
    from .advanced import WEEKPART_MIX, jsd_from_cells

    return jsd_from_cells(_replay_events(spark, sf_dir, WEEKPART_MIX, "s67"))


@_register("s68_stream_emd", _AD["m64_wasserstein_emd"])
def s68_stream_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m64's exact Wasserstein-1 drift gauge maintained ON INGEST:
    micro-batches land (cents, c1, c2) two-sided value-histogram
    partials and the refresh re-derives the CDF-integral walk through
    the shared tail (emd_from_cells). Equal to batch m64, sharing its
    oracle verbatim. The live reading is in DOLLARS (mass moved), so
    this is the drift alarm an on-call person can threshold without a
    statistics table — the unit-free siblings are s33 (KS) and s67
    (JSD).

    Scale: partials bounded by distinct amounts per batch; the
    cumulative walk runs on the merged value-domain histogram at
    refresh, never on rows."""
    from .advanced import WEEKPART_PURCHASE_HIST, emd_from_cells

    return emd_from_cells(_replay_events(spark, sf_dir, WEEKPART_PURCHASE_HIST, "s68"))


@_register("s69_stream_hellinger", _AD["m65_hellinger_bhattacharyya"])
def s69_stream_hellinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m65's Hellinger/Bhattacharyya mix-drift gauge maintained ON
    INGEST: per-batch partials are the two-sided category counts
    (g, cwd, cwk) — the same frame s67's JSD consumes — and the
    nano-rounded sqrt(p*q) grid re-derives at refresh through the
    shared tail (hellinger_from_cells). Equal to batch m65, sharing
    its oracle verbatim. H is a METRIC (triangle inequality), so
    successive readings compose into a drift trajectory; that's the
    property JSD-as-divergence doesn't give the monitoring layer.

    Scale: <= |types| partial rows per batch; category-domain tail."""
    from .advanced import WEEKPART_MIX, hellinger_from_cells

    return hellinger_from_cells(_replay_events(spark, sf_dir, WEEKPART_MIX, "s69"))


@_register("s70_stream_chisq_gof", _AD["m68_chisq_gof_hourly"])
def s70_stream_chisq_gof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m68's hourly-uniformity chi-square maintained ON INGEST:
    micro-batches land (type, hour, count) cells — <= |types| x 24 per
    batch — and the closed-form 24*sum(O^2)/n - n re-derives at
    refresh through the shared tail (chisq_gof_from_cells). Equal to
    batch m68, sharing its oracle verbatim. The live use: a bot-swarm
    tripwire — a replay bot hammering one hour drives chi2 up within
    the arriving batch, before r112's entropy profile would re-run.

    Scale: bounded cell partials, zero streaming state."""
    from .advanced import M68, chisq_gof_from_cells

    return chisq_gof_from_cells(_replay_events(spark, sf_dir, M68, "s70"))


@_register("s71_stream_hhi", _AD["m66_hhi_concentration"])
def s71_stream_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m66's HHI concentration maintained ON INGEST: per-batch
    partials are (type, user, cents) keyed sums — per-user totals are
    the mergeable sufficient statistic, since HHI needs each user's
    COMPLETE total squared, which is exactly why the power sums can't
    be batch-local — and the histogram/power-sum tail re-derives at
    refresh (hhi_from_user_totals). Equal to batch m66, sharing its
    oracle verbatim. The live use: a concentration creep alarm — one
    account becoming the market shows up batch by batch as 1/HHI
    (effective_n) collapsing.

    Scale: partials bounded by active (type, user) pairs per batch;
    the refresh tail runs on the merged per-user frame, one keyed
    shuffle."""
    from .advanced import M66, hhi_from_user_totals

    return hhi_from_user_totals(_replay_events(spark, sf_dir, M66, "s71"))


@_register("s72_stream_theil", _AD["m67_theil_inequality"])
def s72_stream_theil(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m67's Theil T/L inequality maintained ON INGEST: per-batch
    partials are per-user purchase-cents sums (keyed, mergeable), and
    the log-grid tail re-derives at refresh (theil_from_user_totals)
    — mandatory, not incremental, because every arriving batch moves
    BOTH each user's total and the global mean inside every log term.
    Equal to batch m67, sharing its oracle verbatim. Paired with s71:
    HHI says 'how concentrated', Theil says 'where the inequality
    lives' (it decomposes across groups; the live reading trends both).

    Scale: <= |active purchasers| partial rows per batch; the tail's
    log grid runs on the value-domain histogram of totals."""
    from .advanced import M67, theil_from_user_totals

    return theil_from_user_totals(_replay_events(spark, sf_dir, M67, "s72"))


@_register("s73_stream_winsorized", _R3["r128_winsorized_stats"])
def s73_stream_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r128's winsorized robust tiles maintained ON INGEST:
    micro-batches land (type, cents, count) histogram partials and the
    refresh re-derives the exact p05/p95 fences AND the clamped sums
    through the shared tail (winsorized_from_hist) — mandatory
    re-derive, since every batch moves the fences themselves, which
    silently re-clamps history (the reason a running clamped sum would
    be WRONG). Equal to batch r128, sharing its oracle verbatim.

    Scale: partials bounded by distinct (type, cents) per batch; the
    tail runs per-type on the value-domain histogram."""
    from .relational3 import R128, winsorized_from_hist

    return winsorized_from_hist(_replay_events(spark, sf_dir, R128, "s73"))


@_register("s74_stream_cramers_v", _AD["m71_cramers_v"])
def s74_stream_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m71's Cramer's V maintained ON INGEST: joint (type, weekday)
    cells merge by keyed sum per micro-batch, and V plus the Bergsma
    bias-corrected V re-derive through the shared tail
    (cramers_from_cells). Equal to batch m71, sharing its oracle
    verbatim. Together with s65 (NMI) this gives the live
    dependence dashboard both an information-theoretic and a
    chi-square-family effect size off the SAME streaming partials.

    Scale: <= |types| x 7 partial rows per batch; bounded tail."""
    from .advanced import TYPE_WEEKDAY_CELLS, cramers_from_cells

    return cramers_from_cells(_replay_events(spark, sf_dir, TYPE_WEEKDAY_CELLS, "s74"))


@_register("s75_stream_page_hinkley", _AD["m72_page_hinkley"])
def s75_stream_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m72's Page-Hinkley changepoint alarm maintained ON INGEST:
    (day, cents) partials merge by keyed sum — s62's ingestion frame —
    and the running-mean deviation walk re-derives at refresh through
    the shared tail (page_hinkley_from_daily). The re-derive is
    mandatory: PH's running mean at day t depends on every earlier
    day's FINAL total, so late-arriving mass re-prices the whole walk.
    Equal to batch m72, sharing its oracle verbatim.

    Scale: |days| partial rows per batch; day-bounded tail."""
    from .advanced import DAILY_CENTS, page_hinkley_from_daily

    return page_hinkley_from_daily(_replay_events(spark, sf_dir, DAILY_CENTS, "s75"))


@_register("s76_stream_durbin_watson", _AD["m69_durbin_watson"])
def s76_stream_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m69's Durbin-Watson residual-autocorrelation gauge maintained
    ON INGEST from the same (day, cents) partials: the OLS fit AND the
    residual walk re-derive per refresh through the shared tail
    (durbin_watson_from_daily) — every batch moves the trend line
    itself, so residuals are not incrementally maintainable. Equal to
    batch m69, sharing its oracle verbatim. The live reading answers
    'is today's revenue model still white-noise around trend, or has
    a cycle crept in'.

    Scale: |days| partial rows per batch; day-bounded tail."""
    from .advanced import DAILY_CENTS, durbin_watson_from_daily

    return durbin_watson_from_daily(_replay_events(spark, sf_dir, DAILY_CENTS, "s76"))


@_register("s77_stream_ccf", _AD["m70_cross_correlation"])
def s77_stream_ccf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m70's purchase-vs-error cross-correlation function maintained
    ON INGEST: per-batch partials are (day, purchase-count,
    error-count) keyed sums, and the +-3-lag CCF re-derives through
    the shared tail (ccf_from_daily). Equal to batch m70, sharing its
    oracle verbatim. The live use: incident forensics during the
    incident — does the error series START leading the purchase
    series as a failure ramps?

    Scale: |days| partial rows per batch; day-bounded lag join."""
    from .advanced import M70, ccf_from_daily

    return ccf_from_daily(_replay_events(spark, sf_dir, M70, "s77"))


@_register("s78_stream_anderson_darling", _AD["m78_anderson_darling"])
def s78_stream_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m78's tail-sensitive Anderson-Darling drift gauge maintained ON
    INGEST from the SAME (cents, c1, c2) histogram partials s68's EMD
    consumes — one ingestion frame, four live two-sample statistics
    (EMD mass / KS sup via s33 / AD tails here / rank tests via s64) —
    re-deriving through the shared tail (anderson_darling_from_cells).
    Equal to batch m78, sharing its oracle verbatim.

    Scale: partials bounded by distinct amounts per batch; the
    cumulative walk runs on the merged histogram at refresh."""
    from .advanced import WEEKPART_PURCHASE_HIST, anderson_darling_from_cells

    return anderson_darling_from_cells(
        _replay_events(spark, sf_dir, WEEKPART_PURCHASE_HIST, "s78")
    )


@_register("s79_kstream_dsl", Q6_SQL)
def s79_kstream_dsl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference topology re-written IN ITS OWN API — the
    KStream fluent DSL (streaming/kstream.py) compiled to DataFrame
    plans: stream -> mapValues(JSON parse, null on error) ->
    filter(non-null) -> branch(amount > threshold, else)[0] ->
    mapValues(serialize) -> filter(non-null) -> peek -> to, then the
    downstream consumer parse + aggregate. A reference user keeps
    their program shape verbatim (TransactionProcessor.java:26-55) and
    gets Catalyst underneath: every DSL stage records a Column
    transformation, so the whole topology fuses into one narrow
    codegen span — which q6 (the raw-DataFrame form of the same
    pipeline) pins by sharing its oracle with this query.

    Scale: identical plan to q6 — stateless, no shuffle until the
    final aggregate; the DSL adds zero runtime indirection.

    Reference parity: TransactionProcessor.java:26-55, re-expressed
    1:1 (mapValues/filter/branch/peek/to with first-match-wins branch
    semantics)."""
    from ..operators.detect import EVENTS_FRAUD_THRESHOLD, events_as_transactions, parse_wire
    from ..schemas import TRANSACTION_DDL
    from ..streaming.kstream import StreamsBuilder

    tx = events_as_transactions(load_table(spark, sf_dir, "events"))
    wire = tx.select(
        F.col("userId").alias("key"),
        F.to_json(
            F.struct(
                F.col("userId"),
                F.col("amount"),
                F.unix_timestamp(F.col("event_time").cast("timestamp")).alias(
                    "timestamp"
                ),
            )
        ).alias("value"),
    )
    builder = StreamsBuilder()
    branches = (
        builder.stream(wire)
        .map_values(lambda v: F.from_json(v, TRANSACTION_DDL))
        .filter(lambda k, v: v.isNotNull() & v["userId"].isNotNull())
        .branch(
            lambda k, v: v["amount"] > F.lit(EVENTS_FRAUD_THRESHOLD),
            lambda k, v: F.lit(True),
        )
    )
    out_wire = (
        branches[0]
        .map_values(lambda v: F.to_json(v))
        .filter(lambda k, v: v.isNotNull())
        .peek("fraud-alert")
        .to_frame()
    )
    # the FraudAlertConsumer side: parse the output topic, aggregate
    consumed = parse_wire(out_wire)
    return consumed.groupBy("userId").agg(
        F.round(F.sum("amount"), 2).alias("total_amount"),
        F.count("*").alias("n_tx"),
    )


@_register("s80_kstream_windowed_agg", Q4_SQL)
def s80_kstream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stateful half of the KStream DSL: groupByKey ->
    windowedBy(TimeWindows.of(10 min)) -> aggregate, run over the
    fraud branch of the reference topology and equal to q4's raw-
    DataFrame windowed histogram (shared oracle). Kafka Streams and
    Spark window() both align tumbling windows to the epoch, so the
    DSL preserves bucket identity bit-for-bit; the aggregate is
    declared Column algebra (sum + count), so Catalyst plans the
    standard partial+final hash aggregation — the DSL compiles away.

    Scale: one shuffle on (window, key), exactly q4's plan.

    Reference parity: the KGroupedStream/TimeWindows surface
    (Kafka Streams DSL) the reference's stack implies; semantics
    pinned against q4 (screenshots/AmountHistogram.jpg)."""
    from ..operators.detect import EVENTS_FRAUD_THRESHOLD, events_as_transactions
    from ..streaming.kstream import StreamsBuilder

    tx = events_as_transactions(load_table(spark, sf_dir, "events"))
    # enter the DSL with typed value struct (the post-parse stage)
    wire = tx.select(
        F.col("userId").alias("key"),
        F.struct("userId", "amount", "event_time").alias("value"),
    )
    fraud = (
        StreamsBuilder()
        .stream(wire)
        .filter(lambda k, v: v["amount"] > F.lit(EVENTS_FRAUD_THRESHOLD))
        .map_values(lambda v: v)  # identity mapValues: shape check
    )
    flat = fraud.df.select(
        "key", F.col("value.amount").alias("amount"),
        F.col("value.event_time").alias("event_time"),
    )
    from ..streaming.kstream import KStream

    out = (
        KStream(flat, key="key", value="amount")
        .group_by_key()
        .windowed_by("10 minutes", "event_time")
        .aggregate(
            F.round(F.sum("amount"), 2).alias("total_amount"),
            F.count("*").alias("n_tx"),
        )
    )
    return out.select(
        "window_start",
        F.col("key").alias("userId"),
        "total_amount",
        "n_tx",
    )


_S81_SQL = """
    SELECT printf('user_%03d', a.user_id) AS userId,
           a.value AS spike_amount,
           date_trunc('second', a.ts) AS left_time,
           b.value AS follow_amount,
           date_trunc('second', b.ts) AS right_time
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.value > 300.0
     AND date_trunc('second', b.ts) >= date_trunc('second', a.ts)
     AND date_trunc('second', b.ts)
         <= date_trunc('second', a.ts) + INTERVAL 6 HOUR
"""


@_register("s81_kstream_join", _S81_SQL)
def s81_kstream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#join through the DSL: the spike stream (amount > 300)
    joined to the full event stream per user within
    JoinWindows.of(0).after(6 hours) — s05's stream-stream correlation
    re-expressed in the reference's own API (both window ends
    inclusive, the Kafka Streams contract). The joiner merges both
    values into a struct; the compiled plan is one key equi-join with
    the interval as a residual filter (the r27 posture — never a
    cross product).

    Scale: co-partitioned by user key; the 6 h bound is what caps
    per-key state in the true streaming deployment (s07's watermark
    argument).

    Reference parity: the KStream#join/JoinWindows surface the
    reference's stack implies; semantics pinned by the s05 sibling."""
    from ..streaming.kstream import KStream

    ev = load_table(spark, sf_dir, "events")
    sec = F.date_trunc("second", F.col("ts")).cast("timestamp")
    base = ev.select(
        F.format_string("user_%03d", F.col("user_id")).alias("key"),
        F.col("value").alias("amount"),
        sec.alias("t"),
    )
    spikes = KStream(
        base.where(F.col("amount") > 300.0), key="key", value="amount"
    )
    follows = KStream(base, key="key", value="amount")
    joined = spikes.join(
        follows,
        lambda v1, v2: F.struct(
            v1.alias("spike_amount"), v2.alias("follow_amount")
        ),
        time_col="t",
        after="6 hours",
    )
    return joined.df.select(
        F.col("key").alias("userId"),
        F.col("amount.spike_amount").alias("spike_amount"),
        "left_time",
        F.col("amount.follow_amount").alias("follow_amount"),
        "right_time",
    )


@_register("s82_stream_friedman", _AD["m80_friedman_test"])
def s82_stream_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m80's Friedman day-of-week test maintained ON INGEST from the
    same (day, cents) partials as s75/s76 — THREE live day-domain
    statistics off one ingestion frame — re-deriving the within-week
    rank algebra through the shared tail (friedman_from_daily). The
    re-derive is mandatory twice over: arriving mass re-ranks days
    within their week AND can complete a previously-partial week,
    adding a whole block to the test. Equal to batch m80, sharing its
    oracle verbatim.

    Scale: |days| partial rows per batch; week-bounded tail."""
    from .advanced import DAILY_CENTS, friedman_from_daily

    return friedman_from_daily(_replay_events(spark, sf_dir, DAILY_CENTS, "s82"))


_S83_SQL = """
    WITH latest AS (
      SELECT user_id,
             max_by(event_type,
                    printf('%020d', CAST(epoch(date_trunc('second', ts))
                                         AS BIGINT))
                    || ':' || printf('%020d', event_id)) AS last_type
      FROM events GROUP BY 1
    )
    SELECT latest.last_type,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM events e JOIN latest USING (user_id)
    WHERE e.event_type = 'purchase'
    GROUP BY 1
"""


@_register("s83_kstream_table_join", _S83_SQL)
def s83_kstream_table_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KStream#join(KTable) through the DSL — the canonical lookup
    enrichment: the purchase stream joins each record to the user's
    LATEST event type from a KTable built with KStream#toTable
    (changelog compaction = max_by over a deterministic
    (second, event_id) order — reproducible where Kafka wall-clock
    arrival order is not), then aggregates purchase volume by that
    enriched attribute. Inner join-semantics per Kafka Streams
    (no-table-row records drop — vacuous here since the table derives
    from the same keyspace).

    Scale: compaction is ONE keyed max_by aggregation (never a
    corpus-wide row_number window); the enrichment is a key equi-join
    Catalyst sizes adaptively (broadcast small, shuffle big).

    Reference parity: the KTable half of the Kafka Streams DSL the
    reference's stack implies; compaction semantics pinned by the
    deterministic order contract."""
    from ..streaming.kstream import KStream

    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    base = ev.select(
        F.col("user_id").alias("key"),
        F.col("event_type").alias("value"),
        sec.alias("es"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    table = KStream(base, key="key", value="value").to_table(
        ["es", "event_id"]
    )
    purchases = KStream(
        base.where(F.col("value") == "purchase").select("key", F.col("cents").alias("value")),
        key="key",
        value="value",
    )
    enriched = purchases.join_table(
        table, lambda cents, last_type: F.struct(cents.alias("cents"), last_type.alias("last_type"))
    )
    return enriched.df.groupBy(F.col("value.last_type").alias("last_type")).agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.sum("value.cents").cast("long").alias("total_cents"),
    )


@_register("s84_stream_trend_test", _AD["m73_cochran_armitage"])
def s84_stream_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m73's Cochran-Armitage trend test maintained ON INGEST:
    per-batch partials are the 7-row (dow, n_i, x_i) count frame —
    trivially mergeable keyed sums — and the score-sum z re-derives
    through the shared tail. Equal to batch m73, sharing its oracle
    verbatim. Paired with s85 off the SAME partials: one live frame
    answers both 'is there a weekly trend' (here) and 'what are the
    honest error bars per day' (s85).

    Scale: 7 partial rows per batch; the tail is a projection."""
    from .advanced import M73, trend_test_from_dow_counts

    return trend_test_from_dow_counts(_replay_events(spark, sf_dir, M73, "s84"))


@_register("s85_stream_wilson", _AD["m79_wilson_intervals"])
def s85_stream_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m79's Wilson conversion intervals maintained ON INGEST from the
    same (dow, n, x) partials as s84 — the live error bars under the
    dashboard's per-day conversion tiles, shrinking batch by batch as
    n grows. Equal to batch m79, sharing its oracle verbatim.

    Scale: 7 partial rows per batch; projection tail."""
    from .advanced import M73, wilson_from_dow_counts

    return wilson_from_dow_counts(_replay_events(spark, sf_dir, M73, "s85"))


@_register("s86_stream_grubbs", _AD["m82_grubbs_extremes"])
def s86_stream_grubbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m82's Grubbs/studentized-range extreme screens maintained ON
    INGEST: per-batch partials are (type, n, s, s2, min, max) — the
    textbook mergeable pack where counts and power sums merge by keyed
    SUM and the extremes by keyed MIN/MAX — re-deriving through the
    shared tail (grubbs_from_power_extremes). Equal to batch m82,
    sharing its oracle verbatim. The live reading: 'is the worst
    amount we have EVER seen still explainable at today's sd' —
    extremes never expire, which is exactly why min/max are the only
    non-windowed merge in the s-family.

    Scale: |types| partial rows per batch; projection tail."""
    from .advanced import M82, grubbs_from_power_extremes

    return grubbs_from_power_extremes(_replay_events(spark, sf_dir, M82, "s86"))


@_register("s87_stream_reach_curve", _R3["r131_reach_curve"])
def s87_stream_reach_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r131's new/returning split + cumulative reach maintained ON
    INGEST — the live growth-accounting board: per-batch partials are
    the batch's DISTINCT (user, day) pairs (idempotent under merge —
    re-distinct at refresh — so replayed or duplicated wire records
    cannot double-count a user-day), and first-seen attribution plus
    the reach cumsum re-derive through the shared tail
    (reach_from_user_days). The re-derive matters: a late-arriving
    older event can RE-ASSIGN a user's first-seen day, moving them
    from 'new' on one day to 'returning' — incremental new-counters
    get this wrong. Equal to batch r131, sharing its oracle verbatim.

    Scale: partials bounded by active user-days per batch; the tail is
    one keyed shuffle + day-bounded windows."""
    from .relational3 import R131, reach_from_user_days

    return reach_from_user_days(_replay_events(spark, sf_dir, R131, "s87"))
