"""The reference's wire type and the star-schema table names.

The reference's entire type surface is the ``Transaction`` POJO
(reference: src/main/java/org/example/Transaction.java:5-9 — userId STRING,
amount DOUBLE, timestamp epoch-seconds) JSON-encoded on the Kafka wire
(TransactionProducer.java:27). It is parsed with ``from_json`` against
``TRANSACTION_DDL`` — corrupt payloads yield a null struct, matching the
reference's drop-on-parse-error contract (TransactionProcessor.java:32-37).

The star-schema tables (TESTDATA.md) carry their types in their parquet
footers; ``sources.tables.load_table`` reads them without a declared schema.
"""

from __future__ import annotations

# Reference stores epoch SECONDS as int (TransactionProducer.java:49,
# WritePrecision.S at FraudAlertConsumer.java:67); LONG at rest.
TRANSACTION_DDL = "userId STRING, amount DOUBLE, timestamp LONG"

# --- driver testdata tables -------------------------------------------------
TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
