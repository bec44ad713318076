"""Explicit StructTypes for the order-book domain (FIXTURES.md §A).

The reference declares schemas eagerly — Polars cast maps
(consumer.py:87-96, :153-162) and hard-coded DDL
(postgres_client.py:27-50). We do the same: no inferSchema anywhere on
the ingest path (Structured Streaming requires explicit schemas anyway).

Wire format notes (redis_client.py:36-47, :73-85): nested ladders are
JSON-stringified on the wire (`yes_dollars` = [[price, contracts], ...]);
prices are DECIMAL(5,4) dollars in [0,1] with an integer-cents twin;
`delta` may be negative; `seq` is a monotonic per-connection counter.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DecimalType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

PRICE = DecimalType(5, 4)  # postgres_client.py:33,45 — exact decimal is a core semantic

# Ladder level as it appears on the wire after JSON decode: [price, contracts].
# Decoded as doubles (JSON numbers), cast to DECIMAL(5,4)/int at flatten.
LADDER = ArrayType(ArrayType(DoubleType()))

# A1 — raw snapshot message (producer envelope, redis_client.py:36-47).
SNAPSHOT_MSG = StructType(
    [
        StructField("type", StringType(), False),
        StructField("sid", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("market_ticker", StringType(), False),
        StructField("market_id", StringType(), True),
        StructField("yes_dollars", LADDER, True),
        StructField("no_dollars", LADDER, True),
        StructField("ingestion_ts", LongType(), True),
        # Buffer-assigned id, carried through to the sink as the
        # at-least-once dedup key (consumer.py:66,94).
        StructField("redis_stream_id", StringType(), True),
    ]
)

# A2 — raw delta message (redis_client.py:73-85).
DELTA_MSG = StructType(
    [
        StructField("type", StringType(), False),
        StructField("sid", LongType(), True),
        StructField("seq", LongType(), True),
        StructField("market_ticker", StringType(), False),
        StructField("market_id", StringType(), True),
        StructField("price", IntegerType(), True),  # cents
        StructField("price_dollars", DoubleType(), True),  # cast to DECIMAL(5,4) at flatten
        StructField("delta", IntegerType(), True),  # may be negative
        StructField("side", StringType(), True),
        StructField("ts", LongType(), True),  # exchange event time, epoch ms
        StructField("ingestion_ts", LongType(), True),
        StructField("redis_stream_id", StringType(), True),  # dedup key (consumer.py:145,161)
    ]
)

# A3 — flattened snapshots sink table (postgres_client.py:29-37).
SNAPSHOTS_TABLE = StructType(
    [
        StructField("timestamp", LongType(), True),
        StructField("ticker", StringType(), False),
        StructField("side", StringType(), False),
        StructField("price_dollars", PRICE, True),
        StructField("contracts", IntegerType(), True),
        StructField("redis_stream_id", StringType(), True),
    ]
)

# A4 — flattened deltas sink table (postgres_client.py:41-49).
DELTAS_TABLE = StructType(
    [
        # INGESTION time — same clock as snapshots (consumer.py:132).
        StructField("timestamp", LongType(), True),
        StructField("ticker", StringType(), False),
        StructField("side", StringType(), False),
        StructField("price_dollars", PRICE, True),
        StructField("delta", IntegerType(), True),
        StructField("redis_stream_id", StringType(), True),
        # Additive deviation from the reference's 6-column table: the
        # exchange event time is kept so event-time streaming (watermarks)
        # doesn't have to re-parse raw messages. SURVEY §2.9 "both carried".
        StructField("event_ts", LongType(), True),
    ]
)
