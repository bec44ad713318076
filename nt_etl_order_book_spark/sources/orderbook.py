"""Order-book message parsing + flattening — the reference's one real
transform, re-expressed so the SAME functions serve batch and stream.

Reference dataflow (consumer.py:51-96, :131-162):
  raw JSON message → decode ladders → explode levels → unpivot sides →
  eager cast → typed flat table.

Everything here is a narrow transformation (no shuffle): on a stream it
pipelines inside the source stage; on 100 TB of backlog it is a single
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from nt_etl_order_book_spark.schemas import (
    DELTA_MSG,
    DELTAS_TABLE,
    SNAPSHOT_MSG,
    SNAPSHOTS_TABLE,
)
from nt_etl_order_book_spark.operators.transforms import add_ingest_ts, cast_to

SNAPSHOT_TYPE = "orderbook_snapshot"  # producer.py:34
DELTA_TYPE = "orderbook_delta"  # producer.py:41
STREAM_ID = "redis_stream_id"  # the durable buffer's message id

# Union of SNAPSHOT_MSG and DELTA_MSG fields (by name, snapshot's first):
# the one schema every message line parses with.
MSG_UNION = StructType(
    SNAPSHOT_MSG.fields + [f for f in DELTA_MSG.fields if f.name not in SNAPSHOT_MSG.fieldNames()]
)


def _stream_id(msgs: DataFrame):
    """The buffer id column if present, else a typed null (sources other
    than the durable buffer don't carry one)."""
    col = F.col(STREAM_ID) if STREAM_ID in msgs.columns else F.lit(None).cast("string")
    return col.alias(STREAM_ID)


def _with_ingest_ts(msgs: DataFrame, stamp: bool) -> DataFrame:
    """Ensure every message carries an ``ingestion_ts`` when stamping is
    on: the durable buffer stamps it at write (redis_client.py:46,84),
    so buffer-replayed rows keep their stamp, and only rows from
    sources that bypassed the buffer (direct file drops, raw feeds)
    get the wall clock here — processing time of the micro-batch, the
    same clock the reference's writer uses. First writer wins, exactly
    the reference semantics."""
    if not stamp:
        return msgs
    if "ingestion_ts" not in msgs.columns:
        return add_ingest_ts(msgs)
    return msgs.withColumn(
        "ingestion_ts",
        F.coalesce(F.col("ingestion_ts"), F.unix_millis(F.current_timestamp())),
    )


def parse_messages(raw: DataFrame) -> DataFrame:
    """JSON text → typed envelope columns, routed by message type.

    The producer's dispatch (producer.py:31-50) becomes a parsed `type`
    column; downstream filters split the two pipelines. Works on batch
    and streaming frames alike.
    """
    # Parse with the union of both schemas: snapshot-only fields are null
    # on deltas and vice versa (schema-on-read with .get defaults,
    # redis_client.py:42-45). The struct is flattened by a Generate, not
    # by `select("msg.*")`: a filter on `type` cannot cross a Generate, so
    # each routed query parses every line once. Under a Project the
    # optimizer pushes the filter below it by inlining a second, pruned
    # from_json. A NULL or unparsable line still yields one all-NULL row.
    rest = [c for c in raw.columns if c != "value"]
    return raw.select(F.inline(F.array(F.from_json(F.col("value"), MSG_UNION))), *rest)


def _sink_casts(table: StructType) -> dict[str, str]:
    """cast_to's map for a sink table: its columns, in order, with their types."""
    return {f.name: f.dataType.simpleString() for f in table.fields}


def flatten_snapshots(msgs: DataFrame, *, stamp_ingest_ts: bool = False) -> DataFrame:
    """Snapshot messages → one row per (ts, ticker, side, price) level.

    The two copy-paste loops of consumer.py:57-81 (differing only in the
    side literal) become stack + explode; the eager Polars cast
    (consumer.py:87-96) becomes a cast_to to SNAPSHOTS_TABLE.
    ``stamp_ingest_ts`` fills missing buffer stamps with the wall clock
    (_with_ingest_ts) for sources that bypassed the durable buffer.
    """
    msgs = _with_ingest_ts(msgs, stamp_ingest_ts)
    snaps = msgs.filter(F.col("type") == SNAPSHOT_TYPE)
    sid = _stream_id(msgs)
    sided = snaps.select(
        F.col("ingestion_ts").alias("timestamp"),
        F.col("market_ticker").alias("ticker"),
        sid,
        F.expr("stack(2, 'yes', yes_dollars, 'no', no_dollars) as (side, ladder)"),
    )
    # Inner explode: an empty ladder side yields NO rows, exactly like the
    # reference's `for level in yes_dollars:` loops (consumer.py:58-81).
    lvl = sided.select(
        "timestamp",
        "ticker",
        "side",
        STREAM_ID,
        F.explode("ladder").alias("level"),
    )
    flat = lvl.select(
        "timestamp",
        "ticker",
        "side",
        F.col("level")[0].alias("price_dollars"),
        F.col("level")[1].alias("contracts"),
        STREAM_ID,
    )
    return cast_to(flat, _sink_casts(SNAPSHOTS_TABLE))


def flatten_deltas(msgs: DataFrame, *, stamp_ingest_ts: bool = False) -> DataFrame:
    """Delta messages → 1:1 typed projection (consumer.py:131-150).

    `timestamp` is INGESTION time (consumer.py:132 reads
    `delta["ingestion_ts"]`) — the same clock the snapshot table anchors
    on. Mixing clocks here silently drops post-snapshot deltas whose
    exchange ts lags the snapshot's ingestion_ts during reconstruction;
    the exchange event time stays available as `event_ts`.
    ``stamp_ingest_ts`` fills missing buffer stamps with the wall clock
    (_with_ingest_ts) for sources that bypassed the durable buffer.
    """
    msgs = _with_ingest_ts(msgs, stamp_ingest_ts)
    deltas = msgs.filter(F.col("type") == DELTA_TYPE)
    sid = _stream_id(msgs)
    flat = deltas.select(
        F.col("ingestion_ts").alias("timestamp"),
        F.col("market_ticker").alias("ticker"),
        F.col("side"),
        F.col("price_dollars"),
        F.col("delta"),
        sid,
        F.col("ts").alias("event_ts"),
    )
    return cast_to(flat, _sink_casts(DELTAS_TABLE))
