"""Row-level transforms — SURVEY §2.2 / §2.3.

These are the Spark-first re-expressions of the reference's only real
transforms: type-routing (producer.py:31-50), envelope projection
(redis_client.py:36-47), eager schema casts (consumer.py:87-96),
ladder explode + side unpivot (consumer.py:57-81), ingest-time stamping
(redis_client.py:46,84), and the per-connection sequence-gap check
(kalshi_ws_client.py:129-146) re-done as a window over keyed history.

All narrow transforms except `seq_gap_check` (one shuffle on the key) —
at 100 TB these pipeline inside a single scan stage with predicate
pushdown and column pruning intact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table


# --- reusable library transforms (shared by batch queries and streaming) ---

def route_by_type(df: DataFrame, type_col: str, value: str) -> DataFrame:
    """Route rows by a discriminator column (reference: producer.py:31-50)."""
    return df.filter(F.col(type_col) == F.lit(value))


def unpivot_sides(df: DataFrame, keep: list[str], side_cols: dict[str, str], *,
                  value_name: str = "ladder") -> DataFrame:
    """Two parallel per-side columns → one `side` discriminator column.

    Reference analog: the yes/no twin loops in consumer.py:57-81, which
    differ only in the side literal. Expressed as a stack (no shuffle).
    """
    args = ", ".join(f"'{s}', `{c}`" for s, c in side_cols.items())
    stacked = F.expr(f"stack({len(side_cols)}, {args}) as (side, {value_name})")
    return df.select(*keep, stacked)


def cast_to(df: DataFrame, schema: dict[str, str]) -> DataFrame:
    """Eagerly cast columns to a declared schema (consumer.py:87-96)."""
    return df.select(*[F.col(c).cast(t).alias(c) for c, t in schema.items()])


def add_ingest_ts(df: DataFrame) -> DataFrame:
    """Stamp wall-clock epoch-ms ingest time (redis_client.py:46,84).

    Streaming-path only: non-deterministic, so never inside an
    oracle-checked query. Wired into the flatten boundary via
    sources/orderbook._with_ingest_ts (the `stamp_ingest_ts` flag on
    flatten_snapshots/flatten_deltas and the pipeline query builders):
    buffer-replayed rows keep the buffer's stamp, rows from sources
    that bypassed the buffer get the micro-batch wall clock.
    """
    return df.withColumn("ingestion_ts", F.unix_millis(F.current_timestamp()))


# --- oracle-checked queries on the driver testdata ---

@register(
    "scan_parquet",
    """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
    FROM lineitem
    """,
    doc="Typed table scan (SURVEY §2.1): parquet is self-describing, no inferSchema; columnar batched read.",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "lineitem")


@register(
    "filter_msg_type",
    """
    SELECT event_id, user_id, value
    FROM events
    WHERE event_type = 'purchase'
    """,
    doc="Route rows by discriminator column (producer.py:31-50 dispatch).",
)
def q_filter_msg_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return route_by_type(events, "event_type", "purchase").select("event_id", "user_id", "value")


@register(
    "project_rename",
    """
    SELECT event_id AS msg_id, user_id AS ticker_key, event_type AS side, value AS delta
    FROM events
    """,
    doc="Select + rename envelope fields into a flat record (redis_client.py:36-47).",
)
def q_project_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        F.col("event_id").alias("msg_id"),
        F.col("user_id").alias("ticker_key"),
        F.col("event_type").alias("side"),
        F.col("value").alias("delta"),
    )


@register(
    "cast_schema",
    """
    SELECT
      CAST(l_orderkey AS VARCHAR) AS okey_str,
      CAST(FLOOR(l_quantity) AS INTEGER) AS qty_int,
      CAST(CAST(l_extendedprice AS DECIMAL(12, 2)) AS DOUBLE) AS price_dec2,
      CAST(l_linenumber AS BIGINT) AS line_long
    FROM lineitem
    """,
    doc="Eager cast of every column to the declared schema (consumer.py:87-96; DECIMAL discipline per postgres_client.py:33).",
)
def q_cast_schema(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("okey_str"),
        F.floor("l_quantity").cast("int").alias("qty_int"),
        F.col("l_extendedprice").cast("decimal(12,2)").cast("double").alias("price_dec2"),
        F.col("l_linenumber").cast("bigint").alias("line_long"),
    )


@register(
    "json_encode_decode",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
           json_extract_string(props, '$.k') AS k_str
    FROM events
    """,
    doc="JSON envelope codec: nested fields JSON-stringified on the wire (redis_client.py:42-45,130-133).",
)
def q_json_encode_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    k_str = F.get_json_object("props", "$.k")
    return events.select(
        "event_id",
        k_str.cast("int").alias("k"),
        k_str.alias("k_str"),
    )


@register(
    "explode_ladder",
    """
    SELECT p_partkey, UNNEST(string_split(p_name, ' ')) AS token
    FROM part
    """,
    doc="Unnest a per-row list into one row per element (ladder explode, consumer.py:58-81).",
)
def q_explode_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part")
    return part.select("p_partkey", F.explode(F.split("p_name", " ")).alias("token"))


@register(
    "unpivot_sides",
    """
    SELECT l_orderkey, l_linenumber, 'qty' AS side, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'price' AS side, l_extendedprice AS val FROM lineitem
    """,
    doc="Parallel per-side columns → single side discriminator (the yes/no twin loops, consumer.py:57-81).",
)
def q_unpivot_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return unpivot_sides(
        li,
        keep=["l_orderkey", "l_linenumber"],
        side_cols={"qty": "l_quantity", "price": "l_extendedprice"},
        value_name="val",
    )


@register(
    "add_event_ts_ms",
    """
    SELECT event_id, epoch_ms(ts) AS event_ms, strftime(ts, '%Y-%m-%d') AS event_date
    FROM events
    """,
    doc="Epoch-ms timestamp derivation (deterministic analog of the ingest-time stamp, redis_client.py:46,84).",
)
def q_add_event_ts_ms(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("event_ms"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("event_date"),
    )


@register(
    "notnull_guard",
    """
    SELECT event_id, user_id FROM events
    WHERE user_id IS NOT NULL AND event_type IS NOT NULL
    """,
    doc="NOT NULL guard on key columns (reference raises if market_ticker missing, redis_client.py:29-30).",
)
def q_notnull_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.filter(F.col("user_id").isNotNull() & F.col("event_type").isNotNull()).select(
        "event_id", "user_id"
    )


@register(
    "seq_gap_check",
    """
    WITH seq AS (
      SELECT user_id, event_id,
             LAG(event_id) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_id
      FROM events
    )
    SELECT user_id, event_id, prev_id, event_id - prev_id AS gap
    FROM seq
    WHERE prev_id IS NOT NULL AND event_id - prev_id > 1
    """,
    doc="Monotonic sequence validation: gap detection per key (kalshi_ws_client.py:129-146), batch analog via LAG window.",
)
def q_seq_gap_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    # chunked_shift on fixed-width id BLOCKS (the day-chunked carry
    # family, with floor(event_id / 2^16) as the chunk — any function
    # monotone in the ORDER column partitions it): a key's whole id
    # stream never sorts in one window task, each block's first row
    # takes the previous block's max id from the chunk-grain carry, and
    # the lag value is the same BIGINT the global window yields.
    from nt_etl_order_book_spark.operators.timeseries import chunked_shift

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id", "event_id", F.floor(F.col("event_id") / F.lit(65536)).alias("chunk")
    )
    lagged = chunked_shift(base, "user_id", ["event_id"], "event_id", lag="prev_id")
    return (
        lagged.withColumn("gap", F.col("event_id") - F.col("prev_id"))
        .filter(F.col("prev_id").isNotNull() & (F.col("gap") > 1))
        .select("user_id", "event_id", "prev_id", "gap")
    )
