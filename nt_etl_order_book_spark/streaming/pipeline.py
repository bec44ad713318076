"""Structured Streaming ingest — the reference's producer/consumer
re-expressed as streaming queries (SURVEY §2.9, EP2/EP3).

Reference → Spark mapping:
- WS source + Redis buffer + poll loop (kalshi_ws_client.py:108-148,
  redis_client.py, consumer.py:38-49)   → `readStream` + trigger;
  in dev/tests a file source replays fixture JSON (availableNow drains
  the backlog exactly like the reference's start-at-"-" cursor,
  consumer.py:34,114).
- cursor + ack-after-write bookkeeping (consumer.py:84,104-107)
  → checkpointing; `dropDuplicatesWithinWatermark` on redis_stream_id
  upgrades the reference's at-least-once to effectively-once.
- two independent pipelines (consumer.py:24-27) → two streaming
  queries sharing one session.
- fire-and-forget writes with swallowed errors (producer.py:14-20) →
  NOT replicated: sinks are synchronous per micro-batch by design.

Scale: the ingest path is narrow-transform-only (no shuffle); windowed
aggregates shuffle once on (window, ticker). Partition the buffer topic
by market_ticker for parallel consumption.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from nt_etl_order_book_spark.sources.orderbook import (
    flatten_deltas,
    flatten_snapshots,
    parse_messages,
)


BUFFER_TOPICS = ("orderbook-snapshots", "orderbook-deltas")

# Rows of dedup state per state-store instance below which adding more
# stores costs more than it parallelizes (HDFS-backed provider: each
# store pays a fixed per-batch open/commit — write and rename of its
# checkpoint delta file — ~7 ms/store/batch on 4 vCPU with get_spark's
# FileSystem checkpoint manager, ~85 ms under Spark's default FileContext
# manager without libhadoop, where each rename forks `readlink`
# (DEPLOY.md §1); r16 A/B, under that default: at a 20k-row state, 4 and
# 8 partitions tie at ~2x the throughput of 32).
# The sizing rule below GROWS the partition count linearly with the
# expected state and saturates at defaultParallelism, so a production
# state (millions of rows) gets every core exactly as before — this
# only trims the store count when the state is too small to feed them.
STATE_ROWS_PER_PARTITION = 2500


def stateful_shuffle_partitions(spark: SparkSession, expected_state_rows: int) -> int:
    """Shuffle-partition count for a stateful stage, derived from the
    DEPLOY.md §4 state bound (rate x horizon) the deployment already
    sizes its alarms with: one state-store instance per
    STATE_ROWS_PER_PARTITION expected rows, floored at 1, capped at
    defaultParallelism (the CPU-parallelism ceiling — at real state
    sizes this returns defaultParallelism, i.e. the session default).

    Stateful operators pin ``spark.sql.shuffle.partitions`` into the
    checkpoint at first batch, so this must be decided at query start —
    there is no AQE coalescing for state stores (Spark disables AQE in
    stateful workloads). A deployment that sizes the store count
    directly passes ``state_partitions=`` to ``deltas_query`` instead.
    """
    dp = spark.sparkContext.defaultParallelism
    return max(1, min(dp, -(-int(expected_state_rows) // STATE_ROWS_PER_PARTITION)))


def buffer_reader_options(
    *,
    source: str = "file",
    brokers: str | None = None,
    max_per_trigger: int | None = None,
) -> tuple[str, dict[str, str]]:
    """(format, options) for the durable-buffer stream reader — the
    config-only swap between dev file replay and the Kafka buffer.

    Reference → Kafka mapping (tested in test_streaming.py):
    - two Redis streams (redis_client.py:50-86) → two topics, one
      ``subscribe`` list;
    - start-at-"-" cursor (consumer.py:34,114) → startingOffsets
      "earliest" (checkpoint overrides on resume, same as the
      exclusive-cursor bookkeeping);
    - count-bounded poll batching, batch_size=100 (consumer.py:9,42-49)
      → maxOffsetsPerTrigger;
    - the buffer losing acked data is a hard error in the reference →
      failOnDataLoss stays true (default) rather than silently skipped.
    """
    if source == "kafka":
        if not brokers:
            raise ValueError("kafka source needs brokers")
        opts = {
            "kafka.bootstrap.servers": brokers,
            "subscribe": ",".join(BUFFER_TOPICS),
            "startingOffsets": "earliest",
        }
        if max_per_trigger:
            opts["maxOffsetsPerTrigger"] = str(max_per_trigger)
        return "kafka", opts
    opts = {}
    if max_per_trigger:
        opts["maxFilesPerTrigger"] = str(max_per_trigger)
    return "text", opts


def read_json_stream(spark: SparkSession, path: str, *, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source replay of the message stream (one JSON doc per line).

    The Kafka branch differs only in reader config plus a
    ``CAST(value AS STRING)`` projection (Kafka values are binary) —
    see buffer_reader_options.
    """
    fmt, opts = buffer_reader_options(source="file", max_per_trigger=max_files_per_trigger)
    reader = spark.readStream.format(fmt)
    for k, v in opts.items():
        reader = reader.option(k, v)
    raw = reader.load(path)
    return parse_messages(raw)


def snapshots_query(
    msgs: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    stamp_ingest_ts: bool = False,
) -> StreamingQuery:
    """Snapshot pipeline: route → explode/unpivot/cast → append parquet sink.

    ``stamp_ingest_ts`` stamps wall-clock ingest time on rows whose
    source bypassed the durable buffer (reference stamps every row at
    buffer write, redis_client.py:46,84)."""
    flat = flatten_snapshots(msgs, stamp_ingest_ts=stamp_ingest_ts)
    writer = (
        flat.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def deltas_query(
    msgs: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    available_now: bool = True,
    dedup_within: str | None = "10 minutes",
    stamp_ingest_ts: bool = False,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Delta pipeline with replay dedup on redis_stream_id.

    The reference is at-least-once (ack-after-write, consumer.py:104-107)
    and carries redis_stream_id precisely so downstream can dedup
    (consumer.py:145,161); dropDuplicatesWithinWatermark does that here.
    A NULL-id row (its source bypassed the buffer) is keyed on
    ``"\\0" + uuid()``, which no buffer id can equal, so it is never a
    duplicate. It holds a row of dedup state until the watermark evicts
    it, and is dropped as late once older than the watermark, as a keyed
    row is (DEPLOY.md §4).
    ``stamp_ingest_ts``: as in snapshots_query — wall-clock stamp for
    rows whose source bypassed the durable buffer.

    ``state_partitions`` right-sizes the stateful stage of a dedup run
    (it must be >= 1 on every call, and is unused when dedup is off):
    stateful operators take their shuffle-partition count — one
    state-store instance each — from ``spark.sql.shuffle.partitions``
    at query start (pinned into the checkpoint; AQE is disabled in
    stateful workloads, so nothing coalesces tiny state stores the way
    batch shuffles coalesce). Callers size it from the expected state
    (stateful_shuffle_partitions, the DEPLOY.md §4 bound); None leaves
    the session default untouched. The conf is set only around
    ``start()`` — the stream captures its conf into a cloned session at
    start, so the session value is restored before this returns
    (verified stable across repeated runs in the r16 probe). Because
    the pin briefly sets the shared session conf, streaming queries on
    one session must be started from one thread. The pin sits on the
    caller's session, not a ``newSession()`` clone, so that session's
    listeners (``BookPipelineListener``'s state-bound alarm) keep
    seeing the query: a query started on a clone reports to the
    clone's listeners only.

    An ``available_now`` dedup run skips the trailing no-data batch (see
    the comment in the body). Its rows are unchanged; the watermark
    eviction that batch would have done is deferred to the next run on
    the same checkpoint.
    """
    if state_partitions is not None and state_partitions < 1:
        raise ValueError(f"state_partitions must be >= 1, got {state_partitions}")
    flat = flatten_deltas(msgs, stamp_ingest_ts=stamp_ingest_ts)
    dedup_armed = bool(dedup_within)
    if dedup_armed:
        # dropDuplicates* treats NULLs as equal and would keep one NULL-id
        # row of the whole stream, so a NULL id gets a fresh key that no
        # buffer id can take (buffer ids never start with "\0").
        key = F.coalesce(F.col("redis_stream_id"), F.concat(F.lit("\u0000"), F.uuid()))
        flat = (
            flat.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
            .withColumn("_dedup_key", key)
            .withWatermark("event_time", dedup_within)
            .dropDuplicatesWithinWatermark(["_dedup_key"])
            .drop("_dedup_key", "event_time")
        )
    writer = (
        flat.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    spark = msgs.sparkSession
    pinned: dict[str, tuple[str, str]] = {}  # key -> (query value, session value)
    if dedup_armed and state_partitions is not None:
        pinned["spark.sql.shuffle.partitions"] = (
            str(state_partitions),
            spark.conf.get("spark.sql.shuffle.partitions"),
        )
    if dedup_armed and available_now:
        # An availableNow run is a drain-and-stop: after the last data
        # batch the engine schedules one no-data batch purely to advance
        # the watermark and evict expired state. Skipping it defers that
        # eviction rather than discarding it: the expired rows stay in
        # the checkpointed state store, and a caller that reuses the
        # checkpoint has them evicted by its next run once that run's
        # watermark passes them (a discarded checkpoint needs none).
        # dropDuplicatesWithinWatermark emits rows immediately (never
        # holds output for the watermark), so the sink's rows are
        # IDENTICAL without that batch — skipping it removes a full
        # per-store commit round (r16 A/B: ~1.4x at bench volume).
        # Continuous (non-availableNow) runs keep no-data batches: there
        # they are what evicts state across idle gaps.
        pinned["spark.sql.streaming.noDataMicroBatches.enabled"] = (
            "false",
            spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled", "true"),
        )
    for key, (qval, _) in pinned.items():
        spark.conf.set(key, qval)
    try:
        return writer.start()
    finally:
        for key, (_, sval) in pinned.items():
            spark.conf.set(key, sval)


def enrich_with_market_dim(deltas: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the delta stream with the (small,
    broadcast) market-discovery dimension (kalshi_rest_client.py:60-74).
    No watermark needed — the static side is bounded."""
    return deltas.join(F.broadcast(dim), on="ticker", how="left")


def sink_merge_spec(
    *,
    table_format: str = "parquet",
    target: str,
    key: str = "redis_stream_id",
) -> tuple[str, str | None]:
    """(sink_kind, merge_sql) — the config-only swap between the raw-
    parquet anti-join sink and a transactional table format's MERGE
    (same pattern as ``buffer_reader_options``' file↔Kafka swap).

    The parquet sink is idempotent via read-back + anti-join
    (``foreach_batch_idempotent_sink``), which is correct but races
    concurrent writers and rescans the horizon per batch. At 100 TB the
    exactly-once story wants a table format with ACID MERGE; the swap
    is config-only because foreachBatch hands both paths the same
    deduplicated batch frame:

    - ``delta``:   ``MERGE INTO delta.`path``` with insert-if-absent —
      the transaction log replaces the read-back anti-join entirely.
    - ``iceberg``: ``MERGE INTO catalog.table`` — identical statement
      shape, catalog-resolved target.
    - ``parquet``: no MERGE (None) — callers keep the anti-join path.

    Neither Delta nor Iceberg ships in this container, so the
    transactional branches are exercised at the spec level (statement
    shape + dispatch, tests/test_streaming.py), exactly how the Kafka
    reader branch is tested without a broker."""
    if table_format == "delta":
        return "merge", (
            f"MERGE INTO delta.`{target}` AS t USING batch AS s "  # noqa: S608
            f"ON t.{key} = s.{key} WHEN NOT MATCHED THEN INSERT *"
        )
    if table_format == "iceberg":
        return "merge", (
            f"MERGE INTO {target} AS t USING batch AS s "  # noqa: S608
            f"ON t.{key} = s.{key} WHEN NOT MATCHED THEN INSERT *"
        )
    if table_format == "parquet":
        return "anti_join_append", None
    raise ValueError(f"unknown sink table_format {table_format!r}")


def foreach_batch_idempotent_sink(
    flat: DataFrame,
    out_path: str,
    checkpoint: str,
    *,
    ts_col: str = "timestamp",
    horizon_ms: int | None = None,
    table_format: str = "parquet",
):
    """foreachBatch sink with MERGE-style idempotency on redis_stream_id:
    replays (at-least-once upstream, or checkpoint loss) anti-join against
    the keys already in the sink before appending — the exactly-once
    upgrade of the reference's ack-after-write (consumer.py:104-107).

    ``horizon_ms`` bounds the anti-join to the watermark horizon: only
    sink rows with ``ts_col >= max(batch ts) - horizon_ms`` are loaded
    as dedup keys, so the scan stays O(horizon), not O(sink history) —
    the same contract as dropDuplicatesWithinWatermark (a replay
    arriving later than the horizon may append; delivery guarantees
    never outlive the watermark). The ts filter prunes via parquet
    min/max stats; partition the sink by date to prune at the directory
    level. ``horizon_ms=None`` keeps the unbounded local-dev behavior.

    ``table_format`` other than "parquet" swaps the whole anti-join for
    the table format's transactional MERGE (see ``sink_merge_spec``).
    """
    sink_kind, merge_sql = sink_merge_spec(table_format=table_format, target=out_path)

    def write_merge(batch_df: DataFrame, batch_id: int) -> None:
        out = batch_df.dropDuplicates(["redis_stream_id"])
        out.createOrReplaceTempView("batch")
        out.sparkSession.sql(merge_sql)

    def write(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.errors import AnalysisException

        spark = batch_df.sparkSession
        # Within-batch replays first (both copies of a replayed message can
        # land in one micro-batch), then anti-join against the sink.
        out = batch_df.dropDuplicates(["redis_stream_id"])
        try:
            existing = spark.read.parquet(out_path)
            if horizon_ms is not None:
                # 1-row metadata aggregate on the driver — the foreachBatch
                # analog of the engine's own per-batch watermark tracking
                # (not a data collect).
                hi = out.agg(F.max(F.col(ts_col).cast("long"))).first()[0]
                if hi is not None:
                    existing = existing.filter(F.col(ts_col).cast("long") >= hi - horizon_ms)
            keys = existing.select("redis_stream_id")
            out = out.join(F.broadcast(keys), on="redis_stream_id", how="left_anti")
        except AnalysisException as exc:
            # Only sink-not-yet-created is a legitimate first-batch state;
            # any other read failure must fail the batch (checkpoint retry)
            # or replays would append silently without the anti-join.
            msg = str(exc)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
        out.write.mode("append").parquet(out_path)

    return (
        flat.writeStream.foreachBatch(write_merge if sink_kind == "merge" else write)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_stream_snapshot_delta_join(
    snaps: DataFrame,
    deltas: DataFrame,
    *,
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
) -> DataFrame:
    """Stream-stream join: each streaming delta joined to the streaming
    snapshot of the same ticker that arrived within [delta - max_lag,
    delta]. Both sides watermarked (required for state cleanup: the
    join buffer drops rows older than watermark + lag).

    The reference never joins its two streams — downstream SQL was meant
    to — but stream-stream with time bounds is the §2.4 streaming row.
    """
    s = (
        snaps.withColumn("snap_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("snap_time", watermark)
        .select(
            F.col("ticker").alias("s_ticker"),
            "snap_time",
            F.col("side").alias("s_side"),
            F.col("price_dollars").alias("s_price"),
            F.col("contracts").alias("s_contracts"),
        )
    )
    d = (
        deltas.withColumn("delta_time", F.timestamp_millis(F.col("timestamp")))
        .withWatermark("delta_time", watermark)
    )
    cond = (
        (F.col("ticker") == F.col("s_ticker"))
        & (F.col("side") == F.col("s_side"))
        & (F.col("price_dollars") == F.col("s_price"))
        & (F.col("snap_time") <= F.col("delta_time"))
        & (F.col("snap_time") >= F.col("delta_time") - F.expr(f"INTERVAL {max_lag}"))
    )
    return d.join(s, cond, "inner").select(
        "ticker", "side", "price_dollars", "delta", "s_contracts", "delta_time", "snap_time"
    )


def windowed_book_stats(
    deltas: DataFrame,
    *,
    window: str = "1 minute",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding per-market stats over the delta stream.

    Event-time = exchange ts (redis_client.py:83); late rows beyond the
    watermark are dropped (the reference instead hard-fails on disorder,
    kalshi_ws_client.py:141-144 — quarantine-by-watermark is the
    cluster-safe version).
    """
    with_time = deltas.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    win = (
        F.window("event_time", window, slide) if slide else F.window("event_time", window)
    )
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(win.alias("w"), F.col("ticker"))
        .agg(
            F.count(F.lit(1)).alias("n_deltas"),
            F.sum("delta").alias("net_contracts"),
            F.min("price_dollars").alias("min_price"),
            F.max("price_dollars").alias("max_price"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "ticker",
            "n_deltas",
            "net_contracts",
            "min_price",
            "max_price",
        )
    )


def session_bursts(
    deltas: DataFrame,
    *,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Trading-burst session windows per market (session_window + gap)."""
    with_time = deltas.withColumn("event_time", F.timestamp_millis(F.col("timestamp")))
    return (
        with_time.withWatermark("event_time", watermark)
        .groupBy(F.session_window("event_time", gap).alias("w"), F.col("ticker"))
        .agg(F.count(F.lit(1)).alias("n_deltas"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "ticker",
            "n_deltas",
        )
    )


def dedup_docs_stream(
    docs: DataFrame,
    *,
    watermark: str = "10 minutes",
) -> DataFrame:
    """In-flight exact dedup of a document stream: only the FIRST
    arrival of each content payload (within the watermark horizon)
    passes through — the streaming half of `dedup_exact_docs`, applied
    before anything lands, so the corpus store never ingests the
    duplicate crawl arrivals at all.

    State discipline: the key is the 16-byte md5 content digest — raw
    text never enters state — and `dropDuplicatesWithinWatermark`
    expires each digest once the watermark passes it, so state is
    bounded by (arrival rate x horizon), not corpus size. Duplicates
    farther apart than the horizon are the batch layer's job
    (dedup_exact_docs / delta_dedup over the landed table — the
    standard lambda split). The digest column stays on the output so
    the sink table carries the batch layer's join key for free.

    Expects ``text`` and an epoch-ms ``ingest_ts`` (the crawl-arrival
    clock).
    """
    with_time = docs.withColumn("event_time", F.timestamp_millis(F.col("ingest_ts")))
    return (
        with_time.withColumn("content_digest", F.md5(F.col("text")))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["content_digest"])
    )
