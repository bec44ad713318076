"""Order-book analytics over the flattened sink tables — the queries the
reference's output tables exist to answer (SURVEY §0: "its output tables
exist to be queried").

Operates on the A3/A4 shapes (schemas.py): `snapshots(timestamp, ticker,
side, price_dollars, contracts, redis_stream_id)` and `deltas(...,
delta, ...)`.

Reconstruction invariant (SURVEY §1.4): book state at time T =
last snapshot ≤ T, plus the sum of deltas in (snapshot_ts, T], per
(ticker, side, price). Levels at or below zero contracts are gone.

Scale: `current_book` (and `quotes` over it) and `vwap` plan ONE
exchange: the tagged union of snapshot and delta rows, hash-partitioned
on `ticker`. The replay dedup, the latest-snapshot window and the final
aggregate all reuse it — linear, no join. This assumes a
`redis_stream_id` names one message, and so one ticker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _sid_sort_key(sid):  # Column -> Column
    """Total order over Redis stream ids ('<ms>-<seq>', redis_client.py
    ids): numeric (ms, seq) so '5000-10' > '5000-9' and '999-0' < '5000-0'
    — lexicographic string order gets both wrong. Non-conforming ids sort
    below all conforming ones (ms=seq=-1) but deterministically among
    themselves on the raw string; NULL ids yield NULL (excluded from max)."""
    parts = F.split(sid, "-")
    conforming = F.struct(
        parts.getItem(0).cast("bigint").alias("ms"),
        parts.getItem(1).cast("bigint").alias("seq"),
        sid.alias("raw"),
    )
    fallback = F.struct(
        F.lit(-1).cast("bigint").alias("ms"),
        F.lit(-1).cast("bigint").alias("seq"),
        sid.alias("raw"),
    )
    return F.when(sid.rlike(r"^\d+-\d+$"), conforming).otherwise(
        F.when(sid.isNotNull(), fallback)
    )


def _history(snapshots: DataFrame | None, deltas: DataFrame, *, as_of_ms: int | None = None) -> DataFrame:
    """Snapshot and delta rows as ONE frame hash-partitioned on `ticker`:
    (ticker, side, price_dollars, timestamp, qty, is_snap, sidk, latest),
    qty being a level's contracts or a delta's size, sidk the parsed
    stream id and `latest` the ticker's max (timestamp, sidk) snapshot.
    A replayed delta is kept once; replayed snapshot rows are copies of
    one level, which `current_book`'s level pick collapses. Later windows
    and aggregates on ticker reuse this one exchange."""

    def tagged(df: DataFrame, qty: str, is_snap: bool) -> DataFrame:
        sid = F.col("redis_stream_id") if "redis_stream_id" in df.columns else F.lit(None).cast("string")
        cols = ["ticker", "side", "price_dollars", "timestamp", F.col(qty).alias("qty"), sid.alias("sid")]
        return df.select(*cols, F.lit(is_snap).alias("is_snap"))

    rows = tagged(deltas, "delta", False)
    if snapshots is not None:
        rows = tagged(snapshots, "contracts", True).unionByName(rows)
    if as_of_ms is not None:
        rows = rows.filter(F.col("timestamp") <= as_of_ms)
    snap = F.col("is_snap")
    replays = Window.partitionBy("ticker", "is_snap", "sid").orderBy("timestamp", "side", "price_dollars", "qty")
    latest = F.max(F.when(snap, F.struct("timestamp", "sidk"))).over(Window.partitionBy("ticker"))
    return (
        rows.repartition("ticker")
        .withColumn("_rn", F.row_number().over(replays))
        .filter(snap | F.col("sid").isNull() | (F.col("_rn") == 1))
        .withColumn("sidk", _sid_sort_key(F.col("sid")))
        .withColumn("latest", latest)
    )


def _later_delta():  # -> Column
    """Delta rows strictly after the ticker's latest snapshot (every
    delta of a ticker that has none)."""
    snap_ts = F.col("latest.timestamp")
    return ~F.col("is_snap") & (snap_ts.isNull() | (F.col("timestamp") > snap_ts))


def current_book(
    snapshots: DataFrame,
    deltas: DataFrame,
    *,
    as_of_ms: int | None = None,
    clamp: bool = True,
) -> DataFrame:
    """Reconstruct the live book per (ticker, side, price_dollars).

    One row per surviving level with its contract count. Deltas may
    create levels the snapshot never had; negative deltas may kill
    levels (contracts ≤ 0 are dropped, matching an order book's
    semantics of an empty level).

    The clamp applies once, to each level's net at the end of history;
    ``clamp=False`` skips it and returns every level's net, non-positive
    ones included.

    One exchange (`_history`, which also drops replayed deltas), then:
    - the latest snapshot message per ticker: max timestamp (a message's
      levels share its ts, consumer.py:58-81), ties broken by the
      greatest stream id as a parsed (ms, seq) key (`_sid_sort_key`);
      NULL-id rows at that ts cannot join the contest and stay eligible;
    - per level, the base is one eligible row: identified above NULL-id,
      then most contracts — the same book on any partitioning;
    - deltas strictly after that snapshot are summed per level; a ticker
      with no snapshot starts from an empty book.

    Precondition: a `redis_stream_id` names one message, and so one
    ticker; replays are deduped per (ticker, stream id).
    """
    rows = _history(snapshots, deltas, as_of_ms=as_of_ms)
    snap, sidk = F.col("is_snap"), F.col("sidk")
    at_latest = (F.col("timestamp") == F.col("latest.timestamp")) & (sidk.isNull() | (sidk == F.col("latest.sidk")))
    base = F.max_by("qty", F.when(snap, F.struct(sidk.isNotNull(), sidk, "qty")))
    book = (
        rows.filter((snap & at_latest) | _later_delta())
        .groupBy("ticker", "side", "price_dollars")
        .agg(
            (F.coalesce(base, F.lit(0)) + F.coalesce(F.sum(F.when(~snap, F.col("qty"))), F.lit(0)))
            .cast("int")
            .alias("contracts")
        )
    )
    return book.filter(F.col("contracts") > 0) if clamp else book


def book_top(book: DataFrame, k: int = 5) -> DataFrame:
    """Depth-of-book: top-k levels per (ticker, side) by price desc."""
    w = Window.partitionBy("ticker", "side").orderBy(F.desc("price_dollars"))
    return (
        book.withColumn("depth_rank", F.row_number().over(w))
        .filter(F.col("depth_rank") <= k)
    )


def vwap(deltas: DataFrame, snapshots: DataFrame | None = None) -> DataFrame:
    """Volume-weighted average price per (ticker, side) over positive
    delta flow (the executed-volume analog in the delta stream). DECIMAL
    accumulation end to end.

    Flow hygiene mirrors reconstruction, on its one-exchange plan:
    replays are deduped per (ticker, redis_stream_id), and — when
    `snapshots` is given — deltas at or before the ticker's latest
    snapshot are excluded (that flow is already baked into the snapshot;
    counting it double-counts volume).
    """
    notional = F.sum(F.col("price_dollars") * F.col("qty"))
    volume = F.sum(F.col("qty"))
    return (
        _history(snapshots, deltas.filter(F.col("delta") > 0))
        .filter(_later_delta())
        .groupBy("ticker", "side")
        .agg(
            (notional / F.nullif(volume, F.lit(0))).cast("decimal(9,6)").alias("vwap"),
            volume.alias("volume"),
        )
    )


def quotes(book: DataFrame) -> DataFrame:
    """Best bid/ask + spread + mid per ticker, prediction-market style.

    In a binary market the two ladders are bids on each side: buying YES
    at p is selling NO at 1-p, so best_bid = max yes price with
    contracts > 0 and best_ask = 1 - max no price. All arithmetic stays
    DECIMAL (the reference's DECIMAL(5,4) discipline,
    postgres_client.py:33).
    """
    best_yes = F.max(F.when(F.col("side") == "yes", F.col("price_dollars")))
    best_no = F.max(F.when(F.col("side") == "no", F.col("price_dollars")))
    return book.groupBy("ticker").agg(
        best_yes.alias("best_bid"),
        (F.lit(1) - best_no).cast("decimal(6,4)").alias("best_ask"),
        ((F.lit(1) - best_no) - best_yes).cast("decimal(6,4)").alias("spread"),
        (((F.lit(1) - best_no) + best_yes) / 2).cast("decimal(7,5)").alias("mid"),
    )
