"""Streaming order-book state: the live book maintained per ticker as
messages arrive — the reference's implied end product, kept incrementally
instead of reconstructed per query.

Custom stateful operator via applyInPandasWithState (the §2.10/§2.9
"running book state, update mode" surface), keyed on a stable ticker
bucket, ``pmod(xxhash64(market_ticker), BOOK_BUCKETS)``:

- state per bucket = its tickers' anchors (snapshot ts, last applied ts)
  and ladders (side, price_cents, contracts) as parallel arrays;
- an `orderbook_snapshot` REPLACES its ticker's ladder (and drops deltas
  that arrived out-of-order before it, matching batch current_book: only
  deltas with ts > snapshot ts apply);
- an `orderbook_delta` increments one level; levels at ≤0 contracts are
  deleted;
- each micro-batch emits a refreshed quote row (best bid, implied ask =
  1 - best no bid, spread) for every ticker that had a row in the batch
  and has a book — output mode `update`.

Why buckets: applyInPandasWithState pays a fixed cost per grouping key
and micro-batch (Arrow slice to pandas, state pickle, output frame).
Keyed per ticker, that cost, not the per-row loop, was the operator's
time; one call per bucket amortizes it over the bucket's tickers. The
price: the operator runs at most BOOK_BUCKETS ways in parallel, and a
touched bucket rewrites its whole ladder set to the state store.

Upgrading from the per-ticker key discards the live-book checkpoint: a
restart on a checkpoint written with the per-ticker key fails with
STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE rather than misread it. Start on
a fresh checkpoint; the book is rebuilt by replaying the buffer.

Batch/stream parity: tests replay the same messages through this
operator and through analytics.current_book + quotes and assert equal
results — Structured Streaming's core guarantee, made checkable.

Disorder handling: rows are sorted by (ts, seq) within each micro-batch,
and stale rows (≤ the anchoring snapshot's ts) are dropped — same rule
as the batch path. A post-snapshot delta that arrives in an EARLIER
batch than its snapshot is superseded by the ladder replacement; the
reference hard-crashes on any disorder (kalshi_ws_client.py:141-144),
so this is strictly more tolerant. For exact cross-batch replay
ordering, feed from a buffer that preserves per-key order (Kafka
partitioned by ticker does). Replays are not deduplicated: an
at-least-once redelivery of a delta applies twice (ROADMAP item 1).

Scale: a bucket holds about tickers / BOOK_BUCKETS ladders, each bounded
by the cents price grid, and a touched bucket is rewritten whole, so
state-store writes per micro-batch grow with tickers per bucket. Input
only needs to be hash-distributed by bucket — one shuffle.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

QUOTE_SCHEMA = StructType(
    [
        StructField("ticker", StringType(), False),
        StructField("as_of_ts", LongType(), True),
        StructField("best_bid", DoubleType(), True),
        StructField("best_ask", DoubleType(), True),
        StructField("spread", DoubleType(), True),
        StructField("n_levels", IntegerType(), True),
    ]
)

# Buckets the operator is keyed on (module docstring). 4, 16 and 64
# measured the same on 4 vCPU; 64 leaves room for more stateful tasks.
# Changing it moves tickers between buckets, which the key schema cannot
# show: a restart on an old checkpoint would start those books empty, so
# a new value needs a new checkpoint too.
BOOK_BUCKETS = 64

# State per bucket: its tickers' anchors and ladders as parallel arrays
# (Arrow-friendly): tickers[i]'s ladder is sides[i] / prices[i] / contracts[i].
STATE_SCHEMA = StructType(
    [
        StructField("tickers", ArrayType(StringType()), True),
        StructField("snap_ts", ArrayType(LongType()), True),
        StructField("last_ts", ArrayType(LongType()), True),
        StructField("sides", ArrayType(ArrayType(StringType())), True),
        StructField("prices", ArrayType(ArrayType(IntegerType())), True),  # cents: exact ints in state
        StructField("contracts", ArrayType(ArrayType(IntegerType())), True),
    ]
)


def _quote(ticker: str, ladder: dict, as_of: int) -> tuple:
    # Only levels with positive contracts exist for quoting; levels at ≤0
    # stay in state (a later positive delta adds to the true net sum —
    # identical semantics to the batch current_book, which sums all
    # deltas then filters contracts > 0).
    live = {k for k, c in ladder.items() if c > 0}
    yes = [p for (s, p) in live if s == "yes"]
    no = [p for (s, p) in live if s == "no"]
    bid = max(yes) / 100.0 if yes else None
    ask = 1 - max(no) / 100.0 if no else None
    spread = (ask - bid) if (bid is not None and ask is not None) else None
    return (ticker, as_of, bid, ask, spread, len(live))


def _apply_bucket(_key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
    """One bucket's micro-batch: apply its rows to its tickers' books and
    emit one quote per ticker that had any row and has a book."""
    books: dict[str, list] = {}  # ticker -> [ladder, snap_ts, last_ts]
    if state.exists:
        tickers, snaps, lasts, sides, prices, contracts = state.get
        for t, snap_ts, last_ts, ss, ps, cs in zip(tickers, snaps, lasts, sides, prices, contracts):
            books[t] = [dict(zip(zip(ss, ps), cs)), snap_ts, last_ts]

    # Concatenate ALL Arrow chunks before sorting: a bucket's micro-batch
    # arrives as multiple pandas chunks when it exceeds
    # arrow.maxRecordsPerBatch, and per-chunk sorting would let a
    # later-chunk snapshot wipe already-applied later-ts deltas.
    batch = pd.concat(list(pdfs), ignore_index=True)
    touched = set()
    for r in batch.sort_values(["ets", "seq"], kind="stable").itertuples():
        touched.add(r.market_ticker)
        if pd.isna(r.ets):
            continue  # malformed message (null ts): skip, don't kill the query
        book = books.get(r.market_ticker)
        _, snap_ts, last_ts = book or (None, None, None)
        if r.type == "orderbook_snapshot":
            if snap_ts is not None and r.ets <= snap_ts:
                continue  # stale snapshot replay
            snap_ts = int(r.ets)
            ladder = {}
            for side_name, col in (("yes", r.yes_dollars), ("no", r.no_dollars)):
                if col is None:
                    continue
                for level in col:
                    price_cents = int(round(float(level[0]) * 100))
                    ladder[(side_name, price_cents)] = int(level[1])
            books[r.market_ticker] = [ladder, snap_ts, max(last_ts or 0, snap_ts)]
        elif r.type == "orderbook_delta":
            if pd.isna(r.price) or pd.isna(r.delta) or r.side is None:
                continue  # malformed delta (missing field → null): skip
            ts = int(r.ets)
            if snap_ts is not None and ts <= snap_ts:
                continue  # pre-snapshot delta: superseded
            if book is None:
                book = books[r.market_ticker] = [{}, None, None]
            book[2] = max(last_ts or 0, ts)
            k = (r.side, int(r.price))
            # Net sum may go ≤0 (kill) and back up: keep the net in
            # state so batch/stream reconstructions agree. State per
            # level is bounded by the cents price grid (<200 keys).
            book[0][k] = book[0].get(k, 0) + int(r.delta)
    if books:
        state.update(
            (
                list(books),
                [b[1] for b in books.values()],
                [b[2] for b in books.values()],
                [[s for s, _p in b[0]] for b in books.values()],
                [[p for _s, p in b[0]] for b in books.values()],
                [list(b[0].values()) for b in books.values()],
            )
        )
    rows = [_quote(t, books[t][0], books[t][2]) for t in touched if t in books]
    yield pd.DataFrame(rows, columns=[f.name for f in QUOTE_SCHEMA.fields])


def streaming_quotes(msgs: DataFrame) -> DataFrame:
    """Raw parsed messages → per-ticker live quote stream (update mode).

    Input must carry: type, market_ticker, and per type either the ladder
    columns (snapshot) or side/price/delta/ts (delta). Timestamps: the
    snapshot anchors at ingestion_ts, deltas at exchange ts — the same
    convention as sources.orderbook flatten + analytics.current_book.
    """
    prepared = msgs.select(
        F.pmod(F.xxhash64("market_ticker"), F.lit(BOOK_BUCKETS)).alias("bucket"),
        "market_ticker",
        "type",
        "seq",
        "yes_dollars",
        "no_dollars",
        "side",
        "price",
        "delta",
        F.when(F.col("type") == "orderbook_snapshot", F.col("ingestion_ts"))
        .otherwise(F.col("ts"))
        .alias("ets"),
    )
    return prepared.groupBy("bucket").applyInPandasWithState(
        _apply_bucket,
        outputStructType=QUOTE_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
