"""Streaming book state: live quotes via stateful operator, with
batch/stream parity against analytics.current_book + quotes.
"""

from __future__ import annotations

import json
import random

import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout

from nt_etl_order_book_spark.analytics import current_book, quotes
from nt_etl_order_book_spark.sources.orderbook import (
    flatten_deltas,
    flatten_snapshots,
    parse_messages,
)
from nt_etl_order_book_spark.streaming.book_state import BOOK_BUCKETS, QUOTE_SCHEMA, streaming_quotes
from nt_etl_order_book_spark.streaming.pipeline import read_json_stream


def _replay() -> list[dict]:
    msgs = []
    for m, ticker in enumerate(["KXS-A", "KXS-B"]):
        msgs.append(
            {
                "type": "orderbook_snapshot", "sid": 1, "seq": m * 100,
                "market_ticker": ticker, "market_id": str(m),
                "yes_dollars": [[0.40, 100], [0.45, 60]],
                "no_dollars": [[0.50, 70]],
                "ingestion_ts": 1000 + m, "redis_stream_id": f"s{m}",
            }
        )
    # deltas: move best bid up on A, kill a level on B
    msgs.append(
        {
            "type": "orderbook_delta", "sid": 1, "seq": 1,
            "market_ticker": "KXS-A", "market_id": "0",
            "price": 47, "price_dollars": 0.47, "delta": 25, "side": "yes",
            "ts": 2000, "ingestion_ts": 2001, "redis_stream_id": "d1",
        }
    )
    msgs.append(
        {
            "type": "orderbook_delta", "sid": 1, "seq": 101,
            "market_ticker": "KXS-B", "market_id": "1",
            "price": 45, "price_dollars": 0.45, "delta": -60, "side": "yes",
            "ts": 2100, "ingestion_ts": 2101, "redis_stream_id": "d2",
        }
    )
    # kill-then-recreate on the same level: net sum semantics — the case
    # that diverges if the streaming state floors/deletes at zero
    # (batch sums all deltas; stream must too).
    msgs.append(
        {
            "type": "orderbook_delta", "sid": 1, "seq": 102,
            "market_ticker": "KXS-B", "market_id": "1",
            "price": 48, "price_dollars": 0.48, "delta": -999, "side": "yes",
            "ts": 2200, "ingestion_ts": 2201, "redis_stream_id": "d3",
        }
    )
    msgs.append(
        {
            "type": "orderbook_delta", "sid": 1, "seq": 103,
            "market_ticker": "KXS-B", "market_id": "1",
            "price": 48, "price_dollars": 0.48, "delta": 500, "side": "yes",
            "ts": 2300, "ingestion_ts": 2301, "redis_stream_id": "d4",
        }
    )
    return msgs


def test_streaming_quotes_match_batch_reconstruction(spark, tmp_path):
    p = tmp_path / "msgs"
    p.mkdir()
    (p / "m.json").write_text("\n".join(json.dumps(m) for m in _replay()))

    # Stream path: stateful live quotes, last update per ticker wins.
    stream = read_json_stream(spark, str(p))
    q = (
        streaming_quotes(stream)
        .writeStream.format("memory")
        .queryName("live_quotes")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    live = {
        r.ticker: r
        for r in spark.sql(
            "select * from (select *, row_number() over (partition by ticker order by as_of_ts desc) rn "
            "from live_quotes) where rn = 1"
        ).collect()
    }

    # Batch path: flatten → current_book → quotes.
    batch_msgs = parse_messages(spark.read.text(str(p)))
    book = current_book(flatten_snapshots(batch_msgs), flatten_deltas(batch_msgs))
    batch = {r.ticker: r for r in quotes(book).collect()}

    for t in ("KXS-A", "KXS-B"):
        assert abs(live[t].best_bid - float(batch[t].best_bid)) < 1e-9, t
        assert abs(live[t].best_ask - float(batch[t].best_ask)) < 1e-9, t

    # semantics: A's new 0.47 level is the bid; B's 0.45 was killed → 0.40
    assert live["KXS-A"].best_bid == 0.47
    assert live["KXS-B"].best_bid == 0.40
    assert live["KXS-A"].best_ask == 0.50  # 1 - 0.50 no bid


def test_streaming_quotes_stateful_across_batches(spark, tmp_path):
    # snapshot in batch 1, delta in batch 2: state must carry the ladder.
    p = tmp_path / "msgs2"
    p.mkdir()
    msgs = _replay()
    (p / "a.json").write_text(json.dumps(msgs[0]))  # snapshot A only

    stream = read_json_stream(spark, str(p))
    q = (
        streaming_quotes(stream)
        .writeStream.format("memory")
        .queryName("carry_quotes")
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()  # micro-batch 1: snapshot only
        first = spark.sql("select best_bid from carry_quotes").collect()
        assert first and first[0].best_bid == 0.45

        (p / "b.json").write_text(json.dumps(msgs[2]))  # delta A: +25 @ 0.47
        q.processAllAvailable()  # micro-batch 2: delta applies to carried ladder
        last = spark.sql(
            "select best_bid from carry_quotes order by as_of_ts desc limit 1"
        ).collect()
        assert last[0].best_bid == 0.47  # ladder carried in state across batches
    finally:
        q.stop()


def _shared_bucket_tickers(spark, n: int) -> list[str]:
    """n tickers that streaming_quotes keys into one bucket."""
    names = [f"KXB-{i}" for i in range(4 * BOOK_BUCKETS)]
    rows = (
        spark.createDataFrame([(t,) for t in names], "market_ticker string")
        .select("market_ticker", F.pmod(F.xxhash64("market_ticker"), F.lit(BOOK_BUCKETS)).alias("b"))
        .collect()
    )
    by_bucket: dict[int, list[str]] = {}
    for r in rows:
        by_bucket.setdefault(r.b, []).append(r.market_ticker)
    return max(by_bucket.values(), key=len)[:n]


def _book_msgs(ticker: str, m: int, t0: int, n_deltas: int) -> list[dict]:
    """A snapshot at t0 and n_deltas later deltas on a few levels, with
    ts == ingestion_ts so the stream and batch clocks agree."""
    out = [
        {
            "type": "orderbook_snapshot", "sid": m, "seq": 0,
            "market_ticker": ticker, "market_id": str(m),
            "yes_dollars": [[0.40, 100], [0.45, 60]], "no_dollars": [[0.50, 70]],
            "ingestion_ts": t0, "redis_stream_id": f"{t0}-{m}",
        }
    ]
    for i in range(1, n_deltas + 1):
        side = "yes" if i % 2 else "no"
        price = 46 + (i % 3) if side == "yes" else 51 + (i % 2)
        out.append(
            {
                "type": "orderbook_delta", "sid": m, "seq": i,
                "market_ticker": ticker, "market_id": str(m),
                "price": price, "price_dollars": price / 100, "delta": -25 if i % 4 == 0 else 10,
                "side": side, "ts": t0 + i, "ingestion_ts": t0 + i,
                "redis_stream_id": f"{t0 + i}-{m}",
            }
        )
    return out


def test_bucket_state_multi_ticker_multi_chunk(spark, tmp_path):
    # Several tickers share one bucket's state; their rows arrive in
    # 2-row Arrow chunks (arrow.maxRecordsPerBatch=2) in shuffled order,
    # across three micro-batches. The live quotes must equal the batch
    # reconstruction, and a batch that touches one ticker must emit only
    # that ticker's row, although the bucket holds all of them.
    tickers = _shared_bucket_tickers(spark, 3)
    assert len(tickers) == 3
    rng = random.Random(7)
    p = tmp_path / "bucket"
    p.mkdir()
    batches = [
        [m for k, t in enumerate(tickers) for m in _book_msgs(t, k, 1000 + 100 * k, 6)],
        _book_msgs(tickers[0], 0, 5000, 5)[1:],  # deltas on ticker 0 only
        _book_msgs(tickers[1], 1, 7000, 4) + _book_msgs(tickers[2], 2, 7000, 3)[1:],
    ]
    emitted: dict[int, list] = {}

    def collect(df, batch_id):
        emitted[batch_id] = df.collect()

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    q = (
        streaming_quotes(read_json_stream(spark, str(p)))
        .writeStream.outputMode("update")
        .foreachBatch(collect)
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        for i, msgs in enumerate(batches):
            rng.shuffle(msgs)
            (p / f"b{i}.json").write_text("\n".join(json.dumps(m) for m in msgs))
            q.processAllAvailable()
    finally:
        q.stop()
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    assert len(emitted) == 3
    assert sorted(r.ticker for r in emitted[1]) == [tickers[0]]
    assert sorted(r.ticker for r in emitted[2]) == sorted(tickers[1:])
    live = {}
    for b in sorted(emitted):
        live.update({r.ticker: r for r in emitted[b]})

    parsed = parse_messages(spark.read.text(str(p)))
    batch = {r.ticker: r for r in quotes(current_book(flatten_snapshots(parsed), flatten_deltas(parsed))).collect()}
    assert sorted(live) == sorted(batch) == sorted(tickers)
    for t in tickers:
        assert live[t].best_bid == pytest.approx(float(batch[t].best_bid)), t
        assert live[t].best_ask == pytest.approx(float(batch[t].best_ask)), t


def test_per_ticker_checkpoint_restart_fails_loudly(spark, tmp_path):
    # A live-book checkpoint written with the per-ticker key must not be
    # misread as bucket state: the restart fails on the key schema.
    p = tmp_path / "msgs"
    p.mkdir()
    msgs = _replay()
    (p / "a.json").write_text("\n".join(json.dumps(m) for m in msgs[:2]))
    cp = str(tmp_path / "cp")

    def per_ticker(key, pdfs, state):
        for _ in pdfs:
            pass
        state.update((1,))
        yield pd.DataFrame([(key[0], 0, None, None, None, 0)], columns=QUOTE_SCHEMA.fieldNames())

    first = (
        read_json_stream(spark, str(p))
        .groupBy("market_ticker")
        .applyInPandasWithState(per_ticker, QUOTE_SCHEMA, "n long", "update", GroupStateTimeout.NoTimeout)
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    first.awaitTermination(120)
    assert first.exception() is None

    (p / "b.json").write_text("\n".join(json.dumps(m) for m in msgs[2:]))
    second = (
        streaming_quotes(read_json_stream(spark, str(p)))
        .writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="STATE_STORE_KEY_SCHEMA_NOT_COMPATIBLE"):
        second.awaitTermination(120)


def test_current_book_same_ts_snapshot_tiebreak(spark):
    # Two snapshot MESSAGES for one ticker sharing the max ingestion_ts
    # (millisecond wall clock under replay): only the one with the
    # greatest stream id may contribute levels — keeping both
    # double-counts contracts and emits duplicate (side, price) rows.
    msgs = [
        {
            "type": "orderbook_snapshot", "sid": 1, "seq": 1,
            "market_ticker": "KXT-A", "market_id": "0",
            "yes_dollars": [[0.40, 100]], "no_dollars": [],
            "ingestion_ts": 5000, "redis_stream_id": "5000-1",
        },
        {
            "type": "orderbook_snapshot", "sid": 1, "seq": 2,
            "market_ticker": "KXT-A", "market_id": "0",
            "yes_dollars": [[0.40, 70], [0.45, 30]], "no_dollars": [],
            "ingestion_ts": 5000, "redis_stream_id": "5000-2",  # same ms, later id
        },
    ]
    df = spark.createDataFrame([(json.dumps(m),) for m in msgs], "value string")
    parsed = parse_messages(df)
    book = current_book(flatten_snapshots(parsed), flatten_deltas(parsed))
    rows = {(r.side, float(r.price_dollars)): r.contracts for r in book.collect()}
    # only the 5000-2 message's ladder; no duplicate (side, price) rows
    assert rows == {("yes", 0.40): 70, ("yes", 0.45): 30}


def test_snapshot_tiebreak_numeric_stream_id_order(spark):
    # Redis ids order numerically per '<ms>-<seq>' part, not as strings:
    # '5000-10' beats '5000-9' even though it sorts first lexicographically.
    msgs = [
        {
            "type": "orderbook_snapshot", "sid": 1, "seq": 1,
            "market_ticker": "KXT-A", "market_id": "0",
            "yes_dollars": [[0.40, 100]], "no_dollars": [],
            "ingestion_ts": 5000, "redis_stream_id": "5000-9",
        },
        {
            "type": "orderbook_snapshot", "sid": 1, "seq": 2,
            "market_ticker": "KXT-A", "market_id": "0",
            "yes_dollars": [[0.40, 70]], "no_dollars": [],
            "ingestion_ts": 5000, "redis_stream_id": "5000-10",  # numerically later
        },
        # second ticker: ms parts of different digit lengths also invert
        # lexicographically ('999-0' > '5000-0' as strings)
        {
            "type": "orderbook_snapshot", "sid": 2, "seq": 1,
            "market_ticker": "KXT-B", "market_id": "1",
            "yes_dollars": [[0.30, 10]], "no_dollars": [],
            "ingestion_ts": 6000, "redis_stream_id": "999-0",
        },
        {
            "type": "orderbook_snapshot", "sid": 2, "seq": 2,
            "market_ticker": "KXT-B", "market_id": "1",
            "yes_dollars": [[0.30, 5]], "no_dollars": [],
            "ingestion_ts": 6000, "redis_stream_id": "5000-0",  # numerically later
        },
    ]
    df = spark.createDataFrame([(json.dumps(m),) for m in msgs], "value string")
    parsed = parse_messages(df)
    book = current_book(flatten_snapshots(parsed), flatten_deltas(parsed))
    rows = {(r.ticker, r.side, float(r.price_dollars)): r.contracts for r in book.collect()}
    assert rows == {("KXT-A", "yes", 0.40): 70, ("KXT-B", "yes", 0.30): 5}


def test_snapshot_tiebreak_null_sid_mix_no_double_count(spark):
    # A ticker whose max-timestamp snapshot rows mix NULL and non-NULL
    # stream ids must not double-count a level: null-sid rows bypass the
    # id contest, so the level-level dedup has to collapse the overlap.
    snapshots = spark.createDataFrame(
        [
            (5000, "KXT-A", "yes", "0.4000", 100, "5000-1"),
            (5000, "KXT-A", "yes", "0.4000", 100, None),  # same level, no id
        ],
        "timestamp long, ticker string, side string, price_dollars string, contracts int, redis_stream_id string",
    ).withColumn("price_dollars", F.col("price_dollars").cast("decimal(5,4)"))
    deltas = spark.createDataFrame(
        [],
        "timestamp long, ticker string, side string, price_dollars decimal(5,4), delta int, redis_stream_id string",
    )
    book = current_book(snapshots, deltas)
    rows = book.collect()
    assert len(rows) == 1 and rows[0].contracts == 100


def test_snapshot_null_sid_mix_identified_row_wins_deterministically(spark):
    # NULL-sid and identified rows sharing a level with DIFFERENT
    # contracts: the identified row must always win (not an arbitrary
    # dropDuplicates survivor), on any partitioning/run.
    snapshots = spark.createDataFrame(
        [
            (5000, "KXT-A", "yes", "0.4000", 70, "5000-1"),
            (5000, "KXT-A", "yes", "0.4000", 100, None),  # same level, more contracts, no id
        ],
        "timestamp long, ticker string, side string, price_dollars string, contracts int, redis_stream_id string",
    ).withColumn("price_dollars", F.col("price_dollars").cast("decimal(5,4)"))
    deltas = spark.createDataFrame(
        [],
        "timestamp long, ticker string, side string, price_dollars decimal(5,4), delta int, redis_stream_id string",
    )
    for _ in range(3):  # stable across repeated evaluations
        rows = current_book(snapshots.repartition(8), deltas).collect()
        assert len(rows) == 1 and rows[0].contracts == 70
