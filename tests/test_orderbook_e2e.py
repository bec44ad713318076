"""End-to-end order-book capability test: raw messages → streaming-shape
flatten → book reconstruction → quotes. This is the full reference
pipeline plus the analytics it only implies.
"""

from __future__ import annotations

import json

import pytest

from nt_etl_order_book_spark.analytics import book_top, current_book, quotes
from nt_etl_order_book_spark.sources.orderbook import (
    flatten_deltas,
    flatten_snapshots,
    parse_messages,
)


def _messages() -> list[dict]:
    return [
        # snapshot at t=1000: yes ladder 0.45×100, 0.40×50; no ladder 0.52×80
        {
            "type": "orderbook_snapshot", "sid": 1, "seq": 1,
            "market_ticker": "KXM-A", "market_id": "m1",
            "yes_dollars": [[0.45, 100], [0.40, 50]],
            "no_dollars": [[0.52, 80]],
            "ingestion_ts": 1000, "redis_stream_id": "1000-0",
        },
        # stale delta BEFORE the snapshot: must be ignored
        {
            "type": "orderbook_delta", "sid": 1, "seq": 0,
            "market_ticker": "KXM-A", "market_id": "m1",
            "price": 45, "price_dollars": 0.45, "delta": 9999, "side": "yes",
            "ts": 900, "ingestion_ts": 905, "redis_stream_id": "900-0",
        },
        # delta kills the 0.45 yes level exactly (negative to zero)
        {
            "type": "orderbook_delta", "sid": 1, "seq": 2,
            "market_ticker": "KXM-A", "market_id": "m1",
            "price": 45, "price_dollars": 0.45, "delta": -100, "side": "yes",
            "ts": 2000, "ingestion_ts": 2005, "redis_stream_id": "2000-0",
        },
        # delta creates a NEW yes level above the old best
        {
            "type": "orderbook_delta", "sid": 1, "seq": 3,
            "market_ticker": "KXM-A", "market_id": "m1",
            "price": 47, "price_dollars": 0.47, "delta": 30, "side": "yes",
            "ts": 3000, "ingestion_ts": 3005, "redis_stream_id": "3000-0",
        },
        # ticker with deltas but NO snapshot: book built from deltas alone
        {
            "type": "orderbook_delta", "sid": 1, "seq": 4,
            "market_ticker": "KXM-B", "market_id": "m2",
            "price": 30, "price_dollars": 0.30, "delta": 10, "side": "yes",
            "ts": 1500, "ingestion_ts": 1505, "redis_stream_id": "1500-0",
        },
    ]


def test_full_pipeline_reconstruction_and_quotes(spark, tmp_path):
    p = tmp_path / "msgs"
    p.mkdir()
    (p / "m.json").write_text("\n".join(json.dumps(m) for m in _messages()))
    msgs = parse_messages(spark.read.text(str(p)))

    snaps = flatten_snapshots(msgs)
    deltas = flatten_deltas(msgs)
    book = current_book(snaps, deltas)
    levels = {
        (r.ticker, r.side, str(r.price_dollars)): r.contracts for r in book.collect()
    }
    # 0.45 yes level killed; 0.40 survives; 0.47 created; no side intact.
    assert ("KXM-A", "yes", "0.4500") not in levels
    assert levels[("KXM-A", "yes", "0.4000")] == 50
    assert levels[("KXM-A", "yes", "0.4700")] == 30
    assert levels[("KXM-A", "no", "0.5200")] == 80
    # snapshot-less ticker reconstructed from deltas alone
    assert levels[("KXM-B", "yes", "0.3000")] == 10
    # stale pre-snapshot delta ignored (0.45 would be 9999+100-100 otherwise)

    q = {r.ticker: r for r in quotes(book).collect()}
    a = q["KXM-A"]
    # best bid = 0.47 (new level), best ask = 1 - 0.52 = 0.48
    assert str(a.best_bid) == "0.4700"
    assert str(a.best_ask) == "0.4800"
    assert str(a.spread) == "0.0100"
    assert str(a.mid) == "0.47500"

    top = book_top(book, k=1)
    best = {(r.ticker, r.side): str(r.price_dollars) for r in top.collect()}
    assert best[("KXM-A", "yes")] == "0.4700"


def test_imbalance_and_vwap(spark, tmp_path):
    from nt_etl_order_book_spark.analytics import vwap

    p = tmp_path / "msgsV"
    p.mkdir()
    (p / "m.json").write_text("\n".join(json.dumps(m) for m in _messages()))
    msgs = parse_messages(spark.read.text(str(p)))
    snaps, deltas = flatten_snapshots(msgs), flatten_deltas(msgs)

    # With snapshots given, pre-snapshot flow (the stale +9999 replay,
    # already baked into the snapshot) is excluded: only genuine
    # post-snapshot executions count.
    v = {(r.ticker, r.side): r for r in vwap(deltas, snaps).collect()}
    assert str(v[("KXM-A", "yes")].vwap) == "0.470000"
    assert v[("KXM-A", "yes")].volume == 30
    assert str(v[("KXM-B", "yes")].vwap) == "0.300000"
    assert v[("KXM-B", "yes")].volume == 10
    # Raw-flow mode still counts everything (deduped on stream id).
    raw = {(r.ticker, r.side): r.volume for r in vwap(deltas).collect()}
    assert raw[("KXM-A", "yes")] == 10029


def test_book_as_of_time_travel(spark, tmp_path):
    p = tmp_path / "msgs2"
    p.mkdir()
    (p / "m.json").write_text("\n".join(json.dumps(m) for m in _messages()))
    msgs = parse_messages(spark.read.text(str(p)))
    snaps, deltas = flatten_snapshots(msgs), flatten_deltas(msgs)
    # As of t=2500: the 0.45 kill has landed, the 0.47 create has not.
    book = current_book(snaps, deltas, as_of_ms=2500)
    levels = {(r.side, str(r.price_dollars)): r.contracts for r in book.filter("ticker='KXM-A'").collect()}
    assert ("yes", "0.4500") not in levels
    assert ("yes", "0.4700") not in levels
    assert levels[("yes", "0.4000")] == 50


def _fixture_sinks(spark, tmp_path):
    p = tmp_path / "msgsP"
    p.mkdir()
    (p / "m.json").write_text("\n".join(json.dumps(m) for m in _messages()))
    msgs = parse_messages(spark.read.text(str(p)))
    return flatten_snapshots(msgs), flatten_deltas(msgs)


@pytest.mark.parametrize(
    "name,max_jobs",
    [("current_book", 3), ("as_of_unclamped", 3), ("quotes", 3), ("book_reconstruct", 4)],
)
def test_book_kernels_plan_one_shuffle(spark, sf_dir, tmp_path, name, max_jobs):
    # The reconstruction kernel hash-partitions the tagged union of
    # snapshots and deltas on ticker (key) ONCE; the replay dedup, the
    # latest-snapshot window, the per-level aggregate and quotes' per-
    # ticker aggregate all reuse that partitioning. No join, so no
    # broadcast either. Job counts are upper bounds measured on this
    # fixture: a change that adds a stage or re-runs a lineage fails.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.plans.explain import count_shuffles, formatted_plan
    from nt_etl_order_book_spark.plans.profile import profile

    snaps, deltas = _fixture_sinks(spark, tmp_path)
    build = {
        "current_book": lambda: current_book(snaps, deltas),
        "as_of_unclamped": lambda: current_book(snaps, deltas, as_of_ms=2500, clamp=False),
        "quotes": lambda: quotes(current_book(snaps, deltas)),
        "book_reconstruct": lambda: registry.queries()["book_reconstruct"](spark, sf_dir),
    }[name]
    df = build()
    assert count_shuffles(df) == 1
    assert "BroadcastExchange" not in formatted_plan(df)
    p = profile(build)
    assert p.rows > 0
    assert 0 < p.jobs <= max_jobs, p
