"""Self-tests for the benchmark: python3 -m pytest perfbench -q (no Spark)."""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

import pytest

from perfbench import backlog, catalog, run, stats

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _snap(ing, yes, no, ticker="KX-A"):
    return {
        "type": backlog.SNAPSHOT, "sid": 1, "seq": ing, "market_ticker": ticker,
        "market_id": "a", "yes_dollars": [[p / 100, c] for p, c in yes],
        "no_dollars": [[p / 100, c] for p, c in no], "ingestion_ts": ing,
        "redis_stream_id": f"{ing}-0",
    }


def _delta(ing, side, price, delta, ticker="KX-A"):
    return {
        "type": backlog.DELTA, "sid": 1, "seq": ing, "market_ticker": ticker,
        "market_id": "a", "price": price, "price_dollars": price / 100, "delta": delta,
        "side": side, "ts": ing - 1, "ingestion_ts": ing, "redis_stream_id": f"{ing}-0",
    }


D1 = _delta(2000, "yes", 47, 25)
TINY = [
    _snap(1000, yes=[(40, 100), (45, 60)], no=[(50, 70)]),
    D1,
    _delta(3000, "yes", 45, -60),  # kills the 45 level exactly
    dict(D1),  # at-least-once replay of D1
    _delta(4000, "no", 52, 10),
    _delta(5000, "yes", 47, -30),  # with D1 counted once, the 47 level goes negative
]


def test_oracle_on_hand_computed_backlog():
    snaps, deltas = backlog.sink_rows(TINY)
    assert sorted(snaps) == [
        (1000, "KX-A", "no", 50, 70, "1000-0"),
        (1000, "KX-A", "yes", 40, 100, "1000-0"),
        (1000, "KX-A", "yes", 45, 60, "1000-0"),
    ]
    assert [d[5] for d in deltas] == ["2000-0", "3000-0", "4000-0", "5000-0"]  # replay dropped

    book = backlog.book_at(snaps, deltas)
    assert book == {("KX-A", "yes", 40): 100, ("KX-A", "no", 50): 70, ("KX-A", "no", 52): 10}
    assert backlog.quotes_of(book) == {
        "KX-A": (Decimal("0.40"), Decimal("0.48"), Decimal("0.08"), Decimal("0.44"))
    }
    assert backlog.vwap_of(snaps, deltas) == {
        ("KX-A", "yes"): (Decimal("0.470000"), 25),
        ("KX-A", "no"): (Decimal("0.520000"), 10),
    }

    # The live operator applies the replay twice: 25 + 25 - 30 keeps 47 alive.
    assert backlog.live_quotes(TINY, dedup=False) == {"KX-A": (4999, 0.47, 1 - 0.52, (1 - 0.52) - 0.47, 4)}
    assert backlog.live_quotes(TINY, dedup=True) == {"KX-A": (4999, 0.40, 1 - 0.52, (1 - 0.52) - 0.40, 3)}


def _stream_replay(msgs, n_batches, rng):
    """streaming_quotes' own rule: rows sorted by (event ts, seq) inside
    each micro-batch, state carried across batches."""
    cuts = sorted(rng.sample(range(1, len(msgs)), n_batches - 1))
    state, out = {}, {}
    for lo, hi in zip([0, *cuts], [*cuts, len(msgs)]):
        batch = msgs[lo:hi]
        ets = lambda m: m["ingestion_ts"] if m["type"] == backlog.SNAPSHOT else m["ts"]  # noqa: E731
        for m in sorted(batch, key=lambda m: (ets(m), m["seq"])):
            ladder, snap_ts, last_ts = state.get(m["market_ticker"], ({}, None, None))
            if snap_ts is not None and ets(m) <= snap_ts:
                continue
            if m["type"] == backlog.SNAPSHOT:
                ladder = {("yes", round(p * 100)): c for p, c in m["yes_dollars"]}
                ladder.update({("no", round(p * 100)): c for p, c in m["no_dollars"]})
                snap_ts = ets(m)
            else:
                ladder[(m["side"], m["price"])] = ladder.get((m["side"], m["price"]), 0) + m["delta"]
            state[m["market_ticker"]] = (ladder, snap_ts, max(last_ts or 0, ets(m)))
        for t in {m["market_ticker"] for m in batch}:
            ladder, _s, last_ts = state[t]
            yes = [p for (s, p), c in ladder.items() if s == "yes" and c > 0]
            no = [p for (s, p), c in ladder.items() if s == "no" and c > 0]
            bid = max(yes) / 100.0 if yes else None
            ask = 1 - max(no) / 100.0 if no else None
            out[t] = (last_ts, bid, ask, ask - bid if yes and no else None, len(yes) + len(no))
    return out


@pytest.mark.parametrize("n_batches", [1, 3, 17])
def test_live_oracle_does_not_depend_on_batch_boundaries(n_batches):
    spec = backlog.BacklogSpec(messages=3_000, tickers=20, files=4)
    msgs = backlog.generate(spec, seed=7)
    assert _stream_replay(msgs, n_batches, random.Random(n_batches)) == backlog.live_quotes(msgs, dedup=False)


def test_generator_is_seeded_and_replays_are_copies():
    spec = backlog.BacklogSpec(messages=3_000, tickers=20, files=4)
    a, b = backlog.generate(spec, seed=3), backlog.generate(spec, seed=3)
    assert a == b and a != backlog.generate(spec, seed=4)
    seen, replays = {}, 0
    for m in a:
        sid = m["redis_stream_id"]
        if sid in seen:
            replays += 1
            assert m == seen[sid]
        seen[sid] = m
    assert 0.07 < replays / len(a) < 0.13
    snapshots = sum(m["type"] == backlog.SNAPSHOT for m in seen.values())
    assert 0.01 < snapshots / len(seen) < 0.03


def test_tail_percentile_rule():
    assert stats.tail_rank(100) == 90
    assert stats.tail_rank(99) == 75
    assert stats.tail_rank(40) == 75
    assert stats.tail_rank(39) is None  # the median is never the tail
    assert stats.tail_rank(15) is None
    assert stats.percentile([1, 2, 3, 4, 5], 50) == 3
    assert stats.percentile([1, 2, 3, 4], 75) == 3.25
    assert stats.tail(list(range(39))) == (38, "max")
    assert stats.tail(list(range(40))) == (stats.percentile(list(range(40)), 75), "p75")
    assert stats.tail(list(range(100)))[1] == "p90"


def test_printed_metrics_are_declared_with_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    declared_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert dict(catalog.END_TO_END) == declared_e2e
    assert dict(catalog.PER_LAYER) == declared_layer
    assert len(catalog.PER_LAYER) == len(declared_layer)  # no name printed twice
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    from perfbench.common import Pass

    passes = [Pass(wall_s=2.0, throughput=3.0, op_ms=[float(i) for i in range(12)], ops=12)]
    metrics, _note = run.end_to_end(1.0, passes, 900.0)
    assert {k: u for k, (_v, u) in metrics.items()} == declared_e2e
