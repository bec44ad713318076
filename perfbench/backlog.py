"""Seeded order-book backlog and its pure-Python oracle.

The backlog is what the reference consumer finds after an outage: every
message is already due at t0. It mixes ~2% snapshots (5-40-level
ladders) with deltas over a few hundred tickers, and ~10% of its lines are
at-least-once replays: byte-identical copies of an earlier message re-sent
less than a dedup horizon later. Event time spans several horizons, so the
watermarked dedup state fills to rate x horizon and then evicts.

Prices sit on the cents grid, so the batch path (DECIMAL(5,4) dollars) and
the live path (integer cents, float quotes) see the same levels. A delta's
exchange time is its ingestion time minus 1 ms and messages are at least
2 ms apart, so "after the snapshot" means the same thing on both clocks.

The oracle gives, with and without replay dedup, what the sinks, the batch
reconstruction (`analytics.current_book` + `quotes`) and the live quotes
(`streaming.book_state.streaming_quotes`) must produce. It depends on the
file order of the messages only, never on where micro-batch boundaries
fall: the only out-of-order lines are replays, and a replayed snapshot is a
no-op on both paths while a replayed delta is either applied before any
later snapshot of its ticker or wiped by one.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal, localcontext

T0_MS = 1_700_000_000_000
HORIZON_MS = 10 * 60 * 1000
SNAPSHOT = "orderbook_snapshot"
DELTA = "orderbook_delta"


@dataclass(frozen=True)
class BacklogSpec:
    messages: int  # original messages, before replays are added
    tickers: int
    files: int
    span_ms: int = 4 * HORIZON_MS
    snapshot_share: float = 0.02
    replay_share: float = 0.10  # share of all lines that are replays
    replay_lag_ms: int = 3 * 60 * 1000  # < HORIZON_MS: replays stay inside dedup state

    @property
    def step_ms(self) -> int:
        return self.span_ms // self.messages


def _snapshot(rng: random.Random, ticker: str, mid: int, ing: int, seq: int) -> dict:
    n = rng.randint(5, 40)
    n_yes = rng.randint(1, n - 1)
    if rng.random() < 0.03:  # an empty ladder side is legal on the wire
        n_yes = 0 if rng.random() < 0.5 else n
    n_yes = min(n_yes, mid - 1)
    n_no = min(n - n_yes, 99 - mid)
    yes = sorted(rng.sample(range(1, mid), n_yes), reverse=True)
    no = sorted(rng.sample(range(1, 100 - mid), n_no), reverse=True)
    return {
        "type": SNAPSHOT,
        "sid": 1,
        "seq": seq,
        "market_ticker": ticker,
        "market_id": ticker.lower(),
        "yes_dollars": [[p / 100, rng.randint(1, 500)] for p in yes],
        "no_dollars": [[p / 100, rng.randint(1, 500)] for p in no],
        "ingestion_ts": ing,
        "redis_stream_id": f"{ing}-0",
    }


def generate(spec: BacklogSpec, seed: int) -> list[dict]:
    """The backlog's lines, in the order the buffer hands them out."""
    if spec.step_ms < 2:
        raise ValueError("span_ms must leave at least 2 ms between messages")
    rng = random.Random(seed)
    tickers = [f"KXB-{i:04d}" for i in range(spec.tickers)]
    weights = [1.0 / (1 + i / 40) for i in range(spec.tickers)]  # mildly skewed activity
    mids = {t: rng.randint(15, 85) for t in tickers}
    books: dict[str, dict[tuple[str, int], int]] = {}
    p_snap = max(0.0, spec.snapshot_share - spec.tickers / spec.messages)
    base = []
    for k in range(spec.messages):
        ing = T0_MS + k * spec.step_ms
        t = rng.choices(tickers, weights)[0]
        if t not in books or rng.random() < p_snap:
            msg = _snapshot(rng, t, mids[t], ing, k + 1)
            books[t] = {("yes", round(p * 100)): c for p, c in msg["yes_dollars"]}
            books[t].update({("no", round(p * 100)): c for p, c in msg["no_dollars"]})
            base.append(msg)
            continue
        side = "yes" if rng.random() < 0.5 else "no"
        live = [p for (s, p), c in books[t].items() if s == side and c > 0]
        hi = mids[t] - 1 if side == "yes" else 99 - mids[t]
        price = rng.choice(live) if live and rng.random() < 0.7 else rng.randint(max(1, hi - 5), hi)
        have = books[t].get((side, price), 0)
        r = rng.random()
        if r < 0.15 and have > 0:
            delta = -have  # drives the level to exactly zero
        elif r < 0.45:
            delta = -rng.randint(1, 50)
        else:
            delta = rng.randint(1, 200)
        books[t][(side, price)] = have + delta
        base.append(
            {
                "type": DELTA,
                "sid": 1,
                "seq": k + 1,
                "market_ticker": t,
                "market_id": t.lower(),
                "price": price,
                "price_dollars": price / 100,
                "delta": delta,
                "side": side,
                "ts": ing - 1,
                "ingestion_ts": ing,
                "redis_stream_id": f"{ing}-0",
            }
        )
    # Replays: a copy of message k re-sent up to replay_lag_ms later.
    per_base = spec.replay_share / (1 - spec.replay_share)
    max_lag = max(1, spec.replay_lag_ms // spec.step_ms)
    pending: dict[int, list[dict]] = {}
    for k, msg in enumerate(base):
        if rng.random() < per_base:
            pending.setdefault(k + rng.randint(1, max_lag), []).append(msg)
    out = []
    for k, msg in enumerate(base):
        out.append(msg)
        out.extend(pending.pop(k, ()))
    return out


def write_backlog(msgs: list[dict], directory: str, files: int) -> list[str]:
    """One JSON message per line, split into `files` parts whose mtimes
    increase with their order, so a file stream source reads them in
    backlog order."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    per = -(-len(msgs) // files)
    for i in range(files):
        path = os.path.join(directory, f"part-{i:05d}.json")
        chunk = msgs[i * per : (i + 1) * per]
        with open(path, "w") as fh:
            fh.write("\n".join(json.dumps(m, separators=(",", ":")) for m in chunk))
            fh.write("\n")
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        paths.append(path)
    return paths


# ---------------------------------------------------------------- oracle

def _cents(x: float) -> int:
    return int(round(x * 100))


def sink_rows(msgs: list[dict]) -> tuple[list[tuple], list[tuple]]:
    """(snapshot sink rows, deduped delta sink rows), as the two sink
    queries write them: snapshots keep replays (that sink is
    at-least-once), deltas keep the first copy of each stream id.

    Snapshot rows: (timestamp, ticker, side, price_cents, contracts, stream_id).
    Delta rows: (timestamp, ticker, side, price_cents, delta, stream_id, event_ts).
    """
    snaps, deltas, seen = [], [], set()
    for m in msgs:
        if m["type"] == SNAPSHOT:
            for side, col in (("yes", "yes_dollars"), ("no", "no_dollars")):
                for p, c in m[col]:
                    snaps.append(
                        (m["ingestion_ts"], m["market_ticker"], side, _cents(p), c, m["redis_stream_id"])
                    )
        elif m["redis_stream_id"] not in seen:
            seen.add(m["redis_stream_id"])
            deltas.append(
                (
                    m["ingestion_ts"],
                    m["market_ticker"],
                    m["side"],
                    m["price"],
                    m["delta"],
                    m["redis_stream_id"],
                    m["ts"],
                )
            )
    return snaps, deltas


def _sid_key(sid: str) -> tuple[int, int]:
    ms, seq = sid.split("-")
    return int(ms), int(seq)


def book_at(snaps: list[tuple], deltas: list[tuple]) -> dict[tuple[str, str, int], int]:
    """`analytics.current_book` on sink rows: the latest snapshot per
    ticker plus the deduped deltas after it, per (ticker, side, cents),
    levels with no contracts left dropped."""
    latest: dict[str, tuple] = {}
    for ts, t, _side, _p, _c, sid in snaps:
        key = (ts, _sid_key(sid))
        if t not in latest or key > latest[t]:
            latest[t] = key
    book: dict[tuple[str, str, int], int] = {}
    for ts, t, side, p, c, sid in snaps:
        if t in latest and (ts, _sid_key(sid)) == latest[t]:
            book[(t, side, p)] = c  # a replayed level lands on the same key
    seen = set()
    for ts, t, side, p, d, sid, _ets in deltas:
        if sid in seen:
            continue
        seen.add(sid)
        if t in latest and ts <= latest[t][0]:
            continue
        book[(t, side, p)] = book.get((t, side, p), 0) + d
    return {k: c for k, c in book.items() if c > 0}


def quotes_of(book: dict[tuple[str, str, int], int]) -> dict[str, tuple]:
    """`analytics.quotes`: ticker -> (best_bid, best_ask, spread, mid) as
    Decimals, None where a side is empty."""
    best: dict[str, dict[str, int]] = {}
    for (t, side, p), _c in book.items():
        sides = best.setdefault(t, {})
        sides[side] = max(sides.get(side, 0), p)
    out = {}
    for t, sides in best.items():
        bid = Decimal(sides["yes"]) / 100 if "yes" in sides else None
        ask = 1 - Decimal(sides["no"]) / 100 if "no" in sides else None
        both = bid is not None and ask is not None
        out[t] = (
            bid,
            ask,
            ask - bid if both else None,
            ((ask + bid) / 2).quantize(Decimal("0.00001")) if both else None,
        )
    return out


def vwap_of(snaps: list[tuple], deltas: list[tuple]) -> dict[tuple[str, str], tuple[Decimal, int]]:
    """`analytics.vwap(deltas, snapshots)`: (ticker, side) -> (vwap, volume)
    over deduped positive deltas after the ticker's latest snapshot."""
    snap_ts: dict[str, int] = {}
    for ts, t, *_ in snaps:
        snap_ts[t] = max(snap_ts.get(t, ts), ts)
    acc: dict[tuple[str, str], list] = {}
    seen = set()
    for ts, t, side, p, d, sid, _ets in deltas:
        if d <= 0 or sid in seen:
            continue
        seen.add(sid)
        if t in snap_ts and ts <= snap_ts[t]:
            continue
        a = acc.setdefault((t, side), [Decimal(0), 0])
        a[0] += Decimal(p) / 100 * d
        a[1] += d
    out = {}
    with localcontext() as ctx:
        ctx.prec = 50
        for key, (notional, volume) in acc.items():
            out[key] = ((notional / volume).quantize(Decimal("0.000001"), ROUND_HALF_UP), volume)
    return out


def live_quotes(msgs: list[dict], *, dedup: bool) -> dict[str, tuple]:
    """`streaming.book_state.streaming_quotes`, last row per ticker:
    ticker -> (as_of_ts, best_bid, best_ask, spread, n_levels). With
    dedup=False a replayed delta applies twice, as the live operator does."""
    state: dict[str, list] = {}  # ticker -> [ladder, snap_ts, last_ts]
    seen = set()
    for m in msgs:
        if dedup:
            if m["redis_stream_id"] in seen:
                continue
            seen.add(m["redis_stream_id"])
        ladder, snap_ts, last_ts = state.setdefault(m["market_ticker"], [{}, None, None])
        if m["type"] == SNAPSHOT:
            ets = m["ingestion_ts"]
            if snap_ts is not None and ets <= snap_ts:
                continue
            ladder = {("yes", _cents(p)): c for p, c in m["yes_dollars"]}
            ladder.update({("no", _cents(p)): c for p, c in m["no_dollars"]})
            state[m["market_ticker"]] = [ladder, ets, max(last_ts or 0, ets)]
        else:
            ets = m["ts"]
            if snap_ts is not None and ets <= snap_ts:
                continue
            key = (m["side"], m["price"])
            ladder[key] = ladder.get(key, 0) + m["delta"]
            state[m["market_ticker"]][2] = max(last_ts or 0, ets)
    out = {}
    for t, (ladder, _snap_ts, last_ts) in state.items():
        yes = [p for (s, p), c in ladder.items() if s == "yes" and c > 0]
        no = [p for (s, p), c in ladder.items() if s == "no" and c > 0]
        bid = max(yes) / 100.0 if yes else None
        ask = 1 - max(no) / 100.0 if no else None
        spread = ask - bid if bid is not None and ask is not None else None
        out[t] = (last_ts, bid, ask, spread, len(yes) + len(no))
    return out
