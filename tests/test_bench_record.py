"""Pins for bench.py's two-line output contract (r14 verdict item 1).

BENCH_r14.json has parsed:null — the driver keeps a bounded ~2000-char
tail of bench stdout and parses the final line, and r14's new
first_run/best_of_rest dicts (~41 entries each) pushed the line's HEAD
(metric/value) out of the capture. The contract now: the FULL record
rides on a prefixed "# detail:" line; the FINAL line is the compact
record (detail-only keys dropped), pinned here to parse and to stay
under RECORD_LINE_MAX (1800, margin under the tail capture) even for a
worst-case construction with the longest registered tier3 names. The
compact line must KEEP queries/tier2/tier3 — the ambient discriminator
and the tier3 rotation read them back from BENCH_r*.json history.
"""

from __future__ import annotations

import json

import bench
from nt_etl_order_book_spark import registry


def _worst_case_out() -> dict:
    # Every timed query appears in first_run/best_of_rest; tier3 takes
    # the 15 LONGEST registered names (rotation varies names per round —
    # the size pin must hold for the worst draw, not a lucky one).
    longest = sorted(registry.queries(), key=len, reverse=True)
    tier3 = {n: 8888.888 for n in longest[: bench.TIER3_CAP]}
    queries = {n: 8888.888 for n in bench.HEADLINE}
    tier2 = {n: 8888.888 for n in bench.TIER2}
    timed = {**queries, **tier2, **tier3}
    return {
        "metric": "headline_queries_total_wall",
        "value": 88888.888,
        "unit": "sec",
        "queries": queries,
        "sf": 0.1,
        "cpus": 8888,
        "master": "local[8888]",
        "stream_msgs_per_sec": 888888.8,
        "stream_state_peak_rows": 88888888,
        "stream_state_peak_bytes": 8888888888,
        "stream_dedup_msgs_per_sec": 888888.8,
        "stream_load_avg_start": [88.88, 88.88, 88.88],
        "stream_load_avg_end": [88.88, 88.88, 88.88],
        "tier2": tier2,
        "tier2_total_sec": 8888.888,
        "tier3": tier3,
        "tier3_errors": [],
        "tier3_warm_path": list(bench.WARM_PATH_QUERIES),
        "load_avg_start": [88.88, 88.88, 88.88],
        "load_avg_end": [88.88, 88.88, 88.88],
        "runs_per_query": 3,
        "first_run": dict(timed),
        "best_of_rest": dict(timed),
        "headline_cold_minus_warm_sec": 888.888,
        "profile": {n: {"plan_ms": 88888, "jobs": 8888} for n in timed},
        "ambient_ratio_median": 8.888,
        "ambient_suspect": False,
        "ambient_band": "suspect",
        "ambient_ref_queries": 41,
        "ambient_ref_rounds": [1, 88],
        "stream_best_recorded": 888888.8,
        "stream_vs_best": 8.888,
    }


def test_final_record_line_parses_and_fits_tail_capture():
    out = _worst_case_out()
    line = bench.record_line(out)
    assert len(line) <= bench.RECORD_LINE_MAX, (
        f"final record line is {len(line)} chars — would risk the "
        "driver's tail capture truncating its head (the r14 failure)"
    )
    back = json.loads(line)
    # The driver's headline fields must survive, even in a pathological
    # draw (longest rotation names, inflated values → degrade path)...
    for key in ("metric", "value", "unit", "queries", "sf", "stream_msgs_per_sec"):
        assert key in back, f"compact record lost required field {key!r}"
    assert back["queries"] == out["queries"], "headline series is never dropped"
    # With compact separators even this draw fits WITHOUT the degrade
    # path — tier3 rotation history survives every realistic round.
    assert back.get("tier3") == out["tier3"]
    # ...and the r15 state dimension rides on the record line.
    assert back["stream_state_peak_rows"] == out["stream_state_peak_rows"]
    assert back["stream_state_peak_bytes"] == out["stream_state_peak_bytes"]
    assert back["ambient_ratio_median"] == out["ambient_ratio_median"]
    # r16: the ambient band and the warm-path tier3 self-label ride on
    # the final line too — both are how a reader interprets the record.
    # (headline_cold_minus_warm_sec moved to the detail line to pay for
    # them; its per-query splits were already detail-only.)
    assert back["ambient_band"] == out["ambient_band"]
    assert back["tier3_warm_path"] == out["tier3_warm_path"]
    assert "headline_cold_minus_warm_sec" not in back
    # The record names the machine it ran on; the per-query profile
    # summary (planning ms, jobs) rides on the detail line.
    assert (back["cpus"], back["master"]) == (out["cpus"], out["master"])
    assert "profile" not in back


def test_realistic_record_keeps_rotation_history_intact():
    # At real recorded magnitudes (the r13 line measured 1530 chars;
    # per-query walls are < 100 s, stream < 100k msg/s) the degrade
    # path must NOT engage: the ambient discriminator and the tier3
    # rotation read queries/tier2/tier3 back from BENCH_r*.json
    # history, so a round that silently dropped them would starve both.
    out = _worst_case_out()
    for key in ("queries", "tier2", "tier3", "first_run", "best_of_rest"):
        out[key] = {n: 12.345 for n in out[key]}
    out.update(
        value=123.456,
        stream_msgs_per_sec=24712.3,
        stream_dedup_msgs_per_sec=21098.7,
        stream_state_peak_rows=20000,
        stream_state_peak_bytes=123456789,
        stream_best_recorded=26123.4,
    )
    line = bench.record_line(out)
    assert len(line) <= bench.RECORD_LINE_MAX
    back = json.loads(line)
    assert back["tier2"] == out["tier2"] and back["tier3"] == out["tier3"]
    assert "tier3_dropped_for_size" not in back


def test_detail_only_keys_are_dropped_not_required():
    out = _worst_case_out()
    back = bench.compact_record(out)
    for key in bench.DETAIL_ONLY_KEYS:
        assert key not in back, f"{key!r} must ride only on the detail line"
    # The detail keys were the overflow: without dropping them the line
    # genuinely exceeds the bound (the pin is not vacuous).
    assert len(json.dumps(out)) > bench.RECORD_LINE_MAX


def test_stream_state_hwm_measures_dedup_state(spark):
    # The state stage must observe the watermarked dedup operator
    # actually holding state at bench volume — a zero HWM would mean
    # the recording's new dimension is silently disconnected (wrong
    # listener, wrong pipeline, or dedup not armed).
    got = bench.stream_state_hwm(spark, n_msgs=2000)
    assert got["stream_state_peak_rows"] > 0
    assert got["stream_state_peak_bytes"] > 0
    assert got["stream_dedup_msgs_per_sec"] > 0


def test_record_line_degrade_path_still_guards():
    # The degrade path should be unreachable on realistic records, but
    # it remains the hard guarantee: blow the record up (a hypothetical
    # future field) and the line must still parse under the bound with
    # the headline intact and the drop self-declared.
    out = _worst_case_out()
    out["tier3"] = {f"hypothetical_very_long_query_name_{i:03d}": 88888.888 for i in range(40)}
    line = bench.record_line(out)
    assert len(line) <= bench.RECORD_LINE_MAX
    back = json.loads(line)
    assert back["tier3"] == {} and back["tier3_dropped_for_size"] is True
    assert back["queries"] == out["queries"]
