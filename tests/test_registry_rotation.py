"""Round-history orderings: the driver-sweep order of ``queries()`` and
the bench's rotating tier3, both derived from recorded BENCH_r*.json /
CORRECTNESS_r*.json history through ``registry.round_records``.

No SparkSession needed: registry import only registers query specs.
"""

from __future__ import annotations

import json

import bench
from nt_etl_order_book_spark import registry


def test_sweep_order_from_synthetic_history(tmp_path):
    # Changed queries lead (their old rows predate the change), then
    # never-swept queries, then stalest last round first; ties keep
    # registration order. The driver sweeps the first 50 of this order.
    names = [f"q{i}" for i in range(7)]
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"q0": {}, "q1": {}, "q5": {}}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"q1": {}, "q2": {}, "q6": {}}))
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({"q5": {}}))
    order = registry.sweep_order(names, changed=("q6", "q2"), repo=str(tmp_path))
    # changed q2/q6 first (registration order among themselves, both r2);
    # never-swept q3, q4; then q0 (r1), q1 (r2), q5 (r10: round 10 sorts
    # after round 2 numerically, not by file name)
    assert order == ["q2", "q6", "q3", "q4", "q0", "q1", "q5"]
    # no history at all: registration order, changed first
    assert registry.sweep_order(names, changed=("q4",), repo=str(tmp_path / "none")) == [
        "q4", "q0", "q1", "q2", "q3", "q5", "q6",
    ]
    # the one hand input must name registered queries
    assert set(registry._SWEEP_CHANGED) <= set(registry.all_specs())


def test_bench_tier3_rotation_is_stalest_first(tmp_path):
    # The rotating bench tier mirrors the sweep discipline: never-
    # benched queries lead, then oldest last-recorded round; fixed-tier
    # (HEADLINE/TIER2) queries never occupy rotating slots; and a query
    # recorded under ANY tier key counts as benched.
    qs = {f"q{i}": None for i in range(8)}
    qs.update({bench.HEADLINE[0]: None, bench.TIER2[0]: None})
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"queries": {"q0": 1.0}, "tier2": {"q1": 1.0}})
    )
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"queries": {}, "tier3": {"q2": 1.0, "q0": 1.0}})
    )
    # an unreadable record is skipped, not fatal
    (tmp_path / "BENCH_r03.json").write_text('{"queries": {"q3": 1.0')
    sel = bench.tier3_names(qs, cap=5, repo=str(tmp_path))
    # never-benched q3..q7 lead in pool order; cap trims to 5
    assert sel == ["q3", "q4", "q5", "q6", "q7"]
    sel_all = bench.tier3_names(qs, cap=8, repo=str(tmp_path))
    # then staleness: q1 (r1) before q0/q2 (r2); fixed tiers excluded
    assert sel_all == ["q3", "q4", "q5", "q6", "q7", "q1", "q0", "q2"]
    assert bench.HEADLINE[0] not in sel_all and bench.TIER2[0] not in sel_all
    # a missing history directory reads as "nothing benched yet"
    missing = bench.tier3_names(qs, cap=3, repo=str(tmp_path / "missing"))
    assert missing == ["q0", "q1", "q2"]


def test_bench_tier3_reads_driver_parsed_envelope(tmp_path):
    # The driver wraps bench.py's JSON under "parsed" with its own
    # n/rc/cpus envelope; the rotation must read THAT history too —
    # before r13 it read {} from every driver record and the "rotation"
    # was a fixed pool-order prefix.
    qs = {f"q{i}": None for i in range(4)}
    (tmp_path / "BENCH_r01.json").write_text(
        json.dumps({"n": 1, "rc": 0, "parsed": {"queries": {"q0": 1.0}, "tier3": {"q1": 2.0}}})
    )
    # BENCH_r14's shape: the driver could not parse bench.py's final
    # line, so the round carries no query history
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"n": 1, "rc": 0, "tail": '{"queries": {"q2"', "parsed": None})
    )
    sel = bench.tier3_names(qs, cap=4, repo=str(tmp_path))
    # q2/q3 never benched → lead; q0/q1 recorded in r1 → trail
    assert sel == ["q2", "q3", "q0", "q1"]
    assert [rnd for rnd, _ in registry.round_records("BENCH", str(tmp_path))] == [1, 2]


def test_bench_ambient_discriminator(tmp_path):
    # r12 verdict item 2: a uniform per-query shift vs the cleanest
    # recorded values flags ambient_suspect; a clean recording (and a
    # single-query regression) does not.
    hist = {"qa": 1.0, "qb": 2.0, "qc": 3.0, "qd": 0.5, "qe": 4.0}
    (tmp_path / "BENCH_r01.json").write_text(json.dumps({"parsed": {"queries": hist}}))
    (tmp_path / "BENCH_r02.json").write_text(
        json.dumps({"queries": {k: v * 1.2 for k, v in hist.items()}})
    )
    clean = bench.ambient_stats({k: v * 1.1 for k, v in hist.items()}, repo=str(tmp_path))
    assert clean["ambient_suspect"] is False and abs(clean["ambient_ratio_median"] - 1.1) < 1e-6
    assert clean["ambient_ref_queries"] == 5 and clean["ambient_ref_rounds"] == [1, 2]
    assert clean["ambient_band"] == "clean"
    # one REAL regression (qa 5x) leaves the median — and the flag — alone
    one_bad = dict(hist)
    one_bad["qa"] = 5.0
    assert bench.ambient_stats(one_bad, repo=str(tmp_path))["ambient_suspect"] is False
    # WARM band (r15 VERDICT item 6): 1.3-1.5 is labeled, not silent —
    # the r15 driver run at 1.421 inflated tier2 ~25% while reading as
    # clean under the binary flag.
    warm = bench.ambient_stats({k: v * 1.4 for k, v in hist.items()}, repo=str(tmp_path))
    assert warm["ambient_suspect"] is False and warm["ambient_band"] == "warm"
    # uniform 1.8x shift: the ambient signature
    shifted = bench.ambient_stats({k: v * 1.8 for k, v in hist.items()}, repo=str(tmp_path))
    assert shifted["ambient_suspect"] is True and shifted["ambient_ratio_median"] > 1.5
    assert shifted["ambient_band"] == "suspect"
    # no history → no claim, not a crash
    empty = bench.ambient_stats({"qz": 1.0}, repo=str(tmp_path))
    assert empty["ambient_suspect"] is False and empty["ambient_ratio_median"] is None
    assert empty["ambient_band"] is None
    # stream reference: best-ever across flat and driver-enveloped records
    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"parsed": {"queries": {}, "stream_msgs_per_sec": 9000.0}})
    )
    (tmp_path / "BENCH_r04.json").write_text(
        json.dumps({"queries": {}, "stream_msgs_per_sec": 7000.0})
    )
    assert bench.stream_best_recorded(repo=str(tmp_path)) == 9000.0
    assert bench.stream_best_recorded(repo=str(tmp_path / "empty_nonexistent")) is None
