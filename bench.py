"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[N], N = $SPARK_GRAFT_CPUS or else
the cores this process may run on (session.get_spark), and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count + a cheap checksum via
collect of the aggregated frame where small, else count only) so lazy
plans can't fake speed.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.plans.profile import consume, profile
from nt_etl_order_book_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the flagship + one representative per operator family,
# weighted toward the scale-sensitive ones (joins, dedup, similarity).
HEADLINE = [
    "book_reconstruct",
    "agg_multi",
    "agg_groupby_sum",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "win_rank_topk_depth",
    "win_running_sum",
    "sort_limit",
    "dedup_exact",
    "dedup_exact_docs",
    "minhash_dedup",
    "cosine_topk",
    "ann_ivf_topk",
    "tokenize_tf",
    "lang_id",
    "session_islands",
    "composite_regional_revenue",
    "pivot_event_types",
    "sample_split",
]

# Second recorded tier (r5/r6 verdict item: bench-gate the post-r1
# surface): the measured heavies of the later rounds plus one
# representative each for the time-series and composite families.
# Timed and reported under "tier2" so they regress against a recorded
# baseline; excluded from the headline total to keep that series
# comparable across rounds.
TIER2 = [
    "shared_run_audit",
    "graph_reachability",
    "minhash_eval",
    "equi_depth_histogram",
    "market_correlation",
    "composite_nation_trade",
]

# Third tier (r7 verdict item 3): ROTATING coverage for the ~174
# queries outside the two fixed tiers, so a silent regression anywhere
# in the registry surfaces within a bounded number of rounds instead of
# never. Selection is mechanical from the BENCH_r*.json history in the
# repo root (read through registry.round_records): never-benched queries
# first, then oldest last-recorded round — the same stalest-first
# discipline registry.sweep_order applies to the correctness sweep.
# Reported under "tier3" (names vary per round by design, so no
# cross-round total series; per-query values compare against that
# query's own last recording).
TIER3_CAP = 15

# Declared train-once/apply-many queries (artifacts.py lifecycle): their
# bench rows measure the APPLY path against a persisted artifact BY
# DESIGN (first touch per corpus trains and publishes; later calls read
# it back — DEPLOY.md §2). They are deliberately kept out of the fixed
# HEADLINE/TIER2 series, and when tier3 rotation selects one, the
# record self-labels it under "tier3_warm_path" so a warm timing is
# never read as — or cited as — a training-path optimization
# (r15 VERDICT item 8).
WARM_PATH_QUERIES = ("bpe_encode", "ann_ivfpq_apply")


def tier3_names(qs: dict, cap: int = TIER3_CAP, repo: str | None = None) -> list[str]:
    recorded: dict[str, int] = {}
    for rnd, data in registry.round_records("BENCH", repo):
        for key in ("queries", "tier2", "tier3"):
            for q in data.get(key) or {}:
                recorded[q] = rnd
    fixed = set(HEADLINE) | set(TIER2)
    pool = [n for n in qs if n not in fixed]
    pos = {n: i for i, n in enumerate(pool)}
    return sorted(pool, key=lambda n: (recorded.get(n, -1), pos[n]))[:cap]


def ambient_stats(timings: dict[str, float], repo: str | None = None) -> dict:
    """Codified ambient-load discriminator (r12 verdict item 2).

    The box has EXTERNAL contention windows in which every query's wall
    shifts together ~1.7-2x (PERF.md r12: two of six recordings, zero
    in-container processes; pure-noise queries like sort_limit and
    tokenize_tf move exactly like the heavies). The discriminator the
    PERF.md prose applied manually: the MEDIAN per-query ratio of this
    recording against the cleanest value ever recorded for that query
    (per-query min across all BENCH_r*.json — by construction the
    least-ambient datum). A real regression moves its own query's ratio
    and leaves the median alone; an ambient window lifts the median
    itself. Calibrated against the recorded series: the clean r11/r12
    driver recordings read median 1.30/1.32 against best-ever (run
    variance + the min-of-12-rounds bias in the denominator); the r12
    ambient windows (1.75x vs the same-round clean band) read ~2.3 on
    this scale. Threshold 1.5: ~15% above the clean band, ~35% below
    the ambient signature.
    """
    import statistics

    best: dict[str, float] = {}
    rounds = []
    for rnd, data in registry.round_records("BENCH", repo):
        rounds.append(rnd)
        for key in ("queries", "tier2", "tier3"):
            for q, v in (data.get(key) or {}).items():
                if isinstance(v, (int, float)) and v > 0:
                    best[q] = min(best.get(q, float("inf")), float(v))
    ratios = [timings[q] / best[q] for q in timings if q in best]
    if not ratios:
        return {
            "ambient_ratio_median": None,
            "ambient_suspect": False,
            "ambient_band": None,
            "ambient_ref_queries": 0,
        }
    med = statistics.median(ratios)
    # Band label (r15 VERDICT item 6): the binary suspect flag let a
    # 1.3-1.5 window (r15's driver run read 1.421) pass as clean while
    # inflating tier2 ~25% — "warm" names that middle band so readers
    # don't misread a hot-box recording as regression. Thresholds per
    # the calibration above: clean recordings read ~1.1-1.3 vs
    # best-ever, the documented ambient windows ~2.3.
    band = "clean" if med <= 1.3 else ("warm" if med <= 1.5 else "suspect")
    return {
        "ambient_ratio_median": round(med, 3),
        "ambient_suspect": med > 1.5,
        "ambient_band": band,
        "ambient_ref_queries": len(ratios),
        "ambient_ref_rounds": [min(rounds), max(rounds)] if rounds else [],
    }


def stream_best_recorded(repo: str | None = None) -> float | None:
    """Best stream_msgs_per_sec across all BENCH_r*.json — the stream
    figure's own ambient reference (a single number, so the comparator
    is best-ever rather than a median of ratios)."""
    best = None
    for _, data in registry.round_records("BENCH", repo):
        v = data.get("stream_msgs_per_sec")
        if isinstance(v, (int, float)):
            best = v if best is None else max(best, v)
    return best


def stream_throughput(spark, n_msgs: int = 20000, dedup_within: str | None = None) -> float:
    """Replay n_msgs delta messages through the streaming flatten+sink
    pipeline (availableNow) and return messages/second — the BASELINE.md
    streaming parity metric (reference ceiling ≈1,000 msg/s).

    ``dedup_within`` passes through to deltas_query: the recorded
    headline figure keeps the r1 protocol (no dedup operator — the
    cross-round msg/s series must stay comparable); the state-HWM stage
    (stream_state_hwm) arms it to make the watermarked dedup state
    measurable. The dedup run sizes its stateful stage from the
    expected state (= n_msgs here: the replay fits inside the horizon)
    via stateful_shuffle_partitions — the DEPLOY.md §4 bound every
    deployment already computes (r16: 32 one-size stores at a 20k-row
    state were the dominant dedup-path cost)."""
    import tempfile

    from nt_etl_order_book_spark.streaming.pipeline import (
        deltas_query,
        read_json_stream,
        stateful_shuffle_partitions,
    )
    from tools.probe import delta_msg, replay

    per_file = n_msgs // 4
    with (
        tempfile.TemporaryDirectory(prefix="bench_stream_", ignore_cleanup_errors=True) as root,
        replay(n_msgs, delta_msg, n_files=4) as msg_dir,
    ):
        t0 = time.time()
        msgs = read_json_stream(spark, msg_dir)
        q = deltas_query(
            msgs,
            os.path.join(root, "out"),
            os.path.join(root, "cp"),
            dedup_within=dedup_within,
            state_partitions=(
                stateful_shuffle_partitions(spark, n_msgs) if dedup_within else None
            ),
        )
        q.awaitTermination(300)
        wrote = spark.read.parquet(os.path.join(root, "out")).count()
        elapsed = time.time() - t0
    assert wrote == 4 * per_file, f"stream sink wrote {wrote}, expected {4 * per_file}"
    return round(wrote / elapsed, 1)


def stream_state_hwm(spark, n_msgs: int = 20000) -> dict:
    """The streaming STATE dimension of the recording (r14 verdict item
    4): replay the same message volume with the watermarked dedup
    operator armed and report MetricsCollector.peak_state() — the
    rows/bytes high-water mark a deployment sizes its horizon bound
    against (DEPLOY.md §4: bound = rate × horizon × safety). Runs as a
    separate stage so the headline msg/s series keeps its r1 no-dedup
    protocol; ~1 s at bench volume. The listener bus is async —
    bounded-wait for the progress events before reading the peak."""
    from nt_etl_order_book_spark.streaming.metrics import (
        BookPipelineListener,
        MetricsCollector,
    )

    collector = MetricsCollector()
    listener = BookPipelineListener(collector)
    spark.streams.addListener(listener)
    try:
        rate = stream_throughput(spark, n_msgs=n_msgs, dedup_within="10 minutes")
        deadline = time.time() + 15
        while time.time() < deadline and not any(
            (b.state_rows or 0) > 0 for b in collector.batches
        ):
            time.sleep(0.2)
    finally:
        spark.streams.removeListener(listener)
    rows, byts = collector.peak_state()
    return {
        "stream_state_peak_rows": rows,
        "stream_state_peak_bytes": byts,
        "stream_dedup_msgs_per_sec": rate,
    }


# Fields that ride ONLY on the "# detail:" stdout line, never the final
# record line. BENCH_r14's lesson: the driver keeps a bounded tail of
# stdout (~2000 chars) and parses the final line — adding the ~41-entry
# first_run/best_of_rest dicts to that line pushed its HEAD (where
# metric/value live) out of the capture, so the driver's own record of
# the round had parsed:null. Everything the cross-round readers consume
# (queries/tier2/tier3 for ambient + rotation history, the stream and
# state figures, the ambient self-label) stays on the final line;
# per-run splits and load-average brackets are context, not record.
DETAIL_ONLY_KEYS = (
    "first_run",
    "best_of_rest",
    # The cold/steady summary scalar follows its per-query splits onto
    # the detail line (r16: the record line gained ambient_band +
    # tier3_warm_path and the worst-case draw crossed RECORD_LINE_MAX;
    # no cross-round reader consumes this scalar from history).
    "headline_cold_minus_warm_sec",
    # The cores and master the record ran on joined the final line; the
    # fixed best-of-3 protocol constant and the tier2 sum (derivable from
    # tier2 itself) moved here to pay for them. No history reader
    # consumes either.
    "runs_per_query",
    "tier2_total_sec",
    "profile",
    "load_avg_start",
    "load_avg_end",
    "stream_load_avg_start",
    "stream_load_avg_end",
)
# Hard ceiling for the final record line, with margin under the
# driver's ~2000-char tail capture (tier3 names vary per round; the
# pytest pins a worst-case construction under this bound).
RECORD_LINE_MAX = 1800


def compact_record(out: dict) -> dict:
    """The final-line record: `out` minus DETAIL_ONLY_KEYS."""
    return {k: v for k, v in out.items() if k not in DETAIL_ONLY_KEYS}


def record_line(out: dict) -> str:
    """The final stdout line, GUARANTEED under RECORD_LINE_MAX: the
    compact record, degrading (in order) by moving tier3's per-query
    dict and then tier2's to the detail line if a pathological draw
    (long rotation names + large values) would overflow. The fixed
    headline series, stream + state figures, and ambient self-labels
    are never dropped — an unparseable or truncated record (the r14
    failure) is strictly worse than a record missing one rotating
    tier's detail (still on stderr + the detail line). Compact
    separators (no spaces) buy ~13% extra margin, so the degrade path
    is only reachable on a truly pathological draw."""
    rec = compact_record(out)
    line = json.dumps(rec, separators=(",", ":"))
    for tier in ("tier3", "tier2"):
        if len(line) <= RECORD_LINE_MAX:
            break
        rec[tier] = {}
        rec[f"{tier}_dropped_for_size"] = True
        line = json.dumps(rec, separators=(",", ":"))
    return line


def main() -> None:
    spark = get_spark("bench")
    # Silence WindowExec's "No Partition Defined" WARN for this bench
    # session only: every unpartitioned window in the registry runs over
    # a provably bounded frame (each site carries a BOUNDED-FRAME
    # comment stating its bound — |partitions| offsets rows, top-K
    # heads, O(sqrt n) bands), so the warning is pure noise in the
    # recording's tail. The library never suppresses it — a NEW
    # unbounded window in development still warns everywhere else.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments keep the default logging
    # Warm the JVM/codegen paths and parquet footers so the first headline
    # query isn't charged for session startup or first-touch file metadata.
    from nt_etl_order_book_spark.tables import TABLES, load_table

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for t in TABLES:
        load_table(spark, SF_DIR, t).count()

    qs = registry.queries()

    # Pre-compile each headline query at the smallest sf: Catalyst +
    # whole-stage-codegen compilation is per-plan and charges ~2 s to the
    # first run of the widest expressions; the timed runs below then
    # measure execution, not compilation. Warm-up consumes the FULL
    # plan too, so the window/projection codegen it compiles is the
    # codegen the timed run executes.
    tier3_sel = tier3_names(qs)
    print(f"# tier3 rotation this run: {tier3_sel}", file=sys.stderr)
    for name in HEADLINE + TIER2 + tier3_sel:
        try:
            consume(qs[name](spark, "/root/testdata/sf0.001"))
        except Exception:
            pass

    # Ambient-load annotation (r8 verdict item 4): this sandbox is shared
    # and its documented wall-time band is ±50% (PERF.md r6/r8 — two
    # rounds of judge time burned re-proving "it's the box, not the
    # code"). Record the load average around the timed section so the
    # recording carries its own context.
    load_start = os.getloadavg()
    # Fixed at 3 (r9 ADVICE): choosing 2-vs-3 from the start-time load
    # made rounds alternate between best-of-2 and best-of-3 — min-of-N
    # is biased lower for larger N, a small systematic skew in the
    # cross-round series. Always-3 costs ~1 min and keeps every round
    # on the same protocol (runs_per_query in the JSON records it).
    n_runs = 3
    tier3_errors: list[str] = []
    # Cold/steady split (r13 verdict item 4): run 1 of each query pays
    # whatever plan-compile/codegen cost the sf0.001 warm-up didn't
    # absorb (the sf0.1 plan differs — AQE stats, partition counts), so
    # the JSON records first_run vs best_of_rest per query. The
    # headline series stays min(all runs) — unchanged protocol, the
    # split is additive context that lets the ambient discriminator
    # (and the reader) separate ~2 s compile tails from execution.
    first_run: dict[str, float] = {}
    best_of_rest: dict[str, float] = {}
    # Per-query planning ms (analysis + optimization + physical planning)
    # and job count of the last timed run, from plans.profile: locates a
    # regression in query planning or the job chain from the record alone.
    profiles: dict[str, dict] = {}

    def timed(names: list[str], strict: bool = True) -> dict[str, float]:
        # Best-of-N per query: the r6 recording was ambient-noise
        # ambiguous (a 21 s total needed a manual 3x re-run to
        # root-cause); repeated executions per query inside one recording
        # absorb the single-run tail at ~1 min total cost and make the
        # per-round series comparable.
        import gc

        out: dict[str, float] = {}
        for name in names:
            fn = qs[name]
            runs = []
            try:
                for _ in range(n_runs):
                    p = profile(lambda: fn(spark, SF_DIR))
                    runs.append(round(p.wall_s, 3))
            except Exception:
                # Fixed tiers must fail loudly (their totals are the
                # cross-round series); the rotating tier records what it
                # can — a broken query is already red in correctness, but
                # the skip must be visible in the JSON record, not just
                # stderr (r8 verdict: a clean-looking BENCH while a tier3
                # query silently errors misleads the series).
                if strict:
                    raise
                tier3_errors.append(name)
                print(f"# {name}: ERROR (skipped from tier3)", file=sys.stderr)
                continue
            out[name] = min(runs)
            first_run[name] = runs[0]
            best_of_rest[name] = min(runs[1:]) if len(runs) > 1 else runs[0]
            profiles[name] = {"plan_ms": sum(p.phases_ms.values()), "jobs": p.jobs}
            print(f"# {name}: {p.rows} rows in {out[name]}s (runs: {runs}, {profiles[name]})", file=sys.stderr)
            # Release the dropped frames' localCheckpoint RDD blocks:
            # they're freed by the ContextCleaner only after the driver
            # GCs the DataFrames, and letting them accumulate squeezes
            # executor storage for the later (heavier) entries.
            gc.collect()
        return out

    timings = timed(HEADLINE)
    tier2 = timed(TIER2)
    tier3 = timed(tier3_sel, strict=False)
    load_end = os.getloadavg()
    stream_throughput(spark, n_msgs=4000)  # warm the streaming planner/sink paths
    # The stream figure gets its OWN load bracket (r10 verdict item 4):
    # it runs after the ~15 min query section, so the section-level
    # start/end averages describe a different interval — BENCH_r10's
    # 14.8k msg/s at load ~7 vs the quiet-box 24-26k recordings needed a
    # footnote precisely because the record couldn't show the ambient
    # load AT the stream measurement.
    stream_load_start = os.getloadavg()
    msgs_per_sec = stream_throughput(spark)
    stream_load_end = os.getloadavg()
    state_hwm = stream_state_hwm(spark)
    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    out = {
        "metric": "headline_queries_total_wall",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf else None,
        "cpus": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "stream_msgs_per_sec": msgs_per_sec,
        # Streaming state HWM (r14 verdict item 4): the rows/bytes the
        # watermarked dedup operator held at the bench's rate×volume —
        # every recording now carries the state dimension next to the
        # throughput one (r13 probe: state = rate × horizon, flat
        # across three decades of volume).
        **state_hwm,
        "stream_load_avg_start": [round(v, 2) for v in stream_load_start],
        "stream_load_avg_end": [round(v, 2) for v in stream_load_end],
        "tier2": tier2,
        "tier2_total_sec": round(sum(tier2.values()), 3),
        "tier3": tier3,
        "tier3_errors": tier3_errors,
        # Warm-path self-label (see WARM_PATH_QUERIES): these tier3 rows,
        # if any, time the persisted-artifact APPLY path by design.
        # Omitted when no warm-path query was drawn (record-line budget).
        **(
            {"tier3_warm_path": [n for n in tier3_sel if n in WARM_PATH_QUERIES]}
            if any(n in WARM_PATH_QUERIES for n in tier3_sel)
            else {}
        ),
        # 1/5/15-min load averages bracketing the timed section, plus the
        # per-query repeat count they selected — the recording's ambient
        # context (PERF.md documents the box's ±50% band).
        "load_avg_start": [round(v, 2) for v in load_start],
        "load_avg_end": [round(v, 2) for v in load_end],
        "runs_per_query": n_runs,
        # Cold/steady split across every timed query (all tiers): the
        # first timed run vs the best of the remaining runs, plus the
        # summed headline-tier gap — the compile/first-touch tail the
        # headline total otherwise silently carries when run 1 happens
        # to be the minimum.
        "first_run": first_run,
        "best_of_rest": best_of_rest,
        "headline_cold_minus_warm_sec": round(
            sum(max(0.0, first_run[q] - best_of_rest[q]) for q in timings), 3
        ),
        "profile": profiles,
    }
    # Self-labeling ambient discriminator (r12 verdict item 2): median
    # per-query ratio vs the cleanest recorded value for each query —
    # uniform shift ⇒ ambient window, not a code regression. The stream
    # figure gets its own best-ever reference (one number, no median).
    out.update(ambient_stats({**timings, **tier2, **tier3}))
    best_stream = stream_best_recorded()
    out["stream_best_recorded"] = best_stream
    out["stream_vs_best"] = (
        round(msgs_per_sec / best_stream, 3) if best_stream else None
    )
    # Also on stderr: the battery truncates stage stdout to a tail, so
    # the JSON's trailing self-label fields would otherwise be invisible
    # in its log.
    print(
        f"# ambient: median ratio {out['ambient_ratio_median']} "
        f"(band={out['ambient_band']}, suspect={out['ambient_suspect']}), "
        f"stream {msgs_per_sec} vs best recorded {best_stream}, dedup "
        f"state HWM {state_hwm['stream_state_peak_rows']} rows",
        file=sys.stderr,
    )
    # Two stdout lines (r14 verdict item 1): the FULL record first as a
    # prefixed detail line (greppable in any log, unambiguous — never
    # the line a parser grabs), then the compact record as the FINAL
    # line, sized with margin under the driver's tail capture.
    print("# detail: " + json.dumps(out))
    record = record_line(out)
    # Key check, not substring-of-the-serialized-line: a future query
    # name containing "_dropped_for_size" must not fake the warning.
    if any(k.endswith("_dropped_for_size") for k in json.loads(record)):
        print(
            f"# final record exceeded {RECORD_LINE_MAX} chars; rotating-tier "
            "detail moved to the detail line",
            file=sys.stderr,
        )
    print(record)


if __name__ == "__main__":
    main()
