#!/usr/bin/env python
"""Scale, straggler, ANN and streaming probes: one CLI, one timing path.

Every batch query timing goes through ``plans.profile.profile()``, so
each row carries the run's jobs and bytes next to its wall time. Big
corpora come from tools/gen_scale_corpus.py. Single-run timings are
ambient-noisy: treat a slow row as a candidate and re-measure before
optimizing. `python tools/probe.py -h` lists the subcommands.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import sys
import tempfile
import time
from contextlib import contextmanager
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.plans.profile import consume, profile
from nt_etl_order_book_spark.tables import DEFAULT_SF_DIR, load_table, sf_path

WARM = sf_path("0.001")
MB = 1 << 20

# family -> (queries, default big dir, timed runs per dir)
FAMILIES = {
    # Fact VOLUME (gen_scale_corpus.py --tpch): 10x lineitem/orders rows
    # against unchanged dimensions. Shuffled fact-fact joins, broadcast
    # star joins and partial-agg groupBys should scale with rows while
    # the plan stays put.
    "volume": ((
        "composite_regional_revenue", "composite_nation_trade",
        "composite_top_supplier", "composite_shipping_priority",
        "composite_promo_revenue", "composite_returned_items",
        "composite_small_qty_revenue", "composite_brand_disjunction",
        "composite_idle_customers", "composite_large_orders",
        "share_of_total", "join_inner_hash", "join_broadcast",
        "agg_groupby_sum", "agg_multi", "agg_grouping_sets",
        "equi_depth_histogram", "sort_limit",
    ), "/tmp/tpch10x", 2),
    # Key DEPTH (gen_scale_corpus.py --events): every market's tape 10x
    # deeper, the axis the day/block-chunked carry-in decompositions
    # defend.
    "depth": ((
        "max_drawdown", "dollar_bars", "cusum_drift", "roll_spread",
        "order_flow_imbalance", "session_islands", "scd2_intervals",
        "markov_transitions", "interarrival_stats", "attribution_last_touch",
        "twap", "realized_volatility", "kyle_lambda", "vpin",
        "join_asof", "effective_spread", "resample_ffill",
        "win_running_sum", "win_lag_lead", "win_range_frame",
        "win_first_last", "win_moving_avg", "seq_gap_check",
    ), "/tmp/events10x", 2),
    # Corpus volume for the exact/near-dup family (gen_scale_corpus.py
    # --sparse --copies 1000). paragraph_dedup and dedup_exact_docs are
    # digest groupBys: ~linear wall, output bounded by the base corpus's
    # distinct content. At 1000 copies every minhash_dedup near-dup group
    # is 1000-way, so its band buckets exceed the MAX_BUCKET=200 cap and
    # are skipped: a 1000-member bucket is boilerplate, not dedup signal,
    # and exact dedup owns identical docs. Found pairs collapse and the
    # wall measures the linear signature scan. The byte columns check
    # that only digests and signatures ride the exchanges (shuffle much
    # smaller than input).
    "dedup": (("dedup_exact_docs", "paragraph_dedup", "minhash_dedup"),
              "/tmp/docs1000xsparse", 1),
}


def session(name: str):
    from nt_etl_order_book_spark.session import get_spark, tune_session

    return tune_session(get_spark(f"probe-{name}", shuffle_partitions=32))


def release(spark) -> None:
    # Drop frames a query cached (minhash_dedup caches its signature
    # frame) and the dropped frames' checkpoint blocks: storage left from
    # earlier runs otherwise turns later runs into GC-churn readings.
    spark.catalog.clearCache()
    gc.collect()


def best_of(n: int, build):
    return min((profile(build) for _ in range(n)), key=lambda p: p.wall_s)


# --- scale -----------------------------------------------------------------

def cmd_scale(args) -> int:
    _, _, runs = FAMILIES[args.family]
    spark = session("scale")
    qs = registry.queries()
    for name in args.queries:
        fn = qs[name]
        consume(fn(spark, WARM))
        res = {}
        for d in (args.base, args.big_dir):
            res[d] = best_of(runs, lambda: fn(spark, d))
            release(spark)
        b, g = res[args.base], res[args.big_dir]
        print(
            f"{name:28s} base {b.wall_s:6.2f}s ({b.rows} rows)  "
            f"big {g.wall_s:7.2f}s ({g.rows} rows)  ratio {g.wall_s / max(b.wall_s, 0.01):.1f}x  "
            f"[big: {g.jobs} jobs, input {g.input_bytes / MB:.2f} MiB, shuffle write "
            f"{g.shuffle_write_bytes / MB:.2f} MiB, read {g.shuffle_read_bytes / MB:.2f} MiB]",
            flush=True,
        )
    spark.stop()
    return 0


# --- scan ------------------------------------------------------------------

def cmd_scan(args) -> int:
    spark = session("scan")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    done, errs = {}, {}
    for name, fn in registry.queries().items():
        try:
            consume(fn(spark, WARM))
            done[name] = best_of(args.runs, lambda: fn(spark, args.sf_dir))
        except Exception as e:  # record, keep scanning
            errs[name] = f"ERR {type(e).__name__}"
        gc.collect()
    slow = sorted(((k, p) for k, p in done.items() if p.wall_s >= args.min_sec),
                  key=lambda kp: -kp[1].wall_s)
    for k, p in slow:
        print(f"{k:30s} {p.wall_s:.2f}  {p.jobs} jobs  {p.tasks} tasks")
    for k, v in errs.items():
        print(f"{k:30s} {v}")
    total = sum(p.wall_s for p in done.values())
    print(f"# {len(done) + len(errs)} queries, total {total:.1f}s, {len(errs)} errors, "
          f"{len(slow)} at >= {args.min_sec}s")
    return 1 if errs else 0


# --- ann-cells ---------------------------------------------------------------
#
# Builds the same on-disk IVF-PQ index over one corpus at several
# (n_cells, n_probe) settings and records train wall, best-of-3 probe
# wall, probed fraction and recall. Recall is EPSILON-recall@TOP_K: a
# returned id is a hit if its true cosine is within EPS of the query's
# exact k-th-best cosine. Exact-id recall is ill-conditioned on the
# --embeddings --copies corpora by construction: each base vector has
# ~1000 perturbed copies whose cosines to the query differ below PQ
# quantization resolution, so "the" top-5 ids are an arbitrary pick
# among equally good answers. Score-tolerance recall is the standard
# tie-heavy-corpus fix (BigANN-style) and is what a dedup or retrieval
# consumer needs: members of the right cluster, not one blessed id.

EPS = 1e-3


def exact_topk(spark, corpus: str) -> tuple[dict, dict]:
    """Ground truth from the registered brute-force ``cosine_topk``:
    (top-id sets, floors), where a floor is the query's exact
    k-th-best cosine - EPS. Its 6-dp cosine rounding sits far inside
    EPS."""
    truth: dict[int, set] = {}
    floors: dict[int, float] = {}
    for r in registry.queries()["cosine_topk"](spark, corpus).collect():
        truth.setdefault(r["qid"], set()).add(r["vec_id"])
        floors[r["qid"]] = min(floors.get(r["qid"], 1.0), r["cos_sim"] - EPS)
    return truth, floors


def recall_of(emb, result_df, truth, floors) -> tuple[float, float]:
    """(epsilon_recall, exact_id_recall): re-scores the returned ids
    against the raw vectors and counts those at or above each floor."""
    import numpy as np
    from pyspark.sql import functions as F

    got: dict[int, set] = {}
    for r in result_df.select("qid", "vec_id").collect():
        got.setdefault(int(r["qid"]), set()).add(int(r["vec_id"]))
    ids = sorted({v for s in got.values() for v in s} | set(truth))
    unit = {}
    for r in emb.filter(F.col("vec_id").isin(ids)).select("vec_id", "embedding").collect():
        x = np.array(r["embedding"], dtype=np.float64)
        unit[r["vec_id"]] = x / np.linalg.norm(x)
    total = sum(len(t) for t in truth.values())
    eps_hits = sum(float(unit[q] @ unit[v]) >= floors[q] for q in truth for v in got.get(q, ()))
    id_hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return round(min(eps_hits, total) / total, 3), round(id_hits / total, 3)


def cmd_ann_cells(args) -> int:
    from nt_etl_order_book_spark.functions import artifacts
    from nt_etl_order_book_spark.functions import similarity as sim

    spark = session("ann-cells")
    emb = load_table(spark, args.corpus, "embeddings")
    n_corpus = emb.count()
    print(f"# corpus {args.corpus}: {n_corpus} vectors", file=sys.stderr)
    t0 = time.time()
    truth, floors = exact_topk(spark, args.corpus)
    print(f"# exact ground truth in {time.time() - t0:.1f}s", file=sys.stderr)

    results = []
    for n_cells, n_probe in args.configs:
        # The artifact lifecycle ann_ivfpq_apply uses: keyed by corpus
        # fingerprint and cell count under SPARK_GRAFT_INDEX_DIR, trained
        # and published through the registered path, so the probe
        # measures what a deployment following DEPLOY.md §2 runs.
        path = artifacts.artifact_path(f"ivfpq_c{n_cells}", args.corpus, "embeddings")
        cached = artifacts.is_published(path)
        t0 = time.time()
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_IVF_CELLS": str(n_cells)}):
            artifacts.ensure_published(path, lambda d: sim.ivfpq_train(emb, d))
        train_s = None if cached else round(time.time() - t0, 1)
        if not cached:
            print(f"# c{n_cells}: trained+persisted in {train_s}s", file=sys.stderr)
        ca = spark.read.parquet(f"{path}/cents.parquet")
        books = spark.read.parquet(f"{path}/books.parquet")
        enc = spark.read.parquet(f"{path}/index")
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_IVF_PROBE": str(n_probe)}):
            runs = [profile(lambda: sim.ivfpq_query(emb, ca, books, enc)) for _ in range(3)]
            rec, rec_id = recall_of(emb, sim.ivfpq_query(emb, ca, books, enc), truth, floors)
        release(spark)
        best = min(runs, key=lambda p: p.wall_s)
        row = {
            "n_cells": n_cells,
            "n_probe": n_probe,
            "probed_fraction": round(n_probe / n_cells, 4),
            "train_s": train_s,
            "probe_runs_s": [round(p.wall_s, 2) for p in runs],
            "probe_best_s": round(best.wall_s, 2),
            "probe_jobs": best.jobs,
            "recall_eps": rec,
            "recall_exact_id": rec_id,
            "rows_out": best.rows,
            "corpus": n_corpus,
        }
        results.append(row)
        print(json.dumps(row))

    print(
        "\n| n_cells | n_probe | probed frac | train (1x) | probe best-of-3 "
        "| eps-recall@5 | exact-id recall |"
    )
    print("|---|---|---|---|---|---|---|")
    for r in results:
        print(
            f"| {r['n_cells']} | {r['n_probe']} | {r['probed_fraction']:.2%} "
            f"| {'cached' if r['train_s'] is None else str(r['train_s']) + ' s'} "
            f"| {r['probe_best_s']} s | {r['recall_eps']} | {r['recall_exact_id']} |"
        )
    spark.stop()
    return 0


# --- apply-warm --------------------------------------------------------------

def cmd_apply_warm(args) -> int:
    """One cold registered ann_ivfpq_apply call (train, persist, first
    probe) on a fresh or given index root, then warm calls through the
    full registered layer: cache-key resolve, serving frames, pruned
    index scan, exact re-rank. The index is content-keyed, so a reused
    --index-root with the same corpus and cells skips the train."""
    if not os.path.exists(os.path.join(args.corpus, "embeddings.parquet")):
        print(f"corpus {args.corpus} missing embeddings.parquet — generate with "
              "tools/gen_scale_corpus.py --embeddings", file=sys.stderr)
        return 2
    from nt_etl_order_book_spark.functions import similarity as sim

    idx_root = args.index_root or tempfile.mkdtemp(prefix="apply_warm_idx_")
    os.environ["SPARK_GRAFT_INDEX_DIR"] = idx_root
    os.environ["SPARK_GRAFT_IVF_CELLS"] = str(args.cells)
    print(f"# index root: {idx_root}", file=sys.stderr)
    spark = session("apply-warm")
    q = registry.queries()["ann_ivfpq_apply"]

    cold = profile(lambda: q(spark, args.corpus))
    print(f"# cold call: {cold.wall_s:.2f}s, {cold.rows} rows, {cold.jobs} jobs", file=sys.stderr)
    warm, call_loads = [], []
    for i in range(args.warm):
        warm.append(profile(lambda: q(spark, args.corpus)))
        call_loads.append(round(os.getloadavg()[0], 2))
        print(f"# warm call {i + 1}: {warm[-1].wall_s:.2f}s, {warm[-1].rows} rows, "
              f"{warm[-1].jobs} jobs, 1-min load {call_loads[-1]}", file=sys.stderr)

    path = sim._ivfpq_index_path(args.corpus)
    # Serving-cache tokens are (session_key, path, build_id, dev, ino).
    skey = sim._session_key(spark)
    walls = [round(p.wall_s, 2) for p in warm]
    print(json.dumps({
        "corpus": args.corpus,
        "n_cells": args.cells,
        "cold_sec": round(cold.wall_s, 2),
        "cold_jobs": cold.jobs,
        "warm_sec": walls,
        "warm_jobs": [p.jobs for p in warm],
        "warm_best": min(walls) if walls else None,
        "rows": (warm or [cold])[-1].rows,
        "serve_cache_populated": any(t[0] == skey and t[1] == path for t in sim._SERVE_CACHE),
        "index_key": os.path.basename(path),
        "load_avg": [round(v, 2) for v in os.getloadavg()],
        "call_loads_1min": call_loads,
    }))
    return 0


# --- stream ------------------------------------------------------------------
#
# Throughput and state size of the stateful delta pipeline
# (dropDuplicatesWithinWatermark on redis_stream_id) against replay
# volume and maxFilesPerTrigger, with state captured per batch through
# BookPipelineListener, the listener a deployment ships metrics with.
# --third-decade adds state-BOUNDEDNESS while volume grows 10x-100x:
# dedup_docs_stream state must track its watermark horizon, not the
# corpus, and stream_heavy_hitters state must track K counters per key,
# not volume.

N_FILES = 32
BASE_MSGS = 20_000


def delta_msg(i: int) -> dict:
    return {
        "type": "orderbook_delta", "sid": 1, "seq": i,
        "market_ticker": f"KXB-{i % 50}", "market_id": f"m{i % 50}",
        "price": 40 + i % 20, "price_dollars": (40 + i % 20) / 100.0,
        "delta": (i % 41) - 20, "side": "yes" if i % 2 else "no",
        "ts": 1_700_000_000_000 + i, "ingestion_ts": 1_700_000_000_000 + i,
        "redis_stream_id": f"170-{i}",
    }


def doc_msg(step_ms: int):
    # ingest_ts advances uniformly, so the replay covers a span of EVENT
    # time the watermark can advance against; every payload arrives twice
    # back-to-back, a 50% refetch rate whose dup pairs sit within any
    # sane horizon.
    return lambda i: {"doc_id": i, "text": f"crawl payload body {i // 2}",
                      "ingest_ts": 1_700_000_000_000 + i * step_ms}


def hh_msg(n_keys: int):
    # Fixed key population, zipf-ish token mix (every 3rd token one of 7
    # hot tokens, the rest a 499-token cold tail): the shape where
    # Misra-Gries' <=K-counter bound earns its keep.
    return lambda i: {"key": f"k{i % n_keys}",
                      "token": f"hot{i % 7}" if i % 3 == 0 else f"cold{i % 499}"}


@contextmanager
def replay(n_msgs: int, record, n_files: int = N_FILES):
    """A directory of n_files JSON-lines files holding record(i) for
    i < n_msgs rounded down to a whole number per file."""
    per_file = n_msgs // n_files
    with tempfile.TemporaryDirectory(prefix="probe_msgs_", ignore_cleanup_errors=True) as root:
        for f in range(n_files):
            with open(os.path.join(root, f"part{f:03d}.json"), "w") as fh:
                fh.write("\n".join(json.dumps(record(i)) for i in range(f * per_file, (f + 1) * per_file)))
        yield root


def drain(spark, op: str, shape: str, n_msgs: int, start, expect_rows: int | None) -> dict:
    """Run one availableNow stream, started by ``start(out, checkpoint)``,
    to completion; check its sink row count; return rate and peak state."""
    from nt_etl_order_book_spark.streaming.metrics import BookPipelineListener, MetricsCollector

    collector = MetricsCollector()
    listener = BookPipelineListener(collector)
    spark.streams.addListener(listener)
    try:
        with tempfile.TemporaryDirectory(prefix="probe_out_", ignore_cleanup_errors=True) as root:
            out = os.path.join(root, "out")
            t0 = time.time()
            start(out, os.path.join(root, "cp")).awaitTermination(1800)
            wrote = spark.read.parquet(out).count() if expect_rows is not None else None
            elapsed = time.time() - t0
    finally:
        spark.streams.removeListener(listener)
    if wrote != expect_rows:
        raise RuntimeError(f"{op} sink wrote {wrote}, expected {expect_rows}")
    batches = [b for b in collector.batches if b.num_input_rows > 0]

    def med(xs: list) -> float | None:
        return statistics.median(xs) if xs else None

    row = {
        "op": op,
        "volume_msgs": n_msgs,
        "shape": shape,
        "n_batches": len(batches),
        "elapsed_sec": round(elapsed, 2),
        "msgs_per_sec": round(n_msgs / elapsed, 1),
        "peak_state_rows": max((b.state_rows or 0 for b in batches), default=0),
        "peak_state_mib": round(max((b.state_bytes or 0 for b in batches), default=0) / MB, 2),
        "median_add_batch_ms": med([b.duration_ms["addBatch"] for b in batches if "addBatch" in b.duration_ms]),
        "median_state_commit_ms": med([b.state_commit_ms for b in batches if b.state_commit_ms is not None]),
    }
    print(f"# {row}", file=sys.stderr)
    return row


def run_deltas(spark, msg_dir: str, n_msgs: int, trigger: int | None) -> dict:
    from nt_etl_order_book_spark.streaming.pipeline import deltas_query, read_json_stream

    msgs = read_json_stream(spark, msg_dir, max_files_per_trigger=trigger)
    start = lambda out, cp: deltas_query(msgs, out, cp, dedup_within="10 minutes")  # noqa: E731
    return drain(spark, "deltas_pipeline", f"{trigger or N_FILES} files/trigger", n_msgs, start, n_msgs)


def run_dedup_docs(spark, msg_dir: str, n_msgs: int, horizon: str) -> dict:
    from nt_etl_order_book_spark.streaming.pipeline import dedup_docs_stream

    stream = spark.readStream.schema("doc_id long, text string, ingest_ts long") \
        .option("maxFilesPerTrigger", 4).json(msg_dir)
    start = lambda out, cp: (  # noqa: E731
        dedup_docs_stream(stream, watermark=horizon).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(availableNow=True).start()
    )
    return drain(spark, "dedup_docs_stream", f"horizon {horizon}", n_msgs, start, n_msgs // 2)


def run_heavy_hitters(spark, msg_dir: str, n_msgs: int, n_keys: int) -> dict:
    from nt_etl_order_book_spark.streaming.stateful import STREAM_MG_K, stream_heavy_hitters

    stream = spark.readStream.schema("key string, token string") \
        .option("maxFilesPerTrigger", 4).json(msg_dir)
    start = lambda out, cp: (  # noqa: E731
        stream_heavy_hitters(stream, key_col="key", token_col="token").writeStream
        .format("noop").option("checkpointLocation", cp).outputMode("update")
        .trigger(availableNow=True).start()
    )
    return drain(spark, "stream_heavy_hitters", f"{n_keys} keys x K={STREAM_MG_K}", n_msgs, start, None)


def cmd_stream(args) -> int:
    spark = session("stream")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warm
    rows = []
    if args.third_decade:
        # dedup_docs_stream over a replay spanning 160 min of event time:
        # horizon 10 min (bounded) vs 1000 hours (retain everything).
        for n_msgs in (10 * BASE_MSGS, 100 * BASE_MSGS):
            with replay(n_msgs, doc_msg(160 * 60 * 1000 // n_msgs)) as msg_dir:
                rows += [run_dedup_docs(spark, msg_dir, n_msgs, h) for h in ("10 minutes", "1000 hours")]
        # stream_heavy_hitters: fixed 20-key population, volume x100.
        for n_msgs in (BASE_MSGS, 10 * BASE_MSGS, 100 * BASE_MSGS):
            with replay(n_msgs, hh_msg(20)) as msg_dir:
                rows.append(run_heavy_hitters(spark, msg_dir, n_msgs, 20))
        volumes, triggers = [100 * BASE_MSGS], [4, None]
    elif args.quick:
        volumes, triggers = [BASE_MSGS], [4, None]
    else:
        volumes, triggers = [BASE_MSGS, 10 * BASE_MSGS], [1, 4, 16, None]
    for n_msgs in volumes:
        with replay(n_msgs, delta_msg) as msg_dir:
            rows += [run_deltas(spark, msg_dir, n_msgs, t) for t in triggers]
    print("| op | volume | shape | batches | wall s | msg/s | peak state rows | peak state MiB "
          "| addBatch ms (median) | state commit ms (median) |")
    print("|---|---|---|---|---|---|---|---|---|---|")
    for r in rows:
        print(f"| {r['op']} | {r['volume_msgs']:,} | {r['shape']} | {r['n_batches']} | "
              f"{r['elapsed_sec']} | {r['msgs_per_sec']:,} | {r['peak_state_rows']:,} | "
              f"{r['peak_state_mib']} | {r['median_add_batch_ms']} | {r['median_state_commit_ms']} |")
    print(json.dumps({"metric": "stream_third_decade" if args.third_decade else "stream_scale_probe", "rows": rows}))
    return 0


# --- command line ------------------------------------------------------------

def cells_probe_pairs(text: str) -> list[tuple[int, int]]:
    # argparse reports the ValueError of a malformed pair as a usage error.
    return [(int(c), int(p)) for c, p in (pair.split(":") for pair in text.split(","))]


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="probe.py", description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("scale", help="base dir vs a grown corpus for one query family")
    p.add_argument("family", choices=sorted(FAMILIES))
    p.add_argument("big_dir", nargs="?", help="grown corpus (default: the family's)")
    p.add_argument("--base", default=DEFAULT_SF_DIR)
    p.add_argument("--queries", nargs="+", metavar="QUERY", help="default: the family's list")
    p.set_defaults(run=cmd_scale)

    p = sub.add_parser("scan", help="every registered query once, slowest first")
    p.add_argument("sf_dir", nargs="?", default=DEFAULT_SF_DIR)
    p.add_argument("--min-sec", type=float, default=1.5, help="print queries at or above this wall")
    p.add_argument("--runs", type=int, default=1, help="best-of-N timed runs per query")
    p.set_defaults(run=cmd_scan)

    p = sub.add_parser(
        "ann-cells",
        help="IVF-PQ (n_cells, n_probe) sweep with recall",
        description="Indexes are cached in the package's artifact cache under "
        "SPARK_GRAFT_INDEX_DIR, keyed by corpus content and cell count but not "
        "by code version: a before/after comparison needs a fresh "
        "SPARK_GRAFT_INDEX_DIR per checkout.",
    )
    p.add_argument("corpus", nargs="?", default="/tmp/emb1000x")
    p.add_argument("--configs", type=cells_probe_pairs, default=cells_probe_pairs("16:11,1414:11,1414:32"),
                   help="CELLS:PROBE pairs, comma-separated")
    p.set_defaults(run=cmd_ann_cells)

    p = sub.add_parser("apply-warm", help="registered ann_ivfpq_apply, cold then warm calls")
    p.add_argument("corpus", nargs="?", default="/tmp/emb1000x")
    p.add_argument("--cells", type=int, default=1414)
    p.add_argument("--warm", type=int, default=3)
    p.add_argument("--index-root", help="reuse a prior run's artifact cache root")
    p.set_defaults(run=cmd_apply_warm)

    p = sub.add_parser("stream", help="streaming throughput and peak state vs volume")
    g = p.add_mutually_exclusive_group()
    g.add_argument("--quick", action="store_true", help="1x volume, triggers {4, all}")
    g.add_argument("--third-decade", action="store_true", help="state bounds at 10x-100x volume")
    p.set_defaults(run=cmd_stream)
    return ap


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = build_parser()
    args = ap.parse_args(argv)
    if args.cmd == "scale":
        queries, big_dir, _ = FAMILIES[args.family]
        args.big_dir = args.big_dir or big_dir
        args.queries = args.queries or list(queries)
        unknown = [q for q in args.queries if q not in registry.queries()]
        if unknown:
            ap.error(f"unknown queries: {', '.join(unknown)}")
    if args.cmd == "scan" and args.runs < 1:
        ap.error("--runs must be >= 1")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    return args.run(args)


if __name__ == "__main__":
    raise SystemExit(main())
