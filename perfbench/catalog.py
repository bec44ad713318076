"""Every metric the benchmark prints, with its unit. BENCHMARK.json lists
the same names; perfbench/test_perfbench.py keeps the two in step."""

from __future__ import annotations

# The queries query_loop times. A round of them runs twice per run (the
# checked warm-up, then the timed pass), so the set is cut to what fits
# the run budget; README.md, "Run time", lists what is left out.
LOOP_ANALYTICS = ("current_book", "quotes", "vwap")
LOOP_REGISTRY = ("book_reconstruct", "join_asof", "vpin")
LOOP_CORPUS = ("minhash_dedup", "ann_ivf_topk")

END_TO_END = (
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("peak_rss_mb", "MB"),
)

QUERY_FIELDS = (("build_ms", "ms"), ("exec_ms", "ms"), ("jobs", "count"), ("tasks", "count"))

PER_LAYER = (
    ("sources.flatten_ms", "ms"),
    ("streaming.batches", "count"),
    ("streaming.add_batch_ms", "ms"),
    ("streaming.query_planning_ms", "ms"),
    ("streaming.wal_commit_ms", "ms"),
    ("streaming.commit_offsets_ms", "ms"),
    ("streaming.latest_offset_ms", "ms"),
    ("streaming.state_commit_ms", "ms"),
    ("streaming.state_update_ms", "ms"),
    ("streaming.state_rows_peak", "count"),
    ("streaming.state_rows_removed", "count"),
    ("streaming.dedup_keep_ratio", "ratio"),
    ("book_state.batches", "count"),
    ("book_state.add_batch_ms", "ms"),
    ("book_state.state_commit_ms", "ms"),
    ("book_state.msgs_per_s", "1/s"),
    ("book_state.replay_divergent_tickers", "count"),
    *(
        (f"query.{q}.{f}", unit)
        for q in LOOP_ANALYTICS + LOOP_REGISTRY + LOOP_CORPUS
        for f, unit in QUERY_FIELDS
    ),
    ("session.get_spark_s", "s"),
    ("session.spread.calls", "count"),
    ("session.spread.ms", "ms"),
    ("session.spread.repartitioned", "ratio"),
    ("session.checkpoint_frame.calls", "count"),
    ("session.checkpoint_frame.ms", "ms"),
    ("tables.load_table_ms", "ms"),
    ("functions.minhash_eval.recall", "ratio"),
    ("functions.ann_recall_at_5", "ratio"),
    ("trace.overhead_ms", "ms"),
)
