"""Generate PLANS.md: formatted physical plans for the flagship queries,
so plan quality (pushdown, pruning, broadcast, partial agg, shuffle
count) is reviewable without running Spark.

Expression ids, lambda variable names, plan ids and RDD ids are
renumbered per plan (see `renumber`), and artifact paths are masked
(see `mask_artifacts`), so regenerating on an unchanged tree rewrites no
line, on any machine, and a diff of two regenerations shows only the
plans that changed.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.functions.artifacts import artifact_root
from nt_etl_order_book_spark.plans.explain import count_shuffles, formatted_plan
from nt_etl_order_book_spark.session import get_spark

# Session-global counters a formatted plan prints. Group 2 holds the
# counter value, group 3 (when set) the key it is numbered by.
_COUNTERS = (
    # Lambda variables are numbered by the variable, i.e. by the
    # expression id that follows the name: one Python lambda Column used
    # twice prints one name for two variables.
    re.compile(r"(lambda [A-Za-z]+_)(\d+)(?=(#\d+))"),
    # Expression ids: `name#123`, `name#123L`, `...)#123`.
    re.compile(r"(?<=[\w)])(#)(\d+)()"),
    re.compile(r"(_common_expr_)(\d+)()"),
    re.compile(r"(plan_id=)(\d+)()"),
    re.compile(r"(RDD\[)(\d+)()"),
)

# A checkpointed RDD's call site reads NativeMethodAccessorImpl.java
# until the JVM swaps in a generated reflection accessor (`<unknown>`),
# which happens after a number of calls the session made earlier.
_CALL_SITE = re.compile(r"(?<= at )NativeMethodAccessorImpl\.java:0")


def renumber(plan: str) -> str:
    """Replace each session-global counter in ``plan`` by a per-plan
    number in first-seen order, so a plan's text depends on the plan
    alone, not on what the session planned before it."""
    plan = _CALL_SITE.sub("<unknown>:0", plan)
    for pattern in _COUNTERS:
        seen: dict[str, int] = {}
        plan = pattern.sub(
            lambda m: m[1] + str(seen.setdefault(m[3] or m[2], len(seen))), plan
        )
    return plan


def mask_artifacts(plan: str, root: str) -> str:
    """Mask the artifact cache ``root`` in ``plan`` and the 8-hex digest
    that ends each artifact dir's name (artifacts.artifact_path). Both
    vary with the machine and the testdata's mtimes, not with the plan."""
    artifact_dir = re.compile(re.escape(root.rstrip("/")) + r"/([^/\s]+)_[0-9a-f]{8}(?=/)")
    return artifact_dir.sub(r"<artifact_root>/\1_<digest>", plan)


SHOW = [
    "book_reconstruct",
    "join_asof",
    "join_broadcast",
    "agg_multi",
    "win_rank_topk_depth",
    "multimodal_meta",
    "minhash_dedup",
    "composite_regional_revenue",
    "ann_ivf_topk",
    "decontaminate_ngram",
    "seq_pack",
    "corpus_filter_funnel",
    "domain_kl_divergence",
    "bigram_logprob",
    "winnow_fingerprint",
    "rag_chunk",
    "embed_centroid_stats",
    "dsir_weights",
    "ann_pq_topk",
    "ann_ivfpq_apply",
    "pmi_collocations",
    "semdedup",
    "zipf_fit",
    "ccnet_buckets",
    "resample_ffill",
    "realized_volatility",
    "hypertable_rollup",
    "anomaly_zscore",
    "delta_dedup",
    "heavy_hitters",
    "composite_large_orders",
    "pagerank_docs",
    "order_flow_imbalance",
    "prefix_dedup",
    "market_correlation",
    "benford_audit",
    "dollar_bars",
    "cusum_drift",
    "kyle_lambda",
    "vpin",
    "effective_spread",
    "markov_transitions",
    "composite_returned_items",
    "composite_small_qty_revenue",
    "referential_integrity_audit",
    "source_vocab_overlap",
    "pairwise_cosine_histogram",
    "bm25_search",
    "scd2_intervals",
    "triangle_count",
    "rolling_features",
    "ngram_coverage_curve",
    "graph_reachability",
    "minhash_eval",
    "max_drawdown",
    "win_running_sum",
    "win_lag_lead",
    "attribution_last_touch",
    "interarrival_stats",
    "seq_gap_check",
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("plans")
    qs = registry.queries()
    specs = registry.all_specs()
    out = [
        "# PLANS — physical plans of the flagship queries",
        "",
        f"Auto-generated by `tools/dump_plans.py` against `{sf_dir}`.",
        "Read for: PushedFilters / ReadSchema on every scan, BroadcastHashJoin",
        "on dim joins, partial_* aggregate functions before each Exchange, and",
        "the absence of NestedLoop anywhere.",
        "",
    ]
    for name in SHOW:
        df = qs[name](spark, sf_dir)
        plan = mask_artifacts(renumber(formatted_plan(df)), artifact_root())
        out.append(f"## {name}")
        out.append("")
        out.append(f"_{specs[name].doc.strip()}_")
        out.append("")
        out.append(f"Exchanges (shuffles): {count_shuffles(df)}")
        out.append("")
        out.append("```")
        out.append(plan.strip())
        out.append("```")
        out.append("")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOW)} plans)")


if __name__ == "__main__":
    main()
