"""Physical-plan regression gates: the scale claims, asserted.

These run against sf0.001 (plan shape is scale-independent) and fail if
a change silently de-optimizes a plan: a filter stops reaching the
scan, a dim join stops broadcasting, an aggregate loses its map-side
combine, or a metadata query starts reading payload columns.
"""

from __future__ import annotations

import pytest

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.plans.explain import (
    count_shuffles,
    plan_has_partial_aggregate,
    plan_has_pushed_filter,
    plan_uses_broadcast_join,
    scan_read_schema,
)


def test_filter_pushes_to_parquet_scan(spark, sf_dir):
    df = registry.queries()["filter_msg_type"](spark, sf_dir)
    assert plan_has_pushed_filter(df, "event_type")


def test_projection_prunes_scan_columns(spark, sf_dir):
    df = registry.queries()["filter_msg_type"](spark, sf_dir)
    cols = scan_read_schema(df)
    assert "props" not in cols and "ts" not in cols  # unused columns never read


def test_dim_joins_broadcast(spark, sf_dir):
    df = registry.queries()["join_broadcast"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    # the fact side must not shuffle for a broadcast star join
    assert count_shuffles(df) == 0


def test_aggregate_has_map_side_combine(spark, sf_dir):
    df = registry.queries()["agg_groupby_sum"](spark, sf_dir)
    assert plan_has_partial_aggregate(df)
    assert count_shuffles(df) == 1  # partial states shuffle once


def test_multimodal_meta_never_reads_payload(spark, sf_dir):
    # payload bytes dominate storage at 100 TB; metadata queries must
    # prune them at the scan. `text` is the payload stand-in here and IS
    # needed (hash is computed from it), but unrelated columns are not.
    df = registry.queries()["multimodal_meta"](spark, sf_dir)
    cols = scan_read_schema(df)
    assert "lang" not in cols and "source" not in cols


def test_asof_join_is_single_key_shuffle_per_input(spark, sf_dir):
    # Day-chunked union + window implementation — NOT a quadratic range
    # join, and no whole-key sort: the row-grain union shuffles ONCE for
    # the (key, day) window; every other exchange carries map-side-
    # combined chunk-grain frames (chunked_prefix's per-(key, day) last
    # right row and its carry window over prior days), and the carry
    # attaches to the row-grain side via BROADCAST, never a row-grain
    # reshuffle.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["join_asof"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    assert count_shuffles(df) <= 8
    assert "BroadcastExchange" in plan
    # the row-grain running-last window is sharded by (key, day), not key
    import re

    win_specs = re.findall(r"windowspecdefinition\(_k#?\w*, _ch[^)]*", plan)
    assert win_specs, "expected the row window to partition by (_k, _ch)"


def test_ivf_assignment_is_shuffle_free(spark, sf_dir):
    # The full-corpus cell assignment must be a narrow projection: the
    # only hash exchanges in the whole plan are the two tiny qid windows
    # (probe ranking + final top-k). Round 1 shuffled corpus×N_CELLS
    # expanded rows through Window.partitionBy(vec_id) just to argmax.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["ann_ivf_topk"](spark, sf_dir)
    assert count_shuffles(df) <= 2
    # the codebook attaches via a 1-row broadcast, never a row-expanding join
    assert "BroadcastNestedLoopJoin" in formatted_plan(df)


def test_decontaminate_broadcasts_benchmark_side(spark, sf_dir):
    # corpus ⋈ benchmark must build on the (tiny) benchmark side so the
    # corpus never shuffles for the join; remaining exchanges are the
    # DF-cap windows and the final pair aggregate.
    df = registry.queries()["decontaminate_ngram"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    assert count_shuffles(df) <= 3


def test_corpus_qa_ops_prune_scan_columns(spark, sf_dir):
    # redact_pii needs only (doc_id, text); doc_length_histogram only
    # (n_chars, lang) — at 100 TB reading the text column for a length
    # histogram would dominate the query cost.
    cols = scan_read_schema(registry.queries()["redact_pii"](spark, sf_dir))
    assert "text" in cols and "lang" not in cols and "source" not in cols
    cols = scan_read_schema(registry.queries()["doc_length_histogram"](spark, sf_dir))
    assert "text" not in cols


def test_bloom_filter_set_broadcasts_and_shuffles_no_text(spark, sf_dir):
    # The Bloom set-bit table must broadcast (it is k×|ref paragraphs|
    # rows regardless of corpus size) and no exchange may carry the
    # paragraph text — only md5 hashes and positions ride shuffles.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["bloom_filter_dedup"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "par#" not in line and ", par," not in line


def test_paragraph_dedup_partial_agg_no_text_shuffle(spark, sf_dir):
    # groupBy(md5(par)) + countDistinct(doc_id) plans as the standard
    # two-phase distinct aggregate: partial by (hash, doc_id), merge by
    # hash — two exchanges, both carrying only hashes and partial
    # counts, never paragraph text.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["paragraph_dedup"](spark, sf_dir)
    assert plan_has_partial_aggregate(df)
    assert count_shuffles(df) <= 2
    for line in formatted_plan(df).splitlines():
        if "Exchange hashpartitioning" in line:
            assert "par#" not in line


def test_repetition_stats_is_narrow(spark, sf_dir):
    # Pure per-row HOF expressions: zero exchanges anywhere.
    df = registry.queries()["repetition_stats"](spark, sf_dir)
    assert count_shuffles(df) == 0


def test_multimodal_frame_sample_is_narrow(spark, sf_dir):
    # Frame sampling is per-row sequence/transform/explode: zero
    # exchanges — at 100 TB the sampler runs at scan parallelism with
    # no data movement at all.
    df = registry.queries()["multimodal_frame_sample"](spark, sf_dir)
    assert count_shuffles(df) == 0


def _no_text_on_exchanges(df):
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    for line in formatted_plan(df).splitlines():
        if "Exchange" in line:
            assert "text#" not in line and " par#" not in line, line


def test_corpus_filter_funnel_shuffles_digests_not_text(spark, sf_dir):
    # The funnel's per-doc gates are narrow projections; only
    # (sha, flags, doc_id, source, n_tokens) may ride the dedup window
    # exchange and the final per-source aggregate — never document text.
    df = registry.queries()["corpus_filter_funnel"](spark, sf_dir)
    assert count_shuffles(df) <= 3
    _no_text_on_exchanges(df)


def test_cross_source_dup_shuffles_hashes_not_text(spark, sf_dir):
    # Paragraph text must collapse to (source, md5) before anything
    # wide: no text or paragraph column on any exchange.
    df = registry.queries()["cross_source_dup"](spark, sf_dir)
    _no_text_on_exchanges(df)


def test_winnow_fingerprint_single_deliberate_barrier(spark, sf_dir):
    # Winnowing is per-row HOF folds, but winnow_hashes ends in ONE
    # deliberate round-robin-by-doc_id exchange: the materialization
    # barrier that stops CollapseProject from inlining the
    # tokenize+gram+hash pipeline into every per-window reference of
    # winnow_fp_expr (O(n^2) per doc without it — the skewed-corpus
    # hang). Exactly one exchange, carrying (doc_id, hs) — never text.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["winnow_fingerprint"](spark, sf_dir)
    assert count_shuffles(df) == 1
    for line in formatted_plan(df).splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_rag_chunk_is_narrow(spark, sf_dir):
    # Chunking is per-row sequence/transform/explode emitting digests:
    # zero exchanges — at 100 TB the chunker runs at scan parallelism.
    df = registry.queries()["rag_chunk"](spark, sf_dir)
    assert count_shuffles(df) == 0
    _no_text_on_exchanges(df)


def test_embed_centroid_stats_broadcasts_centroids(spark, sf_dir):
    # The label x dim centroid frame is KBs at any corpus size: it must
    # come back to the dimension stream as a broadcast join, never a
    # sort-merge shuffle of the full dimension explosion.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["embed_centroid_stats"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_table_profile_per_column_pruned_no_expand(spark, sf_dir):
    # The profiler is a UNION of per-column single-distinct aggregates,
    # each branch column-pruned to EXACTLY its one profiled column — so
    # the union reads the same total parquet bytes as one wide scan
    # (parquet is columnar), while avoiding the multi-countDistinct
    # Expand strategy, which replicates every input row
    # (|distinct-aggs|+1)x through the first shuffle (measured 9.3-9.7 s
    # vs 0.9-1.3 s at sf0.1, r9). A branch whose ReadSchema carries
    # more than its own column re-reads the table for nothing; an
    # Expand node means the combined-aggregate form is back.
    import re

    from nt_etl_order_book_spark.operators.aggregates import PROFILE_COLS
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["table_profile"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Expand" not in plan, "multi-countDistinct Expand reappeared"
    assert plan.count(") Scan parquet") == len(PROFILE_COLS)
    for schema in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        fields = [f for f in schema.split(",") if f.strip()]
        assert len(fields) == 1, f"profile branch reads {len(fields)} columns: {schema}"


def test_dsir_weights_single_explode_broadcast_distributions(spark, sf_dir):
    # The token stream must shuffle exactly once (the (doc, bucket)
    # partial aggregate); the target/raw distribution tables and the two
    # 1-row totals ride broadcast exchanges. Budget: 1 token-stream
    # shuffle + the per-doc aggregate + the derived <=1024-row
    # distribution aggregates (KB-scale at any corpus size).
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["dsir_weights"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    # Static budget: dbc + its two derived-branch recomputes + bstats +
    # totals + final per-doc aggregate. AQE dedups the identical dbc /
    # bstats subplans at runtime (exchange reuse happens at execution
    # under AQE, not in the static plan) — asserted on the final plan
    # below: the token stream physically shuffles once.
    assert count_shuffles(df) <= 7, formatted_plan(df)[:800]
    df.collect()
    final = spark._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )
    assert "ReusedExchange" in final, final[:800]


def test_pq_encode_barrier_bounds_adc_recompute(spark, sf_dir):
    # The PQ_M×PQ_K argmin encode must run once per corpus row, not once
    # per (row, query) pair after CollapseProject inlines it into the
    # ADC fan-out (the winnow O(n²) lesson). pq_encode is a MapInPandas
    # node, which no optimizer rule inlines: the final plan holds exactly
    # one, producing `codes`, on the streamed side of the ADC join.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["ann_pq_topk"](spark, sf_dir)
    found = []

    def walk(node, ancestors):
        if node.nodeName() == "MapInPandas":
            found.append((node, ancestors))
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), ancestors + [(node, i)])

    walk(df._jdf.queryExecution().executedPlan().inputPlan(), [])
    assert len(found) == 1, [n.toString() for n, _ in found]
    node, ancestors = found[0]
    assert "codes" in node.output().toString(), node.toString()
    streamed = [
        j for j, side in ancestors
        if j.nodeName() == "BroadcastNestedLoopJoin"
        and side == (0 if j.buildSide().toString() == "BuildRight" else 1)
    ]
    assert streamed, formatted_plan(df)[:800]


def test_pmi_collocations_distributed_topk(spark, sf_dir):
    # Global top-k must plan as TakeOrderedAndProject (per-partition
    # top-k + merge), never a single-partition global sort of the
    # vocabulary-sized pair table.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["pmi_collocations"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan[:600]
    assert "rangepartitioning" not in plan, plan[:600]


def test_resample_ffill_no_range_join(spark, sf_dir):
    # The as-of semantics must come from the shared asof_join kernel,
    # never a NestedLoop range join; budget = dedup window + bounds
    # aggregate + the kernel's day-chunked shape (row window + the
    # chunk-grain per-day last and carry frames, which attach back via
    # BROADCAST — see test_asof_join_is_single_key_shuffle_per_input).
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["resample_ffill"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "NestedLoop" not in plan
    assert count_shuffles(df) <= 10
    assert "BroadcastExchange" in plan


def test_ccnet_buckets_has_no_ranking_window(spark, sf_dir):
    # The tercile split must come from percentile AGGREGATES (partial
    # states per partition, two doubles per language broadcast back) —
    # never a per-language ranking window, which drags every document
    # of a hot language into one task.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["ccnet_buckets"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan[:600]
    assert plan_has_partial_aggregate(df)
    assert plan_uses_broadcast_join(df)


def test_stratified_sample_two_phase_topk(spark, sf_dir):
    # Two Window nodes: the first partitioned by (lang, salt) so a hot
    # stratum fans across _STRAT_SALTS tasks, the second over the
    # bounded survivor set. The single-window form is the ORACLE, so
    # the driver's hash check is the equivalence proof.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    import re

    df = registry.queries()["stratified_sample"](spark, sf_dir)
    plan = formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Window$", plan, re.MULTILINE)) == 2, plan[:800]
    assert "pmod" in plan, plan[:400]
    # Spark's rank-filter pushdown gives each Window a WindowGroupLimit:
    # per-partition top-k short-circuits before the full sort.
    assert "WindowGroupLimit" in plan


def test_exact_scans_rank_kernel_output_in_one_window(spark, sf_dir):
    # The exact top-k scans score in one mapInPandas pass over the corpus
    # (similarity.cosine_scan), which keeps each batch's per-query top-k,
    # so a single (qid)-keyed window ranks them: no salted phase, and no
    # broadcast nested-loop join of queries against the corpus.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    import re

    for qname in ("cosine_topk", "ann_filtered_topk", "knn_label_eval"):
        plan = formatted_plan(registry.queries()[qname](spark, sf_dir))
        assert re.search(r"^\(\d+\) MapInPandas$", plan, re.MULTILINE), (qname, plan[:800])
        ranks = re.findall(r"^\(\d+\) Window\n.*\nArguments: (.*)$", plan, re.MULTILINE)
        assert len([r for r in ranks if "cos_sim" in r]) == 1, (qname, plan[:800])
        # knn_label_eval's second window ranks the label votes.
        assert len(ranks) == (2 if qname == "knn_label_eval" else 1), (qname, plan[:800])
        assert "_tk_salt" not in plan, (qname, plan[:800])
        assert "BroadcastNestedLoopJoin" not in plan, (qname, plan[:800])


def test_win_ntile_is_distributed_not_single_partition(spark, sf_dir):
    # The naive NTILE(4) OVER (ORDER BY ...) form puts the whole fact in
    # ONE window task. The decomposed form range-partitions the fact and
    # keys the fact-side window by the partition id; since the ranked
    # frame is now CHECKPOINTED before the counts/probe fork (the
    # spark_partition_id nondeterminism fix), the final plan reads the
    # materialized ranked RDD and joins the broadcast offsets — assert
    # THAT shape, plus no ntile window anywhere (the bucket is closed-
    # form arithmetic on the lifted rank).
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["win_ntile"](spark, sf_dir)
    plan = formatted_plan(df)
    low = plan.lower()
    assert "existingrdd" in low or "logicalrdd" in low, plan[:800]
    assert "broadcast" in low, plan[:800]
    assert "ntile(" not in low, plan[:800]
    assert "_pid" in plan, plan[:800]
    # Exact parity with Spark's own single-window NTILE over the same
    # full table.
    from pyspark.sql import Window as W

    import pyspark.sql.functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ref = orders.select(
        "o_orderkey",
        F.ntile(4)
        .over(W.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")))
        .alias("q_ref"),
    )
    got = registry.queries()["win_ntile"](spark, sf_dir).select("o_orderkey", "price_quartile")
    assert ref.join(got, "o_orderkey").filter(F.col("q_ref") != F.col("price_quartile")).count() == 0
    sizes = {r["price_quartile"]: r["n"] for r in got.groupBy("price_quartile").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(sizes.values())
    expect = {b + 1: n // 4 + (1 if b < n % 4 else 0) for b in range(4)}
    assert sizes == expect, (sizes, expect)


def test_distributed_ntile_uneven_buckets_constructed(spark):
    # n=1003, k=4 → bucket sizes 251,251,251,250 (first n%k buckets get
    # the extra row) — exercises the uneven-bucket branch the fixture
    # tables (n % 4 == 0) never hit; parity against Spark's own ntile.
    from pyspark.sql import Window as W

    import pyspark.sql.functions as F

    from nt_etl_order_book_spark.operators.windows import distributed_ntile

    df = spark.range(0, 1003).select(
        F.col("id").alias("k"), F.pmod(F.col("id") * 7919, F.lit(104729)).alias("v")
    )
    order = [F.desc("v"), F.asc("k")]
    got = distributed_ntile(df, 4, order)
    ref = df.select("k", F.ntile(4).over(W.orderBy(*order)).alias("nt_ref"))
    assert got.join(ref, "k").filter(F.col("ntile") != F.col("nt_ref")).count() == 0
    sizes = sorted(
        r["n"] for r in got.groupBy("ntile").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    assert sizes == [250, 251, 251, 251]


def test_single_fork_carry_ops_scan_at_most_twice(spark, sf_dir):
    # The day-chunked carry decompositions are SINGLE-fork by design:
    # one scan feeds the chunk-grain side frame, one feeds the row
    # pass. The first drafts forked the pipeline after the lag join and
    # re-ran the whole chain per branch (session_islands showed FOUR
    # parquet scans); this pins the fixed shape so a refactor can't
    # silently reintroduce the double-compute.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    for name in (
        "session_islands",
        "roll_spread",
        "order_flow_imbalance",
        "scd2_intervals",
    ):
        plan = formatted_plan(registry.queries()[name](spark, sf_dir))
        n_scans = plan.count(") Scan parquet")
        assert n_scans <= 2, f"{name}: {n_scans} parquet scans (expected <= 2)"


def test_graph_reachability_edges_checkpointed_before_recursion(spark, sf_dir):
    # The recursive CTE re-executes whatever plan the `_reach_edges`
    # view wraps once per hop — the edge construction (paragraph digest
    # + DF filter + self-join) must therefore be a materialized
    # LogicalRDD scan, not a live parquet subtree (measured 6.1 s ->
    # 1.8 s at sf0.1).
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["graph_reachability"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "ExistingRDD" in plan or "LogicalRDD" in plan
    assert ") Scan parquet" not in plan


def test_pair_stats_ops_are_single_pass(spark, sf_dir):
    # ngram_jaccard / minhash_eval's truth side / shared_run_audit
    # generate candidate pairs IN-ARRAY from capped postings lists
    # instead of a two-sided self-join whose alias-differing branches
    # defeat ReusedExchange (the tokenize+gram pipeline ran ~3x: sizes
    # + both join sides). The capped index is checkpointed, so the
    # downstream plan must read LogicalRDD scans — any live parquet
    # subtree beyond the single sizes/doc pass means the fork is back.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    plan = formatted_plan(registry.queries()["ngram_jaccard"](spark, sf_dir))
    assert ") Scan parquet" not in plan, "pair pipeline re-reads parquet past the checkpoint"
    assert "SortMergeJoin" not in plan, "postings self-join reappeared"

    plan = formatted_plan(registry.queries()["shared_run_audit"](spark, sf_dir))
    n_smj = plan.count("SortMergeJoin")
    assert ") Scan parquet" not in plan
    # runs-stage joins (pairs x gpos x gpos) may sort-merge; the pairs
    # stage itself must not — 2 joins is the runs stage's budget.
    assert n_smj <= 2, f"shared_run_audit: {n_smj} SortMergeJoins (pairs self-join back?)"


def test_decontamination_family_reads_staged_artifacts(spark, sf_dir):
    # decontaminate_ngram checkpoints the hashed shingle index once for
    # its three consumers (hot blocklist, bench broadcast, corpus
    # probe); contamination_span checkpoints the token-hash array once
    # for its three tier expansions. Either query's final plan showing
    # a live parquet subtree means a consumer re-runs the corpus
    # tokenize+gram pipeline (measured 4.5-4.8 -> 0.76-0.88 s and
    # 2.7-3.2 -> 1.6-1.8 s respectively when staged, r9). All joins are
    # broadcast (benchmark/blocklist sides are small by contract) — a
    # SortMergeJoin means a broadcast-ineligible side crept in.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    for name in ("decontaminate_ngram", "contamination_span"):
        plan = formatted_plan(registry.queries()[name](spark, sf_dir))
        assert ") Scan parquet" not in plan, f"{name} re-reads parquet past the checkpoint"
        assert "SortMergeJoin" not in plan, f"{name}: broadcast join degraded"


def test_gini_rank_is_distributed_not_single_partition(spark, sf_dir):
    # gini_concentration's naive form ranked the market-grain volume
    # table with ROW_NUMBER() OVER (ORDER BY ...) — one unpartitioned
    # window task whose size is data-dependent (|markets|). Routed
    # through distributed_rank(keys=[]) the fact-side rank lives inside
    # the checkpointed RDD and the only remaining windows run over the
    # |partitions|-row offsets frame. Assert the shape: no row_number
    # window in the final plan, the materialized ranked scan, and the
    # broadcast offsets join.
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["gini_concentration"](spark, sf_dir)
    plan = formatted_plan(df)
    low = plan.lower()
    assert "row_number(" not in low, plan[:800]
    assert "existingrdd" in low or "logicalrdd" in low, plan[:800]
    assert "broadcast" in low, plan[:800]
    assert "_pid" in plan, plan[:800]


def test_registry_wide_python_boundary_and_no_cartesian(spark, sf_dir):
    # The repo-wide scale claims, asserted mechanically over EVERY
    # registered query's final physical plan instead of re-audited by
    # hand each round:
    #   (a) no row-at-a-time Python scalar UDF anywhere — a bare
    #       BatchEvalPython node means a hot path fell off the JVM;
    #       Python may touch the plan only Arrow-batched
    #       (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas) or
    #       as the one registered UDTF demo (BatchEvalPythonUDTF);
    #   (b) no CartesianProduct — every crossJoin in the package pairs
    #       a fact side with a 1-row aggregate/boundary frame and must
    #       have collapsed to BroadcastNestedLoopJoin;
    #   (c) the Arrow scalar-UDF and UDTF boundaries appear ONLY in the
    #       queries registered to demonstrate them — any new Python
    #       node elsewhere is an intentional decision, not drift, so it
    #       must be added here to pass.
    # (applySchemaToPythonRDD is driver-local literal-frame
    # construction — tiny percentile/boundary frames, not per-row
    # Python — and is allowed.)
    #
    # Cost: builds all ~200 plans at sf0.001 (~70 s; eager-checkpoint
    # queries run their small staging jobs during construction). The
    # breadth is the point: this is the only gate that sees every
    # query, including ones no targeted plan test covers.
    import re

    from nt_etl_order_book_spark.plans.explain import formatted_plan

    ARROW_SCALAR_OK = {"udf_scalar_pandas"}
    UDTF_OK = {"udtf_explode_custom"}
    bad: dict[str, list[str]] = {}
    for name, fn in registry.queries().items():
        plan = formatted_plan(fn(spark, sf_dir))
        problems = []
        if "CartesianProduct" in plan:
            problems.append("CartesianProduct")
        if re.search(r"\bBatchEvalPython\b", plan):  # \b excludes ...UDTF
            problems.append("BatchEvalPython (row-wise scalar UDF)")
        if "BatchEvalPythonUDTF" in plan and name not in UDTF_OK:
            problems.append("BatchEvalPythonUDTF outside the UDTF demo")
        if "ArrowEvalPython" in plan and name not in ARROW_SCALAR_OK:
            problems.append("ArrowEvalPython outside the pandas-UDF demo")
        if problems:
            bad[name] = problems
    assert not bad, f"plan-boundary violations: {bad}"


@pytest.mark.parametrize(
    "name,max_jobs",
    [
        ("bpe_merges", 21),
        ("dedup_components", 19),
        ("semdedup", 20),
        ("ann_ivf_topk", 12),
        ("ann_pq_topk", 13),
        ("ann_ivfpq_topk", 17),
    ],
)
def test_profile_pins_iterative_job_counts(spark, sf_dir, name, max_jobs):
    # The iterative families run eager jobs while the frame is built
    # (merge rounds, propagation rounds, codebook training); profile()
    # counts those with the consume's. Upper bounds: a change that adds
    # rounds or re-runs a lineage fails here.
    from nt_etl_order_book_spark.plans.profile import profile

    fn = registry.queries()[name]
    p = profile(lambda: fn(spark, sf_dir))
    assert p.rows > 0
    assert 0 < p.jobs <= max_jobs, p
    assert p.tasks >= p.jobs, p
    assert {"analysis", "optimization", "planning"} <= set(p.phases_ms), p
    if name == "dedup_components":
        assert p.shuffle_write_bytes > 0, p


@pytest.mark.parametrize("name,max_jobs", [("dedup_components", 18), ("semdedup", 7)])
def test_profile_pins_blocked_dedup_job_counts(spark, sf_dir, name, max_jobs):
    # Tighter pins for the dedup paths: semdedup scores each k-means cell
    # in one grouped-map call (no pair self-join, checkpoint or join-back),
    # and connected_components reads each round's change count from an
    # Observation instead of a separate isEmpty() job.
    from nt_etl_order_book_spark.plans.profile import profile

    fn = registry.queries()[name]
    p = profile(lambda: fn(spark, sf_dir))
    assert p.rows > 0
    assert 0 < p.jobs <= max_jobs, p


@pytest.mark.parametrize(
    "name,max_jobs",
    [("cosine_topk", 5), ("ann_filtered_topk", 5), ("knn_label_eval", 6), ("pairwise_cosine_histogram", 5)],
)
def test_profile_pins_exact_scan_job_counts(spark, name, max_jobs):
    # The exact scans collect their query set (one job) and score the
    # corpus in one mapInPandas pass: no broadcast of the queries and no
    # salted ranking phase. Measured at sf0.01 on 2 and 4 cores.
    from nt_etl_order_book_spark.plans.profile import profile
    from nt_etl_order_book_spark.tables import sf_path

    fn = registry.queries()[name]
    p = profile(lambda: fn(spark, sf_path("0.01")))
    assert p.rows > 0
    assert 0 < p.jobs <= max_jobs, p


@pytest.mark.parametrize("case,max_jobs", [("dedup_components", 16), ("path_graph", 61)])
def test_profile_pins_one_aggregate_per_components_round(spark, sf_dir, case, max_jobs):
    # Each connected_components round unions the own, neighbour and
    # pointer-chase labels into one x-keyed aggregate that yields the new
    # and the previous label, with no join back onto the labels: one
    # round of dedup_components, and the 7 rounds of a 60-node path graph.
    from nt_etl_order_book_spark.functions.dedup import connected_components
    from nt_etl_order_book_spark.plans.profile import profile

    if case == "dedup_components":
        fn = registry.queries()[case]
        p = profile(lambda: fn(spark, sf_dir))
    else:
        edges = [(i, i + 1) for i in range(59)] + [(100, 101), (200, 300)]
        pairs = spark.createDataFrame(edges, "a long, b long")
        p = profile(lambda: connected_components(pairs))
    assert p.rows > 0
    assert 0 < p.jobs <= max_jobs, p


def test_codegen_cache_holds_a_working_set_past_spark_default(spark):
    # get_spark sizes the JVM-wide codegen cache past Spark's default 100
    # entries: a round of queries that compiles more classes than that
    # compiles nothing when it runs again. Under the default LRU cache
    # the second run would evict and recompile every class in turn.
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def run_round() -> int:
        before = metric.getCount()
        for k in range(120):
            # a distinct inlined literal per query: one fresh class each
            spark.range(2).selectExpr(f"id * {7_919_000 + k} AS v").collect()
        return metric.getCount() - before

    assert run_round() > 100
    assert run_round() == 0


def test_routed_flatten_parses_each_line_once(spark):
    # parse_messages flattens through a Generate, so the `type` filter of
    # each routed query cannot be pushed below a second, pruned
    # from_json: the executed plan parses every line once.
    import json

    from nt_etl_order_book_spark.sources.orderbook import (
        flatten_deltas,
        flatten_snapshots,
        parse_messages,
    )

    lines = [json.dumps({"type": "orderbook_delta", "market_ticker": "A", "price": 40, "delta": 1})]
    msgs = parse_messages(spark.createDataFrame([(v,) for v in lines], "value string"))
    for flat in (flatten_snapshots(msgs), flatten_deltas(msgs)):
        plan = flat._jdf.queryExecution().executedPlan().toString()
        assert plan.count("from_json(") == 1, plan
