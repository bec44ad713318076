"""Salting equivalence + ANN recall tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.operators.skew import salted_sum_count


def test_salted_agg_equals_plain_agg(spark):
    # 90% of rows on one hot key — the shape salting exists for.
    hot = spark.range(9000).select(F.lit("HOT").alias("k"), (F.col("id") % 7 / 10).alias("v"))
    cold = spark.range(1000).select(
        F.concat(F.lit("c"), (F.col("id") % 50).cast("string")).alias("k"),
        (F.col("id") % 3 / 10).alias("v"),
    )
    df = hot.unionByName(cold)
    salted = {(r.k): (r.sum_value, r.n_rows) for r in salted_sum_count(df, ["k"], "v").collect()}
    plain = {
        (r.k): (r.s, r.n)
        for r in df.groupBy("k")
        .agg(F.sum(F.col("v").cast("decimal(30,6)")).cast("double").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert salted == plain


def test_minhash_identical_docs_always_pair(spark):
    from nt_etl_order_book_spark.functions.dedup import lsh_candidates, minhash_signature_col

    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup
        (3, "completely different text about order books and spark engines today"),
        (4, "the quick brown fox jumps over the lazy dog again and AGAIN"),  # near dup
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signature_col(df, "doc_id", "text")
    cands = {(r.a, r.b) for r in lsh_candidates(sigs.select("doc_id", "sig"), "doc_id").collect()}
    assert (1, 2) in cands  # identical docs MUST collide in every band
    assert not any(3 in p for p in cands)  # unrelated doc never pairs


def test_degenerate_inputs_do_not_crash_ansi(spark):
    # Review findings: short/empty docs and zero-norm vectors crashed
    # under ANSI mode (array index / divide-by-zero). Pin the guards.
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.functions.dedup import lsh_candidates, minhash_signature_col
    from nt_etl_order_book_spark.functions.similarity import cosine

    docs = spark.createDataFrame(
        [(1, ""), (2, "one"), (3, "two words"), (4, "a b c d e f g"), (5, "a b c d e f g")],
        "doc_id long, text string",
    )
    sigs = minhash_signature_col(docs, "doc_id", "text").filter(F.size("hashes") > 0)
    got = {r.doc_id for r in sigs.collect()}
    assert got == {2, 3, 4, 5}  # empty doc excluded, short docs survive via unigram fallback
    cands = {(r.a, r.b) for r in lsh_candidates(sigs.select("doc_id", "sig"), "doc_id").collect()}
    assert (4, 5) in cands

    vecs = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0])], "id long, v array<double>"
    )
    out = vecs.crossJoin(vecs.select(F.col("v").alias("w"))).select(
        cosine(F.col("v"), F.col("w")).alias("c")
    )
    vals = [r.c for r in out.collect()]  # must not raise; zero-norm rows → null
    assert any(v is None for v in vals) and any(v == 1.0 for v in vals)

    # quality gate arithmetic on a zero-word doc: null ratio, no crash
    empty = spark.createDataFrame([(" ",)], "text string")
    n_words = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    row = empty.select(
        (F.length("text").cast("double") / F.nullif(n_words, F.lit(0))).alias("awl")
    ).collect()[0]
    assert row.awl is None


def test_ngram_jaccard_hot_shingle_capped(spark):
    # One boilerplate shingle shared by 1,000 docs would produce ~500k
    # join rows without the document-frequency cap. With the cap the hot
    # shingle is dropped from the inverted index and each doc keeps only
    # its unique shingle, so no pairs survive — and the query completes
    # without a k² blowup.
    from nt_etl_order_book_spark.functions.dedup import MAX_SHINGLE_DF, shingles
    from pyspark.sql import Window

    docs = spark.createDataFrame(
        [(i, f"common boiler plate unique{i}") for i in range(1000)],
        "doc_id long, text string",
    )
    sh = shingles(docs, "doc_id", "text")
    w = Window.partitionBy("shingle")
    capped = (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= MAX_SHINGLE_DF)
        .drop("_df")
    )
    s1 = capped.select(F.col("doc_id").alias("a"), "shingle")
    s2 = capped.select(F.col("doc_id").alias("b"), "shingle")
    n_pairs = s1.join(s2, "shingle").filter(F.col("a") < F.col("b")).count()
    assert n_pairs == 0  # hot shingle gone; unique shingles never meet

    # Sanity: without the cap the same corpus yields the quadratic count.
    n_uncapped = (
        sh.select(F.col("doc_id").alias("a"), "shingle")
        .join(sh.select(F.col("doc_id").alias("b"), "shingle"), "shingle")
        .filter(F.col("a") < F.col("b"))
        .count()
    )
    assert n_uncapped == 1000 * 999 // 2


def test_foreign_driver_session_runs_python_udf_queries(tmp_path):
    # Regression guard for the addPyFile shipping: a driver that builds
    # its own SparkSession from a foreign cwd BEFORE importing the entry
    # module must still run Python-worker-backed queries.
    import subprocess
    import sys as _sys

    script = (
        "from pyspark.sql import SparkSession\n"
        "spark = SparkSession.builder.master('local[2]')"
        ".config('spark.ui.enabled','false').getOrCreate()\n"
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "import __spark_entry__ as e\n"
        "n = e.queries()['multimodal_features'](spark, '/root/testdata/sf0.001').count()\n"
        "assert n == 500, n\n"
        "print('OK', n)\n"
    )
    proc = subprocess.run(
        [_sys.executable, "-c", script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
        env={k: v for k, v in __import__("os").environ.items() if k != "PYTHONPATH"},
    )
    assert "OK 500" in proc.stdout, proc.stderr[-2000:]


def test_ann_variants_recall_against_brute_force(spark):
    sf = "/root/testdata/sf0.01"
    qs = registry.queries()
    exact = {
        (r.qid, r.vec_id) for r in qs["cosine_topk"](spark, sf).collect()
    }
    # LSH with radius-1 multi-probe: measured 1.0 on the fixture; floor
    # leaves slack for plane-constant tweaks.
    lsh = {(r.qid, r.vec_id) for r in qs["ann_lsh_topk"](spark, sf).collect()}
    assert len(lsh & exact) / len(exact) >= 0.8, "LSH recall below 0.8"
    # IVF on the ISOTROPIC fixture: recall is bounded by probed mass
    # (N_PROBE/N_CELLS = 11/16) no matter the codebook; r5 sweep
    # measured 0.94 at sf0.01. The clustered-corpus test below is where
    # codebook quality shows. tools/check.py --recall gates 0.85.
    ivf = {(r.qid, r.vec_id) for r in qs["ann_ivf_topk"](spark, sf).collect()}
    assert len(ivf & exact) / len(exact) >= 0.8, "IVF recall below probed-mass floor"
    # PQ+ADC with a 200-candidate exact re-rank: measured 0.96 at
    # sf0.01 (deterministic codebook/codes). tools/check.py --recall
    # gates 0.75 across SFs.
    pq = {(r.qid, r.vec_id) for r in qs["ann_pq_topk"](spark, sf).collect()}
    assert len(pq & exact) / len(exact) >= 0.85, "PQ recall below floor"


def test_ivf_recall_on_clustered_corpus(spark):
    # On a corpus that actually clusters, the k-means codebook must route
    # queries to the right cells: recall ≈ 1 even probing 4/16 cells.
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(sim.N_CELLS, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(320):
        c = centers[vid % sim.N_CELLS]
        v = c + 0.05 * rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    orig = sim.load_table
    try:
        sim.load_table = lambda _s, _d, name: emb  # only embeddings used
        qs = registry.queries()
        exact = {(r.qid, r.vec_id) for r in qs["cosine_topk"](spark, "_")
                 .collect()}
        ivf = {(r.qid, r.vec_id) for r in qs["ann_ivf_topk"](spark, "_").collect()}
    finally:
        sim.load_table = orig
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.9, f"clustered-corpus IVF recall {recall:.2f}"


def test_pq_recall_on_clustered_corpus(spark):
    # Where the corpus has structure, ADC ordering must carry real
    # signal: a NARROW candidate set (20, a tenth of the fixture-tuned
    # 200) has to reach high recall — the "deployments tune DOWN from
    # the adversarial isotropic setting" claim, as tested code.
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(320):
        c = centers[vid % 16]
        v = c + 0.05 * rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    orig_load, orig_cand = sim.load_table, sim.PQ_CAND
    try:
        sim.load_table = lambda _s, _d, name: emb  # only embeddings used
        sim.PQ_CAND = 20
        qs = registry.queries()
        exact = {(r.qid, r.vec_id) for r in qs["cosine_topk"](spark, "_").collect()}
        pq = {(r.qid, r.vec_id) for r in qs["ann_pq_topk"](spark, "_").collect()}
    finally:
        sim.load_table, sim.PQ_CAND = orig_load, orig_cand
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.9, f"clustered-corpus PQ recall {recall:.2f}"


def test_ivfpq_recall_on_clustered_corpus(spark):
    # The composed index on a corpus with structure: coarse cells route,
    # residual codes order — a narrow candidate set (20) must reach high
    # recall. The isotropic floors live in tools/check.py --recall.
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    rng = np.random.default_rng(17)
    centers = rng.normal(size=(sim.N_CELLS, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(320):
        c = centers[vid % sim.N_CELLS]
        v = c + 0.05 * rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    orig_load, orig_cand = sim.load_table, sim.IVFPQ_CAND
    try:
        sim.load_table = lambda _s, _d, name: emb
        sim.IVFPQ_CAND = 20
        qs = registry.queries()
        exact = {(r.qid, r.vec_id) for r in qs["cosine_topk"](spark, "_").collect()}
        got = {(r.qid, r.vec_id) for r in qs["ann_ivfpq_topk"](spark, "_").collect()}
    finally:
        sim.load_table, sim.IVFPQ_CAND = orig_load, orig_cand
    recall = len(got & exact) / len(exact)
    assert recall >= 0.9, f"clustered-corpus IVF-PQ recall {recall:.2f}"


def test_semdedup_survivor_rule_on_constructed_corpus(spark):
    # 16 well-separated clusters (seeds = first 16 vectors, one per
    # cluster), spread so in-cluster pairs sit well BELOW the patched
    # 0.999 threshold, plus ONE planted bit-exact duplicate. Exactly one
    # vector must be pruned: the higher vec_id of the dup pair (equal
    # cos-to-centroid → vec_id tiebreak), nothing else anywhere.
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    rng = np.random.default_rng(23)
    centers = rng.normal(size=(16, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for vid in range(320):
        v = centers[vid % 16] + 0.15 * rng.normal(size=64)
        rows.append((vid, [float(x) for x in v]))
    rows.append((320, rows[200][1]))  # exact duplicate of vec 200
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    orig_load, orig_tau = sim.load_table, sim.SEMDEDUP_TAU
    try:
        sim.load_table = lambda _s, _d, name: emb
        sim.SEMDEDUP_TAU = 0.999
        res = registry.all_specs()["semdedup"].fn(spark, "_").collect()
    finally:
        sim.load_table, sim.SEMDEDUP_TAU = orig_load, orig_tau
    assert sum(r.n_vecs for r in res) == 321
    assert sum(r.n_dup_pruned for r in res) == 1
    assert sum(r.n_kept for r in res) == 320


def test_connected_components_long_chain(spark):
    # A 60-node path graph has diameter 59: single-hop min-label
    # propagation would need 59 rounds (and silently return wrong
    # components at the 25-round cap); pointer doubling converges in
    # O(log n). Everything must collapse to component 0, plus a separate
    # pair and an isolated edge kept apart.
    from nt_etl_order_book_spark.functions.dedup import connected_components

    chain = [(i, i + 1) for i in range(59)]          # 0-1-2-...-59
    extra = [(100, 101), (200, 300)]                  # two separate components
    pairs = spark.createDataFrame(chain + extra, "a long, b long")
    out = connected_components(pairs)
    # Each round aggregates the previous label beside the new one and
    # counts the changes with an Observation on the round's checkpoint;
    # the carrier column must never leak into the returned schema.
    assert out.columns == ["x", "label"]
    got = {r.x: r.label for r in out.collect()}
    assert all(got[i] == 0 for i in range(60))
    assert got[100] == got[101] == 100
    assert got[200] == got[300] == 200


def _doc_frame(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_paragraphs_chunking_and_empty_doc(spark):
    from nt_etl_order_book_spark.functions.dedup import PARA_TOKENS, paragraphs

    sixty = " ".join(f"w{i}" for i in range(60))  # 60 tokens → chunks of 25, 25, 10
    df = _doc_frame(spark, [(1, sixty), (2, ""), (3, "a b")])
    out = sorted((r.doc_id, r.par) for r in paragraphs(df).collect())
    assert [d for d, _ in out] == [1, 1, 1, 3]
    assert out[0][1].split(" ") == [f"w{i}" for i in range(PARA_TOKENS)]
    assert out[2][1].split(" ") == [f"w{i}" for i in range(50, 60)]
    assert out[3][1] == "a b"  # short doc = one sub-width paragraph; empty doc = none


def test_bloom_filter_flags_shared_paragraph_only(spark):
    from nt_etl_order_book_spark.functions.dedup import (
        REF_MOD,
        bloom_positions,
        paragraphs,
    )

    shared = " ".join(f"s{i}" for i in range(25))
    rows = [
        (0, shared),                                   # reference doc (0 % REF_MOD == 0)
        (1, shared + " " + " ".join(f"x{i}" for i in range(25))),  # shares chunk 1
        (2, " ".join(f"y{i}" for i in range(30))),     # no overlap
    ]
    assert 1 % REF_MOD != 0 and 2 % REF_MOD != 0
    pars = paragraphs(_doc_frame(spark, rows))
    bits = {
        r.pos
        for r in pars.filter(F.col("doc_id") % REF_MOD == 0)
        .select(F.explode(bloom_positions(F.col("par"))).alias("pos"))
        .collect()
    }
    corpus = (
        pars.filter(F.col("doc_id") % REF_MOD != 0)
        .select("doc_id", "par", bloom_positions(F.col("par")).alias("ps"))
        .collect()
    )
    flagged = {r.doc_id for r in corpus if all(p in bits for p in r.ps)}
    assert flagged == {1}  # doc 1's first chunk equals the reference chunk

    # and the registered end-to-end query agrees on real testdata: every
    # flag implies ≥1 flagged paragraph, ids are non-reference docs
    out = registry.queries()["bloom_filter_dedup"](spark, "/root/testdata/sf0.001").collect()
    assert all(r.n_flagged_pars >= 1 and r.doc_id % REF_MOD != 0 for r in out)


def _rebuild_ivfpq_index(spark, emb, path, monkeypatch):
    """Train the IVF-PQ index at the default cell count, then rebuild it
    in place at 2 cells; return (cell dirs on disk, the rebuild's
    codebook cells). The first build populates cells the second no
    longer has — a stale cell=k dir would feed old vec_ids to probes."""
    import os

    from nt_etl_order_book_spark.functions.similarity import ivfpq_train

    ivfpq_train(emb, path)
    monkeypatch.setenv("SPARK_GRAFT_IVF_CELLS", "2")
    ivfpq_train(emb, path)
    idx = os.path.join(path, "index")
    dirs = {int(d.split("=")[1]) for d in os.listdir(idx) if d.startswith("cell=")}
    cents = spark.read.parquet(os.path.join(path, "cents.parquet"))
    cells = {r.cell for r in cents.select(F.explode("cents.cell").alias("cell")).collect()}
    return dirs, cells


def test_ivf_index_rebuild_leaves_no_stale_cells(spark, sf_dir, tmp_path, monkeypatch):
    # Rebuild semantics: static overwrite must replace the WHOLE index
    # path. If a rebuild's assignment populates fewer cells, directories
    # from the previous build must be gone.
    from nt_etl_order_book_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_rebuild")
    dirs, cells = _rebuild_ivfpq_index(spark, emb, path, monkeypatch)
    assert dirs == cells and len(cells) == 2  # no leftovers from the 16-cell build
    assert spark.read.parquet(f"{path}/index").count() == emb.count()


def test_ivf_index_rebuild_static_even_under_global_dynamic_mode(spark, sf_dir, tmp_path, monkeypatch):
    # ivfpq_train pins partitionOverwriteMode=static per-write; a
    # deployment that sets the session default to dynamic must NOT get
    # dynamic rebuild semantics (stale cell dirs feeding probe reads).
    from nt_etl_order_book_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_rebuild_dyn")
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        dirs, cells = _rebuild_ivfpq_index(spark, emb, path, monkeypatch)
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert dirs == cells and len(cells) == 2  # the per-write static pin overrode the global
    assert spark.read.parquet(f"{path}/index").count() == emb.count()


# ---------------------------------------------------------------------------
# Adversarial skewed corpus (r4 verdict item 5): one domain holds 90% of
# the docs, one 25-token boilerplate paragraph appears ~10^5 times, and
# its shingles/fingerprints are hot in ~10^3 docs. Each capped operator
# must stay bounded — the caps must actually BITE, not just exist.
# ---------------------------------------------------------------------------

import pytest


@pytest.fixture(scope="module")
def skew_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nt_etl_order_book_spark.functions.dedup import PARA_TOKENS

    bp = " ".join(f"bp{t:02d}" for t in range(PARA_TOKENS))  # the boilerplate paragraph
    reps = 93  # 1080 hot docs x 93 reps = 100_440 occurrences
    doc_ids, texts, sources = [], [], []
    for d in range(1200):
        if d % 10 != 0:  # 90% of docs in one domain
            doc_ids.append(d)
            sources.append("hotcrawl")
            filler = " ".join(f"u{d}w{j}" for j in range(PARA_TOKENS))
            texts.append(" ".join([bp] * reps) + " " + filler)
        else:
            doc_ids.append(d)
            sources.append(f"s{d % 3}")
            texts.append(" ".join(f"c{d}x{j}" for j in range(50)))
    # One genuine near-dup pair: a 120-token run shared verbatim, unique
    # affixes — must survive the boilerplate cap and be the ONLY pair.
    shared = " ".join(f"sh{j:03d}" for j in range(120))
    for d, affix in ((2000, "left"), (2001, "right")):
        doc_ids.append(d)
        sources.append("s1")
        texts.append(f"{affix}a{d} {affix}b{d} " + shared + f" {affix}z{d}")

    out = tmp_path_factory.mktemp("skewsf")
    # Write a DIRECTORY of part files, not one small file: a single
    # sub-maxPartitionBytes parquet file scans as ONE task, so the
    # expensive narrow stages (gram hashing, md5 explode) would run
    # single-threaded — the test must measure the operators' scaling,
    # not an input-parallelism accident.
    tbl_dir = out / "documents.parquet"
    tbl_dir.mkdir()
    n_parts = 8
    for p in range(n_parts):
        sel = [i for i in range(len(doc_ids)) if i % n_parts == p]
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([doc_ids[i] for i in sel], pa.int64()),
                    "text": pa.array([texts[i] for i in sel], pa.string()),
                    "lang": pa.array(["en"] * len(sel), pa.string()),
                    "source": pa.array([sources[i] for i in sel], pa.string()),
                    "n_chars": pa.array([len(texts[i]) for i in sel], pa.int64()),
                }
            ),
            str(tbl_dir / f"part-{p:02d}.parquet"),
        )
    return str(out)


def test_skew_paragraph_dedup_hot_paragraph_bounded(spark, skew_dir):
    # 100_440 occurrences of ONE par_hash must aggregate via map-side
    # partial combine (the exchange carries digests + partial counts, not
    # 10^5 rows of one key to one task) and report exact counts.
    df = registry.all_specs()["paragraph_dedup"].fn(spark, skew_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in plan  # map-side combine on the hot key
    rows = {r.par_hash: r for r in df.collect()}
    hot = [r for r in rows.values() if r.n_docs == 1080]
    assert len(hot) == 1
    assert hot[0].n_occurrences == 1080 * 93
    assert hot[0].canonical_doc_id == 1  # min hotcrawl doc_id
    # unique filler paragraphs must NOT appear (each lives in one doc)
    assert all(r.n_docs >= 2 for r in rows.values())


def test_skew_seq_pack_shards_bound_task_size(spark, skew_dir):
    # 90% of docs in one source: the (source, floor(doc_id/128)) shard
    # key must bound every window task at PACK_SHARD_DOCS docs and give
    # the hot domain shard-count parallelism, not one giant window task.
    from nt_etl_order_book_spark.functions.packing import PACK_SHARD_DOCS

    rows = registry.all_specs()["seq_pack"].fn(spark, skew_dir).collect()
    per_shard: dict[tuple, int] = {}
    for r in rows:
        per_shard[(r.source, r.bucket)] = per_shard.get((r.source, r.bucket), 0) + r.n_docs
    assert max(per_shard.values()) <= PACK_SHARD_DOCS
    hot_shards = {k for k in per_shard if k[0] == "hotcrawl"}
    assert len(hot_shards) >= 1080 // PACK_SHARD_DOCS  # parallelism scales with docs
    assert sum(v for k, v in per_shard.items() if k[0] == "hotcrawl") == 1080


def test_skew_repetition_battery_exact_on_degenerate_doc(spark, skew_dir):
    # A hot doc is 93 identical paragraphs + 1 unique one: dup_par_frac
    # must be exactly round(1 - 2/94, 6); the narrow HOF path must not
    # blow up on 2350-token documents with total 5-gram duplication.
    got = {
        r.doc_id: r
        for r in registry.all_specs()["repetition_battery"].fn(spark, skew_dir).collect()
    }
    assert len(got) == 1202
    hot = got[1]
    assert hot.dup_par_frac == round(1 - 2 / 94, 6)
    assert hot.dup5_char_frac > 0.9  # nearly every 5-gram is duplicated
    clean = got[0]  # 50 unique tokens, no repetition
    assert clean.dup_par_frac == 0.0 and clean.dup5_char_frac == 0.0


def test_skew_winnow_dedup_cap_bites_only_real_pair_survives(spark, skew_dir):
    # The boilerplate fingerprints are shared by 1080 docs — far past
    # WINNOW_MAX_FP_DF — so the cap must drop them from the inverted
    # index: WITHOUT it this corpus makes ~1080^2/2 candidate pairs.
    # The only surviving pair is the genuine 120-token near-dup.
    pairs = {
        (r.a, r.b): r.n_shared_fps
        for r in registry.all_specs()["winnow_dedup"].fn(spark, skew_dir).collect()
    }
    assert (2000, 2001) in pairs
    assert pairs[(2000, 2001)] >= 2
    assert set(pairs) == {(2000, 2001)}


def test_skew_shared_run_audit_measures_exact_overlap(spark, skew_dir):
    # The verifier must report the constructed 120-token shared run
    # EXACTLY (117 matching 4-gram positions on one diagonal + k - 1),
    # and only for the one surviving candidate pair.
    rows = registry.all_specs()["shared_run_audit"].fn(spark, skew_dir).collect()
    got = {(r.a, r.b): r for r in rows}
    assert set(got) == {(2000, 2001)}
    assert got[(2000, 2001)].longest_run_tokens == 120
    assert got[(2000, 2001)].n_matching_grams >= 117


def test_shared_run_audit_planted_runs_measured_exactly(spark, tmp_path):
    # Ground-truth battery: 20 doc pairs, each sharing a planted run of
    # random length in [20, 60] tokens with pair-disjoint vocabularies
    # and per-doc unique affixes. Every planted pair must be reported
    # with longest_run_tokens == planted length and n_matching_grams ==
    # length - (k - 1); no cross-pair ghosts may appear.
    import random

    from nt_etl_order_book_spark.functions.text import WINNOW_K, q_shared_run_audit

    rng = random.Random(42)
    rows, want = [], {}
    for p in range(20):
        length = rng.randint(20, 60)
        run = " ".join(f"p{p}r{j}" for j in range(length))
        a_id, b_id = 100 + 2 * p, 101 + 2 * p
        rows.append((a_id, f"p{p}ax p{p}ay {run} p{p}az", "en", "s", 0))
        rows.append((b_id, f"p{p}bx {run} p{p}by p{p}bz", "en", "s", 0))
        want[(a_id, b_id)] = length
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    got = {(r.a, r.b): r for r in q_shared_run_audit(spark, str(tmp_path)).collect()}
    assert set(got) == set(want)
    for pair, length in want.items():
        assert got[pair].longest_run_tokens == length, pair
        assert got[pair].n_matching_grams == length - (WINNOW_K - 1), pair


def test_ivfpq_index_write_prunes_and_round_trips(spark, sf_dir, tmp_path):
    # The composed index persisted by ivfpq_train: cell-partitioned
    # residual-code rows. A probe read must prune at the directory
    # level, and the stored codes must equal the in-memory encode
    # exactly (deterministic codebooks ⇒ deterministic codes).
    import os

    from nt_etl_order_book_spark.functions.similarity import (
        N_CELLS,
        ivf_assign,
        ivf_codebook,
        ivfpq_train,
        pq_codebook,
        pq_encode,
    )
    from nt_etl_order_book_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    ivfpq_train(emb, str(tmp_path))
    idx = str(tmp_path / "index")

    cells = {int(d.split("=")[1]) for d in os.listdir(idx) if d.startswith("cell=")}
    assert cells and all(0 <= c < N_CELLS for c in cells)

    probe_cells = sorted(cells)[:2]
    rd = spark.read.parquet(idx).filter(F.col("cell").isin(probe_cells))
    plan = rd._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cell" in plan.split("PartitionFilters")[1][:80]

    _, cents = ivf_codebook(emb)
    resid = ivf_assign(emb, cents, residual=True)
    _, book_rows = pq_codebook(resid)
    got = {(r.vec_id, r.cell, tuple(r.codes)) for r in rd.collect()}
    want = {
        (r.vec_id, r.cell, tuple(r.codes))
        for r in pq_encode(resid, book_rows)
        .filter(F.col("cell").isin(probe_cells))
        .collect()
    }
    assert got == want and got


def _pq_oracle_codes(vec, book_rows):
    """Pure-Python PQ encode: per subspace, the dot and the squared norm
    summed left to right in double, d = n2 - 2·dot, argmin with ties to
    the lowest position."""
    from nt_etl_order_book_spark.functions.similarity import PQ_DSUB

    codes = []
    for s, book in enumerate(book_rows):
        sv = [float(v) for v in vec[s * PQ_DSUB : (s + 1) * PQ_DSUB]]
        best, best_d = -1, float("inf")
        for i, (_, cvec) in enumerate(book):
            acc = n2 = 0.0
            for a, b in zip(sv, cvec):
                acc += a * b
                n2 += b * b
            d = n2 - 2.0 * acc
            if d < best_d:
                best, best_d = i, d
        codes.append(best)
    return codes


def test_pq_encode_matches_python_oracle(spark, sf_dir):
    # pq_encode's numpy argmin gives the oracle's codes exactly, on the
    # fixture and on a corpus where one seed position draws no training
    # vector and leaves every book: codes stay array positions (< the
    # book's length), so the query-side LUT stays aligned.
    import numpy as np

    from nt_etl_order_book_spark.functions.similarity import (
        PQ_K,
        TRAIN_MOD,
        pq_codebook,
        pq_encode,
    )
    from nt_etl_order_book_spark.tables import load_table

    sampled = {
        r.id
        for r in spark.range(PQ_K)
        .filter(F.pmod(F.xxhash64("id"), F.lit(TRAIN_MOD)) == 0)
        .collect()
    }
    orphan = min(set(range(PQ_K)) - sampled)
    rng = np.random.default_rng(5)
    rows = [
        (vid, [1000.0] * 64 if vid == orphan else [float(x) for x in rng.normal(size=64)])
        for vid in range(320)
    ]
    built = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    for emb, leaves in ((load_table(spark, sf_dir, "embeddings"), None), (built, orphan)):
        books, book_rows = pq_codebook(emb)
        assert [[(c.pos, list(c.cvec)) for c in sub] for sub in books.first().books] == [
            [(p, list(c)) for p, c in sub] for sub in book_rows
        ]
        if leaves is not None:
            assert all(leaves not in [p for p, _ in sub] for sub in book_rows)
            assert all(len(sub) < PQ_K for sub in book_rows)
        vecs = {r.vec_id: r.embedding for r in emb.collect()}
        got = pq_encode(emb, book_rows).collect()
        assert len(got) == len(vecs)
        for r in got:
            assert list(r.codes) == _pq_oracle_codes(vecs[r.vec_id], book_rows), r.vec_id
            assert all(c < len(sub) for c, sub in zip(r.codes, book_rows)), r.vec_id


def test_semdedup_capped_cells_stay_in_inventory(spark):
    # With MAX_BLOCK forced below typical cell size, oversized cells
    # must still appear in the census (capped=true, zero prunes) so
    # Σ n_vecs reconciles with the corpus — the guard suppresses
    # PAIRING, never rows.
    from nt_etl_order_book_spark.functions import similarity as sim

    orig = sim.MAX_BLOCK
    try:
        sim.MAX_BLOCK = 20
        res = registry.all_specs()["semdedup"].fn(spark, "/root/testdata/sf0.01").collect()
    finally:
        sim.MAX_BLOCK = orig
    assert sum(r.n_vecs for r in res) == 500
    capped = [r for r in res if r.capped]
    assert capped, "expected at least one cell above the forced cap"
    assert all(r.n_dup_pruned == 0 and r.n_kept == r.n_vecs for r in capped)


def test_cosine_kernel_bit_parity_with_spark(spark, monkeypatch):
    # The grouped-map kernel reproduces dot() / norm() / cosine() bit for
    # bit on float32 vectors: one ulp can move a cosine across a 6-dp
    # rounding boundary. 21 rows at TILE = 8 span three tiles, the last
    # one partial; row 5 is a zero vector, whose cosines are NULL (NaN).
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    monkeypatch.setattr(sim, "TILE", 8)
    vecs = np.random.default_rng(7).normal(size=(21, 64)).astype(np.float32)
    vecs[5] = 0.0
    emb = spark.createDataFrame(
        [(i, [float(v) for v in vec]) for i, vec in enumerate(vecs)], "vec_id long, embedding array<float>"
    ).select("vec_id", "embedding", sim.norm(F.col("embedding")).alias("enorm"))
    a, b = F.col("a.embedding"), F.col("b.embedding")
    spark_pairs = (
        emb.alias("a")
        .crossJoin(emb.alias("b"))
        .select(F.col("a.vec_id").alias("i"), F.col("b.vec_id").alias("j"),
                sim.dot(a, b).alias("dot"), sim.cosine(a, b).alias("cos"))
        .collect()
    )
    pdf = emb.withColumn("bsz", F.lit(len(vecs))).toPandas().sort_values("vec_id")
    ids, x, n = sim.block_arrays(pdf)
    dots = sim._fold(x, x)
    assert np.array_equal(np.sqrt(np.diag(dots)), n)  # norm() is the fold with itself
    tiles = list(sim.cosine_tiles(x, n, x, n))
    assert [lo for lo, _ in tiles] == [0, 8, 16]
    cos = np.vstack([t for _, t in tiles])
    assert len(spark_pairs) == 21 * 21
    for r in spark_pairs:
        assert dots[r.i, r.j] == r.dot, (r.i, r.j)
        if r.cos is None:
            assert np.isnan(cos[r.i, r.j]) and 5 in (r.i, r.j), (r.i, r.j)
        else:
            assert cos[r.i, r.j] == r.cos, (r.i, r.j)


def _pair_at_cosine(lo: float, hi: float) -> list:
    """Two float32 vectors (1, 0) and (c, s) whose cosine, in dot()'s
    double fold, lies in [lo, hi)."""
    import math

    import numpy as np

    c = np.float32(lo)
    while True:
        s = float(np.float32(math.sqrt(1.0 - float(c) * float(c))))
        cos = (0.0 + float(c)) / math.sqrt(0.0 + float(c) * float(c) + s * s)
        if lo <= cos < hi:
            return [[1.0, 0.0], [float(c), s]]
        c = np.nextafter(c, np.float32(1.0))


def test_embed_cosine_dedup_keeps_a_raw_cosine_that_rounds_up_to_tau(spark, monkeypatch):
    # cos_sim is rounded half-up to 6 dp before the τ filter, so a raw
    # cosine in [τ − 5e-7, τ) is reported as τ; the kernel must hand such
    # a pair to Spark. One just below that band is not reported, nor is
    # a zero vector's NULL cosine. Under a cap of 2 rows the 3-row label
    # 0 is dropped before Python, and label 2's copy of the pair stays.
    from nt_etl_order_book_spark.functions import similarity as sim

    tau = sim.DEDUP_COS_TAU
    up, down = _pair_at_cosine(tau - 5e-7, tau), _pair_at_cosine(tau - 1.5e-6, tau - 5.5e-7)
    rows = [(0, up[0], 0), (1, up[1], 0), (2, [0.0, 0.0], 0), (3, down[0], 1), (4, down[1], 1),
            (5, up[0], 2), (6, up[1], 2)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    monkeypatch.setattr(sim, "load_table", lambda _s, _d, name: emb)

    def run():
        return sorted(tuple(r) for r in registry.all_specs()["embed_cosine_dedup"].fn(spark, "_").collect())

    assert run() == [(0, 1, 0, tau), (5, 6, 2, tau)]
    monkeypatch.setattr(sim, "MAX_BLOCK", 2)
    assert run() == [(5, 6, 2, tau)]


def test_cosine_scan_batch_floor_matches_single_window_reference(spark):
    # cosine_scan keeps, per batch and query, the masked rows within 1e-6
    # of the batch's k-th best raw cosine. Three partitions are three
    # Arrow batches; the reference scores every pair with the JVM
    # cosine() and ranks them in one window. k = 2. Query 0: in batch B,
    # vec 11's raw cosine sits just below vec 20's (the batch's 2nd best)
    # but rounds up to tie it, and wins on its lower vec_id. Query 1 is
    # a zero vector: every cosine is NULL and the lowest vec_ids rank.
    # Query 2 may only meet label 0, a zero vector (vec 3) and vec 41, so
    # vec 3's NULL must survive its batch. Vec 3 is NULL for every query.
    from pyspark.sql import Window

    from nt_etl_order_book_spark.functions import similarity as sim

    k = 2

    def vec(lo, hi):
        return _pair_at_cosine(lo, hi)[1]

    batches = [
        [(1, vec(0.2, 0.2001), 1), (2, vec(0.1, 0.1001), 1), (3, [0.0, 0.0], 0)],
        [(11, vec(0.5 - 4e-7, 0.5 - 3e-7), 1), (20, vec(0.5, 0.5 + 1e-7), 1), (30, vec(0.9, 0.9001), 1)],
        [(40, vec(0.3, 0.3001), 1), (41, vec(0.45, 0.4501), 0)],
    ]
    rdd = spark.sparkContext.parallelize(batches, len(batches)).flatMap(lambda b: b)
    corpus = spark.createDataFrame(rdd, "vec_id long, embedding array<float>, label int").select(
        "vec_id", "label", "embedding", sim.norm(F.col("embedding")).alias("enorm")
    )
    assert corpus.rdd.getNumPartitions() == len(batches)
    q = spark.createDataFrame(
        [(0, [1.0, 0.0], 9), (1, [0.0, 0.0], 9), (2, [1.0, 0.0], 1)],
        "qid long, qvec array<float>, qlabel int",
    ).select("qid", "qvec", sim.norm(F.col("qvec")).alias("qnorm"), "qlabel")

    def other_label(qt, batch):
        other = qt["qlabel"].to_numpy()[:, None] != batch["label"].to_numpy()
        return sim._not_self(qt, batch) & other

    got = sim.topk_per_query(
        sim.cosine_scan(q, corpus, other_label, k=k).select(
            "qid", "vec_id", F.round("cos", 6).alias("cos_sim")
        ),
        k=k,
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    ref = (
        q.crossJoin(corpus)
        .filter((F.col("qid") != F.col("vec_id")) & (F.col("qlabel") != F.col("label")))
        .select(
            "qid", "vec_id", F.round(sim.cosine(F.col("qvec"), F.col("embedding")), 6).alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    rows = sorted(tuple(r) for r in got.collect())
    assert rows == sorted(tuple(r) for r in ref.collect())
    assert rows == [
        (0, 11, 0.5, 2), (0, 30, 0.9, 1),
        (1, 2, None, 1), (1, 3, None, 2),
        (2, 3, None, 2), (2, 41, 0.45, 1),
    ]


@pytest.fixture(scope="module")
def hot_market_dir(tmp_path_factory):
    """Adversarial events skew: ONE market owns 95% of 200k ticks (multi-
    file parquet so the scan actually parallelizes — the single-file
    lesson), spanning ~18 days. Exercises the per-key ordered passes of
    the time-series family under a hot key."""
    import pyspark.sql.functions as F

    from nt_etl_order_book_spark.session import get_spark

    spark = get_spark("skewgen", shuffle_partitions=8)
    out = str(tmp_path_factory.mktemp("hot_market"))
    n = 200_000
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    df = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            # 8s per id x 200k ids ~ 18.5 days of ticks
            (base + F.make_interval(secs=F.col("id") * F.lit(8.0))).alias("ts"),
            # 95% of ticks on market 0, the rest spread over 100 markets
            F.when(F.col("id") % 20 != 0, F.lit(0))
            .otherwise((F.col("id") % 100) + 1)
            .cast("long")
            .alias("user_id"),
            # deterministic type mix (view-heavy) so the lifecycle ops
            # (scd2 signup intervals, last-touch attribution) see real
            # data on the hot key; the tick-family ops ignore the type.
            F.when(F.pmod(F.col("id"), F.lit(16)) == 1, F.lit("click"))
            .when(F.pmod(F.col("id"), F.lit(16)) == 2, F.lit("purchase"))
            .when(F.pmod(F.col("id"), F.lit(16)) == 3, F.lit("signup"))
            .otherwise(F.lit("view"))
            .alias("event_type"),
            (F.pmod(F.col("id") * F.lit(37), F.lit(1000)) / F.lit(10.0) + F.lit(1.0)).alias("value"),
            # real print sizes so the volume-clock ops (vpin,
            # kyle_lambda) run against the hot key too
            F.concat(F.lit('{"k": '), F.pmod(F.col("id"), F.lit(100)).cast("string"), F.lit("}")).alias("props"),
        )
        .withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    )
    df.repartition(16).write.mode("overwrite").parquet(out + "/events.parquet")
    return out


def test_skew_timeseries_family_bounded_on_hot_market(spark, hot_market_dir):
    # The hot market (190k ticks) must not break the per-key passes:
    # realized_volatility AND max_drawdown are day-sharded (the hot
    # key's history fans across its ~18 day shards; drawdown's carry-in
    # peak propagates via the day-grain cumulative-max frame), and
    # roll/OFI carry across days too (roll_spread's two-price chunk
    # frame, order_flow_imbalance's chunked_tick_rule). Assert results
    # exist for the hot key and the day-shard claim holds in the plan
    # (window keyed by user AND day).
    import time

    from nt_etl_order_book_spark import registry

    qs = registry.queries()
    t0 = time.time()
    rv = qs["realized_volatility"](spark, hot_market_dir)
    from nt_etl_order_book_spark.plans.explain import formatted_plan

    plan = formatted_plan(rv)
    assert "date_trunc" in plan.lower()  # window partition includes the day shard
    rv_rows = rv.filter("user_id = 0").count()
    assert rv_rows >= 18  # one row per active day for the hot market
    for name in ("max_drawdown", "roll_spread", "order_flow_imbalance",
                 "kyle_lambda", "vpin"):
        out = qs[name](spark, hot_market_dir).filter("user_id = 0").collect()
        assert len(out) >= 1
    # the single-event-type fixture still exercises the ordered carry
    # of attribution/markov (outputs exist, just degenerate)
    assert qs["markov_transitions"](spark, hot_market_dir).count() >= 1
    wall = time.time() - t0
    # generous bound: 4 per-key ordered passes over 200k skewed rows
    # must stay interactive even on a loaded box
    assert wall < 120, f"time-series family took {wall:.0f}s on the hot-market corpus"


def test_knn_label_eval_separable_corpus_is_perfect(spark):
    # Two well-separated label clusters: every held-out query's
    # neighbors share its label -> accuracy exactly 1.0.
    from nt_etl_order_book_spark.functions import similarity as simmod

    rows = []
    for i in range(40):
        label = i % 2
        base = [10.0, 0.0] if label == 0 else [0.0, 10.0]
        rows.append((i, [base[0] + (i % 5) * 0.01, base[1] + (i % 3) * 0.01], label))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = simmod.load_table
    try:
        simmod.load_table = lambda _s, _d, name: emb
        [r] = registry.all_specs()["knn_label_eval"].fn(spark, "_").collect()
    finally:
        simmod.load_table = orig
    assert r.n_queries == 4  # vec_id 0,10,20,30
    assert r.n_correct == 4 and r.accuracy == 1.0


def test_embedding_drift_detects_planted_rotation(spark):
    # Label 0: identical halves -> centroid_cos == 1. Label 1: the odd
    # half is orthogonal to the even half -> centroid_cos == 0.
    from nt_etl_order_book_spark.functions import similarity as simmod

    rows = []
    vid = 0
    for _ in range(10):
        rows.append((vid, [1.0, 0.0], 0)); vid += 1   # even half of label 0
        rows.append((vid, [1.0, 0.0], 0)); vid += 1   # odd half identical
    for _ in range(10):
        rows.append((vid, [1.0, 0.0], 1)) if vid % 2 == 0 else rows.append((vid, [0.0, 1.0], 1))
        vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = simmod.load_table
    try:
        simmod.load_table = lambda _s, _d, name: emb
        out = {r.label: r for r in registry.all_specs()["embedding_drift"].fn(spark, "_").collect()}
    finally:
        simmod.load_table = orig
    assert out[0].centroid_cos == 1.0
    assert out[1].centroid_cos == 0.0
    assert out[0].n_a == out[0].n_b == 10


def test_skew_lifecycle_family_bounded_on_hot_market(spark, hot_market_dir):
    # r5-window families under the hot key (r6 verdict item 6):
    # - twap is (user, day)-sharded: the hot market's 190k ticks split
    #   across ~18 day shards, never one task;
    # - scd2_intervals / rolling_features / attribution_last_touch are
    #   per-user ordered passes sharded below the user: scd2_intervals
    #   and attribution_last_touch by day (scd2's chunk frame, the
    #   chunked_prefix carry), rolling_features by rank chunk;
    # all four must produce non-degenerate hot-key output and stay
    # interactive on 200k skewed rows.
    import time

    from nt_etl_order_book_spark import registry

    qs = registry.queries()
    t0 = time.time()
    twap = qs["twap"](spark, hot_market_dir).filter("user_id = 0").collect()
    assert len(twap) >= 18  # one row per active day on the hot market
    assert all(r.n_intervals >= 1 and r.twap > 0 for r in twap)
    scd2 = qs["scd2_intervals"](spark, hot_market_dir).filter("user_id = 0")
    n_scd2 = scd2.count()
    assert n_scd2 >= 100  # value changes between consecutive signups
    assert scd2.filter("is_current = 1").count() == 1  # one open interval
    rf = qs["rolling_features"](spark, hot_market_dir).filter("user_id = 0").count()
    assert rf == 190_000  # one feature row per hot-market tick
    att = qs["attribution_last_touch"](spark, hot_market_dir).collect()
    assert len(att) >= 1
    wall = time.time() - t0
    assert wall < 120, f"lifecycle family took {wall:.0f}s on the hot-market corpus"


@pytest.mark.parametrize("n_cells", [16, 100])
def test_ivf_assign_matches_python_oracle(spark, sf_dir, n_cells):
    # The one IVF assignment (numpy matmul argmax in ivf_assign) against
    # a pure-Python oracle: sequential double dot per centroid, argmax,
    # ties to the lowest cell id. BLAS may sum a dot in another order,
    # so the cell must match wherever the top-two gap exceeds 1e-12;
    # enorm and the IVF-PQ residual must match to 1e-9, and the
    # pass-through embedding must be the stored vector exactly. 100
    # cells outnumber the fixture's 45-vector training sample, so most
    # seeds leave the codebook and the surviving ids are sparse.
    from nt_etl_order_book_spark.functions import similarity as sim
    from nt_etl_order_book_spark.tables import load_table

    def seq_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += float(x) * float(y)
        return acc

    emb = load_table(spark, sf_dir, "embeddings")
    cents_arr, rows = sim.ivf_codebook(emb, n_cells)
    ids = [c for c, _v in rows]
    assert ids == sorted(set(ids)) and set(ids) <= set(range(n_cells))
    [frame_row] = cents_arr.collect()
    assert [(c["cell"], list(c["cvec"])) for c in frame_row["cents"]] == [
        (c, list(v)) for c, v in rows
    ]
    cvec = dict(rows)

    orig = {r["vec_id"]: list(r["embedding"]) for r in emb.select("vec_id", "embedding").collect()}
    plain = {r["vec_id"]: r for r in sim.ivf_assign(emb, rows).collect()}
    resid = {r["vec_id"]: r for r in sim.ivf_assign(emb, rows, residual=True).collect()}
    assert plain.keys() == resid.keys() == orig.keys()
    decided = 0
    for vid, x in orig.items():
        scores = sorted((-seq_dot(x, v), c) for c, v in rows)
        p, r = plain[vid], resid[vid]
        assert p["cell"] == r["cell"] and p["cell"] in cvec
        if len(scores) < 2 or scores[1][0] - scores[0][0] > 1e-12:
            assert p["cell"] == scores[0][1], f"vec {vid}: {p['cell']} != {scores[0][1]}"
            decided += 1
        assert abs(p["enorm"] - seq_dot(x, x) ** 0.5) < 1e-9
        assert abs(r["enorm"] - p["enorm"]) < 1e-9
        assert list(p["embedding"]) == x
        want = [float(a) - b for a, b in zip(x, cvec[p["cell"]])]
        assert max(abs(a - b) for a, b in zip(r["embedding"], want)) < 1e-9
    assert decided >= 0.9 * len(orig)


def test_ivf_codebook_drops_a_cell_no_training_vector_reaches(spark):
    # Empty-cell policy: a seed that no training vector reaches leaves
    # the codebook, and every other cell keeps its seed id. Constructed
    # so exactly one seed (`lone`, itself outside the hash-sample) sits
    # in a direction no sampled vector comes near, while every other
    # cluster gets at least one sampled vector.
    import numpy as np

    from nt_etl_order_book_spark.functions import similarity as sim

    n = sim.N_CELLS
    n_vecs = n + 400
    sampled = {
        r.id
        for r in spark.range(n_vecs)
        .filter(F.pmod(F.xxhash64("id"), F.lit(sim.TRAIN_MOD)) == 0)
        .collect()
    }
    lone = min(set(range(n)) - sampled)
    others = [c for c in range(n) if c != lone]
    rng = np.random.default_rng(29)
    centers = rng.normal(size=(n, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = [(vid, [float(x) for x in centers[vid]]) for vid in range(n)]
    k_in, k_out = 0, 0
    for vid in range(n, n_vecs):
        if vid in sampled:
            c, k_in = others[k_in % len(others)], k_in + 1
        else:
            c, k_out = others[k_out % len(others)], k_out + 1
        rows.append((vid, [float(x) for x in centers[c] + 0.05 * rng.normal(size=64)]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents_arr, cent_rows = sim.ivf_codebook(emb)
    assert [c for c, _v in cent_rows] == others
    [frame_row] = cents_arr.collect()
    assert [c["cell"] for c in frame_row["cents"]] == others
    cells = {r.cell for r in sim.ivf_assign(emb, cent_rows).select("cell").distinct().collect()}
    assert cells == set(others)


def test_ivf_cells_env_and_threshold_dispatch(monkeypatch):
    # r13 verdict item 2: SPARK_GRAFT_IVF_CELLS makes DEPLOY.md §2's
    # sqrt(N) sizing executable; invalid values fail loudly, never fall
    # back to a silently-wrong geometry.
    import pytest

    from nt_etl_order_book_spark.functions import similarity as sim

    monkeypatch.delenv("SPARK_GRAFT_IVF_CELLS", raising=False)
    assert sim.ivf_cells() == sim.N_CELLS
    monkeypatch.setenv("SPARK_GRAFT_IVF_CELLS", "1414")
    assert sim.ivf_cells() == 1414
    for bad in ("0", "-3", "sqrtN", "14.14"):
        monkeypatch.setenv("SPARK_GRAFT_IVF_CELLS", bad)
        with pytest.raises(ValueError):
            sim.ivf_cells()


def test_ivf_probe_env_knob_full_probe_is_exact(spark, sf_dir, monkeypatch):
    # r14 ADVICE: SPARK_GRAFT_IVF_CELLS resizes the codebook but probe
    # count was a fixed module constant — a deployment at sqrt(N) cells
    # had no matching knob for probed mass (= probe/cells, the only
    # recall lever on an isotropic corpus). SPARK_GRAFT_IVF_PROBE is
    # that knob: same loud validation as ivf_cells, and at probe ==
    # N_CELLS the IVF answer must EQUAL brute force (probing every cell
    # leaves nothing approximate — the strongest functional pin the
    # geometry admits).
    import pytest

    from nt_etl_order_book_spark.functions import similarity as sim

    monkeypatch.delenv("SPARK_GRAFT_IVF_PROBE", raising=False)
    assert sim.ivf_probe() == sim.N_PROBE
    for bad in ("0", "-2", "eleven", "1.5"):
        monkeypatch.setenv("SPARK_GRAFT_IVF_PROBE", bad)
        with pytest.raises(ValueError):
            sim.ivf_probe()
    monkeypatch.setenv("SPARK_GRAFT_IVF_PROBE", str(sim.N_CELLS))
    assert sim.ivf_probe() == sim.N_CELLS
    got = {(r.qid, r.vec_id, r.cos_sim) for r in sim.q_ann_ivf_topk(spark, sf_dir).collect()}
    exact = {(r.qid, r.vec_id, r.cos_sim) for r in sim.q_cosine_topk(spark, sf_dir).collect()}
    assert got == exact


def test_codebook_seed_shortfall_fails_loudly(spark, sf_dir):
    # r14 ADVICE: cells > corpus used to train a silently-smaller
    # codebook while the artifact cache key still claimed ivfpq_c{n} —
    # a mislabeled geometry. Must raise, mirroring the empty-seed check.
    import pytest

    from nt_etl_order_book_spark.functions import similarity as sim
    from nt_etl_order_book_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = int(emb.count())
    with pytest.raises(ValueError, match="need exactly"):
        sim.ivf_codebook(emb, n + 7)
