"""Similarity search over embeddings — SURVEY §2.10 [X].

`embeddings.embedding` is array<float> (64-dim). Exact cosines come
from one numpy kernel (cosine_tiles), dot()'s own left-to-right fold in
double, so it matches the JVM dot()/norm()/cosine() bit for bit. It runs
in Arrow-batched Python passes: the exact scans score a collected query
set against each corpus batch (cosine_scan), and the two dedup queries
score each block against itself, one grouped-map call per block. The
ANN re-ranks score their joined candidate pairs with the JVM dot() and
norm() expressions; the nearest-centroid assignments (ivf_assign) and
the PQ codes (pq_encode) are numpy passes too.

Scale design: brute-force top-k collects the (small) query set and
scans the corpus once — the right baseline. The LSH variant buckets by
signed random-projection signature so each query only meets its bucket;
at 100 TB you shard the corpus by bucket and the scan is pruned to
matching buckets (the classic IVF/LSH trade: recall vs pruning).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.functions.artifacts import artifact_path, ensure_published
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.session import checkpoint_frame, spread
from nt_etl_order_book_spark.tables import load_table

TOP_K = 5
N_QUERIES = 10  # vec_id < 10 play the role of query vectors

# Fixed pseudo-random hyperplanes for the LSH variant: element j of
# plane (t, i) is a deterministic hash-derived value in [-1, 1).
# Multiple small tables instead of one selective one: two similar
# vectors need to agree on all N_PLANES signs in ANY of the N_TABLES
# tables, which is what gives LSH its recall.
N_PLANES = 5
N_TABLES = 8  # 8 tables × 32 buckets of 5-bit signatures
# Multi-probe: each query also probes every bucket at Hamming distance 1
# from its signature (flip one of the N_PLANES bits). Probing happens on
# the tiny broadcast query side — the corpus scan stays pruned — and
# lifts recall@5 from ≈0.58 (single-probe) without adding tables.
N_PROBE_BITS = N_PLANES


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential left-to-right fold (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    # nullif: a zero-norm vector (null-padded / failed encoder) scores
    # null rather than raising DIVIDE_BY_ZERO under ANSI mode.
    return dot(a, b) / F.nullif(norm(a) * norm(b), F.lit(0.0))


# Query rows per cosine tile: scoring a tile holds a few TILE × batch
# arrays of doubles, ≈20 MB each against a 10,000-row block or batch.
TILE = 256


def _fold(x, y):
    """dot() for every row pair of x (t×D) and y (m×D), in dot()'s own
    operations: per dimension acc = acc + x_d·y_d in double, left to
    right. No matmul: BLAS reorders and fuses the sum, which moves a
    cosine off the oracle at the 6-dp boundary."""
    import numpy as np

    acc = np.zeros((len(x), len(y)))
    for d in range(x.shape[1]):
        acc += x[:, d, None] * y[:, d]
    return acc


def _nullif_div(num, den):
    """num / den with NaN where den == 0, as ``/ nullif(den, 0)``. NaN
    compares false, as NULL filters out."""
    import numpy as np

    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(den == 0.0, np.nan, num / den)


def cosine_tiles(x, xn, y, yn):
    """Yield (lo, tile) over the rows of x: tile[i, j] is cosine() of x
    row lo + i and y row j, bit for bit — dot()'s fold over norm()'s
    norms xn and yn, NaN where the norm product is 0. Each tile has TILE
    rows, so memory stays at a few TILE × len(y) arrays whatever len(x)."""
    for lo in range(0, len(x), TILE):
        hi = lo + TILE
        yield lo, _nullif_div(_fold(x[lo:hi], y), xn[lo:hi, None] * yn)


def _topk_floor(tile, keep, k):
    """``keep`` narrowed, per row, to the cosines that can still rank in
    the row's top k once Spark rounds them half-up to 6 dp: those at
    least the row's k-th best kept cosine minus 1e-6. Rounding moves a
    value by at most 5e-7, so a cosine below that floor rounds strictly
    below k others. A row with fewer than k non-NULL kept cosines keeps
    them all, NULLs too: Spark ranks NULLs last, after every score."""
    import numpy as np

    ok = keep & ~np.isnan(tile)
    short = ok.sum(axis=1) < k
    if short.all():
        return keep
    m = tile.shape[1]
    kth = np.partition(np.where(ok, tile, -np.inf), m - k, axis=1)[:, m - k]
    return keep & ((tile >= kth[:, None] - 1e-6) | short[:, None])


def cosine_scan(q: DataFrame, corpus: DataFrame, mask, k: int | None = None) -> DataFrame:
    """Exact cosines of a small query frame against a corpus frame, as
    one mapInPandas pass: ``q`` (qid, qvec, qnorm and any column ``mask``
    reads) is collected to the driver and scored against each Arrow
    batch of ``corpus`` (vec_id, embedding, enorm) by cosine_tiles.
    Rows are q's other columns, then corpus's other columns, then
    ``cos``: the raw cosine, NULL for a zero-norm vector as cosine()
    gives. ``mask(qt, batch)`` picks the pairs, a boolean query-tile ×
    batch matrix over the two pandas frames.

    With ``k``, each batch keeps only the pairs that can still rank in a
    query's top k after Spark's 6-dp rounding (_topk_floor), so the
    ranking window downstream meets about k rows per query per batch.
    Without ``k`` every masked pair is kept."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, StructField, StructType

    qpdf = q.toPandas()
    qx = np.stack(qpdf.pop("qvec").to_numpy()).astype(np.float64) if len(qpdf) else np.zeros((0, 0))
    qn = qpdf.pop("qnorm").to_numpy(dtype=np.float64)

    def scan(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack raises on an empty Arrow batch
            y = np.stack(pdf.pop("embedding").to_numpy()).astype(np.float64)
            yn = pdf.pop("enorm").to_numpy(dtype=np.float64)
            for lo, tile in cosine_tiles(qx, qn, y, yn):
                qt = qpdf.iloc[lo : lo + len(tile)]
                keep = mask(qt, pdf)
                if k is not None:
                    keep = _topk_floor(tile, keep, k)
                i, j = keep.nonzero()
                cols = {c: qt[c].to_numpy()[i] for c in qt.columns}
                cols.update({c: pdf[c].to_numpy()[j] for c in pdf.columns})
                yield pd.DataFrame({**cols, "cos": tile[i, j]})

    fields = [f for f in q.schema.fields if f.name not in ("qvec", "qnorm")]
    fields += [f for f in corpus.schema.fields if f.name not in ("embedding", "enorm")]
    return corpus.mapInPandas(scan, StructType(fields + [StructField("cos", DoubleType())]))


def _not_self(qt, batch):
    """cosine_scan mask: every pair but a query with itself."""
    return qt["qid"].to_numpy()[:, None] != batch["vec_id"].to_numpy()


def query_frame(emb: DataFrame, *extra: Column) -> DataFrame:
    """(qid, qvec, qnorm, *extra): the N_QUERIES query vectors every
    top-k search of the corpus answers."""
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qnorm"),
        *extra,
    )


def topk_per_query(scored: DataFrame, k: int = TOP_K) -> DataFrame:
    """Per-query top-k over (qid, vec_id, cos_sim) rows, ranked by
    (cos_sim desc, vec_id asc) in one window — the shared tail of every
    similarity variant. Each one hands it a bounded set: the exact scans
    a per-batch top-k floor (cosine_scan), the ANN variants their
    probed candidates. Extra columns on ``scored`` ride through."""
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


@register(
    "cosine_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS evec
      FROM embeddings
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.evec), p -> p[1] * p[2]))
               / nullif(sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                        * sqrt(list_sum(list_transform(e.evec, x -> x * x))), 0),
               6
             ) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT qid, vec_id, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}
    """,
    doc=(
        "Brute-force cosine top-k: the query set is collected and scored "
        "against each Arrow batch of the corpus in one mapInPandas pass "
        "(cosine_scan, dot()'s fold in numpy), which keeps each batch's "
        "per-query top-k; Spark rounds cos to 6dp (both engines, so "
        "accumulation order can't flip the hash) and ranks per query."
    ),
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("enorm"))
    scored = cosine_scan(query_frame(emb), corpus, _not_self, k=TOP_K)
    return topk_per_query(scored.select("qid", "vec_id", F.round("cos", 6).alias("cos_sim")))


def _plane_vals(table: int, i: int) -> list[float]:
    """Deterministic hyperplane (table, i) components: md5-derived in
    Python at plan-build time, so signature evaluation does no per-row
    plane construction."""
    import hashlib

    vals = []
    for j in range(64):
        digest = hashlib.md5(f"ntspark-plane:{table}:{i}:{j}".encode()).digest()
        vals.append((int.from_bytes(digest[:8], "big") % 2_000_001) / 1_000_000.0 - 1.0)
    return vals


# The full [table][plane][dim] hyperplane tensor. r9 collapsed the
# N_TABLES × N_PLANES separate 64-literal arrays (~10k expression nodes
# whose ANALYSIS, not execution, dominated the query) into one nested
# F.lit; r16 moves the tensor out of the expression tree entirely —
# PySpark lowers a nested-list lit to CreateArray-of-CreateArray, still
# ~2,600 Literal nodes that EVERY downstream Dataset re-analyzes
# (measured: 1.6-2.1 s of the query's wall was driver-side plan
# construction, single-threaded at any cluster size). planes_frame
# ships the same tensor as ONE broadcast row — the codebook pattern
# (cents_frame) — so the plan carries a column reference instead.
_PLANES: list[list[list[float]]] = [
    [_plane_vals(t, i) for i in range(N_PLANES)] for t in range(N_TABLES)
]


def one_row_frame(spark: SparkSession, name: str, ddl: str, value) -> DataFrame:
    """``value`` as a 1-row broadcastable frame with the single column
    ``name ddl``: the form every codebook and the LSH hyperplanes ship
    in. One pandas row converts through Arrow to a LocalRelation. A list
    passed to createDataFrame becomes a parallelized RDD whose
    defaultParallelism slices run through Python workers on every
    broadcast (measured 2.5-3.7 s per use at local[32] on 4 vCPU,
    against 0.3-0.5 s for the pandas row)."""
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame({name: [value]}), f"{name} {ddl}")


def planes_frame(spark: SparkSession) -> DataFrame:
    """The hyperplane tensor as a 1-row broadcastable frame (~20 KB):
    data in a LocalRelation instead of thousands of literal expression
    nodes in every consumer's analyzed plan."""
    return one_row_frame(spark, "planes", "array<array<array<double>>>", _PLANES)


def rp_signatures(vec: Column, planes: Column) -> Column:
    """Array of N_TABLES signed-projection signatures (N_PLANES bits
    each) — bit i of table t's signature is sign(vec · plane(t, i)),
    identical values to the per-plane expression form this replaces.
    ``planes`` is planes_frame's column, attached via broadcast."""
    return F.transform(
        planes,
        lambda tp: F.aggregate(
            F.transform(
                tp,
                # shiftleft's DSL binding wants a Python int for the bit
                # count; call_function passes the lambda index Column.
                lambda p, i: F.when(
                    dot(vec, p) >= 0, F.call_function("shiftleft", F.lit(1), i)
                ).otherwise(F.lit(0)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ),
    )


@register(
    "ann_lsh_topk",
    None,  # bucketing is hash-specific → rows-only check; recall vs cosine_topk is asserted in tests.
    doc=(
        "ANN via signed-random-projection LSH: corpus bucketed in "
        f"{N_TABLES} hash tables of {N_PLANES}-bit signatures; each query "
        "probes its own bucket plus every Hamming-distance-1 bucket "
        "(multi-probe), then exact rescoring + top-k. The pruned-scan "
        "scale path for similarity search."
    ),
)
def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread (r15 optimization round): the signature projection is
    # N_TABLES×N_PLANES plane dots per row — the query's dominant CPU —
    # and runs in the scan's one task on the single-row-group fixture.
    # The query branch's copy of the exchange carries only the
    # vec_id < N_QUERIES rows (the filter pushes below the
    # repartition), so the fork costs nothing; no-op at scale.
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    corpus = emb.crossJoin(F.broadcast(planes_frame(spark))).select(
        "vec_id", "embedding", rp_signatures(F.col("embedding"), F.col("planes")).alias("sigs")
    )
    banded = corpus.select(
        "vec_id", "embedding", F.posexplode("sigs").alias("table", "sig")
    )
    # Multi-probe expansion on the QUERY side only: 1 exact bucket +
    # N_PROBE_BITS single-bit-flip buckets per (query, table). The
    # broadcast grows ×(1+N_PROBE_BITS) on ~N_QUERIES rows — free — while
    # the corpus side still meets only matching buckets.
    probe_sigs = F.array(
        F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << i)) for i in range(N_PROBE_BITS)]
    )
    q = (
        banded.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("qvec"),
            F.col("table").alias("qtable"),
            F.explode(probe_sigs).alias("qsig"),
        )
    )
    cands = (
        banded.join(
            F.broadcast(q),
            (F.col("table") == F.col("qtable"))
            & (F.col("sig") == F.col("qsig"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .select("qid", "qvec", "vec_id", "embedding")
        .dropDuplicates(["qid", "vec_id"])  # a pair can collide in several tables: score once
    )
    scored = cands.select(
        "qid", "vec_id", F.round(cosine(F.col("qvec"), F.col("embedding")), 6).alias("cos_sim")
    )
    return topk_per_query(scored)


N_CELLS = 16  # IVF partitions (coarse quantizer size)
# Cells probed per query. Recall on an ISOTROPIC corpus (like the test
# fixture — measured same-label vs cross-label cosine are both ≈0) is
# bounded by the probed mass ≈ N_PROBE/N_CELLS regardless of codebook
# quality — candidates are already exact-cosine ranked, so re-ranking
# buys nothing; probe mass is the ONLY recall lever on this corpus.
# IVF's recall advantage only exists when the corpus clusters (see
# test_ivf_recall_on_clustered_corpus). The r5 probe sweep at sf0.01
# measured 8→0.76, 9→0.80, 10→0.86, 11→0.94, 12→0.96; 11/16 clears
# the 0.85 floor with margin at no measured wall cost (sf0.1 warm:
# 1.9 s, recall 0.92). The scan-prune ratio here (16/11 ≈ 1.5×) is
# fixture-sized: production runs thousands of cells with
# N_PROBE/N_CELLS ≪ 1, and on a clustered corpus the same codebook
# reaches ≥0.9 at 4/16 (the clustered-corpus test), so deployments
# tune DOWN from this adversarial-fixture setting.
N_PROBE = 11
# One Lloyd pass over the training sample: the clustered-corpus recall
# test (tests/test_skew_and_ann.py) gates codebook quality at ≥0.9 and
# still measures 1.0 with a single pass — the second pass bought no
# recall at 2× the training cost (r2→r3 bench trim).
KMEANS_ITERS = 1
TRAIN_MOD = 10  # k-means trains on ~1/TRAIN_MOD of the corpus (hash-sampled)


def _env_count(name: str, default: int) -> int:
    """The integer in env var ``name``, else ``default``; a value that
    is not an integer >= 1 raises rather than falling back."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        val = int(raw)
    except ValueError:
        raise ValueError(f"{name}={raw!r} is not an integer") from None
    if val < 1:
        raise ValueError(f"{name} must be >= 1, got {val}")
    return val


def ivf_cells() -> int:
    """Effective coarse-quantizer size for the IVF-PQ train/apply
    lifecycle: ``SPARK_GRAFT_IVF_CELLS`` if set — DEPLOY.md §2's
    N_CELLS ~ √N sizing made executable without editing source — else
    the N_CELLS fixture default. The artifact cache key folds this in
    (_ivfpq_index_path), so switching cell counts can never serve an
    index built at a different geometry."""
    return _env_count("SPARK_GRAFT_IVF_CELLS", N_CELLS)


def ivf_probe() -> int:
    """Cells probed per query: ``SPARK_GRAFT_IVF_PROBE`` if set, else
    the N_PROBE fixture default. The matching knob to
    SPARK_GRAFT_IVF_CELLS (r14 ADVICE): a deployment resizing to √N
    cells tunes probe count WITH the cell count — probed mass is
    probe/cells, and recall at a fixed probe=11 would otherwise depend
    entirely on how well the corpus clusters. Values above the cell
    count are harmless (F.slice past the array end returns the whole
    array — full scan)."""
    return _env_count("SPARK_GRAFT_IVF_PROBE", N_PROBE)


def cells_by_sim() -> Column:
    """Probe order over the broadcast 1-row codebook (``cents``): each
    cell's (−dot(qvec, cvec), cell), sorted ascending ≡ (dot desc, cell
    asc), so a slice of the head is a query's nearest cells. A HOF, in
    place of a crossJoin + Window rank that cost a broadcast exchange
    and a window shuffle to pick a few cells per query."""
    return F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                (-dot(F.col("qvec"), c["cvec"])).alias("neg_sim"),
                c["cell"].alias("cell"),
            ),
        )
    )


def cents_frame(spark: SparkSession, cent_rows: list) -> DataFrame:
    """The codebook as a 1-row broadcastable frame, built directly from
    driver-side ``[(cell, cvec), ...]`` rows; the probe side and the
    persisted ``cents.parquet`` read it. An aggregate here would plan an
    extra Exchange SinglePartition."""
    cents = [{"cell": int(c), "cvec": [float(v) for v in vec]} for c, vec in cent_rows]
    return one_row_frame(spark, "cents", "array<struct<cell:long,cvec:array<double>>>", cents)


def _sqnorm(vec) -> float:
    """Σ vᵢ² summed left to right in double: the same operations as
    norm() and dot(v, v)."""
    acc = 0.0
    for v in vec:
        acc += float(v) * float(v)
    return acc


def _unit(vec) -> list:
    """L2-normalized driver-side vector, summed left to right in double
    like norm(); a zero vector stays zero."""
    n = math.sqrt(_sqnorm(vec)) or 1.0
    return [float(v) / n for v in vec]


def _train_sample(df: DataFrame) -> DataFrame:
    """The deterministic ~1/TRAIN_MOD hash-sample every codebook trains
    on: k-means quality needs a representative sample, not the full
    corpus. The sample is 1/TRAIN_MOD of every split, so TRAIN_MOD splits
    per training task hold as many rows as one corpus task. Each
    mapInPandas task pays a fixed Python cost (DEPLOY.md §1), which
    would otherwise dominate training on small splits."""
    return df.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(TRAIN_MOD)) == 0).coalesce(
        max(1, df.rdd.getNumPartitions() // TRAIN_MOD)
    )


def ivf_codebook(emb: DataFrame, n_cells: int = N_CELLS) -> tuple:
    """Train the spherical-k-means IVF coarse quantizer once and return
    it in both forms its consumers need: ``(cents_arr, cent_rows)`` —
    the 1-row broadcastable frame (cents_frame: probes, cents.parquet)
    and the same codebook as driver-side ``[(cell, cvec), ...]`` rows
    (ivf_assign's numpy matmul).

    Seeds are the first ``n_cells`` vec_ids, unit-normalized. KMEANS_ITERS
    Lloyd passes run over _train_sample. Each pass assigns with
    ivf_assign — the argmax the corpus itself gets — and averages per
    (cell, pos) in Spark: map-side partial aggregation
    collapses each partition to ≤ cells×dim rows, so the shuffle and the
    collect carry C×D doubles at any corpus size (≈700 KB at 1414×64).
    The new centroids are re-normalized at the driver.

    A cell that no training vector reaches leaves the codebook, and the
    surviving cells keep their seed ids. Every consumer reads the ids off
    the codebook itself, so a sparse id set is served as-is. Keeping the
    stale seed instead measured recall@5 0.940 → 0.900 (ann_ivf_topk) and
    0.920 → 0.860 (ann_ivfpq_topk) at sf0.01, whose 45-vector sample
    leaves one of 16 cells empty.
    """
    seed_rows = emb.filter(F.col("vec_id") < n_cells).select("vec_id", "embedding").collect()
    if not seed_rows:
        raise ValueError(f"no seed vectors with vec_id < {n_cells}")
    if len(seed_rows) != n_cells:
        # A shortfall (SPARK_GRAFT_IVF_CELLS larger than the corpus, or
        # a sparse vec_id space below n_cells) would silently train a
        # SMALLER codebook while the artifact cache key still claims
        # ivfpq_c{n_cells} — self-consistent results under a mislabeled
        # geometry. Fail loudly: the caller sizes cells to the corpus.
        raise ValueError(
            f"ivf_codebook: {len(seed_rows)} seed vectors with "
            f"vec_id < {n_cells}, need exactly {n_cells} — is "
            "SPARK_GRAFT_IVF_CELLS larger than the corpus (or the "
            "vec_id space sparse below n_cells)?"
        )
    rows = sorted((int(r["vec_id"]), _unit(r["embedding"])) for r in seed_rows)
    dim = len(rows[0][1])
    train = _train_sample(emb)
    for _ in range(KMEANS_ITERS):
        means = (
            ivf_assign(train, rows)
            .select("cell", F.posexplode("embedding").alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        by_cell: dict = {}
        for r in means:
            by_cell.setdefault(int(r["cell"]), [0.0] * dim)[r["pos"]] = r["m"]
        rows = [(c, _unit(v)) for c, v in sorted(by_cell.items())]
    return cents_frame(emb.sparkSession, rows), rows


def ivf_assign(emb: DataFrame, cent_rows: list, *, residual: bool = False) -> DataFrame:
    """(vec_id, embedding, enorm, cell): each vector's nearest cell, as
    one Arrow-batched numpy matmul — X @ C.T and a row argmax, faiss
    IndexIVF's assignment — narrow and shuffle-free. Centroids are unit
    vectors and the row's own norm scales every cell equally, so
    argmax(dot) ≡ argmax(cosine); ties go to the lowest cell id (rows
    sorted by cell, np.argmax returns the first maximum). BLAS sums the
    dots in its own order, so only a vector whose top two cells tie to
    the last ulps can land in either.

    enorm is norm() of the original vector, computed before the Python
    step, and the embedding passes through unchanged — the cosines
    downstream match the exact-scan queries bit for bit. With
    ``residual=True`` the embedding is replaced by the IVF-PQ residual
    (vector − its centroid, in double) in the same pass: the PQ
    training/encode input.
    """
    import numpy as np

    rows = sorted(cent_rows, key=lambda r: int(r[0]))
    cells = np.array([int(c) for c, _ in rows], dtype=np.int64)
    cents = np.array([v for _, v in rows], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack raises on an empty Arrow batch
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            idx = np.argmax(x @ cents.T, axis=1)
            pdf["cell"] = cells[idx]
            if residual:
                pdf["embedding"] = list(x - cents[idx])
            yield pdf

    etype = "array<double>" if residual else emb.schema["embedding"].dataType.simpleString()
    return emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("enorm")).mapInPandas(
        assign, f"vec_id long, embedding {etype}, enorm double, cell long"
    )


@register(
    "ann_ivf_topk",
    None,  # centroid assignment is implementation-specific → rows-only.
    doc=(
        f"ANN via IVF (inverted file): k-means-refined coarse quantizer "
        f"({N_CELLS} cells, {KMEANS_ITERS} Lloyd iterations on a "
        f"deterministic 1/{TRAIN_MOD} hash-sample; a cell no sample vector "
        "reaches leaves the codebook); corpus assigned to its nearest cell "
        "by a zero-shuffle Arrow-batched numpy matmul argmax (mapInPandas); "
        f"each query scores only its {N_PROBE} nearest "
        "cells. At 100 TB you persist the corpus bucketed by cell "
        "(ivfpq_train's index: partitionBy('cell'); partition pruning on "
        "probe reads is plan-asserted in tests) and probing prunes the "
        "scan to ~N_PROBE/N_CELLS of the data."
    ),
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents_arr, cent_rows = ivf_codebook(emb)
    # spread ONLY the assignment output: the per-candidate dot products
    # downstream of the cell join are the query's CPU, and on the
    # single-row-group fixture they otherwise run as ONE task (measured:
    # an 0.8 s single-task stage inside the 2.0 s wall, r15 optimization
    # round). The assignment itself runs before the exchange, on the
    # scan's own splits: each mapInPandas task pays a fixed Python cost
    # (DEPLOY.md §1). The training/query
    # branches stay on the raw scan so the exchange isn't duplicated
    # under every consumer of `emb`.
    assigned = spread(ivf_assign(emb, cent_rows), "vec_id")
    # Each query probes its N_PROBE nearest cells of the SAME codebook
    # the assignment uses.
    probes = query_frame(emb).crossJoin(F.broadcast(cents_arr)).select(
        "qid",
        "qvec",
        "qnorm",
        F.explode(
            F.transform(F.slice(cells_by_sim(), 1, ivf_probe()), lambda s: s["cell"])
        ).alias("cell"),
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("qvec"), F.col("embedding"))
                / F.nullif(F.col("qnorm") * F.col("enorm"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
    )
    return topk_per_query(scored)


@register(
    "embed_norm_stats",
    """
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(MIN(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 6) AS min_norm,
           ROUND(MAX(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 6) AS max_norm
    FROM embeddings
    GROUP BY label
    """,
    doc="Vector-column hygiene stats: L2 norm range per label (HOF expressions over array<float>).",
)
def q_embed_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    nrm = norm(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.min(nrm), 6).alias("min_norm"),
        F.round(F.max(nrm), 6).alias("max_norm"),
    )


DEDUP_COS_TAU = 0.3  # fixture-calibrated: isotropic 64-dim corpus tops out ≈0.47
# Blocks larger than this are EXCLUDED from the exact pass: within-block
# cost is block², so one oversized block is the quadratic cliff (measured
# 87× wall at 10× data before the cap). Oversized blocks belong to the
# approximate path (ann_lsh_topk's banding) — same contract as
# MAX_SHINGLE_DF / max_bucket in the text-dedup family.
MAX_BLOCK = 10_000


def size_guard(df: DataFrame, key: str) -> DataFrame:
    """The quadratic guard, as a Spark-side size census: ``df`` with
    ``bsz``, the row count of each row's block (the rows sharing
    ``key``). A block over MAX_BLOCK rows keeps only its lowest vec_id,
    so no Python worker ever materializes it; block_arrays reads that
    lone row as the capped block. The census is a window on the key, so
    the grouped map downstream reuses its exchange."""
    w = Window.partitionBy(key).orderBy("vec_id")
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        df.select("*", F.count(F.lit(1)).over(whole).alias("bsz"), F.row_number().over(w).alias("rn"))
        .filter((F.col("bsz") <= MAX_BLOCK) | (F.col("rn") == 1))
        .drop("rn")
    )


def block_arrays(pdf):
    """One size_guard block's (vec_id, embedding, enorm) columns as
    numpy arrays: ids, the embeddings as an m×D double matrix, and their
    norms. None for a capped block: it arrives as one row of bsz."""
    import numpy as np

    if len(pdf) < pdf["bsz"].iloc[0]:
        return None
    x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    return pdf["vec_id"].to_numpy(), x, pdf["enorm"].to_numpy(dtype=np.float64)


@register(
    "embed_cosine_dedup",
    f"""
    WITH sized AS (
      SELECT vec_id, label, embedding,
             COUNT(*) OVER (PARTITION BY label) AS bsz
      FROM embeddings
    ),
    e AS (
      SELECT vec_id, label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      FROM sized WHERE bsz <= {MAX_BLOCK}
    )
    SELECT a.vec_id AS a, b.vec_id AS b, a.label,
           ROUND(
             list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
             / nullif(a.nrm * b.nrm, 0), 6
           ) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
          / nullif(a.nrm * b.nrm, 0) >= {DEDUP_COS_TAU}
    """,
    doc=(
        "Embedding-cosine near-dup pairs via BLOCKING: exact all-pairs "
        "cosine within each metadata block (label), threshold "
        f"{DEDUP_COS_TAU}. The classic record-linkage shape: one shuffle "
        "on the blocking key, then one grouped-map call per block scores "
        f"its cosine tiles ({TILE} rows × block) in dot()'s fold, so cost "
        f"is sum of block². Blocks over {MAX_BLOCK} rows are excluded by a "
        "Spark-side size census (quadratic guard) and belong to the "
        "approximate path (ann_lsh_topk's banding); production subdivides "
        "with finer keys (label × coarse bucket)."
    ),
)
def q_embed_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    # The kernel hands Spark every raw cosine that half-up rounding can
    # lift to τ; Spark rounds to 6 dp and filters the rounded cos_sim.
    floor = DEDUP_COS_TAU - 1e-6

    def pairs(pdf):
        block = block_arrays(pdf)
        if block is None:
            return pd.DataFrame(columns=["a", "b", "label", "cos"])
        ids, x, n = block
        out = []
        for lo, tile in cosine_tiles(x, n, x, n):
            i, j = ((ids[lo : lo + len(tile), None] < ids) & (tile >= floor)).nonzero()
            out.append(pd.DataFrame({"a": ids[lo + i], "b": ids[j], "cos": tile[i, j]}))
        res = pd.concat(out, ignore_index=True)
        res.insert(2, "label", pdf["label"].iloc[0])
        return res

    guarded = size_guard(
        emb.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("enorm")), "label"
    )
    label_t = emb.schema["label"].dataType.simpleString()
    return (
        guarded.groupBy("label")
        .applyInPandas(pairs, f"a long, b long, label {label_t}, cos double")
        .select("a", "b", "label", F.round("cos", 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= DEDUP_COS_TAU)
    )


# int8 quantization ladder for embedding compression: 255 steps between
# the per-dimension corpus min and max (asymmetric affine, the faiss
# SQ8 shape). Rounding is written FLOOR(x + 0.5) in BOTH engines —
# identical IEEE ops — instead of engine ROUND(), whose half-way rule
# differs across SQL dialects.
QUANT_STEPS = 255.0


@register(
    "embed_quantize_stats",
    f"""
    WITH dims AS (
      SELECT vec_id, label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
    ),
    stats AS (SELECT pos, MIN(x) AS xmin, MAX(x) AS xmax FROM dims GROUP BY pos),
    errs AS (
      SELECT d.vec_id, d.label,
             CASE WHEN s.xmax > s.xmin THEN
               ABS(d.x - (s.xmin
                 + FLOOR((d.x - s.xmin) / ((s.xmax - s.xmin) / {QUANT_STEPS}) + 0.5)
                   * ((s.xmax - s.xmin) / {QUANT_STEPS})))
             ELSE 0.0 END AS err
      FROM dims d JOIN stats s USING (pos)
    )
    SELECT label,
           COUNT(DISTINCT vec_id) AS n_vecs,
           ROUND(MAX(err), 6) AS max_abs_err,
           ROUND(CAST(SUM(CAST(err AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err
    FROM errs GROUP BY label
    """,
    doc=(
        "Embedding int8-quantization audit: per-dimension asymmetric "
        f"affine codes ({QUANT_STEPS:.0f} steps between the corpus "
        "min/max of each dimension — the faiss SQ8 shape), reporting "
        "max and mean absolute reconstruction error per label — the "
        "go/no-go check before compressing a 100 TB embedding store "
        "4x for ANN serving. The per-dimension stats frame is "
        "dim-cardinality (64 rows) regardless of corpus size and "
        "broadcasts back onto the dimension stream; error terms "
        "accumulate as DECIMAL(38,18); every float op (scale, code, "
        "dequant, |err|) is a correctly-rounded IEEE expression "
        "written identically in both engines."
    ),
)
def q_embed_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select("vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("xf").cast("double").alias("x"))
    stats = dims.groupBy("pos").agg(F.min("x").alias("xmin"), F.max("x").alias("xmax"))
    scale = (F.col("xmax") - F.col("xmin")) / F.lit(QUANT_STEPS)
    deq = F.col("xmin") + F.floor((F.col("x") - F.col("xmin")) / scale + 0.5) * scale
    err = F.when(F.col("xmax") > F.col("xmin"), F.abs(F.col("x") - deq)).otherwise(0.0)
    return (
        dims.join(F.broadcast(stats), "pos")
        .select("vec_id", "label", err.alias("err"))
        .groupBy("label")
        .agg(
            F.countDistinct("vec_id").alias("n_vecs"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
            F.round(
                F.sum(F.col("err").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_abs_err"),
        )
    )


@register(
    "embed_centroid_stats",
    """
    WITH dims AS (
      SELECT vec_id, label, t.pos, CAST(embedding[t.pos] AS DOUBLE) AS x
      FROM embeddings, UNNEST(range(1, len(embedding) + 1)) AS t(pos)
    ),
    cent AS (
      SELECT label, pos,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      FROM dims GROUP BY label, pos
    ),
    parts AS (
      SELECT d.vec_id, d.label,
             CAST(SUM(CAST(d.x * c.m AS DECIMAL(38,18))) AS DOUBLE) AS dotc,
             CAST(SUM(CAST(d.x * d.x AS DECIMAL(38,18))) AS DOUBLE) AS nx2,
             CAST(SUM(CAST(c.m * c.m AS DECIMAL(38,18))) AS DOUBLE) AS nc2
      FROM dims d JOIN cent c USING (label, pos)
      GROUP BY d.vec_id, d.label
    ),
    coss AS (
      SELECT vec_id, label,
             CASE WHEN nx2 > 0 AND nc2 > 0
                  THEN dotc / (sqrt(nx2) * sqrt(nc2)) END AS c
      FROM parts
    )
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(CAST(SUM(CAST(c AS DECIMAL(38,18))) AS DOUBLE) / COUNT(c), 6)
             AS avg_cos_to_centroid,
           ROUND(MIN(c), 6) AS min_cos_to_centroid
    FROM coss GROUP BY label
    """,
    doc=(
        "Embedding cluster-tightness audit: per-label centroid "
        "(elementwise mean) and each vector's cosine to its own "
        "centroid, reported as per-label count / mean / worst cosine — "
        "the drift and mislabel detector run before trusting label "
        "blocking (embed_cosine_dedup) or training an IVF codebook on "
        "a label-sharded 100 TB embedding store. The centroid frame is "
        "label x dim cardinality (KBs) regardless of corpus size and "
        "broadcasts back onto the dimension stream; every sum "
        "accumulates as DECIMAL(38,18) so the result is "
        "partition-order independent; zero-norm vectors yield NULL "
        "cosine and are excluded from the mean (COUNT(c) semantics in "
        "both engines)."
    ),
)
def q_embed_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos0", "xf")
    ).select(
        "vec_id", "label", (F.col("pos0") + 1).alias("pos"), F.col("xf").cast("double").alias("x")
    )
    dec = "decimal(38,18)"
    cent = dims.groupBy("label", "pos").agg(
        (F.sum(F.col("x").cast(dec)).cast("double") / F.count(F.lit(1))).alias("m")
    )
    parts = (
        dims.join(F.broadcast(cent), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum((F.col("x") * F.col("m")).cast(dec)).cast("double").alias("dotc"),
            F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("nx2"),
            F.sum((F.col("m") * F.col("m")).cast(dec)).cast("double").alias("nc2"),
        )
    )
    cos_c = F.when(
        (F.col("nx2") > 0) & (F.col("nc2") > 0),
        F.col("dotc") / (F.sqrt(F.col("nx2")) * F.sqrt(F.col("nc2"))),
    )
    return (
        parts.select("vec_id", "label", cos_c.alias("c"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("c").cast(dec)).cast("double") / F.count("c"), 6
            ).alias("avg_cos_to_centroid"),
            F.round(F.min("c"), 6).alias("min_cos_to_centroid"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) ANN — the ADC-scan variant (Jégou et al. 2011,
# "Product Quantization for Nearest Neighbor Search", public paper; the
# faiss IndexPQ shape). Complements IVF: IVF prunes WHICH rows are
# scanned, PQ compresses WHAT a scan reads — at 100 TB the corpus scan
# side of a query batch reads PQ_M small ints per vector (the codes)
# instead of the raw float array, a ~32× byte reduction at these
# parameters, and the two compose (IVF-PQ) by encoding residuals per cell.
# ---------------------------------------------------------------------------

PQ_M = 8  # subspaces; PQ_M * PQ_DSUB = embedding dim (64)
PQ_DSUB = 8
PQ_K = 16  # centroids per subspace → 4-bit codes
# ADC candidates per query that get an exact-cosine re-rank. ADC scores
# are approximate (32-bit codes); re-ranking a small candidate set from
# the raw vectors restores exactness for the survivors — the standard
# two-stage PQ serving shape. 200 is calibrated on the ISOTROPIC fixture
# (the worst case for any quantizer — true cosine gaps are ≈1σ of the
# ADC error, so the candidate set has to be wide: measured recall@5
# 0.82→0.86 over CAND 50→100 at sf0.01, 0.66→0.84 over 100→200 at
# sf0.1). Re-rank cost is CAND×dim per query — negligible next to the
# code scan at any corpus size. On clustered corpora (the realistic
# case) the codebook concentrates and far narrower CANDs reach the same
# recall — deployments tune DOWN from this adversarial setting, as with
# N_PROBE. PQ_K stays at 16: larger K needs a larger k-means train
# sample than the fixture provides (measured WORSE at K=32/64 on
# sf0.01's 50-vector sample — empty/overfit cells).
PQ_CAND = 200


def _subvecs(vec: Column) -> Column:
    """Split a PQ_M*PQ_DSUB vector into PQ_M double sub-vectors."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        lambda s: F.transform(F.slice(vec, s * PQ_DSUB + 1, PQ_DSUB), lambda x: x.cast("double")),
    )


def books_frame(spark: SparkSession, book_rows: list) -> DataFrame:
    """The PQ codebooks as a 1-row broadcastable frame, built from
    pq_codebook's driver-side rows: column ``books``, an array (by
    subspace) of array of struct<pos, cvec, n2>. The query LUTs and the
    persisted ``books.parquet`` read it."""
    books = [[{"pos": p, "cvec": c, "n2": _sqnorm(c)} for p, c in book] for book in book_rows]
    return one_row_frame(
        spark, "books", "array<array<struct<pos:int,cvec:array<double>,n2:double>>>", books
    )


def pq_codebook(emb: DataFrame) -> tuple:
    """Train the per-subspace L2 k-means codebooks once and return them
    in both forms their consumers need: ``(books_arr, book_rows)`` — the
    1-row broadcastable frame (books_frame) and the same books as
    driver-side rows, per subspace ``[(pos, cvec), ...]`` (pq_encode).

    Seeds are the first PQ_K vec_ids sliced into PQ_M subspaces (the
    ivf_codebook convention). Each Lloyd pass encodes _train_sample with
    pq_encode — the codes the corpus itself gets — and averages per
    (sub, code, dim) in Spark: map-side partial aggregation keeps the
    shuffle and the collect at PQ_M×PQ_K×PQ_DSUB rows at any corpus size.
    A position no training vector reaches leaves that subspace's book;
    codes are array positions, not ``pos`` labels, so the query-side LUT
    built from the same arrays stays aligned.
    """
    seed_rows = emb.filter(F.col("vec_id") < PQ_K).select("vec_id", "embedding").collect()
    if not seed_rows:
        raise ValueError(f"no seed vectors with vec_id < {PQ_K}")
    seeds = sorted((int(r["vec_id"]), [float(v) for v in r["embedding"]]) for r in seed_rows)
    books = [[(p, vec[s * PQ_DSUB : (s + 1) * PQ_DSUB]) for p, vec in seeds] for s in range(PQ_M)]
    train = _train_sample(emb).select("embedding", F.col("embedding").alias("x"))
    for _ in range(KMEANS_ITERS):
        means = (
            pq_encode(train, books)
            .select("x", F.posexplode("codes").alias("sub", "pos"))
            .select(
                "sub",
                "pos",
                F.posexplode(F.slice("x", F.col("sub") * PQ_DSUB + 1, PQ_DSUB)).alias("dim", "v"),
            )
            .groupBy("sub", "pos", "dim")
            .agg(F.avg(F.col("v").cast("double")).alias("m"))
            .collect()
        )
        by_pos: dict = {}
        for r in means:
            by_pos.setdefault((r["sub"], r["pos"]), [0.0] * PQ_DSUB)[r["dim"]] = r["m"]
        books = [[(p, c) for (s, p), c in sorted(by_pos.items()) if s == sub] for sub in range(PQ_M)]
    return books_frame(emb.sparkSession, books), books


def pq_encode(df: DataFrame, book_rows: list) -> DataFrame:
    """``df`` with ``embedding`` replaced by ``codes``, PQ_M positional
    codes per vector: the persisted form of a PQ index (PQ_M small ints
    + one double per vector; at 100 TB THIS is what ADC scans read, not
    the raw floats). Every other column passes through — vec_id, enorm
    and, for IVF-PQ, cell. One Arrow-batched numpy pass; a MapInPandas
    node is never inlined into the ADC fan-out, so the encode runs once
    per row.

    A code is the argmin over positions of ‖c‖² − 2·x·c (the row's own
    norm is constant across positions), in dot()'s operations: each
    8-dim dot summed left to right in double, ‖c‖² by _sqnorm, ties to
    the lowest position.
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

    cvecs = [np.array([c for _, c in book], dtype=np.float64) for book in book_rows]
    n2s = [np.array([_sqnorm(c) for _, c in book]) for book in book_rows]

    def encode(batches):
        for pdf in batches:
            if pdf.empty:
                continue  # np.stack raises on an empty Arrow batch
            x = np.stack(pdf.pop("embedding").to_numpy()).astype(np.float64)
            codes = np.empty((len(x), PQ_M), dtype=np.int32)
            for s, (c, n2) in enumerate(zip(cvecs, n2s)):
                xs = x[:, s * PQ_DSUB : (s + 1) * PQ_DSUB]
                acc = np.zeros((len(x), len(c)))
                for j in range(PQ_DSUB):
                    acc = acc + xs[:, j, None] * c[:, j]
                codes[:, s] = np.argmin(n2 - 2.0 * acc, axis=1)
            pdf["codes"] = list(codes)
            yield pdf

    fields = [f for f in df.schema.fields if f.name != "embedding"]
    return df.mapInPandas(
        encode, StructType(fields + [StructField("codes", ArrayType(IntegerType()))])
    )


def _query_lut(vec: Column, books: Column) -> Column:
    """lut[sub][pos] = dot(vec_sub, centroid) over the SAME books array
    the codes index into — position-aligned by construction. Shared by
    the PQ and IVF-PQ query sides (a tuning change must hit both)."""
    return F.transform(
        _subvecs(vec),
        lambda sv, s: F.transform(F.element_at(books, s + 1), lambda c: dot(sv, c["cvec"])),
    )


def _adc(lut: Column, codes: Column) -> Column:
    """Asymmetric-distance score: Σ_sub lut[sub][codes[sub]] — PQ_M
    array lookups per (query, vector) pair, no vector math."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(F.element_at(lut, s + 1), F.element_at(codes, s + 1) + 1),
    )


def _topk_candidates(scored: DataFrame, cand: int) -> DataFrame:
    """Top `cand` (qid, vec_id) by approx_cos, vec_id tiebreak."""
    w = Window.partitionBy("qid").orderBy(F.desc("approx_cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cand)
        .select("qid", "vec_id")
    )


def _exact_rerank(emb: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact-cosine re-rank of a small candidate set against the raw
    vectors (broadcast both tiny sides) → top-K. Shared PQ/IVF-PQ tail:
    only ADC survivors pay full-precision math."""
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    rer = (
        emb.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("qvec"), F.col("embedding")), 6).alias("cos_sim"),
        )
    )
    return topk_per_query(rer)



@register(
    "ann_pq_topk",
    None,  # codebook/code assignment is implementation-specific → rows-only;
    # quantitative guard = tools/check.py --recall vs the exact oracle.
    doc=(
        f"ANN via product quantization + ADC scan (faiss IndexPQ shape): "
        f"{PQ_M} subspaces × {PQ_K} L2-k-means centroids (4-bit codes, "
        f"32 bits/vector vs 2048 raw), corpus encoded once by an "
        "Arrow-batched numpy argmin (pq_encode, mapInPandas; the same "
        "pass trains the codebooks), queries build a per-subspace dot-product "
        "lookup table against the SAME broadcast codebook, and the scan "
        f"scores codes by {PQ_M} table lookups per pair (asymmetric "
        f"distance). Top-{PQ_CAND} ADC candidates per query get an "
        f"exact-cosine re-rank from the raw vectors → top-{TOP_K}. At "
        "100 TB the scan side reads ~32× fewer bytes than raw floats "
        "and composes with IVF cell pruning (IVF-PQ)."
    ),
)
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    books, book_rows = pq_codebook(emb)
    # spread ONLY the encode output, as in ann_ivf_topk: the encode runs
    # on the scan's own splits (one Python round trip per task), and the
    # ADC scoring fan-out downstream gets every core. No-op at scale.
    enc = spread(
        pq_encode(
            emb.select("vec_id", "embedding", norm(F.col("embedding")).alias("enorm")), book_rows
        ),
        "vec_id",
    )
    # N_QUERIES rows × PQ_M×PQ_K doubles: broadcasts.
    q = emb.filter(F.col("vec_id") < N_QUERIES).crossJoin(F.broadcast(books)).select(
        F.col("vec_id").alias("qid"),
        norm(F.col("embedding")).alias("qnorm"),
        _query_lut(F.col("embedding"), F.col("books")).alias("lut"),
    )
    scored = (
        enc.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                _adc(F.col("lut"), F.col("codes"))
                / F.nullif(F.col("qnorm") * F.col("enorm"), F.lit(0.0))
            ).alias("approx_cos"),
        )
    )
    return _exact_rerank(emb, _topk_candidates(scored, PQ_CAND))


# ---------------------------------------------------------------------------
# SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
# web-scale through semantic deduplication" — public paper): k-means
# cluster the embedding space, call within-cluster pairs above a cosine
# threshold semantic duplicates, and keep the cluster member FARTHEST
# from its centroid (the paper's diversity-preserving survivor rule).
# The learned-cluster twin of embed_cosine_dedup's metadata blocking —
# it needs no label column, which is the realistic web-corpus case.
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = DEDUP_COS_TAU  # same fixture calibration as embed_cosine_dedup


@register(
    "semdedup",
    None,  # k-means-cell-dependent → rows-only; the survivor rule is
    # exactness-tested on a constructed corpus in tests/test_skew_and_ann.py.
    doc=(
        "SemDeDup (Abbas et al. 2023): per-k-means-cell semantic-dup "
        f"audit. Vectors assigned to {N_CELLS} spherical-k-means cells "
        "by ivf_assign's zero-shuffle numpy argmax (ivf_codebook reused); "
        "one grouped-map call per cell scores its cosine tiles in dot()'s "
        f"fold: pairs with cosine ≥ {SEMDEDUP_TAU} are semantic dups "
        "and the member FARTHEST from the centroid survives (the "
        "paper's diversity rule; vec_id tiebreak). Returns per-cell "
        "(n_vecs, n_dup_pruned, n_kept). Within-cell cost is cell² — "
        f"cells over {MAX_BLOCK} rows never reach Python (the same "
        "Spark-side size census as embed_cosine_dedup) and are reported "
        "capped with zero prunes; production scales N_CELLS with "
        "the corpus so cells stay bounded, which is also what keeps "
        "k-means assignment the only corpus-sized pass."
    ),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings")
    _, cent_rows = ivf_codebook(emb)
    cvecs = {int(c): np.array(v, dtype=np.float64) for c, v in cent_rows}
    tau = SEMDEDUP_TAU

    def pruned(cvec, ids, x, n):
        # cos to own centroid: centroids are unit vectors, so dot(v, c)
        # is ‖v‖·cos — the same fold, one division per row.
        ccos = _nullif_div(_fold(x, cvec[None, :])[:, 0], n)
        out = np.zeros(len(ids), dtype=bool)
        for lo, tile in cosine_tiles(x, n, x, n):
            hi = lo + len(tile)
            ca, ia = ccos[lo:hi, None], ids[lo:hi, None]
            # Row i is PRUNED when some dup partner j sits farther from
            # the centroid (j wins the survivor rule); vec_id breaks exact
            # ccos ties, and the strict order never pairs a row with itself.
            loses = (ccos < ca) | ((ccos == ca) & (ids < ia))
            out[lo:hi] = ((tile >= tau) & loses).any(axis=1)
        return out

    def census(pdf):
        cell, bsz = int(pdf["cell"].iloc[0]), int(pdf["bsz"].iloc[0])
        block = block_arrays(pdf)
        # A capped cell stays in the census with zero prunes, so Σ n_vecs
        # reconciles with the corpus: the guard suppresses pairing, never rows.
        k = 0 if block is None else int(pruned(cvecs[cell], *block).sum())
        return pd.DataFrame(
            {"cell": [cell], "n_vecs": [bsz], "n_dup_pruned": [k], "n_kept": [bsz - k],
             "capped": [block is None]}
        )

    return (
        size_guard(ivf_assign(emb, cent_rows), "cell")
        .groupBy("cell")
        .applyInPandas(
            census, "cell long, n_vecs bigint, n_dup_pruned bigint, n_kept bigint, capped boolean"
        )
    )


# ---------------------------------------------------------------------------
# IVF-PQ: the composition the two building blocks exist for (faiss
# IndexIVFPQ; Jégou et al. 2011 §IV) — IVF prunes WHICH cells a query
# scans, PQ compresses WHAT the scan reads, and the codes encode the
# RESIDUAL (vector − its cell centroid) so the quantizer spends its
# 32 bits on the within-cell remainder instead of re-describing the cell.
# At 100 TB this is the deployed shape: the index is the cell-partitioned
# residual-code table (partitionBy("cell"), PQ_M bytes + a norm per
# vector), a query batch touches N_PROBE/N_CELLS of it and reads ~32×
# fewer bytes per touched row.
# ---------------------------------------------------------------------------

# ADC candidates re-ranked exactly per query. Same isotropic-fixture
# calibration story as PQ_CAND: measured recall@5 at CAND 100→200 was
# 0.78→0.92 (sf0.01) and 0.64→0.86 (sf0.1); the compounding of IVF's
# probed-mass cap and ADC ordering error is exactly why IndexIVFPQ
# deployments re-rank a generous candidate set from stored raw vectors.
IVFPQ_CAND = 200


@register(
    "ann_ivfpq_topk",
    None,  # codebooks/codes are implementation-specific → rows-only;
    # quantitative guard = tools/check.py --recall.
    doc=(
        f"ANN via IVF-PQ (faiss IndexIVFPQ shape): spherical-k-means "
        f"coarse quantizer routes each vector to a cell (ivf_assign's "
        f"zero-shuffle numpy argmax, shared with ann_ivf_topk), PQ "
        f"codebooks train on the RESIDUALS (vector − centroid) and "
        f"compress each vector to "
        f"{PQ_M * 4} bits; a query probes its {N_PROBE}/{N_CELLS} "
        "nearest cells and scores their codes as dot(q, centroid) + "
        "ADC(residual codes) — cell pruning and byte compression "
        f"compose. Top-{IVFPQ_CAND} candidates re-rank exact → "
        f"top-{TOP_K}."
    ),
)
def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents_arr, books, enc = ivfpq_fit(emb)
    # spread ONLY the encode output (see ann_pq_topk): the ADC scoring
    # fan-out otherwise runs in the single-row-group scan's one task.
    return ivfpq_query(emb, cents_arr, books, spread(enc, "vec_id"))


def ivfpq_fit(emb: DataFrame) -> tuple:
    """``(cents_arr, books, enc)``: the IVF-PQ state every entry point
    shares — the coarse codebook frame, the PQ codebook frame trained on
    the residuals, and the (lazy) residual-code rows
    ``(vec_id, enorm, cell, codes)``. ann_ivfpq_topk probes them in
    memory; ivfpq_train persists them for ann_ivfpq_apply, so both serve
    the same codebooks.

    Residuals are staged once (r9): both consumers — PQ codebook
    training (sampled collect) and the full encode pass — otherwise
    re-run the corpus-sized assignment + centroid-subtract pipeline
    (measured 3.7-4.0 s → 3.0-3.2 s at sf0.1, results identical). At
    index-build scale this is the materialized residual table
    IndexIVFPQ training reads anyway."""
    cents_arr, cent_rows = ivf_codebook(emb, ivf_cells())
    resid = checkpoint_frame(ivf_assign(emb, cent_rows, residual=True))
    books, book_rows = pq_codebook(resid)
    return cents_arr, books, pq_encode(resid, book_rows)


def ivfpq_query(
    emb: DataFrame, cents_arr: DataFrame, books: DataFrame, enc: DataFrame
) -> DataFrame:
    """IVF-PQ query side, shared by the self-contained `ann_ivfpq_topk`
    (in-memory index frames) and the persisted-index `ann_ivfpq_apply`
    (frames read back from parquet): probe cells exactly like
    ann_ivf_topk, but keep the query-centroid dot (the coarse term of
    the score) per probe, and build ONE residual LUT per query against
    the same broadcast books. The probe→codes step is an equi-join on
    `cell`; when `enc` is the cell-partitioned on-disk index, Catalyst's
    dynamic partition pruning turns the broadcast probe side into a
    directory-level PartitionFilter on the scan (plan-asserted in
    tests/test_ann_lifecycle.py) — a query batch never reads the
    unprobed cells."""
    probes = (
        query_frame(emb)
        .crossJoin(F.broadcast(cents_arr))
        .crossJoin(F.broadcast(books))
        .select(
            "qid",
            "qnorm",
            F.explode(F.slice(cells_by_sim(), 1, ivf_probe())).alias("probe"),
            _query_lut(F.col("qvec"), F.col("books")).alias("lut"),
        )
        .select(
            "qid",
            "qnorm",
            F.col("probe.cell").alias("cell"),
            (-F.col("probe.neg_sim")).alias("q_dot_cent"),
            "lut",
        )
    )
    scored = (
        enc.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            (
                (F.col("q_dot_cent") + _adc(F.col("lut"), F.col("codes")))
                / F.nullif(F.col("qnorm") * F.col("enorm"), F.lit(0.0))
            ).alias("approx_cos"),
        )
    )
    return _exact_rerank(emb, _topk_candidates(scored, IVFPQ_CAND))


def ivfpq_train(emb: DataFrame, path: str) -> None:
    """Train the IVF-PQ state ONCE and persist all of it under `path`:

    - ``cents.parquet`` — the 1-row coarse-quantizer codebook frame
      (query-side state, broadcast at probe time),
    - ``books.parquet`` — the 1-row per-subspace PQ codebook frame
      (query-side state, broadcast at probe time),
    - ``index/`` — the residual-code rows ``partitionBy("cell")``
      (scan-side state: PQ_M small ints + one norm per vector in place
      of the raw floats, so a probe read prunes at the directory level
      AND reads ~32× fewer bytes per surviving row),
    Completion marking and atomicity live in artifacts.ensure_published
    (the caller): this function only writes the state tree under
    ``path``, which in the apply lifecycle is a scratch dir that is
    atomically renamed into place with the ``_TRAINED`` marker already
    inside — readers can never observe a half-built index, and
    concurrent first-touch builders resolve by rename (the loser
    discards its identical deterministic state). A cluster deployment
    still makes index builds an explicit, serialized pipeline step.

    The index overwrite is deliberately STATIC — pinned per-write, not
    inherited from the session (a deployment that sets
    spark.sql.sources.partitionOverwriteMode=dynamic globally must not
    change rebuild semantics): a rebuild replaces the WHOLE index.
    Dynamic partition overwrite would keep any cell directory the new
    assignment no longer populates (codebook drift can empty a cell),
    and probe reads would then return vec_ids from the previous build.
    Incremental upserts belong to a table format with deletes
    (Delta/Iceberg), not raw parquet.

    This is the train-once/apply-many half the registry's
    self-contained-query contract couldn't show (DEPLOY.md §2): at
    100 TB the codebooks train on the hash-sample once, the corpus
    encodes once, and every query batch afterwards pays only the probe
    cost (`ann_ivfpq_apply`), never the two k-means trainings.

    Codebook size comes from ivf_cells() (SPARK_GRAFT_IVF_CELLS, else
    the N_CELLS fixture default); the numpy matmul assignment is what
    makes DEPLOY.md §2's √N sizing executable — training at the
    measured-optimal 1414 cells completes in minutes.
    """
    cents_arr, books, enc = ivfpq_fit(emb)
    cents_arr.write.mode("overwrite").parquet(f"{path}/cents.parquet")
    books.write.mode("overwrite").parquet(f"{path}/books.parquet")
    # One shuffle keyed on cell so each task writes whole cell
    # directories. Unconditional (r14): writing partitionBy("cell")
    # from vec_id-partitioned data sprays tasks×cells tiny files at
    # EVERY codebook size — measured at 2M vectors/16 cells, the
    # 512-file spray tripled the steady-state probe wall (19.9 s vs
    # 5.8 s against the cell-keyed 16-file layout) purely on per-file
    # open/footer overhead.
    (
        enc.repartition(emb.sparkSession.sparkContext.defaultParallelism, "cell")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("cell")
        .parquet(f"{path}/index")
    )


# Session-scoped serving-frame cache (r14 verdict item 3): the
# registered apply path re-ran `spark.read.parquet` on every call —
# re-listing the cell-partitioned index tree (one directory per cell:
# 1414 dirs at the measured-optimal √N geometry) and re-deriving the
# partition schema, which put the warm registered call at 4.0-4.8 s
# against the probe tool's 1.12 s holding frames across calls on the
# SAME index. A plain bounded LRU keyed by (session identity, path,
# marker identity), NOT a WeakKeyDictionary on the session: a cached
# DataFrame strongly references its SparkSession, so weak keying would
# never collect anything (value → key cycle, r15 review) while
# PRETENDING to be leak-free. The global bound is the real guarantee:
# at most _SERVE_CACHE_MAX entries process-wide, LRU-evicted, so
# stopped sessions' frames linger at worst until eviction. Marker
# identity = the _TRAINED file's CONTENT (a per-build uuid written by
# ensure_published) + (st_dev, st_ino): content changes on every
# in-place rebuild (crashed-build recovery recreates the marker; the
# cached frames' file listing would point at replaced part files) and
# survives warm-hit utime touches; the inode pair alone is reusable
# after a reap (r15 review).
_SERVE_CACHE_MAX = 4
_SERVE_CACHE: dict = {}


def _session_key(spark: SparkSession) -> str:
    """A stable, non-referencing identity for the session: DataFrames
    are session-bound, so frames cached under one session must never
    be served to another (same JVM, different SparkSession). The JVM
    sessionUUID is unique per session; fall back to id() if the
    private accessor moves."""
    try:
        return str(spark._jsparkSession.sessionUUID())
    except Exception:
        return f"id:{id(spark)}"


def _serving_frames(spark: SparkSession, path: str):
    """(cents, books, enc) DataFrames for a published IVF-PQ index at
    ``path``, cached — see _SERVE_CACHE. The marker read doubles as
    the existence check: a path reaped between ensure_published and
    here surfaces as FileNotFoundError, and the caller's contract
    (artifacts.reap_stale docstring) is to retry through
    ensure_published."""
    marker = os.path.join(path, "_TRAINED")
    st = os.stat(marker)
    with open(marker) as fh:
        build_id = fh.read(64)
    token = (_session_key(spark), path, build_id, st.st_dev, st.st_ino)
    hit = _SERVE_CACHE.pop(token, None)  # pop+reinsert = LRU bump
    if hit is None:
        hit = (
            spark.read.parquet(f"{path}/cents.parquet"),
            spark.read.parquet(f"{path}/books.parquet"),
            spark.read.parquet(f"{path}/index"),
        )
        while len(_SERVE_CACHE) >= _SERVE_CACHE_MAX:
            _SERVE_CACHE.pop(next(iter(_SERVE_CACHE)))
    _SERVE_CACHE[token] = hit
    return hit


def _ivfpq_index_path(sf_dir: str) -> str:
    """Deterministic per-corpus index location: real path PLUS a
    content fingerprint of the embeddings parquet folded into the key
    (artifacts.artifact_path), under a per-user 0700 cache root
    overridable via SPARK_GRAFT_INDEX_DIR (local paths only). Path
    collisions and in-place corpus regeneration both map to distinct
    keys — the two silent-wrong-answer routes
    tests/test_ann_lifecycle.py guards. The effective cell count rides
    in the kind prefix: a deployment that resizes
    SPARK_GRAFT_IVF_CELLS must retrain, never be served an index built
    at a different geometry (its probe side would slice N_PROBE of the
    WRONG codebook)."""
    return artifact_path(f"ivfpq_c{ivf_cells()}", sf_dir, "embeddings")


@register(
    "ann_ivfpq_apply",
    None,  # codebooks/codes are implementation-specific → rows-only;
    # quantitative guard = tools/check.py --recall (same 0.75 floor as
    # the self-contained ann_ivfpq_topk it shares its query side with).
    doc=(
        "IVF-PQ SERVING: the train-once/apply-many lifecycle of "
        "ann_ivfpq_topk (bpe_merges→bpe_encode shape). First call per "
        "corpus trains and persists the full index state (ivfpq_train: "
        "coarse + PQ codebooks as 1-row parquet frames, residual codes "
        "partitionBy('cell')); every later call — the steady state a "
        "deployment lives in — reads the codebooks back as broadcast "
        "frames and probes the on-disk index, paying only the probe "
        "cost, never the two k-means trainings. The probe equi-join on "
        "`cell` dynamic-partition-prunes the index scan to the probed "
        "directories (plan-asserted), then exact re-rank from the raw "
        "vectors as usual."
    ),
)
def q_ann_ivfpq_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same guard as bpe_merges_cached: the persisted lifecycle is
    # local-FS only (content fingerprint stats the parquet tree), so a
    # corpus that isn't a real local path — remote URI sf_dir, tests
    # monkeypatching load_table — trains inline (the self-contained
    # ann_ivfpq_topk) instead of raising FileNotFoundError out of
    # corpus_fingerprint.
    if not os.path.exists(os.path.join(os.path.realpath(sf_dir), "embeddings.parquet")):
        return q_ann_ivfpq_topk(spark, sf_dir)
    from pyspark.errors import AnalysisException

    emb = load_table(spark, sf_dir, "embeddings")

    path = ensure_published(_ivfpq_index_path(sf_dir), lambda p: ivfpq_train(emb, p))
    try:
        cents_arr, books, enc = _serving_frames(spark, path)
    except (FileNotFoundError, AnalysisException):
        # Reaped in the ensure_published→read window (reap_stale's
        # documented residual race): the marker stat raises
        # FileNotFoundError, but the same race landing one step later
        # surfaces from spark.read.parquet as AnalysisException
        # (PATH_NOT_FOUND) — both mean "rebuild once and read fresh"
        # (r15 review).
        path = ensure_published(_ivfpq_index_path(sf_dir), lambda p: ivfpq_train(emb, p))
        cents_arr, books, enc = _serving_frames(spark, path)
    return ivfpq_query(emb, cents_arr, books, enc)


@register(
    "ann_filtered_topk",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ),
    e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS evec
      FROM embeddings
    ),
    scored AS (
      SELECT q.qid, e.vec_id,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.evec), p -> p[1] * p[2]))
               / nullif(sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                        * sqrt(list_sum(list_transform(e.evec, x -> x * x))), 0),
               6
             ) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.qid AND e.label <> q.qlabel
    ),
    ranked AS (
      SELECT qid, vec_id, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos_sim DESC, vec_id ASC) AS rn
      FROM scored
    )
    SELECT qid, vec_id, cos_sim, rn FROM ranked WHERE rn <= {TOP_K}
    """,
    doc=(
        "FILTERED vector search: top-k nearest neighbors restricted by "
        "a metadata predicate — here label <> query's label, i.e. the "
        "hard-negative-mining query of contrastive training (closest "
        "vectors that are NOT the query's class), and the general "
        "shape every vector store must serve (search within tenant / "
        "language / date range). The predicate is cosine_scan's pair "
        "mask, applied BEFORE each batch keeps its top-k — pre-filtering, "
        "which keeps top-k exact, vs the post-filter-then-hope "
        "recall loss a bucketed index suffers when the filter is "
        "selective; at 100 TB the play is partitioning the index by "
        "the filter column (ivfpq_train's partitionBy pattern) so "
        "pre-filtering prunes files, not rows."
    ),
)
def q_ann_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.select("vec_id", "label", "embedding", norm(F.col("embedding")).alias("enorm"))
    q = query_frame(emb, F.col("label").alias("qlabel"))

    def other_label(qt, batch):
        other = qt["qlabel"].to_numpy()[:, None] != batch["label"].to_numpy()
        return _not_self(qt, batch) & other

    scored = cosine_scan(q, corpus, other_label, k=TOP_K)
    return topk_per_query(scored.select("qid", "vec_id", F.round("cos", 6).alias("cos_sim")))


# Pairwise-similarity census: sample modulus and histogram width.
HIST_SAMPLE_MOD = 4
HIST_BUCKETS = 20


@register(
    "pairwise_cosine_histogram",
    f"""
    WITH s AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings WHERE vec_id % {HIST_SAMPLE_MOD} = 0
    ),
    scored AS (
      SELECT ROUND(
               list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2]))
               / nullif(sqrt(list_sum(list_transform(a.v, x -> x * x)))
                        * sqrt(list_sum(list_transform(b.v, x -> x * x))), 0),
               6) AS cos_sim
      FROM s a JOIN s b ON a.vec_id < b.vec_id
    )
    SELECT LEAST(CAST(FLOOR((cos_sim + 1.0) * {HIST_BUCKETS} / 2.0) AS BIGINT),
                 {HIST_BUCKETS - 1}) AS bucket,
           COUNT(*) AS n_pairs,
           ROUND(MIN(cos_sim), 6) AS lo,
           ROUND(MAX(cos_sim), 6) AS hi
    FROM scored GROUP BY 1
    """,
    doc=(
        "Pairwise-cosine distribution over a deterministic corpus "
        "sample — the embedding-space health census (collapsed "
        "histogram = mode collapse / bad normalization; the standard "
        "pre-dedup diagnostic before choosing semdedup/embed_cosine "
        "thresholds). Sample by vec_id modulus keeps the quadratic "
        "pair count bounded and REPRODUCIBLE (no rand()): n/MOD "
        "vectors -> ~(n/MOD)^2/2 pairs; at 100 TB the modulus scales "
        "with corpus size to hold the pair budget constant. Pairs "
        "(a.vec_id < b.vec_id) scored by cosine_scan: the sample is "
        "collected and scored against each Arrow batch of itself in one "
        "mapInPandas pass, cosine ROUNDED 6 dp BEFORE bucketing so the "
        "floor-bucket edge cannot sit on a 1-ulp cross-engine "
        "difference (the cosine_topk discipline); bucket k covers "
        "[-1 + k/10, ...), cos=1.0 clamped into the top bucket."
    ),
)
def q_pairwise_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    s = emb.filter(F.col("vec_id") % HIST_SAMPLE_MOD == 0).select(
        "vec_id", "embedding", norm(F.col("embedding")).alias("enorm")
    )
    q = s.select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qvec"),
        F.col("enorm").alias("qnorm"),
    )

    def later(qt, batch):
        return qt["qid"].to_numpy()[:, None] < batch["vec_id"].to_numpy()

    scored = cosine_scan(q, s, later).select(F.round("cos", 6).alias("cos_sim"))
    bucket = F.least(
        F.floor((F.col("cos_sim") + 1.0) * HIST_BUCKETS / 2.0).cast("bigint"),
        F.lit(HIST_BUCKETS - 1),
    )
    return scored.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(F.min("cos_sim"), 6).alias("lo"),
        F.round(F.max("cos_sim"), 6).alias("hi"),
    )


KNN_EVAL_K = 5
KNN_QUERY_MOD = 10  # every 10th vector plays the held-out query role
# Accuracy-sample size. The eval set is bounded ABSOLUTELY at this many
# queries, not as a corpus fraction: a fractional query set makes the
# scored-pair count quadratic in corpus size (measured 5.8x wall at 10x
# data before the cap), while a fixed sample keeps the eval cost linear
# and a 200-query binomial accuracy estimate carries a ±0.07 95% CI at
# worst — ample for the go/no-go this probe answers at any corpus size.
KNN_EVAL_SAMPLE = 200
KNN_QUERY_CAP = KNN_QUERY_MOD * KNN_EVAL_SAMPLE


@register(
    "knn_label_eval",
    f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS true_label,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
      FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} = 0 AND vec_id < {KNN_QUERY_CAP}
    ),
    e AS (
      SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS evec
      FROM embeddings WHERE vec_id % {KNN_QUERY_MOD} <> 0
    ),
    scored AS (
      SELECT q.qid, q.true_label, e.label,
             ROUND(
               list_sum(list_transform(list_zip(q.qvec, e.evec), p -> p[1] * p[2]))
               / nullif(sqrt(list_sum(list_transform(q.qvec, x -> x * x)))
                        * sqrt(list_sum(list_transform(e.evec, x -> x * x))), 0),
               6) AS cos_sim,
             e.vec_id
      FROM q CROSS JOIN e
    ),
    topk AS (
      SELECT qid, true_label, label FROM (
        SELECT qid, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY cos_sim DESC, vec_id ASC) AS rn
        FROM scored
      ) WHERE rn <= {KNN_EVAL_K}
    ),
    votes AS (
      SELECT qid, true_label, label, COUNT(*) AS v FROM topk
      GROUP BY qid, true_label, label
    ),
    pred AS (
      SELECT qid, true_label, label AS pred_label FROM (
        SELECT qid, true_label, label,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY v DESC, label ASC) AS rn
        FROM votes
      ) WHERE rn = 1
    )
    SELECT COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS accuracy
    FROM pred
    """,
    doc=(
        "k-NN label-consistency evaluation: hold out every "
        f"{KNN_QUERY_MOD}th vector, predict its label by majority vote "
        f"of its {KNN_EVAL_K} nearest corpus neighbors (cosine), and "
        "report accuracy — the standard embedding-quality probe "
        "(labels that k-NN can't recover from the geometry are labels "
        "the embedding doesn't encode; run before trusting semdedup / "
        "label-blocked dedup). Same collected-queries × corpus-scan "
        "shape as cosine_topk (cosine_scan; cos rounded 6 dp before ranking, "
        "unique vec_id tiebreak); majority vote = a second ROW_NUMBER "
        "over the ≤k×|labels| vote table with a label tiebreak, so "
        "the prediction is deterministic under vote ties in both "
        "engines. Output is a 1-row census."
    ),
)
def q_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(
        (F.col("vec_id") % KNN_QUERY_MOD == 0) & (F.col("vec_id") < KNN_QUERY_CAP)
    ).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qvec"),
        norm(F.col("embedding")).alias("qnorm"),
    )
    corpus = emb.filter(F.col("vec_id") % KNN_QUERY_MOD != 0).select(
        "vec_id", "label", "embedding", norm(F.col("embedding")).alias("enorm")
    )
    scored = cosine_scan(q, corpus, _not_self, k=KNN_EVAL_K).select(
        "qid", "true_label", "label", F.round("cos", 6).alias("cos_sim"), "vec_id"
    )
    topk = topk_per_query(scored, k=KNN_EVAL_K)
    votes = topk.groupBy("qid", "true_label", "label").agg(F.count(F.lit(1)).alias("v"))
    wv = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("label"))
    pred = votes.withColumn("rn", F.row_number().over(wv)).filter(F.col("rn") == 1)
    correct = F.sum(F.when(F.col("label") == F.col("true_label"), 1).otherwise(0))
    return pred.agg(
        F.count(F.lit(1)).alias("n_queries"),
        correct.cast("bigint").alias("n_correct"),
        F.round(correct.cast("double") / F.count(F.lit(1)), 6).alias("accuracy"),
    )


@register(
    "embedding_drift",
    """
    WITH exploded AS (
      SELECT label, vec_id % 2 AS half,
             generate_subscripts(embedding, 1) AS dim,
             UNNEST(list_transform(embedding, v -> CAST(v AS DOUBLE))) AS val
      FROM embeddings
    ),
    means AS (
      SELECT label, half, dim,
             CAST(SUM(CAST(val AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*) AS m
      FROM exploded GROUP BY label, half, dim
    ),
    paired AS (
      SELECT a.label, a.dim, a.m AS ma, b.m AS mb
      FROM means a JOIN means b
        ON a.label = b.label AND a.dim = b.dim AND a.half = 0 AND b.half = 1
    ),
    comp AS (
      SELECT label,
             CAST(SUM(CAST(ma * mb AS DECIMAL(38,18))) AS DOUBLE) AS dot,
             CAST(SUM(CAST(ma * ma AS DECIMAL(38,18))) AS DOUBLE) AS na,
             CAST(SUM(CAST(mb * mb AS DECIMAL(38,18))) AS DOUBLE) AS nb
      FROM paired GROUP BY label
    ),
    sizes AS (
      SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT c.label, s.n_a, s.n_b,
           ROUND(c.dot / nullif(sqrt(c.na) * sqrt(c.nb), 0.0), 6) AS centroid_cos
    FROM comp c JOIN sizes s ON s.label = c.label
    """,
    doc=(
        "Embedding drift audit: per label, the cosine between the "
        "centroids of two corpus halves (vec_id parity = the "
        "deterministic stand-in for before/after an embedder upgrade "
        "or a crawl epoch) — centroid_cos near 1 means the class "
        "geometry is stable; a drop is the re-embed/re-index tripwire "
        "that invalidates IVF codebooks and semdedup thresholds. "
        "Scale shape: ONE posexplode to (label, half, dim) grain "
        "collapsing immediately into the per-dim mean aggregate "
        "(|labels| x 2 x dim rows — tiny regardless of corpus size), "
        "then a label-grain closed-form cosine over DECIMAL component "
        "sums; the half-centroid join is on the already-collapsed "
        "mean table. Per-dim means divide decimal-exact sums by "
        "exact counts, so both engines feed identical doubles into "
        "the cosine."
    ),
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "val"),
    ).select("label", "half", (F.col("dim0") + 1).alias("dim"), "val")
    # Cache the per-(label, half, dim) means (r15 optimization round):
    # the a/b halves fork this frame and Catalyst re-planned the
    # posexplode+aggregate subtree under each (executed plan: 0
    # ReusedExchange, two corpus explodes). .cache() (the simhash_dedup
    # pattern) materializes it inside the single action with no extra
    # serial job; the frame is |labels|×2×|dims| rows — KB-scale at any
    # corpus size.
    means = exploded.groupBy("label", "half", "dim").agg(
        (F.sum(F.col("val").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1))).alias("m")
    ).cache()
    a = means.filter(F.col("half") == 0).select("label", "dim", F.col("m").alias("ma"))
    b = means.filter(F.col("half") == 1).select("label", "dim", F.col("m").alias("mb"))

    def dec(c):  # noqa: ANN001
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    comp = (
        a.join(b, ["label", "dim"])
        .groupBy("label")
        .agg(
            dec(F.col("ma") * F.col("mb")).alias("dot"),
            dec(F.col("ma") * F.col("ma")).alias("na"),
            dec(F.col("mb") * F.col("mb")).alias("nb"),
        )
    )
    sizes = emb.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    return comp.join(sizes, "label").select(
        "label",
        "n_a",
        "n_b",
        F.round(
            F.col("dot") / F.nullif(F.sqrt(F.col("na")) * F.sqrt(F.col("nb")), F.lit(0.0)), 6
        ).alias("centroid_cos"),
    )
