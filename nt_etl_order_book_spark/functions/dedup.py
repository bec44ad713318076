"""Deduplication family — SURVEY §2.10 [X]: exact, MinHash-LSH,
SimHash, and n-gram Jaccard near-dup detection over `documents`.

Scale design (this is the 100 TB workhorse of an LLM data pipeline):

- exact dedup: one hash-groupBy on a 32-byte digest — the shuffle moves
  digests + doc ids only, never document text.
- MinHash/LSH: per-doc signatures are computed in a single narrow pass
  (explode shingles → murmur hash → min per permutation via groupBy);
  candidate generation shuffles *band keys*, so only near-identical
  docs ever meet. No O(n²) stage anywhere.
- SimHash: 64-bit signature per doc, banded the same way.
- verification (exact Jaccard on candidates) touches candidate pairs
  only — at web scale that's a tiny fraction of the corpus.

Exact-arithmetic hashing (xxhash64 / murmur3) keeps results
deterministic; no seeded randomness outside the fixed HASH_SEEDS table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window  # noqa: F401
from pyspark.sql import functions as F

from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.session import checkpoint_frame
from nt_etl_order_book_spark.tables import load_table

# Fixed (a, b) affine-permutation constants for MinHash over a prime
# field; deterministic across runs (no RNG at plan time). The base hash
# is folded to 32 bits and a < 2^20 so a*h + b stays < 2^53 — no int64
# overflow under ANSI mode.
PRIME = (1 << 61) - 1
HASH_BITS = 1 << 32
N_PERM = 32
N_BANDS = 8  # 8 bands × 4 rows ≈ catches jaccard ≳ 0.5
ROWS_PER_BAND = N_PERM // N_BANDS
_A = [(1_000_003 * (i + 1) + 17) % 1_048_573 + 1 for i in range(N_PERM)]
_B = [(7_919 * (i + 7) + 3) % 1_048_573 for i in range(N_PERM)]

# Document-frequency cap for the ngram_jaccard inverted index: a shingle
# shared by k docs produces k² join rows, so one boilerplate shingle
# (license header, nav bar) is a quadratic cliff at corpus scale. Shingles
# above the cap are dropped from BOTH the index and the per-doc sizes, so
# jaccard stays internally consistent (computed over the capped shingle
# universe). Mirrors MAX_BUCKET in lsh_candidates.
MAX_SHINGLE_DF = 200
MAX_BUCKET = 200  # lsh_candidates' per-(band, bucket) membership cap


def string_grams(toks: Column, n: int) -> Column:
    """Word n-gram strings over a staged token array: one per position
    0..max(size-n, 0), each the space-joined slice. A doc shorter than
    n tokens yields ONE clipped gram over the tokens it has (an empty
    doc's is ""), the rule :func:`partial_grams` mirrors; on an array of
    size >= n this is exactly the full-width gram list."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )


def shingles(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct word 3-gram shingles per doc, as one row per shingle.

    Built with higher-order functions (transform over a token-index
    sequence) — stays JVM-side, no Python. The token array is staged in
    its own projection first: an embedded tokenize subtree inside the
    interpreted gram lambda re-evaluates per gram index (the
    minhash_signature_col lesson; same fix as `paragraphs`).
    """
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    wt = df.select(F.col(id_col), toks.alias("_toks"))
    grams = string_grams(F.col("_toks"), 3)
    return wt.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))


# Modulus/multiplier of the rolling gram hash (partial_grams,
# rolling_gram_expr). M = 2^57 is the largest power of two where the
# ANSI-mode combine stays in long range: acc*37 + h < 2^57·37 + 2^57 <
# 2^63 for any token hash h < 2^57 (xxhash64 pmod M here, the 32-bit
# md5-hex8 of text.winnow_hashes) — ANSI overflow THROWS, it does not
# wrap, so the bound is load-bearing. 37 is odd → multiplication mod
# 2^57 is a bijection and the combine is a proper polynomial hash.
#
# Collision odds over D distinct grams are ~D²/2⁵⁸ — ~1e-6 at the
# sf0.01 correctness gate's ~300k shingles, ~3e-5 at sf0.1's ~3M — so
# counts over hashed grams match the string-gram oracle exactly in any
# run that matters. At extreme corpus scale (D ~ 1e12) collisions
# become real but perturb a vanishing fraction of counts (or, for
# winnowing, which gram a window-min selects); the consumers accept
# that bound rather than keep a second, string-grain index.
SHINGLE_HASH_MOD = 1 << 57
SHINGLE_HASH_MULT = 37


def token_hash_expr(text_col: str = "text", mod: int = SHINGLE_HASH_MOD) -> Column:
    """Per-token hashes (xxhash64 pmod ``mod``) of the whitespace tokens
    of ``text_col`` — the hash-once stage every rolling-gram consumer
    starts from. Engine-local (xxhash64): use it only where gram VALUES
    never surface in query output."""
    toks = F.filter(F.split(text_col, " "), lambda t: t != "")
    return F.transform(toks, lambda t: F.pmod(F.xxhash64(t), F.lit(mod)))


def partial_grams(th: Column, n: int) -> Column:
    """n-gram rolling hashes over a token-hash array with the clipped
    rule of :func:`string_grams`: a doc shorter than n tokens emits ONE
    gram over the tokens it has — missing positions are skipped via
    try_element_at, because ANSI element_at THROWS on the short array —
    and an empty doc's gram is the -1 sentinel (string form: the ""
    gram), disjoint from real grams, which are pmod-nonnegative.

    Each level of the when-chain repeats the accumulator, so the tree
    grows exponentially in n: fine at n = 3..4, a codegen stall at
    n = 16. Wide grams over docs pre-filtered to size >= n take
    :func:`rolling_gram_expr`, which equals this on those docs."""
    m = F.lit(SHINGLE_HASH_MOD)

    def gram_at(i):
        acc = F.try_element_at(th, i + 1)
        for j in range(1, n):
            nxt = F.try_element_at(th, i + 1 + j)
            acc = F.when(nxt.isNull(), acc).otherwise(F.pmod(acc * SHINGLE_HASH_MULT + nxt, m))
        return F.coalesce(acc, F.lit(-1))

    return F.transform(F.sequence(F.lit(0), F.greatest(F.size(th) - n, F.lit(0))), gram_at)


def rolling_gram_expr(
    th: Column, n: int, *, mod: int = SHINGLE_HASH_MOD, mult: int = SHINGLE_HASH_MULT
) -> Column:
    """Full n-gram rolling hashes over a token-hash array: one hash per
    position 0..size-n, each a LINEAR-size polynomial fold (plain
    element_at — callers must pre-filter or guard docs to size >= n).
    See :func:`partial_grams` for the clipped form."""
    m = F.lit(mod)

    def gram_at(i):
        acc = F.element_at(th, i + 1)
        for j in range(1, n):
            acc = F.pmod(acc * mult + F.element_at(th, i + 1 + j), m)
        return acc

    return F.transform(F.sequence(F.lit(0), F.size(th) - n), gram_at)


def sorted_pairs(ids: Column, left: str, right: str) -> Column:
    """Every i<j pair of a postings array as ``struct(left, right)``:
    in-array pair generation per key, bounded by the caller's postings
    cap, instead of a two-sided self-join (whose alias-differing
    branches defeat ReusedExchange and shuffle the index twice). On a
    sorted array i<j is equivalent to left < right."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.greatest(F.size(ids) - i - 1, F.lit(0))),
                lambda y: F.struct(x.alias(left), y.alias(right)),
            ),
        )
    )


def shingle_hashes(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Distinct word 3-gram shingles per doc as 57-bit HASHES, one row
    per shingle — the counting twin of :func:`shingles` for consumers
    that never read the shingle text (pair statistics only compare and
    count shingles, so the identity can be a hash; collision bound at
    SHINGLE_HASH_MOD).

    Tokens are xxhash64'd ONCE per document, then each gram is a
    rolling polynomial combine of 3 consecutive token hashes — the
    minhash_signature_col lesson (hash once, shingle arithmetically):
    no n-gram string is ever allocated and the exploded index shuffles
    8-byte longs instead of ~25-byte strings. Measured 5.0 s → 3.2 s
    for the full pair-stats build at sf0.1 (interleaved A/B; the
    naive per-gram ``xxhash64(tok_i, tok_j, tok_k)`` variant was
    REJECTED at 7.1–7.6 s — three per-gram string hashes cost more
    than the concat they save; PERF.md r8).
    """
    # Two-stage projection: the token-hash array is computed once per
    # row, not re-inlined into every gram position.
    staged = df.select(F.col(id_col), token_hash_expr(text_col).alias("_th"))
    grams = partial_grams(F.col("_th"), 3)
    return staged.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))


def shingle_pair_stats(docs: DataFrame, *, cap: int = MAX_SHINGLE_DF) -> DataFrame:
    """(a, b, inter, sz_a, sz_b) for every doc pair sharing a surviving shingle.

    One materialized pass over the inverted index instead of three: the
    df cap is a streaming window count on the shingle partitioning (no
    postings array exists yet, so a zipf-head shingle can't blow up a
    reducer), the capped frame is checkpointed ONCE, and pair candidates
    are generated IN-ARRAY per shingle (i<j over the sorted postings
    list, bounded at `cap` entries by construction) instead of a
    two-sided self-join. The alias-differing s1/s2 self-join branches
    defeated ReusedExchange, so the tokenize+gram+window pipeline ran
    ~3x (sizes + both join sides) — the same lesson shared_run_audit's
    staged index learned (PERF.md round 7). The groupBy(shingle) that
    builds postings adds no exchange: the window already partitioned by
    shingle. Sorted postings make i<j equivalent to a<b, matching the
    oracle's `s1.doc_id < s2.doc_id` under binary string comparison.

    The index is built over 64-bit shingle HASHES (shingle_hashes),
    not gram strings: nothing downstream reads the shingle value, only
    compares and counts it, so the narrow identity halves-plus the
    exchange width and skips the per-gram string allocation entirely
    (r8: truth-side build 5.6 s → measured below in PERF.md). The
    collision bound is documented at SHINGLE_HASH_MOD.

    Size lookups join WITHOUT a broadcast hint (r9): `sizes` is
    doc-grain — one row per surviving doc — so a forced broadcast is a
    multi-GB driver-side build at ~1e9 docs (Spark's 8 GB hard-stop),
    while `inter` is already candidate-pair-grain and cheap to
    shuffle. AQE still picks a broadcast at sandbox scale on its own;
    at corpus scale it degrades gracefully to a shuffled join.
    """
    from nt_etl_order_book_spark.session import checkpoint_frame

    sh = shingle_hashes(docs, "doc_id", "text")
    w = Window.partitionBy("shingle")
    capped = checkpoint_frame(
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= cap)
        .drop("_df")
    )
    sizes = capped.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    grouped = capped.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    inter = (
        grouped.select(F.explode(sorted_pairs(F.col("ids"), "a", "b")).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    za = sizes.select(F.col("doc_id").alias("a"), F.col("sz").alias("sz_a"))
    zb = sizes.select(F.col("doc_id").alias("b"), F.col("sz").alias("sz_b"))
    return inter.join(za, "a").join(zb, "b")


def minhash_signature_col(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One row per doc with its 32-long minhash signature.

    Shingles, base hashes, and all 32 permutation minima are
    higher-order-function expressions evaluated per row (no explode).
    One deliberate exchange sits after the token-hash stage: it shuffles
    (doc_id, one long per token) — a small fraction of the text — to
    (a) materialize the stage so downstream filters/projections can't
    re-inline the tokenize pipeline per gram (measured 16× blowup), and
    (b) spread the CPU-bound signature work independently of input
    splits. Everything after the exchange stays narrow.
    """
    # Hash tokens ONCE, then shingle arithmetically (rolling combine of 3
    # consecutive token hashes) instead of building n-gram strings —
    # 3.7× faster at sf0.1 (no per-shingle string allocation). Each
    # stage lives in its own projection so Catalyst can't inline the
    # upstream pipeline into every downstream consumer.
    tok_hashed = df.select(
        F.col(id_col), token_hash_expr(text_col, mod=HASH_BITS).alias("_th")
    )
    # Shuffle barrier: materializes the token-hash stage through an
    # exchange (downstream filters/projections can otherwise push below
    # the projection and re-inline the tokenize+hash pipeline per gram —
    # a measured 16× blowup) and spreads the CPU-bound signature work
    # across the cluster regardless of input file splits.
    tok_hashed = tok_hashed.repartition(
        df.sparkSession.sparkContext.defaultParallelism, id_col
    )

    # Short documents: fewer than 3 tokens can't form a 3-gram — fall
    # back to unigram shingles rather than indexing past the array end
    # (ANSI mode makes that a hard INVALID_ARRAY_INDEX error). Empty
    # documents yield an empty hash set and are excluded from the LSH
    # pipeline by callers (exact dedup owns the empty-text case).
    th = F.col("_th")
    grams = F.when(
        F.size(th) >= 3, rolling_gram_expr(th, 3, mod=HASH_BITS, mult=131)
    ).otherwise(th)
    hashed = tok_hashed.select(
        F.col(id_col),
        F.array_distinct(grams).alias("hashes"),
    )
    # All 32 permutation minima in ONE traversal of the hash array: fold
    # with a 32-wide accumulator, zip_with(least) per element — ~2× faster
    # than 32 separate array_min passes (measured at sf0.1).
    a_arr = F.array(*[F.lit(a) for a in _A])
    b_arr = F.array(*[F.lit(b) for b in _B])
    init = F.array(*[F.lit(PRIME).cast("long") for _ in _A])
    sig = F.aggregate(
        F.col("hashes"),
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(a_arr, b_arr, lambda a, b: (a * h + b) % F.lit(PRIME)),
            lambda x, y: F.least(x, y),
        ),
    )
    return hashed.select(F.col(id_col), "hashes", sig.alias("sig"))


def lsh_candidates(sigs: DataFrame, id_col: str) -> DataFrame:
    """Band each signature into N_BANDS bucket keys and self-join buckets
    → candidate pairs (a < b). The shuffle key is (band, bucket), so only
    near-identical docs ever meet — never an O(n²) stage.

    `MAX_BUCKET` caps per-bucket membership before pairing: a bucket with
    hundreds of docs is a boilerplate/common-pattern collision whose
    pair count grows quadratically while carrying almost no dedup signal
    — the standard web-dedup mitigation. Each skipped bucket costs one
    of a pair's N_BANDS chances, not the pair itself.
    """
    band_keys = F.array(
        *[
            F.xxhash64(
                F.lit(b), *[F.col("sig")[b * ROWS_PER_BAND + r] for r in range(ROWS_PER_BAND)]
            )
            for b in range(N_BANDS)
        ]
    )
    banded = sigs.select(F.col(id_col), F.posexplode(band_keys).alias("band", "bucket"))
    w = Window.partitionBy("band", "bucket")
    banded = (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= MAX_BUCKET)
        .drop("_bsz")
    )
    a = banded.select(F.col(id_col).alias("a"), "band", "bucket")
    b = banded.select(F.col(id_col).alias("b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


@register(
    "dedup_exact_docs",
    """
    SELECT sha256(text) AS content_hash,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS canonical_doc_id
    FROM documents
    GROUP BY sha256(text)
    """,
    doc="Exact content dedup: group by sha256(text), keep canonical min doc_id (first stage of any dedup pipeline).",
)
def q_dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2(F.col("text"), 256).alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_doc_id"))
    )


@register(
    "minhash_dedup",
    None,  # hash-function-specific; not SQL-portable → rows-only check.
    doc=(
        "MinHash+LSH near-dup pairs: shingle(3-gram) → 32-perm minhash → "
        "8-band LSH buckets → exact-Jaccard verify ≥ 0.5. Deterministic "
        "(fixed permutation constants, xxhash64 base)."
    ),
)
def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token-less docs carry no shingle signal (exact dedup owns them);
    # filter on the RAW text before the signature stage — a filter on the
    # derived `hashes` column would push below the staged projections and
    # re-inline the pipeline.
    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0
    )
    # The signature frame feeds three consumers (banding + both verify
    # sides); it is small (id + 32 longs + hash set per doc) and expensive
    # to recompute, so cache it — textbook reused-input caching. (Session
    # storage memory evicts LRU if repeated invocations accumulate.)
    sigs = minhash_signature_col(docs, "doc_id", "text").cache()
    cands = lsh_candidates(sigs.select("doc_id", "sig"), "doc_id")
    # Exact-Jaccard verify on the candidate pairs only, via per-doc
    # shingle-hash SETS and array_intersect — no shuffle of the full
    # shingle inverted index (that stays in ngram_jaccard, the
    # ground-truth query). Hash collisions at 32 bits are negligible
    # for ~10^2 shingles/doc.
    ha = sigs.select(F.col("doc_id").alias("a"), F.col("hashes").alias("ha"))
    hb = sigs.select(F.col("doc_id").alias("b"), F.col("hashes").alias("hb"))
    return (
        cands.join(ha, "a")
        .join(hb, "b")
        .select(
            "a",
            "b",
            (
                F.size(F.array_intersect("ha", "hb"))
                / F.size(F.array_union("ha", "hb"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


# Bit masks for simhash64 as SIGNED longs (bit 63 is the sign bit:
# 1 << 63 overflows a Java long literal, so it ships as its two's
# complement), in one nested-array Literal.
_SIMHASH_MASKS: list[int] = [
    (1 << i) if i < 63 else (1 << 63) - (1 << 64) for i in range(64)
]


def simhash64(hashes: Column) -> Column:
    """64-bit SimHash from a materialized token-hash array column.

    All 64 bit votes in ONE traversal of the hash array (r9): fold with
    a 64-wide counter accumulator, zip_with(±1) against the mask
    Literal per element — the minhash_signature_col trick. The previous
    form ran a separate aggregate fold per bit position (64 array
    traversals per row; ~35% slower on the signature pass, identical
    outputs — 0 mismatches over the fixture corpus). Pass a COLUMN (not
    the raw expression) so the tokenize+hash pipeline isn't inlined
    into the fold.
    """
    masks = F.lit(_SIMHASH_MASKS)
    votes = F.aggregate(
        hashes,
        F.lit([0] * 64),
        lambda acc, h: F.zip_with(
            acc, masks, lambda a, m: a + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)
        ),
    )
    bits = F.zip_with(
        votes, masks, lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long"))
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda a, x: a.bitwiseOR(x))


@register(
    "simhash_dedup",
    None,  # hash-function-specific → rows-only check.
    doc=(
        "SimHash near-dup: 64-bit signature per doc; pairs within hamming "
        "distance ≤ 3 found by banding the signature into 4×16-bit keys "
        "(pigeonhole: ≤3 differing bits leave at least one band intact, "
        "so banding is exact for this radius)."
    ),
)
def q_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = F.array_distinct(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    hashed = docs.select(
        "doc_id", F.transform(toks, lambda t: F.xxhash64(t)).alias("hashes")
    )
    # Two consumers (both sides of the bucket self-join): cache the tiny
    # (id, 64-bit sig) frame instead of recomputing 64 aggregates twice.
    sigs = hashed.select("doc_id", simhash64(F.col("hashes")).alias("sig")).cache()
    bands = sigs.select(
        "doc_id",
        "sig",
        F.posexplode(
            F.array(*[F.shiftrightunsigned(F.col("sig"), 16 * i).bitwiseAND(F.lit(0xFFFF)) for i in range(4)])
        ).alias("band", "bkey"),
    )
    a = bands.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"), "band", "bkey")
    b = bands.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"), "band", "bkey")
    pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "sig_a", "sig_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return pairs.select("a", "b", hamming.alias("hamming")).filter(F.col("hamming") <= 3)


@register(
    "ngram_jaccard",
    f"""
    WITH sh_all AS (
      SELECT doc_id, UNNEST(list_distinct(g)) AS shingle
      FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      )
    ),
    sh AS (
      SELECT doc_id, shingle FROM sh_all
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS inter
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    )
    SELECT i.a, i.b,
           CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) AS jaccard
    FROM inter i
    JOIN sizes za ON i.a = za.doc_id
    JOIN sizes zb ON i.b = zb.doc_id
    WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.8
    """,
    doc=(
        "Exact n-gram (3-token) Jaccard similarity ≥ 0.8 via shingle "
        "inverted-index join — the ground-truth near-dup measure the LSH "
        "variants approximate. Shuffle key is the shingle, so only docs "
        "sharing a shingle ever meet. Shingles with document frequency "
        "above MAX_SHINGLE_DF are dropped from the index AND the sizes "
        "(boilerplate carries no near-dup signal; keeps the join from "
        "going quadratic on hot shingles)."
    ),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    st = shingle_pair_stats(docs)
    jac = st.select(
        "a",
        "b",
        (F.col("inter").cast("double") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))).alias(
            "jaccard"
        ),
    )
    return jac.filter(F.col("jaccard") >= 0.8)


# Pseudo-benchmark membership for the decontamination query: a
# deterministic 1/97 slice of the corpus plays the held-out eval set.
BENCH_MOD = 97
DECONTAM_MIN_SHARED = 3


@register(
    "decontaminate_ngram",
    f"""
    WITH sh_all AS (
      SELECT doc_id, UNNEST(list_distinct(g)) AS shingle
      FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      )
    ),
    sh AS (
      SELECT doc_id, shingle FROM sh_all
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
    ),
    corpus AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} <> 0),
    bench  AS (SELECT * FROM sh WHERE doc_id % {BENCH_MOD} = 0)
    SELECT c.doc_id, b.doc_id AS bench_id, COUNT(*) AS n_shared
    FROM corpus c JOIN bench b ON c.shingle = b.shingle
    GROUP BY c.doc_id, b.doc_id
    HAVING COUNT(*) >= {DECONTAM_MIN_SHARED}
    """,
    doc=(
        "Benchmark decontamination: flag training docs sharing >= "
        f"{DECONTAM_MIN_SHARED} distinct 3-gram shingles with any held-out "
        "benchmark doc (deterministic 1/97 slice stands in for the eval "
        "set). Same capped inverted-index shape as ngram_jaccard, but the "
        "join is corpus x benchmark. Scale note: what broadcasts is the "
        "SHINGLE EXPANSION of the benchmark set — fine for a real eval "
        "suite (thousands of docs, MBs of shingles), which is what this "
        "slice stands in for; a benchmark side too big to broadcast "
        "should drop the hint and take the shingle-keyed shuffle join."
    ),
)
def q_decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import checkpoint_frame

    docs = load_table(spark, sf_dir, "documents")
    # Hashed-shingle index (r9): the output is (doc_id, bench_id,
    # n_shared) — no consumer ever reads shingle TEXT, so the identity
    # can be the 57-bit rolling hash (same exactness bound as
    # shingle_pair_stats; the string ORACLE's counts match exactly at
    # any tested scale). Checkpointed ONCE: three consumers (hot
    # blocklist agg, bench broadcast build, corpus probe) otherwise
    # each re-run the corpus tokenize+gram expansion — that triple
    # expansion plus per-gram string allocation was the whole cost.
    # Measured at sf0.1 (interleaved A/B, values identical): 4.5-4.8 s
    # string/no-stage → 1.0-1.3 s hashed → 0.76-0.88 s hashed+staged.
    # At corpus scale the staged artifact is (doc_id, 8-byte hash)
    # postings on executor storage — the same staged-index shape as
    # shared_run_audit's MOSS stages.
    sh = checkpoint_frame(shingle_hashes(docs, "doc_id", "text"))
    # DF cap as a HOT-SHINGLE BLOCKLIST anti-join, not a window: the
    # benchmark side broadcasts, so the corpus index never needs a
    # shuffle here — a Window.partitionBy(shingle) cap would introduce
    # the only full-index exchange in the plan. The blocklist aggregate
    # shuffles partial (shingle, count) states and the list itself is
    # tiny (only shingles OVER the cap), so it broadcasts too.
    # (shingle_pair_stats keeps the window form: its postings groupBy
    # needs the shingle exchange anyway and the window cap streams on
    # it, bounding the collect_list that follows.)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > MAX_SHINGLE_DF)
        .select("shingle")
    )
    sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    corpus = sh.filter(~is_bench)
    bench = sh.filter(is_bench).select(F.col("doc_id").alias("bench_id"), "shingle")
    # The broadcast is the benchmark's shingle EXPANSION, not the corpus:
    # a real eval suite is thousands of docs → MBs of shingles, well
    # under the broadcast ceiling. If the bench side ever outgrew that
    # (it is 1/97 of the corpus only in this synthetic stand-in), remove
    # the hint and let AQE pick the shingle-keyed shuffle join — the
    # blocklist anti-join above stays broadcast either way.
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= DECONTAM_MIN_SHARED)
    )


# Tier ladder for the contamination-span check: doubling n-gram widths.
# The longest shared token run L between a training doc and a benchmark
# doc contains an n-token shingle for every n <= L, so the largest
# matched tier brackets L within a factor of 2 (tier <= L < 2*tier for
# L < 16; L >= 16 reports the capped top tier) — the distributed,
# SQL-expressible approximation of the suffix-automaton longest-match
# check (exact L needs positional chaining, quadratic in SQL).
SPAN_TIERS = (4, 8, 16)


def _sql_span_tier(n: int) -> str:
    """DuckDB CTE pair for one contamination tier: n-gram shingles over
    `toks` and the corpus-x-benchmark hit counts at that width.

    Docs with fewer than n tokens are EXCLUDED from the tier (no
    `shingles()`-style whole-doc fallback): a 10-token doc must not
    match at the 16-token tier, or the reported span_tokens would
    exceed the doc's own length and break the tier <= L < 2*tier
    bracket the query documents."""
    return f"""
    sh{n} AS (
      SELECT doc_id, UNNEST(list_distinct([array_to_string(t[i:i+{n - 1}], ' ')
              FOR i IN range(1, len(t) - {n - 1} + 1)])) AS shingle
      FROM toks WHERE len(t) >= {n}
    ),
    hits{n} AS (
      SELECT c.doc_id, {n} AS span_tokens, COUNT(*) AS n_hit_shingles
      FROM sh{n} c
      JOIN (SELECT DISTINCT shingle FROM sh{n} WHERE doc_id % {BENCH_MOD} = 0) b USING (shingle)
      WHERE c.doc_id % {BENCH_MOD} <> 0
      GROUP BY c.doc_id
    )"""


_SQL_SPAN_TIERS = ",".join(_sql_span_tier(n) for n in SPAN_TIERS)
_SQL_SPAN_UNION = " UNION ALL ".join(f"SELECT * FROM hits{n}" for n in SPAN_TIERS)


@register(
    "contamination_span",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),{_SQL_SPAN_TIERS},
    all_hits AS (
      {_SQL_SPAN_UNION}
    )
    SELECT doc_id, span_tokens, n_hit_shingles
    FROM all_hits
    QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY span_tokens DESC) = 1
    """,
    doc=(
        "Contamination-span check: for each training doc that shares any "
        f"{SPAN_TIERS[0]}-token shingle with the held-out benchmark slice "
        f"(doc_id % {BENCH_MOD} = 0), the widest tier of the doubling "
        f"ladder {SPAN_TIERS} it still matches at, plus the number of "
        "distinct matched shingles at that width — brackets the longest "
        "contiguous shared token run within a factor of 2 (the "
        "suffix-automaton longest-match check, re-expressed as three "
        "capped inverted-index joins so it distributes). Docs shorter "
        "than a tier are excluded from it on BOTH sides, so a reported "
        "span never exceeds the doc's own length. Each tier is one "
        "corpus scan joined to a broadcast DISTINCT benchmark shingle "
        "set (1:1 match, no fan-out, no quadratic pair stage); "
        "decontaminate_ngram's scale notes on the benchmark side apply."
    ),
)
def q_contamination_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import checkpoint_frame

    docs = load_table(spark, sf_dir, "documents")
    # Token hashes computed ONCE and staged (r9): all three tiers gram
    # over the same tokens, and no consumer reads shingle TEXT (output
    # is doc_id + counts), so the identity is the 57-bit rolling hash
    # (token_hash_expr/rolling_gram_expr) and the tokenize+hash pass
    # runs once instead of six times (each tier's bench-distinct build
    # and corpus probe re-expanded the corpus). Measured at sf0.1,
    # values identical: 2.7-3.2 s → 1.6-1.8 s.
    staged = checkpoint_frame(docs.select("doc_id", token_hash_expr().alias("_th")))
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    tiers = []
    for n in SPAN_TIERS:
        # Docs shorter than the tier width are excluded (mirrors the
        # oracle): a whole-doc fallback would otherwise let a short doc
        # "match" at a tier wider than the doc itself and break the
        # factor-2 span bracket. The pre-filter also licenses the
        # full-width-only gram fold (see rolling_gram_expr).
        base = staged.filter(F.size("_th") >= n)
        grams = rolling_gram_expr(F.col("_th"), n)
        sh = base.select("doc_id", F.explode(F.array_distinct(grams)).alias("shingle"))
        bench = sh.filter(is_bench).select("shingle").distinct()
        tiers.append(
            sh.filter(~is_bench)
            .join(F.broadcast(bench), "shingle")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_hit_shingles"))
            .select("doc_id", F.lit(n).alias("span_tokens"), "n_hit_shingles")
        )
    all_hits = tiers[0]
    for t in tiers[1:]:
        all_hits = all_hits.unionByName(t)
    w = Window.partitionBy("doc_id").orderBy(F.desc("span_tokens"))
    return (
        all_hits.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "span_tokens", "n_hit_shingles")
    )


# Paragraph-level dedup: the unit is a fixed-width token chunk. Real
# corpora segment on blank lines / sentence boundaries; the synthetic
# documents table is delimiter-free, so the deterministic fallback is
# non-overlapping PARA_TOKENS-token windows — same operator shape, and
# SQL-expressible in both engines.
PARA_TOKENS = 25
# Reference-corpus slice for Bloom-filter dedup (doc_id % REF_MOD == 0
# plays "the previous crawl"). 1/7 leaves enough cross-slice paragraph
# overlap in the synthetic corpus for a non-trivial result.
REF_MOD = 7
BLOOM_M = 1 << 20  # filter bits
BLOOM_K = 4  # hash functions per item


def token_chunks(toks: Column) -> Column:
    """Non-overlapping PARA_TOKENS-token chunks of a staged token array,
    each space-joined: ceil(size / PARA_TOKENS) chunks, and one "" chunk
    for an empty array."""
    n_chunks = F.ceil(F.size(toks) / F.lit(float(PARA_TOKENS))).cast("int")
    return F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(toks, i * PARA_TOKENS + 1, PARA_TOKENS)),
    )


def paragraphs(df: DataFrame, *, keep: tuple[str, ...] = ()) -> DataFrame:
    """One row per non-empty paragraph (PARA_TOKENS-token chunk) per doc.

    Same narrow HOF shape as `shingles`: tokenize once, chunk via
    :func:`token_chunks`, explode — no Python, no shuffle. ``keep``
    carries extra metadata columns (e.g. ``source``) through the
    explode so consumers don't need a join back to the doc table.

    The token array is materialized in its OWN projection before the
    chunking lambda references it: HOF lambdas are interpreted, not
    codegen'd, so an embedded tokenize subtree re-evaluates per chunk
    index (the minhash_signature_col lesson). Staging it makes the
    split run once per document — measured 1.7× on the chunk pipeline
    at 100k docs (r12)."""
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    wt = df.select("doc_id", *keep, toks.alias("_toks"))
    pars = token_chunks(F.col("_toks"))
    return (
        wt.select("doc_id", *keep, F.explode(pars).alias("par"))
        .filter(F.col("par") != "")
    )


def _sql_paragraphs() -> str:
    """DuckDB twin of `paragraphs` over the documents view, as WITH-clause
    body (expects to follow a WITH keyword)."""
    p = PARA_TOKENS
    return f"""
    toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    pars AS (
      SELECT doc_id, par FROM (
        SELECT doc_id,
               UNNEST([array_to_string(t[i*{p}+1:i*{p}+{p}], ' ')
                       FOR i IN range(0, CAST(CEIL(len(t)/{p}.0) AS INT))]) AS par
        FROM toks
      ) WHERE par <> ''
    )"""


@register(
    "paragraph_dedup",
    f"""
    WITH {_sql_paragraphs()}
    SELECT md5(par) AS par_hash,
           COUNT(*) AS n_occurrences,
           COUNT(DISTINCT doc_id) AS n_docs,
           MIN(doc_id) AS canonical_doc_id
    FROM pars
    GROUP BY md5(par)
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
    doc=(
        "Paragraph-level exact dedup: hash every PARA_TOKENS-token chunk, "
        "report chunks appearing in ≥2 docs with occurrence counts and the "
        "canonical (min) doc — the boilerplate-removal stage between "
        "whole-doc exact dedup and shingle near-dup. The groupBy shuffles "
        "(md5, doc_id) only — paragraph text never rides an exchange."
    ),
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        paragraphs(docs)
        .select(F.md5("par").alias("par_hash"), "doc_id")
        .groupBy("par_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
        )
        .filter(F.col("n_docs") >= 2)
    )


def bloom_positions(par: Column) -> Column:
    """BLOOM_K bit positions in [0, BLOOM_M) per paragraph, via the
    engine-portable md5+Horner fold (sampling.hash_bucket) with per-hash
    salts — DuckDB computes the identical positions, so the whole Bloom
    decision (false positives included) is oracle-checkable."""
    from nt_etl_order_book_spark.functions.sampling import hash_bucket

    return F.array(
        *[hash_bucket(F.concat(F.lit(f"bloom{i}:"), par), BLOOM_M) for i in range(BLOOM_K)]
    )


def _bloom_oracle() -> str:
    """DuckDB twin of q_bloom_filter_dedup: same salted folds, same
    filter-set construction, same all-k membership test."""
    from nt_etl_order_book_spark.functions.sampling import _sql_hash_bucket

    folds = [_sql_hash_bucket(f"'bloom{i}:' || par", BLOOM_M) for i in range(BLOOM_K)]
    union = " UNION ALL ".join(
        f"SELECT {f} AS pos FROM pars WHERE doc_id % {REF_MOD} = 0" for f in folds
    )
    conds = " AND ".join(f"{f} IN (SELECT pos FROM ref_bits)" for f in folds)
    return f"""
    WITH {_sql_paragraphs()},
    ref_bits AS (SELECT DISTINCT pos FROM ({union}))
    SELECT doc_id, COUNT(DISTINCT md5(par)) AS n_flagged_pars
    FROM pars
    WHERE doc_id % {REF_MOD} <> 0 AND {conds}
    GROUP BY doc_id
    """


@register(
    "bloom_filter_dedup",
    _bloom_oracle(),
    doc=(
        "Dedup against a reference corpus via Bloom filter: the reference "
        f"slice's paragraphs set {BLOOM_K} bits each in a {BLOOM_M}-bit "
        "filter; a corpus doc is flagged when any of its paragraphs hits "
        "all its bits. The filter is the DISTINCT set-bit table — "
        "k×|ref paragraphs| rows regardless of corpus size — broadcast to "
        "the corpus scan, so the corpus side never shuffles text (only "
        "md5 + positions). False-positive rate ≈ (k·n/m)^k; positions use "
        "the engine-portable md5 fold, so the oracle reproduces the exact "
        "decision, FPs included."
    ),
)
def q_bloom_filter_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pars = paragraphs(docs)
    is_ref = F.col("doc_id") % REF_MOD == 0
    bits = (
        pars.filter(is_ref)
        .select(F.explode(bloom_positions(F.col("par"))).alias("pos"))
        .distinct()
    )
    corpus = pars.filter(~is_ref).select(
        "doc_id",
        F.md5("par").alias("par_hash"),
        F.array_distinct(bloom_positions(F.col("par"))).alias("ps"),
    )
    # All-k membership: explode the (distinct) positions, inner-join the
    # broadcast bit table, and keep paragraphs whose hit count equals
    # their distinct-position count.
    cpos = corpus.select(
        "doc_id", "par_hash", F.size("ps").alias("n_pos"), F.explode("ps").alias("pos")
    )
    flagged = (
        cpos.join(F.broadcast(bits), "pos")
        .groupBy("doc_id", "par_hash", "n_pos")
        .agg(F.count(F.lit(1)).alias("n_hit"))
        .filter(F.col("n_hit") == F.col("n_pos"))
    )
    return flagged.groupBy("doc_id").agg(
        F.countDistinct("par_hash").alias("n_flagged_pars")
    )


@register(
    "cross_source_dup",
    f"""
    WITH {_sql_paragraphs()},
    tagged AS (
      SELECT DISTINCT d.source, md5(p.par) AS par_hash
      FROM pars p JOIN documents d USING (doc_id)
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared_pars
    FROM tagged a JOIN tagged b
      ON a.par_hash = b.par_hash AND a.source < b.source
    GROUP BY a.source, b.source
    """,
    doc=(
        "Cross-source duplication matrix: for every pair of source "
        "domains, the number of distinct paragraph hashes present in "
        "both — the leakage audit that tells a corpus owner whether two "
        "crawls/dumps overlap before they are mixed (domain weights "
        "computed on overlapping sources double-count). Paragraph text "
        "collapses to (source, md5) before anything wide: the distinct "
        "and the self-join shuffle hashes only, and per-hash fan-out is "
        "bounded by source cardinality squared (a handful), so there is "
        "no quadratic cliff at any corpus size."
    ),
)
def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tagged = (
        paragraphs(docs, keep=("source",))
        .select("source", F.md5("par").alias("par_hash"))
        .distinct()
    )
    a = tagged.select(F.col("source").alias("source_a"), "par_hash")
    b = tagged.select(F.col("source").alias("source_b"), "par_hash")
    return (
        a.join(b, "par_hash")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_pars"))
    )


MAX_CC_ROUNDS = 25  # pointer doubling: covers any diameter ≤ 2^25


def connected_components(pairs: DataFrame) -> DataFrame:
    """(a, b) undirected pair edges → (x, label) with label = min node id
    in x's component.

    Min-label propagation WITH pointer doubling: each round takes the
    min over (own label, neighbors' labels, label-of-label). Doubling
    makes convergence O(log diameter) instead of O(diameter), so
    MAX_CC_ROUNDS covers any graph that fits on disk; the loop still
    exits at the observed fixpoint (usually 2-4 rounds on near-dup
    graphs). Labels are checkpointed each round so lineage stays flat —
    reliable checkpoint() when the session has a checkpoint dir (cluster:
    survives executor loss), localCheckpoint otherwise (see
    session.checkpoint_frame).
    """
    sym = pairs.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        pairs.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )
    # Materialize the edge list ONCE: every propagation round joins it,
    # and without this each round re-runs the whole upstream pair
    # pipeline (measured 4× end-to-end at sf0.1). The edge list is
    # near-dup pairs only — tiny relative to the corpus.
    sym = checkpoint_frame(sym, eager=True)
    labels = sym.groupBy("x").agg(F.least(F.min("y"), F.first("x")).alias("label"))
    labels = checkpoint_frame(labels, eager=True)
    for _ in range(MAX_CC_ROUNDS):
        # Own-label, neighbor-label and pointer-chase messages land in
        # ONE (x, label, own) stream under a single x-keyed aggregate:
        # the min over all three is the new label, and the min over the
        # own-tagged row is the previous one. Every x has an own row, so
        # no join back onto `labels` is needed to keep it or to compare.
        own_msgs = labels.select("x", "label", F.lit(True).alias("own"))
        nbr_msgs = sym.join(
            labels.withColumnRenamed("x", "y2"), F.col("y") == F.col("y2")
        ).select("x", "label", F.lit(False).alias("own"))
        # pointer doubling: x's label jumps to its label's label —
        # label ids are node ids, so they exist as keys in `labels`
        chase_msgs = labels.join(
            labels.select(F.col("x").alias("lx"), F.col("label").alias("lbl2")),
            F.col("label") == F.col("lx"),
        ).select("x", F.col("lbl2").alias("label"), F.lit(False).alias("own"))
        new_labels = (
            own_msgs.unionByName(nbr_msgs)
            .unionByName(chase_msgs)
            .groupBy("x")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("own"), F.col("label"))).alias("prev"),
            )
        )
        # Convergence is counted by the checkpoint action that
        # materializes the round: an Observation of sum(label != prev),
        # no job of its own (NULL on an empty graph).
        changed = Observation()
        labels = checkpoint_frame(
            new_labels.observe(
                changed, F.sum((F.col("label") != F.col("prev")).cast("long")).alias("n")
            ),
            eager=True,
        ).select("x", "label")
        if not changed.get["n"]:
            return labels
    # Hitting the cap means the loop was asked for something it can't
    # have finished — never return silently-wrong partial labels.
    raise RuntimeError(
        f"connected_components did not converge within {MAX_CC_ROUNDS} rounds"
    )


# Shared DuckDB CTE chain: ngram_jaccard pair graph → transitive
# closure (`reach`). Used by the dedup_components oracle and the
# survivorship oracle on top of it.
_SQL_PAIR_CLOSURE = f"""
    WITH RECURSIVE sh_all AS (
      SELECT doc_id, UNNEST(list_distinct(g)) AS shingle
      FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      )
    ),
    sh AS (
      SELECT doc_id, shingle FROM sh_all
      QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= {MAX_SHINGLE_DF}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT s1.doc_id AS a, s2.doc_id AS b, COUNT(*) AS inter
      FROM sh s1 JOIN sh s2 ON s1.shingle = s2.shingle AND s1.doc_id < s2.doc_id
      GROUP BY s1.doc_id, s2.doc_id
    ),
    pairs AS (
      SELECT i.a, i.b
      FROM inter i
      JOIN sizes za ON i.a = za.doc_id
      JOIN sizes zb ON i.b = zb.doc_id
      WHERE CAST(i.inter AS DOUBLE) / (za.sz + zb.sz - i.inter) >= 0.8
    ),
    sym AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
    reach AS (
      SELECT x, y FROM sym
      UNION
      SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x
    )"""


@register(
    "dedup_components",
    f"""{_SQL_PAIR_CLOSURE}
    SELECT x AS doc_id, LEAST(x, MIN(y)) AS component
    FROM reach GROUP BY x
    """,
    doc=(
        "Near-dup CLUSTERS: connected components over the ngram_jaccard "
        "pair graph (jaccard >= 0.8), component id = min doc_id — the "
        "stage that turns pairwise matches into survivor groups (keep "
        "component id, drop the rest). Spark side is min-label "
        "propagation with pointer doubling, iterated to convergence: each "
        "round is one x-keyed aggregate over the own, neighbour and "
        "label-of-label messages, labels localCheckpoint'ed so lineage "
        "stays flat; rounds needed ~ log2(graph diameter) (near-dup "
        "components are tiny and dense, so a handful). The DuckDB oracle computes "
        "the exact transitive closure recursively — feasible at oracle "
        "scale, and the hash-match proves the distributed propagation "
        "reaches the true fixpoint."
    ),
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_ngram_jaccard(spark, sf_dir).select("a", "b")
    labels = connected_components(pairs)
    return labels.select(F.col("x").alias("doc_id"), F.col("label").alias("component"))


@register(
    "dedup_survivorship",
    f"""{_SQL_PAIR_CLOSURE},
    comp AS (
      SELECT x AS doc_id, LEAST(x, MIN(y)) AS component
      FROM reach GROUP BY x
    )
    SELECT c.doc_id, c.component,
           FIRST_VALUE(c.doc_id) OVER w AS survivor_doc_id,
           CASE WHEN c.doc_id = FIRST_VALUE(c.doc_id) OVER w
                THEN 1 ELSE 0 END AS is_survivor
    FROM comp c JOIN documents d USING (doc_id)
    WINDOW w AS (PARTITION BY c.component ORDER BY d.n_chars DESC, c.doc_id ASC)
    """,
    doc=(
        "Dedup survivorship: within each near-dup component "
        "(dedup_components' clusters), pick the canonical copy by the "
        "standard keep-the-longest rule (n_chars desc, doc_id tiebreak) "
        "and mark every member keep/drop — the decision stage between "
        "clustering and the corpus filter. One doc_id-keyed join to "
        "fetch lengths plus one window over components (tiny: members "
        "of near-dup clusters only); the component frame reuses "
        "connected_components' checkpointed labels."
    ),
)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = q_dedup_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    surv = F.first("doc_id").over(w)
    return j.select(
        "doc_id",
        "component",
        surv.alias("survivor_doc_id"),
        (F.col("doc_id") == surv).cast("int").alias("is_survivor"),
    )


# Shingle width for the novelty audit: 8-gram overlap is the
# memorization-risk granularity (Lee et al. 2022 use 50-token windows
# for exact dedup; 8 tokens is the finer census that still avoids
# stopword-bigram noise).
NOVELTY_N = 8


@register(
    "ngram_novelty",
    f"""
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct(
        [md5(array_to_string(toks[i:i+{NOVELTY_N - 1}], ' '))
         FOR i IN range(1, GREATEST(len(toks) - {NOVELTY_N - 1}, 0) + 1)])) AS g
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
            FROM documents)
      WHERE len(toks) >= {NOVELTY_N}
    ),
    freq AS (SELECT g, COUNT(*) AS docs_with FROM sh GROUP BY g)
    SELECT s.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN f.docs_with = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.docs_with = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty_frac
    FROM sh s JOIN freq f USING (g)
    GROUP BY s.doc_id
    """,
    doc=(
        f"Per-document n-gram novelty (memorization/overlap audit): the "
        f"fraction of a doc's distinct {NOVELTY_N}-gram shingles that "
        "appear in NO other document — low novelty flags boilerplate, "
        "templated spam, and near-copies that slipped past pair-based "
        "dedup; the census a training run consults before trusting a "
        "source. Grams travel as 57-bit rolling HASHES (text never "
        "shuffles; counts match the md5-digest oracle exactly, same "
        "collision bound as shingle_hashes), one checkpointed explode "
        "feeds both the corpus document-frequency table and the "
        "per-doc census, and the novelty ratio is a quotient of exact "
        f"BIGINTs. Docs shorter than {NOVELTY_N} tokens have no "
        "shingles and no row — identical in both engines."
    ),
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import checkpoint_frame

    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    # Rolling-gram hashes, staged once (r9): the output reads only
    # COUNTS, so the gram identity is the 57-bit rolling hash (same
    # exactness bound as shingle_pair_stats — the string/md5 oracle's
    # counts match exactly at any tested scale), and the exploded index
    # is checkpointed because BOTH consumers (the document-frequency
    # aggregate and the join probe) otherwise re-run the corpus
    # tokenize+gram expansion. Docs are pre-filtered to >= NOVELTY_N
    # tokens (mirrors the oracle), so the gram fold is full-width only.
    # Measured at sf0.1, values identical: 4.2-5.3 s → 1.1 s.
    staged = docs.filter(F.size(toks) >= NOVELTY_N).select(
        "doc_id", token_hash_expr().alias("_th")
    )
    grams = rolling_gram_expr(F.col("_th"), NOVELTY_N)
    sh = checkpoint_frame(
        staged.select("doc_id", F.explode(F.array_distinct(grams)).alias("g"))
    )
    freq = sh.groupBy("g").agg(F.count(F.lit(1)).alias("docs_with"))
    novel = F.when(F.col("docs_with") == 1, 1).otherwise(0)
    return (
        sh.join(freq, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias("novelty_frac"),
        )
    )


# delta_dedup's batch split: every BATCH_MOD-th doc plays the "tonight's
# crawl increment"; the rest are the already-ingested corpus.
BATCH_MOD = 10


@register(
    "delta_dedup",
    f"""
    WITH incoming AS (
      SELECT doc_id, source, n_chars, md5(text) AS digest
      FROM documents WHERE doc_id % {BATCH_MOD} = 0
    ),
    corpus AS (
      SELECT DISTINCT md5(text) AS digest
      FROM documents WHERE doc_id % {BATCH_MOD} <> 0
    ),
    batch_first AS (
      SELECT doc_id, source, n_chars, digest FROM incoming
      QUALIFY ROW_NUMBER() OVER (PARTITION BY digest ORDER BY doc_id) = 1
    )
    SELECT b.doc_id, b.source, b.n_chars
    FROM batch_first b
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = b.digest)
    """,
    doc=(
        "Incremental (delta) exact dedup: tonight's ingest batch is "
        "deduped first WITHIN itself (min-doc_id canonical per digest "
        "via one min_by aggregate) and then ANTI-JOINED against the "
        "existing corpus's digest set — the nightly-increment pattern "
        "every growing corpus needs, and the exact twin of "
        "bloom_filter_dedup's approximate membership check. Both sides "
        "reduce to 16-byte digests before any shuffle: text never "
        "leaves the scan, the anti-join moves |batch| + |corpus| "
        "digests, and at 100 TB the corpus side is a compacted digest "
        "table you maintain incrementally, not a re-scan (the bloom "
        "variant trades that table for a constant-size bit array + "
        "false positives)."
    ),
)
def q_delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    digest = F.md5(F.col("text"))
    incoming = docs.filter(F.col("doc_id") % BATCH_MOD == 0).select(
        "doc_id", "source", "n_chars", digest.alias("digest")
    )
    corpus = docs.filter(F.col("doc_id") % BATCH_MOD != 0).select(digest.alias("digest"))
    batch_first = (
        incoming.groupBy("digest")
        .agg(F.min_by(F.struct("doc_id", "source", "n_chars"), "doc_id").alias("r"))
        .select("digest", "r.doc_id", "r.source", "r.n_chars")
    )
    return (
        batch_first.join(corpus, "digest", "left_anti")
        .select("doc_id", "source", "n_chars")
    )


# Prefix width for truncation-variant dedup: enough tokens that prose
# prefixes rarely collide by chance, short enough to catch re-crawls
# cut at different lengths.
PREFIX_TOKENS = 32


@register(
    "prefix_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    keyed AS (
      SELECT doc_id,
             md5(array_to_string(t[1:{PREFIX_TOKENS}], ' ')) AS prefix_hash,
             md5(text) AS full_hash
      FROM toks WHERE len(t) >= {PREFIX_TOKENS}
    )
    SELECT prefix_hash,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(DISTINCT full_hash) AS n_distinct_full
    FROM keyed
    GROUP BY prefix_hash
    HAVING COUNT(*) >= 2
    """,
    doc=(
        "Prefix dedup: cluster documents by the digest of their first "
        f"{PREFIX_TOKENS} tokens — catches truncation variants of the "
        "same page (re-crawls cut at different lengths, pagination "
        "tails, footer-injected copies) that exact full-text dedup "
        "misses and near-dup passes pay shingle cost to find. "
        "n_distinct_full > 1 inside a cluster is the interesting "
        "signal: same head, different tails. Docs shorter than the "
        "prefix are excluded in both engines (their 'prefix' would be "
        "the whole doc — that's dedup_exact_docs' job). One narrow "
        "projection (tokenize + slice + digest, HOF only) and one "
        "groupBy where ONLY the two 16-byte digests and the doc id "
        "shuffle — text never leaves the scan."
    ),
)
def q_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, PREFIX_TOKENS))).alias("prefix_hash"),
        F.md5(F.col("text")).alias("full_hash"),
        F.size(toks).alias("_n"),
    ).filter(F.col("_n") >= PREFIX_TOKENS)
    return (
        keyed.groupBy("prefix_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.countDistinct("full_hash").alias("n_distinct_full"),
        )
        .filter(F.col("n_docs") >= 2)
    )


@register(
    "minhash_eval",
    None,  # the predicted side inherits minhash's seeded LSH → rows-only;
    # the constructed-corpus test pins precision == recall == 1.0.
    doc=(
        "Self-audit of the MinHash-LSH pipeline: precision/recall of "
        "minhash_dedup's verified pairs against exact ground truth at "
        "the SAME jaccard >= 0.5 threshold — the quantitative guard "
        "the ANN family gets from tools/check.py --recall, expressed "
        "as a query so a deployment can re-measure on ITS corpus "
        "before trusting the dedup (banding parameters that work on "
        "one shingle distribution can silently lose recall on "
        "another). Ground truth is generated from the df-capped "
        "shingle inverted index (the ngram_jaccard shape — bounded, "
        "never all-pairs; a pair with jaccard >= 0.5 shares shingles "
        "by definition, so under the cap the truth set is "
        "recall-complete for docs without ultra-hot shingles, and the "
        "cap caveat is shared by both sides' candidate generation). "
        "Output: one census row (n_pred, n_truth, n_hit, precision, "
        "recall)."
    ),
)
def q_minhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = q_minhash_dedup(spark, sf_dir).select("a", "b")
    docs = load_table(spark, sf_dir, "documents")
    truth = (
        shingle_pair_stats(docs)
        .filter(
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
            >= 0.5
        )
        .select("a", "b")
    )
    # One full-outer join + one aggregate yields all three counts with a
    # SINGLE consumption of each side (the left_semi + three separate
    # aggregates form re-ran both the LSH pipeline and the exact-truth
    # self-join once per count; on a cluster neither side is cached).
    j = pred.withColumn("p", F.lit(1)).join(
        truth.withColumn("t", F.lit(1)), ["a", "b"], "full_outer"
    )
    out = j.agg(
        F.sum(F.coalesce(F.col("p"), F.lit(0))).alias("n_pred"),
        F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("n_truth"),
        F.sum(
            F.when(F.col("p").isNotNull() & F.col("t").isNotNull(), 1).otherwise(0)
        ).alias("n_hit"),
    )
    return out.select(
        "n_pred",
        "n_truth",
        "n_hit",
        F.round(
            F.col("n_hit").cast("double") / F.nullif(F.col("n_pred"), F.lit(0)), 6
        ).alias("precision"),
        F.round(
            F.col("n_hit").cast("double") / F.nullif(F.col("n_truth"), F.lit(0)), 6
        ).alias("recall"),
    )
