"""Text analysis — SURVEY §2.10 [X] extension ops (LLM-data-pipeline).

Everything here is built-in-expression only (whole-stage codegen, no
Python UDFs): at 100 TB the text path must stay JVM-side. The one
deliberately regex-light design: token counts via split, language ID
via marker-word occurrence counting (portable to the DuckDB oracle via
length/replace arithmetic), fingerprints via sha2/md5 built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.functions.dedup import (
    PARA_TOKENS,
    SHINGLE_HASH_MOD,
    SHINGLE_HASH_MULT,
    partial_grams,
    sorted_pairs,
    string_grams,
    token_chunks,
    token_hash_expr,
)
from nt_etl_order_book_spark.operators.aggregates import davg, sql_davg
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table


def occurrences(text: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of `needle` via length arithmetic.

    (length(s) - length(replace(s, needle, ''))) / length(needle) — exact
    integer math, identical in any engine; cheaper than regex at scale.
    """
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("bigint")


def sql_occurrences(expr: str, needle: str) -> str:
    escaped = needle.replace("'", "''")
    return (
        f"CAST((LENGTH({expr}) - LENGTH(REPLACE({expr}, '{escaped}', ''))) / {len(needle)} AS BIGINT)"
    )


# Tiny per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Deterministic and SQL-portable; a real deployment would
# swap in fastText etc. behind the same column contract.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "es": [" el ", " la ", " que "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
    "zh": [" de ", " shi ", " le "],
}


@register(
    "text_stats",
    f"""
    WITH pertext AS (
      SELECT doc_id, lang, n_chars,
             len(string_split(text, ' ')) AS n_words
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           {sql_davg('n_chars')} AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM pertext
    GROUP BY lang
    """,
    doc="Per-language corpus statistics: doc/char/word counts (char-level profile of the documents table).",
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    pertext = docs.select(
        "doc_id", "lang", "n_chars", F.size(F.split("text", " ")).alias("n_words")
    )
    return pertext.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_words").alias("total_words"),
        davg("n_chars").alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@register(
    "tokenize_tf",
    """
    WITH toks AS (
      SELECT UNNEST(string_split(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT token, COUNT(*) AS tf FROM toks WHERE token <> '' GROUP BY token
    )
    SELECT token, tf FROM tf
    ORDER BY tf DESC, token ASC
    LIMIT 100
    """,
    doc="Tokenize + global term frequencies, top-100 (explode → hash agg → TakeOrdered; partial agg keeps the shuffle to distinct terms).",
)
def q_tokenize_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(100)
    )


def _lang_scores(text: Column) -> dict[str, Column]:
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    out: dict[str, Column] = {}
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            c = occurrences(padded, m)
            score = c if score is None else (score + c)
        out[lang] = score
    return out


def _sql_lang_scores(expr: str) -> dict[str, str]:
    padded = f"(' ' || {expr} || ' ')"
    return {
        lang: " + ".join(sql_occurrences(padded, m) for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }


# The ONE argmax/tiebreak definition both the classifier (lang_id) and
# its evaluator (lang_id_confusion) build on: the confusion matrix is
# only meaningful if its predictions match lang_id's bit-for-bit, so
# the score columns, the GREATEST, and the tiebreak-sensitive CASE
# ordering must not exist in two hand-kept copies.
_SQL_LANG_BEST = (
    "GREATEST(" + ", ".join("(" + s + ")" for s in _sql_lang_scores("text").values()) + ")"
)
_SQL_LANG_SCORE_COLS = ", ".join(
    f"({s}) AS score_{lang}" for lang, s in _sql_lang_scores("text").items()
)
_SQL_LANG_PRED_CASE = (
    "CASE WHEN _best = 0 THEN 'unknown' "
    + " ".join(f"WHEN score_{lang} = _best THEN '{lang}'" for lang in LANG_MARKERS)
    + " END"
)


def _pred_lang_expr() -> Column:
    """Predicted-language Column over `text` — marker-occurrence argmax
    with LANG_MARKERS insertion order as tiebreak (mirrors the CASE)."""
    scores = _lang_scores(F.col("text"))
    best = F.greatest(*scores.values())
    pred = F.when(best == 0, "unknown")
    for lang in LANG_MARKERS:
        pred = pred.when(scores[lang] == best, lang)
    return pred


@register(
    "lang_id",
    f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang,
             {_SQL_LANG_BEST} AS _best,
             {_SQL_LANG_SCORE_COLS}
      FROM documents
    )
    SELECT doc_id, true_lang,
           {_SQL_LANG_PRED_CASE} AS pred_lang
    FROM scored
    """,
    doc="Heuristic language ID: marker-word occurrence scoring with first-match argmax (stopword n-gram heuristic).",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("true_lang"), _pred_lang_expr().alias("pred_lang")
    )


@register(
    "quality_score",
    f"""
    WITH feats AS (
      SELECT doc_id, lang,
             LENGTH(text) AS n_chars_m,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
             {sql_occurrences("(' ' || text || ' ')", ' the ')}
               + {sql_occurrences("(' ' || text || ' ')", ' a ')} AS n_stop
      FROM documents
    )
    SELECT doc_id, lang, n_words,
           CAST(n_chars_m AS DOUBLE) / nullif(n_words, 0) AS avg_word_len,
           CAST(n_stop AS DOUBLE) / nullif(n_words, 0) AS stopword_ratio,
           CASE WHEN n_words BETWEEN 5 AND 100000
                 AND CAST(n_chars_m AS DOUBLE) / nullif(n_words, 0) BETWEEN 2 AND 12
                THEN 1 ELSE 0 END AS quality_pass
    FROM feats
    """,
    doc="Document quality scoring: length / avg-word-length / stopword-ratio gates (C4-style heuristics, pure expressions).",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    feats = docs.select(
        "doc_id",
        "lang",
        F.length("text").alias("n_chars_m"),
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("n_words"),
        (occurrences(padded, " the ") + occurrences(padded, " a ")).alias("n_stop"),
    )
    # nullif keeps empty/whitespace-only docs from crashing the junk
    # filter under ANSI division (they score quality_pass = 0 instead).
    n_words_nz = F.nullif(F.col("n_words"), F.lit(0))
    awl = F.col("n_chars_m").cast("double") / n_words_nz
    return feats.select(
        "doc_id",
        "lang",
        "n_words",
        awl.alias("avg_word_len"),
        (F.col("n_stop").cast("double") / n_words_nz).alias("stopword_ratio"),
        F.when(F.col("n_words").between(5, 100000) & awl.between(2, 12), 1)
        .otherwise(0)
        .alias("quality_pass"),
    )


@register(
    "token_count",
    f"""
    SELECT doc_id,
           len(list_filter(string_split(text, ' '), t -> t <> '')) AS ws_tokens,
           CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS approx_bpe_tokens
    FROM documents
    """,
    doc="Token counting: whitespace tokens + chars/4 BPE-budget approximation (the standard LLM budgeting heuristic).",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("ws_tokens"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("approx_bpe_tokens"),
    )


@register(
    "doc_fingerprint",
    """
    SELECT doc_id,
           sha256(text) AS sha_fp,
           md5(LOWER(REPLACE(text, ' ', ''))) AS normalized_fp
    FROM documents
    """,
    doc="Document fingerprinting: content hash + whitespace/case-normalized hash (exact-dedup keys).",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.sha2(F.col("text"), 256).alias("sha_fp"),
        F.md5(F.lower(F.replace(F.col("text"), F.lit(" "), F.lit("")))).alias("normalized_fp"),
    )


@register(
    "topk_ngrams",
    """
    WITH sh AS (
      SELECT doc_id, UNNEST(list_distinct(g)) AS shingle
      FROM (
        SELECT doc_id,
               [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      )
    )
    SELECT shingle, COUNT(*) AS doc_freq
    FROM sh GROUP BY shingle
    ORDER BY doc_freq DESC, shingle ASC
    LIMIT 20
    """,
    doc=(
        "Vocabulary head: top-20 3-gram shingles by document frequency — "
        "the corpus-QA view that feeds boilerplate blocklists and the "
        "MAX_SHINGLE_DF cap. One partial-aggregated shuffle of (shingle, "
        "count) pairs; top-k via global sort of the aggregate (tiny)."
    ),
)
def q_topk_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.functions.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, "doc_id", "text")
    return (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), F.asc("shingle"))
        .limit(20)
    )


@register(
    "doc_length_histogram",
    """
    SELECT CAST(FLOOR(n_chars / 100) * 100 AS BIGINT) AS bucket_lo,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY 1
    """,
    doc=(
        "Corpus-QA length histogram: fixed-width (100-char) buckets with "
        "doc counts and per-bucket language spread — the sanity view run "
        "before and after every filtering stage."
    ),
)
def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    bucket = (F.floor(F.col("n_chars") / 100) * 100).cast("bigint")
    return docs.groupBy(bucket.alias("bucket_lo")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# Redaction patterns: RE2-safe (work identically under Java regex and
# DuckDB's RE2 — no lookbehind, no backrefs). The entity pattern stands
# in for a dictionary-based scrubber; emails/numbers are the standard
# PII shapes (absent from the fixture corpus — their zero counts are
# still oracle-checked).
_RE_EMAIL = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
_RE_NUMBER = "[0-9]+"
_RE_ENTITY = "\\bcustomer\\b"


@register(
    "redact_pii",
    f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_RE_EMAIL}')) AS n_email,
           len(regexp_extract_all(text, '{_RE_NUMBER}')) AS n_number,
           len(regexp_extract_all(text, '{_RE_ENTITY}')) AS n_entity,
           LENGTH(regexp_replace(regexp_replace(regexp_replace(text,
                  '{_RE_EMAIL}', '<EMAIL>', 'g'),
                  '{_RE_NUMBER}', '<NUM>', 'g'),
                  '{_RE_ENTITY}', '<ENTITY>', 'g')) AS redacted_len
    FROM documents
    """,
    doc=(
        "Rule-based scrubbing: count and replace email / number / "
        "dictionary-entity matches per doc (the pre-training redaction "
        "pass). Pure regexp expressions — narrow, no shuffle, pushes "
        "column pruning to the scan."
    ),
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _RE_EMAIL, "<EMAIL>"),
            _RE_NUMBER,
            "<NUM>",
        ),
        _RE_ENTITY,
        "<ENTITY>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(_RE_EMAIL)).alias("n_email"),
        F.regexp_count(F.col("text"), F.lit(_RE_NUMBER)).alias("n_number"),
        F.regexp_count(F.col("text"), F.lit(_RE_ENTITY)).alias("n_entity"),
        F.length(redacted).alias("redacted_len"),
    )


# Gopher-style repetition gate: a doc whose 3-grams repeat heavily is
# boilerplate/spam even when C4 length gates (quality_score) pass.
REPETITION_TAU = 0.2


@register(
    "repetition_stats",
    f"""
    SELECT doc_id,
           len(g) AS n_grams,
           len(list_distinct(g)) AS n_distinct_grams,
           ROUND(1 - CAST(len(list_distinct(g)) AS DOUBLE) / nullif(len(g), 0), 6) AS dup_frac,
           CASE WHEN 1 - CAST(len(list_distinct(g)) AS DOUBLE) / nullif(len(g), 0)
                     > {REPETITION_TAU} THEN 1 ELSE 0 END AS repetition_flag
    FROM (
      SELECT doc_id,
             [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
    )
    """,
    doc=(
        "Intra-document repetition stats (Gopher-style quality signal): "
        "duplicate-3-gram fraction per doc, flagged above "
        f"{REPETITION_TAU}. Entirely narrow HOF expressions — the gram "
        "array never explodes, nothing shuffles."
    ),
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    # Token array staged in its own projection (r12, the
    # minhash_signature_col lesson): interpreted HOF lambdas re-evaluate
    # an embedded tokenize subtree per gram index; a multi-referenced
    # staged column splits once per doc and is never inlined back.
    staged = docs.select("doc_id", toks.alias("_toks"))
    grams = string_grams(F.col("_toks"), 3)
    d = staged.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"),
    )
    dup = F.lit(1) - F.col("n_distinct_grams").cast("double") / F.nullif(
        F.col("n_grams"), F.lit(0)
    )
    return d.select(
        "doc_id",
        "n_grams",
        "n_distinct_grams",
        F.round(dup, 6).alias("dup_frac"),
        F.when(dup > REPETITION_TAU, 1).otherwise(0).alias("repetition_flag"),
    )


TFIDF_TOP_K = 3


@register(
    "tfidf_topterms",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token,
             ROUND(tf.tf * LN(CAST(n.n_docs AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tf CROSS JOIN n JOIN dfreq ON tf.token = dfreq.token
    )
    SELECT doc_id, token, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn
      FROM scored
    ) WHERE rn <= {TFIDF_TOP_K}
    """,
    doc=(
        "Per-document top-k TF-IDF terms: token tf keyed by (doc, token), "
        "document frequency keyed by token (both partial-aggregated), "
        "idf = ln(N/df), rank per doc. Ranking uses the ROUNDED score + "
        "token tiebreak so a last-ulp ln() difference between engines "
        "cannot flip the order. Shuffles carry (token, counts) only."
    ),
)
def q_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    # Checkpoint the (doc, token) term-frequency aggregate (r15
    # optimization round): `tf` feeds the document-frequency aggregate
    # AND the scoring join, and Catalyst re-planned the full
    # explode+aggregate subtree under both (executed plan: 0
    # ReusedExchange, two full token-stream explodes). One
    # materialization halves the corpus passes; dfreq becomes a narrow
    # re-aggregation of materialized rows. Same lesson as the bigram
    # family.
    from nt_etl_order_book_spark.session import checkpoint_frame

    tf = checkpoint_frame(
        toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP_K)
        .select("doc_id", "token", "tfidf")
    )


@register(
    "unigram_logprob",
    """
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS tf FROM toks GROUP BY token),
    tot AS (SELECT CAST(SUM(tf) AS BIGINT) AS n_total FROM freq)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           ROUND(CAST(SUM(CAST(-LN(CAST(f.tf AS DOUBLE) / tot.n_total)
                               AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_neg_logprob
    FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN tot
    GROUP BY t.doc_id
    """,
    doc=(
        "Unigram-LM surprisal per document (the cheap perplexity stand-in "
        "for corpus quality ranking): average -ln p(token) under the "
        "corpus unigram distribution. Two keyed aggregates + one join on "
        "token; the vocabulary frame is small and broadcastable at any "
        "corpus size. The -ln(p) terms are accumulated as DECIMAL(38,18) "
        "— quantization 5e-19, below double ULP at these magnitudes — so "
        "the per-doc sum is independent of partition/accumulation order "
        "in both engines (registry determinism discipline)."
    ),
)
def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    # n_total derives from freq's distinct-token rows (not a third pass
    # over the exploded stream); CAST keeps the BIGINT type the ratio
    # expressions expect in both engines.
    tot = freq.agg(F.sum("tf").cast("bigint").alias("n_total"))
    neg_lp = -F.log(F.col("tf").cast("double") / F.col("n_total"))
    return (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(neg_lp.cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


@register(
    "corpus_filter_funnel",
    f"""
    WITH feats AS (
      SELECT doc_id, source,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
             LENGTH(text) AS n_chars_f,
             len(g) AS n_grams,
             len(list_distinct(g)) AS n_distinct_grams,
             sha256(text) AS sha,
             CAST(CEIL(LENGTH(text) / 4.0) AS BIGINT) AS n_tokens
      FROM (
        SELECT *,
               [array_to_string(toks[i:i+2], ' ') FOR i IN range(1, GREATEST(len(toks) - 2, 1) + 1)] AS g
        FROM (SELECT *, list_filter(string_split(text, ' '), t -> t <> '') AS toks FROM documents)
      )
    ),
    flagged AS (
      SELECT *,
             CASE WHEN n_words BETWEEN 5 AND 100000
                   AND CAST(n_chars_f AS DOUBLE) / nullif(n_words, 0) BETWEEN 2 AND 12
                  THEN 1 ELSE 0 END AS q,
             CASE WHEN 1 - CAST(n_distinct_grams AS DOUBLE) / nullif(n_grams, 0)
                       > {REPETITION_TAU} THEN 1 ELSE 0 END AS r
      FROM feats
    ),
    dedup AS (
      SELECT *,
             MIN(CASE WHEN q = 1 AND r = 0 THEN doc_id END)
               OVER (PARTITION BY sha) AS min_pass
      FROM flagged
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_quality,
           CAST(SUM(CASE WHEN q = 1 AND r = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_repetition,
           CAST(SUM(CASE WHEN q = 1 AND r = 0 AND doc_id <> min_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_dropped,
           CAST(SUM(CASE WHEN q = 1 AND r = 0 AND doc_id = min_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN q = 1 AND r = 0 AND doc_id = min_pass THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
    FROM dedup
    GROUP BY source
    """,
    doc=(
        "Corpus-cleaning funnel report: per source domain, how many docs "
        "each pipeline stage drops — C4-style quality gates (length, "
        "avg-word-length), then the Gopher duplicate-3-gram repetition "
        "gate, then exact dedup (canonical = min doc_id per sha256 among "
        "stage survivors, the order real pipelines apply) — plus "
        "survivor count and surviving token mass. The per-doc gates are "
        "narrow HOF expressions; only (sha, flags, doc_id, source, "
        "n_tokens) ride the dedup window exchange and the final "
        "per-source aggregate, never text, so the report costs two "
        "digest-width shuffles at any corpus size."
    ),
)
def q_corpus_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    # Repetition ratio over HASHED grams (r9): only the distinct/total
    # gram COUNTS feed the funnel, so the gram identity is the 57-bit
    # rolling hash — no per-gram string concat, tokens hashed once in a
    # staged projection (string-oracle counts identical; within-doc
    # collision odds ~windows²/2⁵⁸). Measured 1.9-2.1 s → 0.6-0.8 s at
    # sf0.1, output identical. Partial grams match the oracle's clipped
    # slice on docs shorter than 3 tokens.
    staged = docs.select(
        "doc_id", "source", "text", F.size(toks).alias("n_words"), token_hash_expr().alias("_th")
    )
    grams = partial_grams(F.col("_th"), 3)
    feats = staged.select(
        "doc_id",
        "source",
        "n_words",
        F.length("text").alias("n_chars_f"),
        F.size(grams).alias("n_grams"),
        F.size(F.array_distinct(grams)).alias("n_distinct_grams"),
        F.sha2(F.col("text"), 256).alias("sha"),
        F.ceil(F.length("text") / 4.0).cast("bigint").alias("n_tokens"),
    )
    n_words_nz = F.nullif(F.col("n_words"), F.lit(0))
    awl = F.col("n_chars_f").cast("double") / n_words_nz
    dup = F.lit(1) - F.col("n_distinct_grams").cast("double") / F.nullif(
        F.col("n_grams"), F.lit(0)
    )
    flagged = feats.select(
        "*",
        F.when(F.col("n_words").between(5, 100000) & awl.between(2, 12), 1)
        .otherwise(0)
        .alias("q"),
        F.when(dup > REPETITION_TAU, 1).otherwise(0).alias("r"),
    )
    pass12 = (F.col("q") == 1) & (F.col("r") == 0)
    w = Window.partitionBy("sha")
    dedup = flagged.withColumn(
        "min_pass", F.min(F.when(pass12, F.col("doc_id"))).over(w)
    )
    kept = pass12 & (F.col("doc_id") == F.col("min_pass"))
    return dedup.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("q") == 0).cast("int")).alias("n_fail_quality"),
        F.sum(((F.col("q") == 1) & (F.col("r") == 1)).cast("int")).alias("n_fail_repetition"),
        F.sum((pass12 & (F.col("doc_id") != F.col("min_pass"))).cast("int")).alias("n_dup_dropped"),
        F.sum(kept.cast("int")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias("tokens_kept"),
    )


@register(
    "domain_kl_divergence",
    """
    WITH toks AS (
      SELECT source, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    tf_s AS (SELECT source, token, COUNT(*) AS tf_s FROM toks GROUP BY source, token),
    tf   AS (SELECT token, CAST(SUM(tf_s) AS BIGINT) AS tf FROM tf_s GROUP BY token),
    n_s  AS (SELECT source, CAST(SUM(tf_s) AS BIGINT) AS src_tokens FROM tf_s GROUP BY source),
    n    AS (SELECT CAST(SUM(tf_s) AS BIGINT) AS n_total FROM tf_s)
    SELECT s.source,
           n_s.src_tokens,
           COUNT(*) AS vocab,
           ROUND(CAST(SUM(CAST(
             (CAST(s.tf_s AS DOUBLE) / n_s.src_tokens)
             * LN((CAST(s.tf_s AS DOUBLE) / n_s.src_tokens)
                  / (CAST(f.tf AS DOUBLE) / n.n_total))
             AS DECIMAL(38,18))) AS DOUBLE), 6) AS kl_nats
    FROM tf_s s
    JOIN tf f USING (token)
    JOIN n_s USING (source)
    CROSS JOIN n
    GROUP BY s.source, n_s.src_tokens
    """,
    doc=(
        "Per-domain unigram KL divergence vs the whole-corpus "
        "distribution, KL(P_source || P_corpus) in nats — the "
        "domain-shift diagnostic that tells a mixture designer which "
        "sources are interchangeable and which carry unique mass "
        "(domain_mix re-weights by token VOLUME; this measures "
        "DISTRIBUTIONAL distance). The raw token stream explodes and "
        "shuffles exactly ONCE (the tf_s aggregate); tf, per-source "
        "totals, and the grand total all derive from tf_s's distinct "
        "(source, token) rows — orders of magnitude smaller — and the "
        "identical tf_s exchange is reused across branches. The "
        "tf_s-x-tf join stays keyed by token WITHOUT a broadcast hint "
        "(a web-scale vocabulary outgrows broadcast — AQE picks "
        "broadcast when it fits), while the per-source totals and the "
        "1-row grand total do broadcast. "
        "Each ln input is a quotient of exact BIGINT-ratio doubles "
        "(identical bits in both engines) and the term sum accumulates "
        "as DECIMAL(38,18), so the 6-dp result is partition-order "
        "independent (registry determinism discipline)."
    ),
)
def q_domain_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
    )
    tf_s = toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("tf_s"))
    tf = tf_s.groupBy("token").agg(F.sum("tf_s").cast("bigint").alias("tf"))
    n_s = tf_s.groupBy("source").agg(F.sum("tf_s").cast("bigint").alias("src_tokens"))
    n = tf_s.agg(F.sum("tf_s").cast("bigint").alias("n_total"))
    p_src = F.col("tf_s").cast("double") / F.col("src_tokens")
    p_all = F.col("tf").cast("double") / F.col("n_total")
    term = p_src * F.log(p_src / p_all)
    return (
        tf_s.join(tf, "token")
        .join(F.broadcast(n_s), "source")
        .crossJoin(F.broadcast(n))
        .groupBy("source", "src_tokens")
        .agg(
            F.count(F.lit(1)).alias("vocab"),
            F.round(F.sum(term.cast("decimal(38,18)")).cast("double"), 6).alias("kl_nats"),
        )
        .select("source", "src_tokens", "vocab", "kl_nats")
    )


# Portable "BPE-ish" pre-tokenizer: letter runs, digit runs, single
# punctuation marks — the GPT-2 pre-tokenizer's shape reduced to the
# regex subset Java (Spark) and RE2 (DuckDB) evaluate identically
# (no lookarounds, no \p classes). Counts subword-ish units, which is
# what token budgeting needs; a real BPE merge table sits behind the
# same column contract.
SUBWORD_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "subword_token_count",
    f"""
    WITH c AS (
      SELECT doc_id,
             len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_words,
             len(regexp_extract_all(text, '{SUBWORD_RE}')) AS n_subwords
      FROM documents
    )
    SELECT doc_id, n_words, CAST(n_subwords AS BIGINT) AS n_subwords,
           ROUND(CAST(n_subwords AS DOUBLE) / nullif(n_words, 0), 6) AS subwords_per_word
    FROM c
    """,
    doc=(
        "Regex pre-tokenizer token counting — the BPE-ish complement to "
        "`token_count`'s whitespace + chars/4 budget: letter runs, digit "
        "runs, and punctuation marks counted per doc, plus the "
        "subwords-per-word fertility ratio (the signal that flags "
        "code/table-heavy docs whose real token cost far exceeds their "
        "word count). Single regexp_extract_all per row, fully narrow, "
        "pattern restricted to the Java∩RE2 dialect so both engines "
        "tokenize identically."
    ),
)
def q_subword_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    n_subwords = F.size(F.regexp_extract_all("text", F.lit(SUBWORD_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        n_subwords.cast("bigint").alias("n_subwords"),
        F.round(
            n_subwords.cast("double") / F.nullif(n_words, F.lit(0)), 6
        ).alias("subwords_per_word"),
    )


# Interpolation weight for the bigram LM: p = λ·p_bigram + (1−λ)·p_unigram.
# 3/4 is the classic fixed-weight baseline (Jelinek-Mercer without EM).
# Exactly representable in binary, so λ·x is one correctly-rounded
# multiply in any IEEE engine.
BIGRAM_LAMBDA = 0.75


def _bigram_tables(docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame, DataFrame]:
    """(big, cb, ch, c2, n2): the per-position bigram stream and every
    count table the bigram-LM family derives from it; ch/c2/n2 are
    distinct-bigram sized. Shared by bigram_logprob and
    pmi_collocations.

    ``cb`` is checkpointed ONCE (r15 optimization round): Catalyst
    re-plans a forked DataFrame per consumer, so the tokenize + zip +
    explode + groupBy(w1,w2) subtree ran under EVERY downstream frame —
    measured 10 parquet scans / 10 Generate(explode) nodes in
    bigram_logprob's physical plan (cb's join branch, ch, c2, n2, and
    the probe side each re-deriving it; ReusedExchange never fired
    because the consumers' prunings differ). One localCheckpoint of the
    distinct-bigram frame (the SMALLEST shared grain — vocabulary-pair
    bounded, never position-grain) makes ch/c2/n2 narrow re-aggregations
    of materialized rows: 10 scans → 2, and at corpus scale one
    explode+aggregate of the token stream instead of four. Same
    fork-materialization lesson as pagerank_docs/triangle_count (this
    round) and graph_reachability (r12)."""
    from nt_etl_order_book_spark.session import checkpoint_frame

    toks = F.filter(F.split("text", " "), lambda t: t != "")
    pairs = F.zip_with(
        F.slice(toks, 1, F.size(toks) - 1),
        F.slice(toks, 2, F.size(toks) - 1),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    big = (
        docs.filter(F.size(toks) >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    cb = checkpoint_frame(big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_big")))
    ch = cb.groupBy("w1").agg(F.sum("c_big").cast("bigint").alias("c_hist"))
    c2 = cb.groupBy("w2").agg(F.sum("c_big").cast("bigint").alias("c_next"))
    n2 = cb.agg(F.sum("c_big").cast("bigint").alias("n_bigrams_total"))
    return big, cb, ch, c2, n2



@register(
    "bigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id, pz[1] AS w1, pz[2] AS w2 FROM (
        SELECT doc_id, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS pz
        FROM toks WHERE len(t) >= 2
      )
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS c_big FROM big GROUP BY w1, w2),
    ch AS (SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_hist FROM cb GROUP BY w1),
    c2 AS (SELECT w2, CAST(SUM(c_big) AS BIGINT) AS c_next FROM cb GROUP BY w2),
    n2 AS (SELECT CAST(SUM(c_big) AS BIGINT) AS n_bigrams FROM cb)
    SELECT b.doc_id,
           COUNT(*) AS n_bigrams,
           ROUND(CAST(SUM(CAST(-LN(
             {BIGRAM_LAMBDA} * (CAST(cb.c_big AS DOUBLE) / ch.c_hist)
             + {1 - BIGRAM_LAMBDA} * (CAST(c2.c_next AS DOUBLE) / n2.n_bigrams)
           ) AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6) AS avg_neg_logprob
    FROM big b
    JOIN cb USING (w1, w2)
    JOIN ch USING (w1)
    JOIN c2 USING (w2)
    CROSS JOIN n2
    GROUP BY b.doc_id
    """,
    doc=(
        "Interpolated bigram-LM surprisal per document — the step up "
        "from `unigram_logprob` toward a real perplexity quality "
        f"scorer: -ln({BIGRAM_LAMBDA}·p(w2|w1) + {1 - BIGRAM_LAMBDA}"
        "·p(w2)) averaged over a doc's bigram positions, with p(w2|w1) "
        "= c(w1,w2)/c(w1·) and the unigram leg estimated over "
        "second-of-bigram positions so EVERY count (history, "
        "next-token, grand total) derives from the single bigram "
        "aggregate — the token stream explodes and shuffles once, "
        "every later frame is distinct-bigram sized. Both ln inputs "
        "are sums of correctly-rounded products of exact BIGINT-ratio "
        "doubles (bit-identical cross-engine); term sums accumulate as "
        "DECIMAL(38,18) per the registry determinism discipline. Docs "
        "with fewer than 2 tokens have no bigram positions and no row."
    ),
)
def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    big, cb, ch, c2, n2 = _bigram_tables(docs)
    p = F.lit(BIGRAM_LAMBDA) * (F.col("c_big").cast("double") / F.col("c_hist")) + F.lit(
        1 - BIGRAM_LAMBDA
    ) * (F.col("c_next").cast("double") / F.col("n_bigrams_total"))
    return (
        big.join(cb, ["w1", "w2"])
        .join(ch, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n2))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum((-F.log(p)).cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_neg_logprob"),
        )
    )


# Collocation extraction floor/width: PMI is unstable on rare pairs
# (a hapax bigram of two hapax words maxes the score), so the standard
# practice is a minimum pair count.
PMI_MIN_COUNT = 5
PMI_TOP_K = 20


@register(
    "pmi_collocations",
    f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    big AS (
      SELECT doc_id, pz[1] AS w1, pz[2] AS w2 FROM (
        SELECT doc_id, UNNEST(list_zip(t[1:len(t)-1], t[2:len(t)])) AS pz
        FROM toks WHERE len(t) >= 2
      )
    ),
    cb AS (SELECT w1, w2, COUNT(*) AS c_big FROM big GROUP BY w1, w2),
    ch AS (SELECT w1, CAST(SUM(c_big) AS BIGINT) AS c_hist FROM cb GROUP BY w1),
    c2 AS (SELECT w2, CAST(SUM(c_big) AS BIGINT) AS c_next FROM cb GROUP BY w2),
    n2 AS (SELECT CAST(SUM(c_big) AS BIGINT) AS n_bigrams FROM cb)
    SELECT cb.w1, cb.w2,
           CAST(cb.c_big AS BIGINT) AS pair_count,
           ROUND(LN((CAST(cb.c_big AS DOUBLE) / ch.c_hist)
                    / (CAST(c2.c_next AS DOUBLE) / n2.n_bigrams)), 6) AS pmi
    FROM cb JOIN ch USING (w1) JOIN c2 USING (w2) CROSS JOIN n2
    WHERE cb.c_big >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {PMI_TOP_K}
    """,
    doc=(
        f"Top-{PMI_TOP_K} bigram collocations by pointwise mutual "
        "information (Church & Hanks 1990) — the lexical-association "
        "extractor behind multi-word-expression vocab and boilerplate "
        "phrase mining. Every count derives from the single bigram "
        "aggregate (token stream explodes and shuffles once, the "
        "bigram_logprob pattern; marginals are distinct-bigram sized); "
        f"pairs below count {PMI_MIN_COUNT} are excluded (PMI is "
        "degenerate on rare pairs). PMI computes as the ln of a "
        "quotient of two exact BIGINT-ratio doubles — bit-identical "
        "cross-engine AND overflow-safe at any corpus size (the naive "
        "c·N product form would overflow BIGINT around 10^13 bigram "
        "positions). Distributed top-k via TakeOrdered with "
        "lexicographic tiebreaks, never a global single-partition sort."
    ),
)
def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    _big, cb, ch, c2, n2 = _bigram_tables(docs)
    pmi = F.log(
        (F.col("c_big").cast("double") / F.col("c_hist"))
        / (F.col("c_next").cast("double") / F.col("n_bigrams_total"))
    )
    return (
        cb.filter(F.col("c_big") >= PMI_MIN_COUNT)
        .join(ch, "w1")
        .join(c2, "w2")
        .crossJoin(F.broadcast(n2))
        .select(
            "w1",
            "w2",
            F.col("c_big").cast("bigint").alias("pair_count"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(PMI_TOP_K)
    )


# Head size for the Zipf fit: the power law holds in the frequency head;
# the tail bends (finite-corpus effects) and would bias the slope. 100
# head terms is the classic diagnostic window.
ZIPF_TOP = 100


@register(
    "zipf_fit",
    f"""
    WITH tf AS (
      SELECT token, COUNT(*) AS tf
      FROM (SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
            FROM documents)
      GROUP BY token
      ORDER BY tf DESC, token ASC
      LIMIT {ZIPF_TOP}
    ),
    ranked AS (
      SELECT tf, ROW_NUMBER() OVER (ORDER BY tf DESC, token ASC) AS rnk FROM tf
    ),
    xy AS (
      SELECT LN(CAST(rnk AS DOUBLE)) AS x, LN(CAST(tf AS DOUBLE)) AS y FROM ranked
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy
      FROM xy
    )
    SELECT n AS n_terms,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS zipf_slope,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6) AS r_squared
    FROM sums
    """,
    doc=(
        f"Zipf's-law fit over the top-{ZIPF_TOP} terms: least-squares "
        "slope and R² of ln(freq) vs ln(rank) — the vocabulary-health "
        "diagnostic (natural language fits slope ≈ −1 with high R²; "
        "boilerplate-heavy or synthetic corpora deviate). The head is "
        "selected by distributed TakeOrdered, so the only "
        f"vocabulary-sized work is the term-frequency aggregate; the "
        f"rank window orders {ZIPF_TOP} rows. ln inputs are exact-"
        "BIGINT-derived doubles and every component sum accumulates as "
        "DECIMAL(38,18) (agg_stats pattern) — the 6-dp fit is "
        "partition-order independent in both engines."
    ),
)
def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .orderBy(F.desc("tf"), F.asc("token"))
        .limit(ZIPF_TOP)
    )
    # BOUNDED-FRAME: the unpartitioned rank runs over the already
    # limited ZIPF_TOP head (the orderBy+limit above), so the
    # single-task WindowExec WARN is the intended plan.
    ranked = tf.withColumn(
        "rnk", F.row_number().over(Window.orderBy(F.desc("tf"), F.asc("token")))
    )
    xy = ranked.select(
        F.log(F.col("rnk").cast("double")).alias("x"),
        F.log(F.col("tf").cast("double")).alias("y"),
    )
    dec = "decimal(38,18)"
    sums = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(dec)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast(dec)).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast(dec)).cast("double").alias("syy"),
        F.sum((F.col("x") * F.col("y")).cast(dec)).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    num = n * sxy - sx * sy
    # nullif: a degenerate head (one term, or all-equal frequencies ⇒
    # zero y-variance) makes a 0/0 — Spark doubles would yield NaN while
    # DuckDB yields NULL; pin BOTH engines to NULL.
    return sums.select(
        n.alias("n_terms"),
        F.round(num / F.nullif(n * sxx - sx * sx, F.lit(0.0)), 6).alias("zipf_slope"),
        F.round(
            num * num / F.nullif((n * sxx - sx * sx) * (n * syy - sy * sy), F.lit(0.0)), 6
        ).alias("r_squared"),
    )


@register(
    "length_profile_by_source",
    """
    SELECT source,
           COUNT(*) AS n_docs,
           quantile_cont(n_chars, 0.1) AS p10_chars,
           median(n_chars) AS p50_chars,
           quantile_cont(n_chars, 0.9) AS p90_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY source
    """,
    doc=(
        "Per-source document-length percentile profile (p10/p50/p90/max "
        "chars) — the corpus-QA fingerprint that spots truncation bugs "
        "and boilerplate floods per crawl/dump before mixing. EXACT "
        "interpolated percentiles (both engines sort-and-interpolate "
        "identically — the agg_median parity pattern), grouped on the "
        "low-cardinality source key; only (source, n_chars) reaches "
        "the sort, never text. At 100 TB swap percentile → "
        "percentile_approx and accept the sketch bound; the exact form "
        "here is what the oracle can hash-check."
    ),
)
def q_length_profile_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.aggregates import (
        grouped_exact_percentile_boundaries,
    )

    docs = load_table(spark, sf_dir, "documents")
    # sort-based grouped exact percentiles; n_docs/max ride along from
    # the same (source, n_chars, count) table (n_chars is never null).
    return grouped_exact_percentile_boundaries(
        docs, ["source"], "n_chars", [0.1, 0.5, 0.9]
    ).select(
        "source",
        F.col("n_vals").alias("n_docs"),
        F.col("q1").alias("p10_chars"),
        F.col("q2").alias("p50_chars"),
        F.col("q3").alias("p90_chars"),
        F.col("max_val").alias("max_chars"),
    )


# Gopher repetition battery gram widths: the most-frequent-2-gram
# character mass and the duplicated-5-gram character mass are the two
# representative rules of the published ladder (top 2-4, dup 5-10).
TOP_GRAM_N = 2
DUP_GRAM_N = 5


def _sql_gram_counts(n: int) -> str:
    """DuckDB CTE: per (doc, md5(gram)) occurrence counts at width n —
    ALL positions (not distinct): repetition is the signal here. Only
    the digest and the gram's char length leave the row."""
    return f"""
    g{n} AS (
      SELECT doc_id, md5(gram) AS h, LENGTH(gram) AS gl, COUNT(*) AS c
      FROM (
        SELECT doc_id, UNNEST([array_to_string(t[i:i+{n - 1}], ' ')
                FOR i IN range(1, len(t) - {n - 1} + 1)]) AS gram
        FROM toks WHERE len(t) >= {n}
      )
      GROUP BY doc_id, md5(gram), LENGTH(gram)
    )"""


@register(
    "repetition_battery",
    f"""
    WITH toks AS (
      SELECT doc_id, n_chars, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),{_sql_gram_counts(TOP_GRAM_N)},{_sql_gram_counts(DUP_GRAM_N)},
    top2 AS (
      SELECT doc_id, c * gl AS top_chars
      FROM g{TOP_GRAM_N}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY c DESC, h ASC) = 1
    ),
    dup5 AS (
      SELECT doc_id, CAST(SUM(c * gl) AS BIGINT) AS dup_chars
      FROM g{DUP_GRAM_N} WHERE c > 1 GROUP BY doc_id
    ),
    pars AS (
      SELECT doc_id,
             len([array_to_string(t[i*{PARA_TOKENS}+1:i*{PARA_TOKENS}+{PARA_TOKENS}], ' ')
                  FOR i IN range(0, GREATEST(CAST(CEIL(len(t)/{PARA_TOKENS}.0) AS INT), 1))]) AS n_par,
             len(list_distinct([array_to_string(t[i*{PARA_TOKENS}+1:i*{PARA_TOKENS}+{PARA_TOKENS}], ' ')
                  FOR i IN range(0, GREATEST(CAST(CEIL(len(t)/{PARA_TOKENS}.0) AS INT), 1))])) AS n_par_distinct
      FROM toks
    )
    SELECT d.doc_id,
           ROUND(1 - CAST(p.n_par_distinct AS DOUBLE) / nullif(p.n_par, 0), 6) AS dup_par_frac,
           ROUND(CAST(COALESCE(t2.top_chars, 0) AS DOUBLE) / nullif(d.n_chars, 0), 6) AS top2_char_frac,
           ROUND(CAST(COALESCE(d5.dup_chars, 0) AS DOUBLE) / nullif(d.n_chars, 0), 6) AS dup5_char_frac
    FROM documents d
    JOIN pars p USING (doc_id)
    LEFT JOIN top2 t2 USING (doc_id)
    LEFT JOIN dup5 d5 USING (doc_id)
    """,
    doc=(
        "Gopher repetition battery: the published rule ladder's "
        "representative trio per doc — duplicate-paragraph fraction "
        f"({PARA_TOKENS}-token chunks, dedup.PARA_TOKENS — the corpus's "
        "paragraph unit, shared with the paragraph-dedup family so the "
        "two can never desynchronize), character "
        f"mass of the most frequent {TOP_GRAM_N}-gram, and character "
        f"mass of all duplicated {DUP_GRAM_N}-grams, each over n_chars "
        "(overlapping positions can push a mass ratio past 1 — the "
        "gates threshold it, published definition). Gram identity "
        "shuffles as (md5, length, count) — gram TEXT never rides an "
        "exchange; the paragraph fractions are per-row HOFs with no "
        "explode at all; char-mass numerators are exact BIGINT sums "
        "divided once (no float accumulation anywhere)."
    ),
)
def q_repetition_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    # Token array staged once per doc (r12, minhash_signature_col
    # lesson) — every gram/paragraph lambda below references the staged
    # column instead of re-splitting the text per element.
    staged = docs.select("doc_id", "n_chars", toks.alias("_toks"))

    def gram_counts(n: int) -> DataFrame:
        from nt_etl_order_book_spark.session import spread

        grams = string_grams(F.col("_toks"), n)
        # spread (r15 optimization round, guide §2.5): the gram-build +
        # md5 explode pipeline below runs map-side BEFORE the
        # groupBy(doc_id, h, gl) exchange — a single task on the
        # single-row-group fixture. Per-branch (the two gram widths
        # filter differently, so the shared `staged` fork could not
        # carry one exchange for both); no-op at scale.
        return (
            spread(staged.filter(F.size("_toks") >= n), "doc_id")
            .select("doc_id", F.explode(grams).alias("gram"))
            .select("doc_id", F.md5("gram").alias("h"), F.length("gram").alias("gl"))
            .groupBy("doc_id", "h", "gl")
            .agg(F.count(F.lit(1)).alias("c"))
        )

    w = Window.partitionBy("doc_id").orderBy(F.desc("c"), F.asc("h"))
    top2 = (
        gram_counts(TOP_GRAM_N)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", (F.col("c") * F.col("gl")).alias("top_chars"))
    )
    dup5 = (
        gram_counts(DUP_GRAM_N)
        .filter(F.col("c") > 1)
        .groupBy("doc_id")
        .agg(F.sum(F.col("c") * F.col("gl")).cast("bigint").alias("dup_chars"))
    )
    par_arr = token_chunks(F.col("_toks"))
    pars = staged.select(
        "doc_id",
        "n_chars",
        F.size(par_arr).alias("n_par"),
        F.size(F.array_distinct(par_arr)).alias("n_par_distinct"),
    )
    return (
        pars.join(top2, "doc_id", "left")
        .join(dup5, "doc_id", "left")
        .select(
            "doc_id",
            F.round(
                F.lit(1) - F.col("n_par_distinct").cast("double") / F.nullif(F.col("n_par"), F.lit(0)),
                6,
            ).alias("dup_par_frac"),
            F.round(
                F.coalesce(F.col("top_chars"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_chars"), F.lit(0)),
                6,
            ).alias("top2_char_frac"),
            F.round(
                F.coalesce(F.col("dup_chars"), F.lit(0)).cast("double")
                / F.nullif(F.col("n_chars"), F.lit(0)),
                6,
            ).alias("dup5_char_frac"),
        )
    )


# Winnowing (MOSS) parameters: k-gram width and window size. Guarantee:
# any shared run of >= WINNOW_W + WINNOW_K - 1 tokens between two docs
# shares at least one selected fingerprint — the published detection
# threshold of the winnowing scheme.
WINNOW_K = 4
WINNOW_W = 4

def _sql_hex8_int(expr: str) -> str:
    """First 8 md5 hex chars of `expr` as a BIGINT via the same ascii
    Horner fold as sampling._sql_hash_bucket (no modulus)."""
    acc = "CAST(0 AS BIGINT)"
    for i in range(1, 9):
        a = f"ascii(substring(md5({expr}), {i}, 1))"
        acc = f"({acc} * 16 + ({a} - CASE WHEN {a} >= 97 THEN 87 ELSE 48 END))"
    return acc


def _hex8_of_hex(h: Column) -> Column:
    """int(h[:8], 16) of an ALREADY-COMPUTED md5 hex string, via
    ``conv`` (one parse — the ascii-Horner form evaluated its input
    once per hex digit, which inside interpreted HOF lambdas meant
    8 md5 calls per token; staging the md5 measured 3.3-3.8 s →
    1.6-2.2 s on winnow_fingerprint at sf0.1, r9, and conv trims the
    fold itself ~2× further). The SQL oracles keep the portable
    ascii-Horner fold (:func:`_sql_hex8_int`) — identical values,
    property-tested against hashlib."""
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


# Shared winnowing CTE chain (toks → per-token hashes → per-position
# rolling k-gram hashes → fingerprint sets) — used by the
# winnow_fingerprint oracle and the winnow_dedup pair oracle on top of
# it. Token-hash-once + arithmetic gram combine (r9): the gram hash is a
# rolling polynomial fold over WINNOW_K consecutive token hashes instead
# of md5 over the materialized k-gram STRING — identical arithmetic to
# the Spark side (winnow_hashes), so fingerprint values stay
# engine-identical and hash-checked. Partial-gram parity: a doc shorter
# than K tokens folds the tokens it has (slice clips); an empty doc's
# single gram is the -1 sentinel, disjoint from real grams (which are
# mod-nonnegative).
_SQL_WINNOW_FPS = f"""
    toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS t
      FROM documents
    ),
    th AS (
      SELECT doc_id, [{_sql_hex8_int("tok")} FOR tok IN t] AS th
      FROM toks
    ),
    hashes AS (
      SELECT doc_id,
             [CASE WHEN len(th) = 0 THEN CAST(-1 AS BIGINT)
                   ELSE list_reduce(th[i:i+{WINNOW_K - 1}],
                        (acc, h) -> (acc * {SHINGLE_HASH_MULT} + h) % {SHINGLE_HASH_MOD}) END
              FOR i IN range(1, GREATEST(len(th) - {WINNOW_K - 1}, 1) + 1)] AS hs
      FROM th
    ),
    fps AS (
      SELECT doc_id, hs,
             list_distinct([list_min(hs[i+1:i+{WINNOW_W}])
              FOR i IN range(0, GREATEST(len(hs) - {WINNOW_W}, 0) + 1)]) AS fp
      FROM hashes
    )"""


def winnow_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, hs) — the per-position k-gram hash array every winnowing
    consumer starts from.

    Tokens are hashed ONCE (portable md5-hex8 Horner fold — the
    cross-engine hash, required because fingerprint values surface in
    winnow_fingerprint's output), then each k-gram hash is a rolling
    polynomial combine of WINNOW_K consecutive token hashes mod 2^57 —
    the shingle_hashes lesson (hash once, gram arithmetically): no
    k-gram string is ever allocated. Measured (r8 A/B, interleaved at
    sf0.1): hashes+fingerprint+capped-index stage 4.5–5.0 s string →
    3.0–3.4 s rolling. The token-hash array lives in its own projection
    (`_th`) referenced WINNOW_K times per gram position — CollapseProject
    keeps multi-referenced non-cheap aliases staged, so the tokenize+md5
    pipeline runs once per row, not once per gram.

    The trailing repartition is a SHUFFLE BARRIER, not load balancing:
    `winnow_fp_expr` references `hs` from inside a per-window lambda
    (O(n) positions), and without a materialization boundary Catalyst's
    CollapseProject inlines this whole tokenize+gram+hash pipeline into
    every one of those references — O(n·w) window minima become O(n²)
    gram hashing per document. Invisible on short fixture docs; a hang
    on 2000-token documents (caught by the skewed-corpus gate in
    tests/test_skew_and_ann.py). Same defense as
    dedup.minhash_signature_col's token-hash stage."""
    from nt_etl_order_book_spark.session import spread

    toks = F.filter(F.split("text", " "), lambda t: t != "")
    # spread BEFORE the md5/gram pipeline (r15 optimization round): on
    # the single-row-group fixture the scan is one task, so the per-doc
    # hashing otherwise runs on one core (no-op at scale where the scan
    # splits). The trailing repartition below stays — it is the
    # CollapseProject barrier for `hs` consumers, not load balancing.
    base = spread(docs.select("doc_id", "text"), "doc_id")
    # Two transform passes: md5 per token FIRST, then the Horner fold
    # over the staged hex strings — see _hex8_of_hex for why embedding
    # the md5 in the fold would 8× the hashing work.
    th = F.transform(F.transform(toks, F.md5), _hex8_of_hex)
    staged = base.select("doc_id", th.alias("_th"))
    # Partial-gram parity with the oracle's clipped slice (partial_grams).
    hashed = staged.select("doc_id", partial_grams(F.col("_th"), WINNOW_K).alias("hs"))
    return hashed.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
    )


def winnow_fp_expr() -> Column:
    """Distinct window-minima fingerprint set over the `hs` column."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(F.col("hs")) - WINNOW_W, F.lit(0))),
            lambda i: F.array_min(F.slice(F.col("hs"), i + 1, WINNOW_W)),
        )
    )


@register(
    "winnow_fingerprint",
    f"""
    WITH {_SQL_WINNOW_FPS}
    SELECT doc_id,
           len(hs) AS n_grams,
           len(fp) AS n_fingerprints,
           CAST(list_sum(fp) AS BIGINT) AS fp_checksum,
           list_min(fp) AS min_fp
    FROM fps
    """,
    doc=(
        f"Winnowing document fingerprints (the MOSS rolling-hash "
        f"scheme): {WINNOW_K}-gram hashes per position, minimum per "
        f"{WINNOW_W}-hash sliding window, distinct minima = the doc's "
        "fingerprint set — any shared token run of >= "
        f"{WINNOW_W + WINNOW_K - 1} tokens between two docs is "
        "GUARANTEED to share a fingerprint (the scheme's published "
        "detection threshold), at a fraction of full-shingle index "
        "cost. Emits the set's size/checksum/min per doc (exact BIGINT "
        "arithmetic). Entirely narrow HOF expressions — no explode, no "
        "shuffle; tokens are hashed once with the portable hex8-Horner "
        "md5 fold and grams formed by rolling polynomial combine "
        "(identical arithmetic both engines), so every fingerprint "
        "value is engine-identical and this is hash-checked, not "
        "rows-only. The pair-join path over these sets is "
        "`winnow_dedup`."
    ),
)
def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = winnow_hashes(load_table(spark, sf_dir, "documents"))
    fp = winnow_fp_expr()
    return docs.select(
        "doc_id",
        F.size("hs").alias("n_grams"),
        F.size(fp).alias("n_fingerprints"),
        F.aggregate(fp, F.lit(0).cast("long"), lambda acc, v: acc + v).alias("fp_checksum"),
        F.array_min(fp).alias("min_fp"),
    )


# Winnow-dedup knobs: fingerprints shared by more docs than the cap are
# boilerplate (dropped from the index — the MAX_SHINGLE_DF contract);
# pairs need at least MIN_SHARED surviving fingerprints.
WINNOW_MAX_FP_DF = 200
WINNOW_MIN_SHARED = 2


@register(
    "winnow_dedup",
    f"""
    WITH {_SQL_WINNOW_FPS},
    idx0 AS (SELECT doc_id, UNNEST(fp) AS f FROM fps),
    idx AS (
      SELECT doc_id, f FROM idx0
      QUALIFY COUNT(*) OVER (PARTITION BY f) <= {WINNOW_MAX_FP_DF}
    )
    SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS n_shared_fps
    FROM idx a JOIN idx b ON a.f = b.f AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    """,
    doc=(
        "Near-dup pairs over winnowing fingerprints — the MOSS pipeline "
        "end to end: docs sharing >= "
        f"{WINNOW_MIN_SHARED} selected fingerprints, with fingerprints "
        f"common to more than {WINNOW_MAX_FP_DF} docs dropped from the "
        "inverted index first (the boilerplate cap — same quadratic "
        "guard contract as MAX_SHINGLE_DF). Winnowing keeps roughly "
        "2/(w+1) of the positions a full shingle index would carry, so "
        "this is the cheap first-pass near-dup sweep before "
        "ngram_jaccard verifies exact overlap. Shuffles carry "
        "(fingerprint, doc_id) BIGINT pairs only."
    ),
)
def q_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = winnow_hashes(load_table(spark, sf_dir, "documents"))
    idx = docs.select("doc_id", F.explode(winnow_fp_expr()).alias("f"))
    w = Window.partitionBy("f")
    idx = (
        idx.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= WINNOW_MAX_FP_DF)
        .drop("_df")
    )
    a = idx.select(F.col("doc_id").alias("a"), "f")
    b = idx.select(F.col("doc_id").alias("b"), "f")
    return (
        a.join(b, "f")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


# Within-doc gram-frequency cap for the shared-run verifier: a gram hash
# occurring more than this many times INSIDE one document is internal
# boilerplate ("a a a ..." pathologies) whose position pairs would join
# quadratically; dropping it costs only runs made of self-repeating
# text, which the repetition gates already flag.
RUN_MAX_GRAM_OCC = 8


@register(
    "shared_run_audit",
    f"""
    WITH {_SQL_WINNOW_FPS},
    idx0 AS (SELECT doc_id, UNNEST(fp) AS f FROM fps),
    idx AS (
      SELECT doc_id, f FROM idx0
      QUALIFY COUNT(*) OVER (PARTITION BY f) <= {WINNOW_MAX_FP_DF}
    ),
    pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM idx a JOIN idx b ON a.f = b.f AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING COUNT(*) >= {WINNOW_MIN_SHARED}
    ),
    gpos AS (
      SELECT doc_id, t.pos, hs[t.pos] AS h
      FROM hashes, UNNEST(range(1, len(hs) + 1)) AS t(pos)
      QUALIFY COUNT(*) OVER (PARTITION BY doc_id, hs[t.pos]) <= {RUN_MAX_GRAM_OCC}
    ),
    runs AS (
      SELECT p.a, p.b, ga.pos AS pa, ga.pos - gb.pos AS d
      FROM pairs p
      JOIN gpos ga ON ga.doc_id = p.a
      JOIN gpos gb ON gb.doc_id = p.b AND gb.h = ga.h
    ),
    isl AS (
      SELECT a, b, d, pa,
             pa - ROW_NUMBER() OVER (PARTITION BY a, b, d ORDER BY pa) AS grp
      FROM runs
    ),
    lens AS (
      SELECT a, b, COUNT(*) AS run_grams
      FROM isl GROUP BY a, b, d, grp
    )
    SELECT a, b,
           CAST(MAX(run_grams) + {WINNOW_K - 1} AS BIGINT) AS longest_run_tokens,
           CAST(SUM(run_grams) AS BIGINT) AS n_matching_grams
    FROM lens GROUP BY a, b
    """,
    doc=(
        "Exact shared-run verification of winnow near-dup candidates — "
        "the MOSS report stage: for every winnow_dedup candidate pair, "
        "join the two docs' k-gram hash position streams, group matches "
        "by diagonal (pos_a - pos_b), and measure consecutive-match "
        "islands; the longest island of L grams is a shared run of "
        f"L + {WINNOW_K - 1} tokens, reported with the total matching-"
        "gram mass. Turns the fingerprint heuristic into an exact span "
        "measurement (contamination_span's tiered grams, at doc-pair "
        "granularity). Candidate scoping bounds the join to capped "
        "pairs; RUN_MAX_GRAM_OCC bounds within-doc gram multiplicity "
        "so self-repeating text cannot join quadratically; shuffles "
        "carry BIGINT (hash, pos) pairs only."
    ),
)
def q_shared_run_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import checkpoint_frame

    # Stage the shared frames ONCE: docs feeds two branches (fingerprint
    # index + gram positions) and each branch is then self-joined, so
    # without materialization the corpus-wide tokenize+gram+hash pipeline
    # runs up to 6x (measured: 8 parquet scans, 0 ReusedExchange, 11.5 s
    # at sf0.1 → 3 scans... see PERF.md). This is the MOSS pipeline's
    # staged shape at 100 TB too: fingerprints and positions are
    # materialized artifacts, not recomputed per consumer.
    docs = checkpoint_frame(winnow_hashes(load_table(spark, sf_dir, "documents")))
    idx = docs.select("doc_id", F.explode(winnow_fp_expr()).alias("f"))
    wf = Window.partitionBy("f")
    idx = checkpoint_frame(
        idx.withColumn("_df", F.count(F.lit(1)).over(wf))
        .filter(F.col("_df") <= WINNOW_MAX_FP_DF)
        .drop("_df")
    )
    # Pair candidates in-array per fingerprint (sorted_pairs), bounded
    # at WINNOW_MAX_FP_DF postings by the window cap above.
    pairs = checkpoint_frame(
        idx.groupBy("f")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .select(F.explode(sorted_pairs(F.col("ids"), "a", "b")).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_nf"))
        .filter(F.col("_nf") >= WINNOW_MIN_SHARED)
        .select("a", "b")
    )
    # Position index ONLY for candidate docs (MOSS's staged shape): the
    # runs stage probes gram positions solely for docs that appear in a
    # pair, so the posexplode + occurrence window over the other ~90% of
    # the corpus was dead weight — and at 100 TB the positions artifact
    # for non-candidates would dwarf the candidate set. The pair-doc
    # list is pair-bounded and broadcast into a semi-join BEFORE the
    # explode, so pruning happens at the doc grain, not the gram grain.
    pair_docs = pairs.select(F.explode(F.array("a", "b")).alias("doc_id")).distinct()
    gpos = (
        docs.join(F.broadcast(pair_docs), "doc_id", "left_semi")
        .select("doc_id", F.posexplode("hs").alias("pos0", "h"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    wg = Window.partitionBy("doc_id", "h")
    gpos = checkpoint_frame(
        gpos.withColumn("_occ", F.count(F.lit(1)).over(wg))
        .filter(F.col("_occ") <= RUN_MAX_GRAM_OCC)
        .drop("_occ")
    )
    ga = gpos.select(F.col("doc_id").alias("a"), F.col("pos").alias("pa"), "h")
    gb = gpos.select(F.col("doc_id").alias("b"), F.col("pos").alias("pb"), "h")
    runs = (
        pairs.join(ga, "a")
        .join(gb, ["b", "h"])
        .select("a", "b", "pa", (F.col("pa") - F.col("pb")).alias("d"))
    )
    wi = Window.partitionBy("a", "b", "d").orderBy("pa")
    isl = runs.select(
        "a", "b", "d", "pa", (F.col("pa") - F.row_number().over(wi)).alias("grp")
    )
    lens = isl.groupBy("a", "b", "d", "grp").agg(F.count(F.lit(1)).alias("run_grams"))
    return lens.groupBy("a", "b").agg(
        (F.max("run_grams") + F.lit(WINNOW_K - 1)).cast("bigint").alias("longest_run_tokens"),
        F.sum("run_grams").cast("bigint").alias("n_matching_grams"),
    )


# Rank-error budget for the GK quantile sketch: approx_percentile's
# guarantee is |rank(approx) − target_rank| <= n / accuracy.
QSKETCH_ACCURACY = 100


@register(
    "approx_quantile_audit",
    None,  # sketch state is merge-order-dependent (per-partition GK
    # summaries merge in task-completion order), so the approximate
    # value is not engine-portable → rows-only; the rank-error bound is
    # asserted quantitatively in tests/test_operators.py.
    doc=(
        "Quantile-sketch audit: per-source median of n_chars from "
        "Spark's GK approx_percentile (the sketch a 100 TB profile "
        "actually runs — one pass, bounded memory, mergeable partials) "
        f"next to the exact interpolated median (agg_median pattern) "
        "and the absolute error. The exact path costs a full sort per "
        "group; the sketch path is the scale answer, and this op is the "
        "regression harness that keeps its error inside the "
        f"n/{QSKETCH_ACCURACY} rank guarantee (test-asserted)."
    ),
)
def q_approx_quantile_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    approx = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.approx_percentile("n_chars", F.lit(0.5), F.lit(QSKETCH_ACCURACY))
        .cast("bigint")
        .alias("approx_p50"),
    )
    # Exact interpolated median via the agg_median window pattern —
    # per-group sort, the cost the sketch exists to avoid.
    exact = docs.groupBy("source").agg(
        F.percentile(F.col("n_chars"), F.lit(0.5)).alias("exact_p50")
    )
    return (
        approx.join(exact, "source")
        .select(
            "source",
            "n_docs",
            "approx_p50",
            F.round(F.col("exact_p50"), 6).alias("exact_p50"),
            F.round(F.abs(F.col("approx_p50") - F.col("exact_p50")), 6).alias("abs_err"),
        )
    )


@register(
    "ccnet_buckets",
    """
    WITH toks AS (
      SELECT doc_id, lang,
             UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    tf_l AS (SELECT lang, token, COUNT(*) AS tf FROM toks GROUP BY lang, token),
    n_l  AS (SELECT lang, CAST(SUM(tf) AS BIGINT) AS lang_tokens FROM tf_l GROUP BY lang),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             COUNT(*) AS n_tokens,
             ROUND(CAST(SUM(CAST(-LN(CAST(f.tf AS DOUBLE) / n_l.lang_tokens)
                                 AS DECIMAL(38,18))) AS DOUBLE)
                   / COUNT(*), 6) AS avg_nll
      FROM toks t
      JOIN tf_l f ON t.lang = f.lang AND t.token = f.token
      JOIN n_l ON t.lang = n_l.lang
      GROUP BY t.doc_id, t.lang
    ),
    cuts AS (
      SELECT lang,
             quantile_cont(avg_nll, 1.0/3) AS t1,
             quantile_cont(avg_nll, 2.0/3) AS t2
      FROM per_doc GROUP BY lang
    )
    SELECT p.lang,
           CASE WHEN p.avg_nll <= c.t1 THEN 'head'
                WHEN p.avg_nll <= c.t2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(CAST(avg_nll AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
             AS mean_avg_nll
    FROM per_doc p JOIN cuts c USING (lang)
    GROUP BY p.lang, bucket
    """,
    doc=(
        "CCNet-style perplexity bucketing (Wenzek et al. 2020): each "
        "document scored by average surprisal under its OWN language's "
        "unigram LM, then split at the per-language tercile CUTOFFS "
        "(exact interpolated 1/3 and 2/3 percentiles, broadcast back "
        "onto the scores) — the standard crawl-curation stage that "
        "keeps 'head' for training and drops or down-weights 'tail'. "
        "Percentile AGGREGATES, not a ranking window: an NTILE over "
        "partitionBy(lang) would drag every document of a language "
        "into ONE task (one hot language = one straggler sorting most "
        "of the corpus — the window-skew cliff). The percentile "
        "aggregate's partial state is a count map over DISTINCT scores "
        "— and scores are 6-dp-rounded surprisals in a small numeric "
        "range, so the state is bounded by the value grid (millions of "
        "entries at most), independent of document count: the hot "
        "language's merge task handles a bounded map, not a "
        "corpus-sized sort. Boundary docs (score == cutoff) go "
        "to the lower bucket in both engines: scores are 6-dp-rounded "
        "doubles and both engines interpolate percentiles with the "
        "same index arithmetic, so the comparisons agree bit-for-bit. "
        "One token-stream explode feeds the per-language LM and the "
        "per-doc scores; the vocab join is un-hinted (AQE, the "
        "domain_kl_divergence pattern); -ln terms accumulate as "
        "DECIMAL(38,18) per the determinism discipline."
    ),
)
def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda t: t != "")).alias("token"),
    )
    tf_l = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_l = tf_l.groupBy("lang").agg(F.sum("tf").cast("bigint").alias("lang_tokens"))
    nll = -F.log(F.col("tf").cast("double") / F.col("lang_tokens"))
    per_doc = (
        toks.join(tf_l, ["lang", "token"])
        .join(F.broadcast(n_l), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                F.sum(nll.cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_nll"),
        )
    )
    # per_doc feeds the percentile-cut pass AND the final bucket join —
    # checkpoint the (doc_id, lang, n_tokens, avg_nll) frame (r15
    # optimization round) so the tokenize→explode→tf join pipeline is
    # not re-planned under each consumer (6 document scans → 3 in the
    # physical plan; the frame is doc-grain and narrow, the
    # "materialized artifact" shape of the staged text pipelines).
    from nt_etl_order_book_spark.session import checkpoint_frame

    per_doc = checkpoint_frame(per_doc, eager=False)
    cuts = per_doc.groupBy("lang").agg(
        F.percentile(F.col("avg_nll"), F.lit(1.0 / 3)).alias("t1"),
        F.percentile(F.col("avg_nll"), F.lit(2.0 / 3)).alias("t2"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("t1"), "head")
        .when(F.col("avg_nll") <= F.col("t2"), "middle")
        .otherwise("tail")
    )
    return (
        per_doc.join(F.broadcast(cuts), "lang")
        .select("lang", bucket.alias("bucket"), "n_tokens", "avg_nll")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum(F.col("avg_nll").cast("decimal(38,18)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_avg_nll"),
        )
    )


@register(
    "lang_id_confusion",
    f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang,
             {_SQL_LANG_BEST} AS _best,
             {_SQL_LANG_SCORE_COLS}
      FROM documents
    ),
    preds AS (
      SELECT true_lang,
             {_SQL_LANG_PRED_CASE} AS pred_lang
      FROM scored
    )
    SELECT true_lang, pred_lang,
           COUNT(*) AS n_docs,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY true_lang), 6) AS row_frac
    FROM preds
    GROUP BY true_lang, pred_lang
    """,
    doc=(
        "Confusion matrix for the lang_id heuristic against the corpus's "
        "labeled lang column — the evaluation harness any classifier "
        "stage in the pipeline needs (swap in fastText behind the same "
        "contract and this query grades it unchanged). Predictions come "
        "from the SAME argmax/tiebreak definition lang_id registers "
        "(shared _pred_lang_expr / SQL fragments — the evaluator cannot "
        "desynchronize from the classifier it grades). One scan, one "
        "(true, pred) aggregate; row_frac normalizes per true language "
        "via a window over the aggregate's own (tiny) output. The ratio "
        "is a quotient of exact BIGINTs — identical bits cross-engine."
    ),
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.col("lang").alias("true_lang"), _pred_lang_expr().alias("pred_lang"))
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs").cast("double") / F.sum("n_docs").over(w), 6).alias("row_frac"),
    )


# License markers a compliance pass looks for — literal phrases, not
# regex, so the `occurrences` length-arithmetic trick keeps both engines
# bit-identical (and cheap: no regex engine in the scan loop). Matched
# SPACE-PADDED against space-padded lowered text (the LANG_MARKERS
# boundary convention): "submit license" must not count as MIT and
# "nonpublic domain" must not count as public-domain. The tradeoff —
# punctuation-adjacent mentions ("MIT License.") are missed — is the
# same one LANG_MARKERS accepts, and a real deployment swaps in a
# classifier behind this census contract anyway.
_SQL_PADDED_LOWER = "(' ' || lower(text) || ' ')"

LICENSE_MARKERS: dict[str, str] = {
    "cc_by": " creative commons ",
    "mit": " mit license ",
    "apache": " apache license ",
    "gpl": " general public license ",
    "public_domain": " public domain ",
}


@register(
    "license_tag",
    f"""
    WITH flags AS (
      SELECT source,
             {', '.join(f"CASE WHEN {sql_occurrences(_SQL_PADDED_LOWER, m)} > 0 THEN 1 ELSE 0 END AS f_{tag}" for tag, m in LICENSE_MARKERS.items())}
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           {', '.join(f'CAST(SUM(f_{tag}) AS BIGINT) AS n_{tag}' for tag in LICENSE_MARKERS)},
           CAST(SUM(CASE WHEN {' + '.join(f'f_{tag}' for tag in LICENSE_MARKERS)} = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_untagged
    FROM flags
    GROUP BY source
    """,
    doc=(
        "License-marker compliance audit per source domain: flags docs "
        "mentioning Creative Commons / MIT / Apache / GPL / public-domain "
        "phrases (the pre-filter a code/text corpus runs before license-"
        "aware sampling; a real deployment swaps in a classifier behind "
        "the same census contract). Literal-phrase occurrence counting "
        "via length arithmetic — no regex in the scan loop, identical in "
        "both engines; one scan, one per-source aggregate."
    ),
)
def q_license_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    low = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    flags = docs.select(
        "source",
        *[
            F.when(occurrences(low, m) > 0, 1).otherwise(0).alias(f"f_{tag}")
            for tag, m in LICENSE_MARKERS.items()
        ],
    )
    none_hit = sum(F.col(f"f_{tag}") for tag in LICENSE_MARKERS) == 0
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *[F.sum(f"f_{tag}").cast("bigint").alias(f"n_{tag}") for tag in LICENSE_MARKERS],
        F.sum(F.when(none_hit, 1).otherwise(0)).cast("bigint").alias("n_untagged"),
    )


@register(
    "source_vocab_overlap",
    """
    WITH vocab AS (
      SELECT DISTINCT source, token
      FROM (SELECT source, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
            FROM documents)
    ),
    sizes AS (
      SELECT source, COUNT(*) AS n_terms FROM vocab GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
      FROM vocab a JOIN vocab b ON a.token = b.token AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT i.src_a, i.src_b, sa.n_terms AS terms_a, sb.n_terms AS terms_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (sa.n_terms + sb.n_terms - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    doc=(
        "Pairwise lexical Jaccard between source vocabularies — the "
        "cheap domain-similarity matrix used to pick mixture partners "
        "and spot near-duplicate crawls before any embedding exists "
        "(complements domain_kl_divergence, which compares frequency "
        "shapes, by comparing SUPPORT sets). The token explode "
        "collapses immediately to DISTINCT (source, token) — vocab "
        "grain, which is sublinear in corpus size (Heaps' law), so the "
        "self-join runs on vocabularies, never tokens; sizes join back "
        "broadcast-sized. Jaccard = |A∩B| / (|A|+|B|-|A∩B|) over exact "
        "BIGINT counts, one double division, 6 dp. Pair fan-out is "
        "|sources|^2/2 — report-sized. Source pairs sharing zero "
        "terms drop out (inner join), deterministically in both "
        "engines."
    ),
)
def q_source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    vocab = docs.select("source", F.explode(toks).alias("token")).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("n_terms"))
    a = vocab.select(F.col("source").alias("src_a"), "token")
    b = vocab.select(F.col("source").alias("src_b"), "token")
    inter = (
        a.join(b, "token")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = F.broadcast(sizes.select(F.col("source").alias("src_a"), F.col("n_terms").alias("terms_a")))
    sb = F.broadcast(sizes.select(F.col("source").alias("src_b"), F.col("n_terms").alias("terms_b")))
    out = inter.join(sa, "src_a").join(sb, "src_b")
    jac = F.col("n_common").cast("double") / (
        F.col("terms_a") + F.col("terms_b") - F.col("n_common")
    )
    return out.select(
        "src_a", "src_b", "terms_a", "terms_b", "n_common", F.round(jac, 6).alias("jaccard")
    )


COVERAGE_THRESHOLDS = (50, 90, 99)


@register(
    "ngram_coverage_curve",
    f"""
    WITH tf AS (
      SELECT token, COUNT(*) AS tf
      FROM (SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
            FROM documents)
      GROUP BY token
    ),
    bands AS (
      SELECT tf, COUNT(*) AS n_terms, CAST(tf * COUNT(*) AS BIGINT) AS mass
      FROM tf GROUP BY tf
    ),
    ranked AS (
      SELECT tf, n_terms, mass,
             CAST(COALESCE(SUM(n_terms) OVER (ORDER BY tf DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS terms_before,
             CAST(COALESCE(SUM(mass) OVER (ORDER BY tf DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS mass_before
      FROM bands
    ),
    tot AS (
      SELECT CAST(SUM(mass) AS BIGINT) AS total, CAST(SUM(n_terms) AS BIGINT) AS vocab
      FROM bands
    )
    SELECT t.pct,
           MIN(r.terms_before
               + ((t.pct * (SELECT total FROM tot) + 99) // 100 - r.mass_before + r.tf - 1)
                 // r.tf) AS k_terms,
           (SELECT vocab FROM tot) AS vocab_size,
           (SELECT total FROM tot) AS total_tokens
    FROM ranked r
    CROSS JOIN (SELECT UNNEST([{", ".join(str(t) for t in COVERAGE_THRESHOLDS)}]) AS pct) t
    WHERE r.mass_before + r.mass >= (t.pct * (SELECT total FROM tot) + 99) // 100
      AND r.mass_before < (t.pct * (SELECT total FROM tot) + 99) // 100
    GROUP BY t.pct
    """,
    doc=(
        "Token-coverage curve: the smallest head-vocabulary size whose "
        "cumulative frequency covers 50/90/99% of all token "
        "occurrences — the statistic that sizes tokenizer vocabularies "
        "and OOV budgets (zipf_fit measures the slope, this measures "
        "the consequence). The naive form sorts the whole vocabulary "
        "through one global cumsum window; instead the vocab table "
        "collapses to FREQUENCY BANDS — (tf, n_terms, mass) — which "
        "number O(sqrt(total_tokens)) by the sum bound, and the exact "
        "k is recovered arithmetically inside the crossing band: terms "
        "sharing a tf are interchangeable, so k = terms_before + "
        "ceil((needed - mass_before)/tf), all in BIGINT (needed uses "
        "the ceil-divide (pct*total+99) div 100 — no float threshold "
        "anywhere). The only global window runs over the band table; "
        "the token aggregate is the only volume-sized pass. Output is "
        "|thresholds| rows."
    ),
)
def q_ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    tf = (
        docs.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    bands = tf.groupBy("tf").agg(
        F.count(F.lit(1)).alias("n_terms"),
        (F.col("tf") * F.count(F.lit(1))).cast("bigint").alias("mass"),
    )
    # BOUNDED-FRAME: the unpartitioned prefix sums run over the tf BAND
    # table (one row per distinct frequency — O(sqrt(total tokens)) rows
    # by the harmonic bound), so the single-task WindowExec WARN is the
    # intended plan.
    wprev = Window.orderBy(F.desc("tf")).rowsBetween(Window.unboundedPreceding, -1)
    ranked = bands.select(
        "tf",
        "n_terms",
        "mass",
        F.coalesce(F.sum("n_terms").over(wprev), F.lit(0)).cast("bigint").alias("terms_before"),
        F.coalesce(F.sum("mass").over(wprev), F.lit(0)).cast("bigint").alias("mass_before"),
    )
    tot = bands.agg(
        F.sum("mass").cast("bigint").alias("total"),
        F.sum("n_terms").cast("bigint").alias("vocab"),
    )
    thresholds = docs.sparkSession.createDataFrame(
        [(t,) for t in COVERAGE_THRESHOLDS], "pct int"
    )
    needed = F.expr("(pct * total + 99) div 100")
    k_in_band = F.col("terms_before") + F.expr(
        "(needed - mass_before + tf - 1) div tf"
    )
    return (
        ranked.crossJoin(F.broadcast(thresholds))
        .crossJoin(F.broadcast(tot))
        .withColumn("needed", needed)
        .filter(
            (F.col("mass_before") + F.col("mass") >= F.col("needed"))
            & (F.col("mass_before") < F.col("needed"))
        )
        .groupBy("pct")
        .agg(
            F.min(k_in_band).alias("k_terms"),
            F.first("vocab").alias("vocab_size"),
            F.first("total").alias("total_tokens"),
        )
    )


@register(
    "lexical_complexity",
    """
    WITH toks AS (
      SELECT source, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    per_source AS (
      SELECT source,
             COUNT(*) AS n_tokens,
             CAST(SUM(CAST(LENGTH(token) AS BIGINT)) AS BIGINT) AS n_chars,
             CAST(SUM(CAST(len(regexp_extract_all(lower(token), '[aeiou]+')) AS BIGINT))
                  AS BIGINT) AS n_syllables,
             COUNT(DISTINCT token) AS n_types
      FROM toks GROUP BY source
    )
    SELECT source, n_tokens,
           ROUND(CAST(n_chars AS DOUBLE) / n_tokens, 6) AS avg_word_len,
           ROUND(CAST(n_syllables AS DOUBLE) / n_tokens, 6) AS syllables_per_word,
           ROUND(CAST(n_types AS DOUBLE) / n_tokens, 6) AS type_token_ratio
    FROM per_source
    """,
    doc=(
        "Lexical-complexity profile per source: mean word length, "
        "vowel-group syllables per word (the Flesch-family syllable "
        "heuristic — identical regex '[aeiou]+' in both engines), and "
        "type-token ratio. The reading-level triple computable without "
        "sentence segmentation, used to stratify corpora by difficulty "
        "for curriculum mixing. One token explode feeding ONE "
        "aggregate (counts, char sum, syllable sum, distinct types all "
        "partial-combine on the same exchange); every ratio is double "
        "over exact integers, 6 dp."
    ),
)
def q_lexical_complexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    t = docs.select("source", F.explode(toks).alias("token"))
    syl = F.size(F.expr("regexp_extract_all(lower(token), '[aeiou]+', 0)"))
    per = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.length("token").cast("bigint")).alias("n_chars"),
        F.sum(syl.cast("bigint")).alias("n_syllables"),
        F.count_distinct("token").alias("n_types"),
    )
    return per.select(
        "source",
        "n_tokens",
        F.round(F.col("n_chars").cast("double") / F.col("n_tokens"), 6).alias("avg_word_len"),
        F.round(F.col("n_syllables").cast("double") / F.col("n_tokens"), 6).alias(
            "syllables_per_word"
        ),
        F.round(F.col("n_types").cast("double") / F.col("n_tokens"), 6).alias(
            "type_token_ratio"
        ),
    )


TYPO_MIN_LEN, TYPO_MAX_LEN = 3, 20


@register(
    "typo_pairs",
    f"""
    WITH vocab AS (
      SELECT DISTINCT token FROM (
        SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        FROM documents
        UNION ALL
        SELECT UNNEST(list_filter(string_split(p_name, ' '), t -> t <> '')) AS token
        FROM part
      )
      WHERE LENGTH(token) BETWEEN {TYPO_MIN_LEN} AND {TYPO_MAX_LEN}
    ),
    variants AS (
      SELECT token,
             UNNEST(list_append(
               list_transform(range(0, LENGTH(token)),
                              i -> substr(token, 1, i) || substr(token, i + 2)),
               token)) AS v
      FROM vocab
    ),
    cand AS (
      SELECT DISTINCT a.token AS tok_a, b.token AS tok_b
      FROM variants a JOIN variants b ON a.v = b.v AND a.token < b.token
    )
    SELECT tok_a, tok_b FROM cand
    WHERE levenshtein(tok_a, tok_b) = 1
    """,
    doc=(
        "Edit-distance-1 token pairs via DELETION-NEIGHBORHOOD "
        "blocking (the SymSpell/FastSS scheme): every token keys on "
        "its single-character deletions plus itself, candidates are "
        "pairs sharing a variant, and only candidates get the "
        "levenshtein verify — a substitution pair meets at the "
        "common deletion, an insertion/deletion pair meets at the "
        "shorter token itself, so recall is exact for distance 1 "
        "WITHOUT the all-pairs O(|V|^2) join (the blocked join is "
        "O(|V| x len) keys). The fuzzy-matching primitive for typo "
        "normalization / crawl-variant collapsing, on the "
        "Heaps-sublinear vocab grain like source_vocab_overlap. "
        "Length bounds keep degenerate tokens out; verify is the "
        "same levenshtein built-in in both engines. Vocab unions the "
        "document corpus with the part-name catalog text so the "
        "fixture exercises real hits (red/rod, cold/old) — the oracle "
        "row is non-vacuous."
    ),
)
def q_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    part = load_table(spark, sf_dir, "part")

    def toks(col: str) -> Column:
        return F.filter(F.split(F.col(col), " "), lambda t: t != "")

    vocab = (
        docs.select(F.explode(toks("text")).alias("token"))
        .unionByName(part.select(F.explode(toks("p_name")).alias("token")))
        .filter(F.length("token").between(TYPO_MIN_LEN, TYPO_MAX_LEN))
        .distinct()
    )
    dels = F.expr(
        "transform(sequence(0, length(token) - 1),"
        " i -> concat(substring(token, 1, i), substring(token, i + 2)))"
    )
    variants = vocab.select(
        "token", F.explode(F.array_append(dels, F.col("token"))).alias("v")
    )
    a = variants.select(F.col("token").alias("tok_a"), "v")
    b = variants.select(F.col("token").alias("tok_b"), "v")
    cand = (
        a.join(b, "v")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b")
        .distinct()
    )
    return cand.filter(F.levenshtein("tok_a", "tok_b") == 1)


BM25_K1, BM25_B = 1.2, 0.75
BM25_QUERY = ("table", "scan", "merge")
BM25_TOP = 10


@register(
    "bm25_search",
    f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    doclen AS (
      SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id
    ),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS total_len FROM doclen
    ),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM toks WHERE token IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, COUNT(*) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id,
             CAST(SUM(CAST(
               LN(1 + ((SELECT n_docs FROM stats) - d.df + 0.5) / (d.df + 0.5))
               * t.tf * ({BM25_K1} + 1)
               / (t.tf + {BM25_K1} * (1 - {BM25_B}
                  + {BM25_B} * l.dl
                    / (CAST((SELECT total_len FROM stats) AS DOUBLE)
                       / (SELECT n_docs FROM stats))))
             AS DECIMAL(38,18))) AS DOUBLE) AS score,
             COUNT(*) AS n_terms_hit
      FROM tf t
      JOIN df d ON d.token = t.token
      JOIN doclen l ON l.doc_id = t.doc_id
      GROUP BY t.doc_id
    )
    SELECT doc_id, ROUND(score, 6) AS score, n_terms_hit
    FROM scored
    ORDER BY score DESC, doc_id ASC
    LIMIT {BM25_TOP}
    """,
    doc=(
        "BM25 keyword search (Robertson-Okapi, Lucene idf form) for a "
        "fixed query-term set — the distributed lexical-retrieval "
        "primitive beside the dense stack (cosine_topk / ann_*): at "
        "100 TB this IS the search engine, and the scale shape is the "
        "inverted-index build: one token explode feeding doc-length "
        "and per-(doc, query-term) tf aggregates (the tf table is "
        "pre-filtered to query terms, so only matching postings "
        "shuffle), term df and the corpus stats collapse to broadcast "
        "frames, and the final top-k is a TakeOrderedAndProject with "
        "a doc_id tiebreak. Scores are identical double expressions "
        "over exact integer tf/df/len in both engines (idf > 0 by the "
        "+1 inside the log even for df > N/2), rounded 6 dp after "
        "ranking. Each per-term score is an identical double "
        "expression, but the <=|query|-element per-doc SUM could "
        "accumulate in engine-dependent order — so it accumulates as "
        "DECIMAL(38,18) of the per-term doubles in BOTH engines, "
        "which is order-independent (the registry discipline)."
    ),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.col("text"), " "), lambda t: t != "")
    toks = docs.select("doc_id", F.explode(toks_arr).alias("token"))
    # Checkpoint the two aggregates of the exploded token stream (r15
    # optimization round): `doclen` feeds stats AND the scoring join,
    # `tf` feeds df AND the scoring join — Catalyst re-plans the full
    # explode+aggregate subtree per consumer and runtime exchange reuse
    # never fired here (executed plan: 0 ReusedExchange, 4 corpus
    # explodes). Both frames are small grains (doc-grain / doc×3 query
    # tokens); the token stream now explodes twice (the two different
    # aggregates), not four times. Same fork-materialization lesson as
    # the bigram family above.
    from nt_etl_order_book_spark.session import checkpoint_frame

    doclen = checkpoint_frame(toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl")))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").cast("bigint").alias("total_len")
    )
    tf = checkpoint_frame(
        toks.filter(F.col("token").isin(*BM25_QUERY))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    avglen = F.col("total_len").cast("double") / F.col("n_docs")
    idf = F.log(F.lit(1) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    term_score = (
        idf
        * F.col("tf")
        * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avglen))
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.sum(term_score.cast("decimal(38,18)")).cast("double").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return (
        scored.select("doc_id", F.round("score", 6).alias("score"), "n_terms_hit")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(BM25_TOP)
    )
