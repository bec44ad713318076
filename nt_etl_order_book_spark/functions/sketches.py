"""Heavy-hitters via the classic two-pass sketch-then-verify pattern.

Pass 1 runs a Misra-Gries summary (K counters) independently inside
each partition — mapInPandas, nothing leaves the executor but each
partition's <= K surviving candidate tokens. The MG guarantee makes the
union of per-partition survivors a SUPERSET of every token whose global
frequency exceeds n/K (a fortiori of every token above the much larger
report threshold), so no true heavy hitter can be missed. Pass 2
re-counts ONLY the candidate set exactly (broadcast semi-join + one
hash aggregate) and applies the threshold to exact counts.

The punchline for 100 TB: the full-cardinality token aggregate —
whose shuffle would carry the whole vocabulary — is replaced by a
narrow scan emitting <= K rows per partition plus an exact recount
whose aggregate only ever sees candidate tokens. And because pass 2 is
exact, the FINAL ANSWER is deterministic and oracle-hashable: the
sketch prunes, it never decides.

Completes the sketch family: HLL (agg_approx_distinct), GK quantiles
(approx_quantile_audit), Misra-Gries heavy hitters (here, with
streaming/stateful.stream_heavy_hitters as its live twin).
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table

# MG counter budget per partition. Any token with global count > n/MG_K
# survives in at least one partition's summary; report threshold is a
# fraction far above 1/MG_K so the superset guarantee holds with slack.
MG_K = 256
# Report tokens covering >= 1/HH_DENOM (0.5%) of all tokens. Kept as an
# integer denominator so the threshold test is cnt * DENOM >= n — pure
# BIGINT in both engines. (ceil(n * 0.005) looks equivalent but is not:
# DuckDB multiplies by a DECIMAL literal while Spark multiplies by the
# binary double 0.005000000000000000104…, so at n an exact multiple of
# 200 Spark's ceil lands one higher — a cross-engine boundary bug.)
HH_DENOM = 200


def _mg_summaries(it: Iterator) -> Iterator:
    """Per-partition Misra-Gries: stream tokens through K counters."""
    import pandas as pd

    counters: dict[str, int] = {}
    for pdf in it:
        for tok in pdf["token"]:
            if tok in counters:
                counters[tok] += 1
            elif len(counters) < MG_K:
                counters[tok] = 1
            else:
                # decrement-all step; drop zeros
                dead = []
                for k in counters:
                    counters[k] -= 1
                    if counters[k] == 0:
                        dead.append(k)
                for k in dead:
                    del counters[k]
    if counters:
        yield pd.DataFrame({"token": list(counters.keys())})


@register(
    "heavy_hitters",
    f"""
    WITH toks AS (
      SELECT UNNEST(list_filter(string_split(text, ' '), t -> t <> '')) AS token
      FROM documents
    ),
    total AS (SELECT COUNT(*) AS n FROM toks)
    SELECT t.token, COUNT(*) AS cnt
    FROM toks t
    GROUP BY t.token
    HAVING COUNT(*) * {HH_DENOM} >= (SELECT n FROM total)
    """,
    doc=(
        "Exact heavy hitters (tokens covering >= 0.5% of the corpus) "
        "computed by per-partition Misra-Gries candidate generation + "
        "exact recount of candidates only. The MG superset guarantee "
        "(K=256 counters >> the report threshold's reciprocal) means "
        "the two-pass answer equals the brute-force full-vocabulary "
        "aggregate the oracle runs — but the engine never shuffles the "
        "vocabulary, only <= K candidate tokens per partition plus "
        "their exact counts. tests pin the sketch-vs-exact equality on "
        "a skewed constructed corpus as well."
    ),
)
def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.col("text"), " "), lambda t: t != "")
        ).alias("token")
    )
    # Pass 1: narrow candidate generation (<= MG_K rows per partition).
    cands = (
        toks.mapInPandas(_mg_summaries, "token string")
        .distinct()  # tiny: |partitions| x K upper bound
    )
    # Pass 2: exact recount of candidates only. The candidate set is
    # small by construction -> broadcast; the threshold count is a
    # 1-row broadcast the comparison folds in.
    #
    # The grand total is a SUM OF ARRAY SIZES per doc, not a count of
    # the exploded stream (r15 optimization round): counting exploded
    # rows re-ran the full split+explode pipeline a third time (the
    # forked `toks` re-plans per consumer; executed plan showed 0
    # ReusedExchange). sum(size(filtered_tokens)) is provably the same
    # number — explode emits exactly size(arr) rows per doc, empty
    # arrays emit 0 and contribute 0, a null array emits 0 rows and is
    # skipped by SUM — and costs one array-length read per doc with no
    # explode. coalesce covers the empty-corpus edge (SUM→NULL vs
    # COUNT→0; both yield an empty result either way).
    total = docs.agg(
        F.coalesce(
            F.sum(F.size(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("n")
    )
    counted = (
        toks.join(F.broadcast(cands), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        counted.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * F.lit(HH_DENOM) >= F.col("n"))
        .select("token", "cnt")
    )
