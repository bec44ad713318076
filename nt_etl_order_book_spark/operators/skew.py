"""Skew mitigation — salting for hot keys.

AQE's skew-join splitting handles join-side skew automatically
(session.py enables it); aggregation skew on a hot key (one market
doing 100× the volume — routine in prediction markets near resolution)
still concentrates a single reducer. `salted_agg` is the classic
two-phase fix: pre-aggregate on (key, salt), then re-aggregate on key.
The first shuffle spreads the hot key over `N_SALTS` reducers; the
second moves only N_SALTS rows per key.

Results are identical to the plain groupBy for any associative
aggregate (tests assert equality), so callers can switch it on for
known-hot keys without semantic review.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

N_SALTS = 16


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[Column, Callable[[Column], Column]]],
) -> DataFrame:
    """Two-phase aggregation over skewed keys.

    aggs: output_name -> (partial_agg_expr, final_agg_expr_over_partials).
    The partial expr runs per (keys, salt); the final expr combines the
    per-salt partials. E.g. a sum is (sum(x), sum(partial)); a count is
    (count(1), sum(partial)); a max is (max(x), max(partial)).
    """
    salted = df.withColumn("_salt", F.pmod(F.spark_partition_id() + F.monotonically_increasing_id(), F.lit(N_SALTS)))
    partial = salted.groupBy(*keys, "_salt").agg(
        *[expr.alias(f"_p_{name}") for name, (expr, _) in aggs.items()]
    )
    return partial.groupBy(*keys).agg(
        *[final(F.col(f"_p_{name}")).alias(name) for name, (_, final) in aggs.items()]
    )


def salted_sum_count(df: DataFrame, keys: list[str], value: str) -> DataFrame:
    """Skew-safe sum+count of a column per key (decimal-exact for doubles)."""
    dec = F.col(value).cast("decimal(30,6)")
    return salted_agg(
        df,
        keys,
        {
            "sum_value": (F.sum(dec), F.sum),
            "n_rows": (F.count(F.lit(1)), F.sum),
        },
    ).select(*keys, F.col("sum_value").cast("double").alias("sum_value"), "n_rows")


def _register_query() -> None:
    """Registered here (not a top-level decorator) to keep this module
    importable without the registry in minimal contexts."""
    from nt_etl_order_book_spark.registry import register
    from nt_etl_order_book_spark.tables import load_table

    @register(
        "agg_salted_skew",
        """
        SELECT event_type,
               CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value,
               COUNT(*) AS n_rows
        FROM events
        GROUP BY event_type
        """,
        doc=(
            "Skew-safe two-phase aggregation over a hot-key column "
            "(events.event_type: a handful of keys, each a reducer "
            "hotspot at scale). The oracle is the PLAIN GROUP BY — the "
            "hash match proves salting is semantics-transparent, so it "
            "can be switched on for known-hot keys without review. "
            "Phase 1 spreads each key over 16 salts; phase 2 moves only "
            "16 partial rows per key."
        ),
    )
    def q_agg_salted_skew(spark, sf_dir):
        events = load_table(spark, sf_dir, "events")
        return salted_sum_count(events, ["event_type"], "value")


_register_query()

