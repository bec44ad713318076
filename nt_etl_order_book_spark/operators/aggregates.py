"""Aggregations — SURVEY §2.5, plus the flagship `book_reconstruct`.

Spark's hash aggregate already does partial (map-side) + final
aggregation, so a groupBy here is one shuffle of partial states, not
rows — the right plan at 100 TB. Nothing to hand-schedule.

Determinism: every SUM/AVG over a double column accumulates in exact
DECIMAL and converts to double at the end, so the result is identical
under any partitioning (and identical to the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.session import checkpoint_frame
from nt_etl_order_book_spark.tables import load_table

# Exact accumulator for doubles: 24 integer digits of headroom at the
# cast-in type (Spark widens the partial-sum buffer to decimal(38,6) —
# 32 digits — internally); fine enough that the decimal quantization
# error is far below double ULP at these magnitudes.
DEC = "decimal(30,6)"


def dsum(col: str | Column) -> Column:
    """Order-independent sum of a double column (exact decimal accumulate)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(DEC)).cast("double")


def davg(col: str | Column) -> Column:
    """Order-independent mean of a double column."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(c.cast(DEC)).cast("double") / F.count(c)).cast("double")


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"CAST(CAST(SUM(CAST({expr} AS DECIMAL(30,6))) AS DOUBLE) / COUNT({expr}) AS DOUBLE)"


@register(
    "agg_groupby_sum",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS cnt
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="Hash aggregate with partial+final combine: total contracts per (ticker, side) analog.",
)
def q_agg_groupby_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_multi",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {sql_davg('l_quantity')} AS avg_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style multi-aggregate in one pass (ladder stats per market analog).",
)
def q_agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a high-cardinality NON-group key (r15 optimization
    # round): the decimal partial aggregation otherwise runs in the
    # single-row-group scan's one task (measured 0.92 → 0.65 s at
    # sf0.1). Spreading by l_orderkey (not the group key) keeps the
    # map-side-combine shape — 32 partials × 6 groups into a KB-scale
    # final exchange; no-op at scale where the scan itself splits.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag",
            "l_linestatus",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_shipdate",
            "l_orderkey",
        ).filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        "l_orderkey",
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    return (
        li
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            davg("l_quantity").alias("avg_qty"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "agg_distinct",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="COUNT(DISTINCT) — expand+two-phase agg under the hood.",
)
def q_agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(F.countDistinct("l_partkey").alias("distinct_parts"))


@register(
    "agg_approx_distinct",
    None,  # approximate → no value-level oracle; driver records rows-only.
    doc="HLL++ cardinality sketch (approx_count_distinct, rsd=0.01). Exact twin is agg_distinct.",
)
def q_agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users")
    )


@register(
    "agg_stats",
    f"""
    WITH sums AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             {sql_dsum('l_quantity')} AS s1,
             {sql_dsum('l_quantity * l_quantity')} AS s2,
             {sql_dsum('l_extendedprice')} AS p1,
             {sql_dsum('l_quantity * l_extendedprice')} AS xp
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           s1 / n AS mean_qty,
           (s2 - s1 * s1 / n) / n AS var_pop_qty,
           sqrt((s2 - s1 * s1 / n) / n) AS stddev_pop_qty,
           (xp - s1 * p1 / n) / n AS covar_pop
    FROM sums
    """,
    doc=(
        "Statistical aggregates (variance/stddev/covariance) from exact "
        "decimal component sums — order-independent, unlike the built-in "
        "one-pass estimators whose float accumulation varies by partitioning."
    ),
)
def q_agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a non-group key (r15 optimization round): parallel
    # decimal partials on the single-row-group fixture, map-side
    # combine preserved, no-op at scale (the agg_multi pattern).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_orderkey"
        ),
        "l_orderkey",
    )
    sums = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("s1"),
        dsum(F.col("l_quantity") * F.col("l_quantity")).alias("s2"),
        dsum("l_extendedprice").alias("p1"),
        dsum(F.col("l_quantity") * F.col("l_extendedprice")).alias("xp"),
    )
    n = F.col("n")
    return sums.select(
        "l_returnflag",
        "n",
        (F.col("s1") / n).alias("mean_qty"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / n) / n).alias("var_pop_qty"),
        F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / n) / n).alias("stddev_pop_qty"),
        ((F.col("xp") - F.col("s1") * F.col("p1") / n) / n).alias("covar_pop"),
    )


@register(
    "agg_median",
    """
    SELECT l_returnflag,
           median(l_quantity) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact median / continuous quantile (sort-based; both engines linear-interpolate).",
)
def q_agg_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # grouped_exact_percentile_boundaries, not builtin percentile():
    # same exact interpolated result, sort-based spillable state
    # instead of a per-group counts-map merged in one reducer.
    return grouped_exact_percentile_boundaries(
        li, ["l_returnflag"], "l_quantity", [0.5, 0.9]
    ).select(
        "l_returnflag",
        F.col("q1").alias("median_qty"),
        F.col("q2").alias("p90_qty"),
    )


@register(
    "agg_string_concat",
    """
    SELECT n_regionkey,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    """,
    doc="Ordered string aggregation (collect → sort → join: deterministic under any partitioning).",
)
def q_agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = load_table(spark, sf_dir, "nation")
    return nation.groupBy("n_regionkey").agg(
        F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
    )


@register(
    "agg_grouping_sets",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP subtotals by (flag, status), (flag), and grand total.",
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a non-group key (r15): the Expand (one copy of every
    # row per rollup level) + decimal partials otherwise run in the
    # scan's one task; no-op at scale (the agg_multi pattern).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"
        ),
        "l_orderkey",
    )
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity").alias("sum_qty"),
    )


@register(
    "agg_weighted_avg",
    f"""
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(30,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(30,6))) AS DOUBLE) AS weighted_avg_price,
           {sql_dsum('l_quantity')} AS total_volume
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Weighted average (the VWAP shape: Σprice·size / Σsize) with exact decimal accumulation on both sums.",
)
def q_agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a non-group key (r15): parallel decimal partials on the
    # fixture, no-op at scale (the agg_multi pattern).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_quantity", "l_extendedprice", "l_orderkey"
        ),
        "l_orderkey",
    )
    notional = F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast(DEC)).cast("double")
    volume = F.sum(F.col("l_quantity").cast(DEC)).cast("double")
    return li.groupBy("l_returnflag").agg(
        (notional / volume).alias("weighted_avg_price"),
        dsum("l_quantity").alias("total_volume"),
    )


@register(
    "agg_cube",
    f"""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS cnt,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    doc="CUBE: subtotals for every grouping-key combination incl. cross terms.",
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a non-group key (r15): the 4-way CUBE Expand + decimal
    # partials otherwise run in the scan's one task (agg_multi pattern).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_extendedprice", "l_orderkey"
        ),
        "l_orderkey",
    )
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "agg_having",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {sql_dsum('o_totalprice')} AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 3
    """,
    doc="Post-aggregation filter (HAVING).",
)
def q_agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("total_spend"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "book_reconstruct",
    f"""
    WITH snaps AS (
      SELECT user_id, ts, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events WHERE event_type = 'signup'
    ),
    latest AS (
      SELECT user_id, ts AS snap_ts, value AS base FROM snaps WHERE rn = 1
    ),
    deltas AS (
      SELECT e.user_id, {sql_dsum('e.value')} AS delta_sum, COUNT(*) AS n_deltas
      FROM events e LEFT JOIN latest l ON e.user_id = l.user_id
      WHERE e.event_type = 'click' AND (l.snap_ts IS NULL OR e.ts > l.snap_ts)
      GROUP BY e.user_id
    )
    SELECT
      COALESCE(l.user_id, d.user_id) AS user_id,
      CAST(COALESCE(l.base, 0) + COALESCE(d.delta_sum, 0) AS DOUBLE) AS book_value,
      COALESCE(d.n_deltas, 0) AS n_deltas
    FROM latest l FULL OUTER JOIN deltas d ON l.user_id = d.user_id
    """,
    doc=(
        "FLAGSHIP: order-book reconstruction — book(T) = latest snapshot ≤ T + "
        "sum of deltas after it, per key (the reason the reference's two output "
        "tables exist, postgres_client.py:27-50). signup≈snapshot, click≈delta."
    ),
)
def q_book_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return book_reconstruct(
        snapshots=events.filter(F.col("event_type") == "signup").select("user_id", "ts", "event_id", "value"),
        deltas=events.filter(F.col("event_type") == "click").select("user_id", "ts", "value"),
        key="user_id",
    )


def book_reconstruct(snapshots: DataFrame, deltas: DataFrame, key: str) -> DataFrame:
    """Library form of the flagship reconstruction: the scalar case of
    `analytics.current_book`.

    snapshots: (key, ts, event_id, value) — absolute levels;
    deltas:    (key, ts, value)           — increments.
    Returns (key, book_value, n_deltas): the latest snapshot's value by
    (ts, event_id) plus the sum of strictly-later deltas; keys with no
    snapshot start at 0. One exchange: the tagged union of both inputs
    on `key`, which the snap_ts window and the aggregate reuse. No join.
    """
    snap = F.col("_snap")
    rows = snapshots.select(key, "ts", "event_id", "value", F.lit(True).alias("_snap")).unionByName(
        deltas.select(key, "ts", "value", F.lit(False).alias("_snap")), allowMissingColumns=True
    )
    snap_ts = F.max(F.when(snap, F.col("ts"))).over(Window.partitionBy(key))
    later = ~snap & (F.col("_snap_ts").isNull() | (F.col("ts") > F.col("_snap_ts")))
    return (
        rows.repartition(key)
        .withColumn("_snap_ts", snap_ts)
        .filter(snap | later)
        .groupBy(key)
        .agg(
            F.max_by("value", F.when(snap, F.struct("ts", "event_id"))).alias("base"),
            dsum(F.when(~snap, F.col("value"))).alias("delta_sum"),
            F.count(F.when(~snap, F.lit(1))).alias("n_deltas"),
        )
        .select(
            key,
            (F.coalesce(F.col("base"), F.lit(0.0)) + F.coalesce(F.col("delta_sum"), F.lit(0.0)))
            .cast("double")
            .alias("book_value"),
            "n_deltas",
        )
    )


@register(
    "agg_grouping_id",
    f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           COUNT(*) AS cnt,
           {sql_dsum('l_quantity')} AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc=(
        "Explicit GROUPING SETS with GROUPING() indicator columns — the "
        "third member of the rollup/cube family; the indicators "
        "disambiguate a NULL group key from the subtotal rows."
    ),
)
def q_agg_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.session import spread

    # spread by a non-group key (r15): grouping-sets Expand + decimal
    # partials parallel on the fixture, no-op at scale.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_returnflag", "l_linestatus", "l_quantity", "l_orderkey"
        ),
        "l_orderkey",
    )
    return li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("cnt"),
        dsum("l_quantity").alias("sum_qty"),
    )


# Columns profiled by table_profile, with an engine-portable VARCHAR
# rendering per type family: BIGINT-able ints render as plain integer
# strings, strings render as themselves, timestamps render through a
# DATE cast (ISO YYYY-MM-DD in both engines). Doubles are deliberately
# excluded — float-to-string formatting is engine-specific and a
# profile's min/max on measures belongs to agg_stats' typed output.
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("l_orderkey", "int"),
    ("l_partkey", "int"),
    ("l_suppkey", "int"),
    ("l_linenumber", "int"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "date"),
)


def _profile_sql() -> str:
    parts = []
    for name, kind in PROFILE_COLS:
        expr = f"CAST({name} AS DATE)" if kind == "date" else name
        parts.append(f"""
      SELECT '{name}' AS col_name,
             COUNT(*) AS n_rows,
             CAST(COUNT(*) - COUNT({expr}) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT {expr}) AS BIGINT) AS n_distinct,
             CAST(MIN({expr}) AS VARCHAR) AS min_val,
             CAST(MAX({expr}) AS VARCHAR) AS max_val
      FROM lineitem""")
    return " UNION ALL ".join(parts)


@register(
    "table_profile",
    _profile_sql(),
    doc=(
        "Table profiler (the DESCRIBE/SUMMARY surface): one row per "
        "profiled lineitem column with row/null/exact-distinct counts "
        "and min/max rendered through engine-portable VARCHAR casts "
        "(ints plain, timestamps via DATE). One SINGLE-distinct "
        "aggregate per column, unioned (r9): a combined "
        "multi-countDistinct aggregate plans through Catalyst's Expand "
        "— every input row replicated (|distinct-aggs|+1)× through the "
        "first shuffle — and measured 9.3-9.7 s vs 0.9-1.3 s for the "
        "per-column form at sf0.1 (values identical). The per-column "
        "plan is the oracle's own UNION ALL shape; each branch "
        "column-prunes its scan to ONE column, so the union reads the "
        "same total parquet bytes as a single wide scan at 100 TB, and "
        "each single-distinct agg two-phases by value with no row "
        "replication."
    ),
)
def q_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    frames = []
    for name, kind in PROFILE_COLS:
        c = F.col(name).cast("date") if kind == "date" else F.col(name)
        frames.append(
            li.select(c.alias("_c")).agg(
                F.lit(name).alias("col_name"),
                F.count(F.lit(1)).alias("n_rows"),
                (F.count(F.lit(1)) - F.count("_c")).cast("bigint").alias("n_nulls"),
                F.countDistinct("_c").cast("bigint").alias("n_distinct"),
                F.min("_c").cast("string").alias("min_val"),
                F.max("_c").cast("string").alias("max_val"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def ranked_value_counts(df: DataFrame, col: str) -> DataFrame:
    """(v, c, _pid) distinct-value counts of ``col``, range-partitioned
    by value and MATERIALIZED (checkpoint_frame) — the fork point every
    exact-percentile/histogram consumer shares.

    The checkpoint does double duty (r15 optimization round):

    - Consumers reuse ONE scan+aggregation. A forked DataFrame is
      re-planned under each consumer, and ReuseExchange could not
      stitch the branches back together because column pruning made
      their exchanges differ — the before-plan of equi_depth_histogram
      carried the whole scan → distinct-count → range-partition subtree
      TWICE (plans/r15/equi_depth_histogram_before.txt, scans (2) and
      (11)) plus a third raw-fact scan for the histogram tail.
    - ``spark_partition_id()`` is frozen at materialization, so every
      consumer sees the same pid assignment (the win_ntile lesson).
    """
    from nt_etl_order_book_spark.session import spread

    # spread: the distinct-value partial aggregation otherwise runs in
    # the scan's task count — ONE task on the single-row-group fixture
    # (no-op at scale, where the scan itself splits; the narrow
    # projection keeps the exchange to the one column being counted).
    counts = (
        spread(df.select(F.col(col).alias("v")), "v")
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # No explicit partition count: REPARTITION_BY_COL is AQE-coalescible,
    # so the range partitioning sizes itself to the data — one partition
    # on the KB–MB fixture (the old constant 32 pinned the checkpointed
    # RDD at 32 partitions and every downstream stage paid 32-task
    # dispatch on tiny data: 14 jobs, measured r15), advisory-sized
    # partitions at scale. The per-pid offset lift is partition-count
    # agnostic by construction.
    parts = counts.repartitionByRange(F.asc("v")).withColumn(
        "_pid", F.spark_partition_id()
    )
    return checkpoint_frame(parts, eager=False)


def boundaries_from_counts(
    spark: SparkSession, parts: DataFrame, fracs: list[float]
) -> DataFrame:
    """Exact interpolated percentiles (Spark/ANSI percentile_cont
    semantics) of a ranked_value_counts frame, as a 1-row frame with
    columns q1..qk — WITHOUT the builtin ``percentile()``'s
    single-reducer counts-map merge.

    Spark's exact Percentile aggregate accumulates a value→count map
    per task and merges ALL of them in one final reducer — ~|distinct|
    entries of state in a single task (measured 3.5-5.6 s alone on 583k
    distinct doubles at sf0.1). The distributed form: the (value, count)
    table arrives range-partitioned by value (the shuffle carried
    distinct values once); per-partition cumulative counts lift to
    global ranks with broadcast offsets (the distributed_ntile
    decomposition, operators/windows.py), then each requested fraction
    f needs only the two values whose 0-based index ranges straddle
    pos = (n-1)*f. Every stage is bounded: the widest single-task state
    is one range partition's distinct values.
    """
    wloc = Window.partitionBy("_pid").orderBy("v")
    local = parts.withColumn("_lc", F.sum("c").over(wloc))  # incl. current row
    pcnt = local.groupBy("_pid").agg(F.sum("c").alias("_cnt"))
    # BOUNDED-FRAME: the unpartitioned windows below run over the
    # per-partition counts frame — |partitions| rows by construction —
    # so the single-task WindowExec WARN is the intended plan.
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = pcnt.select(
        "_pid",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(
            Window.orderBy("_pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("_n"),
    )
    cum = local.join(F.broadcast(offsets), "_pid").select(
        "v", "c", (F.col("_off") + F.col("_lc")).alias("cum"), "_n"
    )
    fr = F.broadcast(
        spark.createDataFrame(
            [(i + 1, float(f)) for i, f in enumerate(fracs)], "fi int, f double"
        )
    )
    # Interpolation replicates Spark's Percentile.getPercentile (and
    # DuckDB's quantile_cont) BIT-FOR-BIT: position = f * (n - 1),
    # lower = floor, higher = ceil, and the two-sided weighted form
    # (higher - position) * lowerVal + (position - lower) * higherVal.
    # A rearranged lo + (hi - lo) * frac differs in the final ulp and
    # hash-mismatches the oracle (caught at sf0.01).
    pos = F.col("f") * (F.col("_n") - 1).cast("double")
    lo_i = F.floor(pos)
    hi_i = F.ceil(pos)
    lo_start = F.col("cum") - F.col("c")  # 0-based first index of v's run
    hits = (
        cum.join(fr, (lo_i < F.col("cum")) & (hi_i >= lo_start))
        .select(
            "fi",
            pos.alias("pos"),
            lo_i.alias("lo_i"),
            hi_i.alias("hi_i"),
            F.when((lo_i >= lo_start) & (lo_i < F.col("cum")), F.col("v")).alias("lo_v"),
            F.when((hi_i >= lo_start) & (hi_i < F.col("cum")), F.col("v")).alias("hi_v"),
        )
        .groupBy("fi")
        .agg(
            F.max("pos").alias("pos"),
            F.max("lo_i").alias("lo_i"),
            F.max("hi_i").alias("hi_i"),
            F.max("lo_v").alias("lo_v"),
            F.max("hi_v").alias("hi_v"),
        )
    )
    boundary = F.when(F.col("lo_i") == F.col("hi_i"), F.col("lo_v")).otherwise(
        (F.col("hi_i") - F.col("pos")) * F.col("lo_v")
        + (F.col("pos") - F.col("lo_i")) * F.col("hi_v")
    )
    one = hits.groupBy().agg(
        *[
            F.max(F.when(F.col("fi") == i + 1, boundary)).alias(f"q{i + 1}")
            for i in range(len(fracs))
        ]
    )
    return one


def grouped_exact_percentile_boundaries(
    df: DataFrame, group_cols: list[str], col: str, fracs: list[float]
) -> DataFrame:
    """Per-group exact interpolated percentiles (Spark percentile() /
    ANSI percentile_cont semantics, nulls ignored): one row per group
    with columns group_cols + q1..qk + n_vals + min_val + max_val.

    The grouped twin of boundaries_from_counts. Spark's builtin
    per-group percentile() accumulates a value→count HASH MAP per group
    and merges all partial maps in the group's single final reducer —
    unspillable state proportional to the group's distinct values. This
    form collapses to a (group, value, count) table first (shuffle
    carries each distinct value once) and ranks with a KEYED cumulative
    window — sort-based, spillable, and the per-task input is distinct
    values, not raw rows. Groups whose values are all NULL keep their
    row (NULL percentiles, n_vals = 0), exactly like the builtin: the
    stats frame aggregates the UNFILTERED input and left-joins the
    percentile frame. The percentile side broadcasts — group keys here
    are low-cardinality profile dimensions; for a high-cardinality key
    drop the hint and let AQE pick the join.
    """
    g = list(group_cols)
    counts = (
        df.filter(F.col(col).isNotNull())
        .groupBy(*g, F.col(col).alias("_v"))
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    wcum = Window.partitionBy(*g).orderBy("_v")
    wgrp = Window.partitionBy(*g)
    cum = counts.select(
        *g,
        "_v",
        "_c",
        F.sum("_c").over(wcum).alias("_cum"),
        F.sum("_c").over(wgrp).alias("_n"),
    )
    fr = F.broadcast(
        df.sparkSession.createDataFrame(
            [(i + 1, float(f)) for i, f in enumerate(fracs)], "fi int, f double"
        )
    )
    # Same bit-exact interpolation as boundaries_from_counts (see
    # the comment there): position = f * (n - 1), two-sided weighted
    # form, collapse-to-lowerVal when the position is integral.
    pos = F.col("f") * (F.col("_n") - 1).cast("double")
    lo_i = F.floor(pos)
    hi_i = F.ceil(pos)
    lo_start = F.col("_cum") - F.col("_c")
    boundary = F.when(F.col("lo_i") == F.col("hi_i"), F.col("lo_v")).otherwise(
        (F.col("hi_i") - F.col("pos")) * F.col("lo_v")
        + (F.col("pos") - F.col("lo_i")) * F.col("hi_v")
    )
    pcts = (
        cum.join(fr, (lo_i < F.col("_cum")) & (hi_i >= lo_start))
        .select(
            *g,
            "fi",
            pos.alias("pos"),
            lo_i.alias("lo_i"),
            hi_i.alias("hi_i"),
            F.when((lo_i >= lo_start) & (lo_i < F.col("_cum")), F.col("_v")).alias("lo_v"),
            F.when((hi_i >= lo_start) & (hi_i < F.col("_cum")), F.col("_v")).alias("hi_v"),
        )
        .groupBy(*g, "fi")
        .agg(
            F.max("pos").alias("pos"),
            F.max("lo_i").alias("lo_i"),
            F.max("hi_i").alias("hi_i"),
            F.max("lo_v").alias("lo_v"),
            F.max("hi_v").alias("hi_v"),
        )
        .groupBy(*g)
        .agg(
            *[
                F.max(F.when(F.col("fi") == i + 1, boundary)).alias(f"q{i + 1}")
                for i in range(len(fracs))
            ]
        )
    )
    stats = df.groupBy(*g).agg(
        F.count(F.col(col)).alias("n_vals"),  # non-null count; keeps all-NULL groups
        F.min(col).alias("min_val"),
        F.max(col).alias("max_val"),
    )
    return stats.join(F.broadcast(pcts), g, "left")


@register(
    "equi_depth_histogram",
    """
    WITH q AS (
      SELECT quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.50) AS q2,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem
    )
    SELECT (CASE WHEN l_extendedprice > q.q1 THEN 1 ELSE 0 END
            + CASE WHEN l_extendedprice > q.q2 THEN 1 ELSE 0 END
            + CASE WHEN l_extendedprice > q.q3 THEN 1 ELSE 0 END) AS bucket,
           COUNT(*) AS n,
           MIN(l_extendedprice) AS lo,
           MAX(l_extendedprice) AS hi
    FROM lineitem CROSS JOIN q
    GROUP BY bucket
    """,
    doc=(
        "Equi-depth (quartile) histogram of a fact column — the "
        "ANALYZE-TABLE statistic a cost-based optimizer keeps per "
        "column, as a query: EXACT interpolated quartile boundaries "
        "from the distributed counts-table decomposition "
        "(boundaries_from_counts — no builtin percentile(), whose "
        "single-reducer counts-map merge was this query's dominant "
        "cost and does not bound at scale), then a second scan assigns "
        "each row its bucket against the broadcast 1-row boundary "
        "frame and folds counts + per-bucket envelopes. Bucket "
        "assignment is three double comparisons against identical "
        "boundary values in both engines, so the histogram is "
        "hash-exact. The *_approx twin swaps the boundary pass for GK "
        "sketches when even one shuffle of distinct values is too much."
    ),
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # ONE scan of the fact for the whole query (r15 optimization round):
    # boundaries AND histogram both derive from the materialized
    # distinct-value counts — before, the counts subtree was physically
    # duplicated under the boundary fork and the histogram tail
    # re-scanned the raw fact a third time (2.66 s → ~1.1 s at sf0.1;
    # at scale this halves the query's I/O). Bucket counts/envelopes
    # over (v, c) rows are row-for-row equivalent to the raw-row form:
    # Σc per bucket == COUNT(*), min/max over the distinct values ==
    # min/max over the rows (values are compared identically in both
    # engines; the *_approx twin keeps the raw-scan tail since its
    # whole point is one pass with NO distinct-value state).
    parts = ranked_value_counts(li, "l_extendedprice")
    q = boundaries_from_counts(spark, parts, [0.25, 0.50, 0.75])
    v = F.col("v")
    bucket = (
        (v > F.col("q1")).cast("int")
        + (v > F.col("q2")).cast("int")
        + (v > F.col("q3")).cast("int")
    )
    return (
        parts.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.sum("c").alias("n"),
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
        )
    )


def _quartile_histogram(li: DataFrame, q: DataFrame) -> DataFrame:
    """Bucket-assignment tail shared by the exact and approx variants:
    compare each row against the broadcast 1-row boundary frame, fold
    counts + per-bucket envelopes."""
    v = F.col("l_extendedprice")
    bucket = (
        (v > F.col("q1")).cast("int")
        + (v > F.col("q2")).cast("int")
        + (v > F.col("q3")).cast("int")
    )
    return (
        li.crossJoin(F.broadcast(q))
        .groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(v).alias("lo"),
            F.max(v).alias("hi"),
        )
    )


# GK sketch accuracy for the *_approx percentile twins: rank error is
# bounded by n/accuracy per boundary (Spark's approx_percentile default).
QHIST_ACCURACY = 10_000


@register(
    "equi_depth_histogram_approx",
    None,  # GK sketch state merges in task-completion order, so the
    # boundary values are not engine-portable → rows-only; the
    # n/QHIST_ACCURACY rank-error bound is asserted quantitatively in
    # tests/test_operators.py on a uniform 20k-value corpus.
    doc=(
        "The 100 TB form of equi_depth_histogram, shipped as runnable "
        "code rather than a docstring promise: quartile boundaries from "
        "one-pass mergeable GK sketches (approx_percentile, accuracy "
        f"{QHIST_ACCURACY} → rank error ≤ n/{QHIST_ACCURACY} per "
        "boundary, so each bucket's count deviates from n/4 by at most "
        "2·n/accuracy), then the identical broadcast-compare tail. "
        "Replaces the exact variant's counts-map-over-distinct-values "
        "partial state — the thing that does not fit at scale — with "
        "bounded sketch partials; one scan + one bounded aggregate."
    ),
)
def q_equi_depth_histogram_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    q = li.agg(
        F.approx_percentile(
            "l_extendedprice",
            F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
            F.lit(QHIST_ACCURACY),
        ).alias("qs")
    ).select(
        F.col("qs")[0].alias("q1"),
        F.col("qs")[1].alias("q2"),
        F.col("qs")[2].alias("q3"),
    )
    return _quartile_histogram(li, q)


@register(
    "moments_profile",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(38,18))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(value * value AS DECIMAL(38,18))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(value * value * value AS DECIMAL(38,18))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(value * value * value * value AS DECIMAL(38,18))) AS DOUBLE) AS s4
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(s1 / n, 6) AS mean,
           ROUND((s2 / n) - (s1 / n) * (s1 / n), 6) AS variance,
           ROUND(((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / nullif(POWER((s2 / n) - (s1 / n) * (s1 / n), 1.5), 0.0), 6) AS skewness,
           ROUND(((s4 / n) - 4 * (s1 / n) * (s3 / n)
                  + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                  - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
                 / nullif(((s2 / n) - (s1 / n) * (s1 / n))
                          * ((s2 / n) - (s1 / n) * (s1 / n)), 0.0) - 3, 6) AS excess_kurtosis
    FROM s
    """,
    doc=(
        "Distribution-shape profile per message type: mean, variance, "
        "skewness, excess kurtosis — the moments a monitoring layer "
        "tracks to catch regime changes the mean alone hides (fat "
        "tails, asymmetry). All four raw power sums accumulate as "
        "DECIMAL(38,18) in ONE hash aggregate (one scan, map-side "
        "combine — the agg_stats pattern extended to 4th order), then "
        "the standardized moments come from identical closed-form "
        "double arithmetic in both engines, written with the same "
        "association so every intermediate double matches bitwise. "
        "nullif guards the zero-variance denominators (ANSI division). "
        "Population moments (biased), the streaming-friendly "
        "convention, since the per-partition partials merge exactly."
    ),
)
def q_moments_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")

    def ds(c):  # noqa: ANN001
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        ds(v).alias("s1"),
        ds(v * v).alias("s2"),
        ds(v * v * v).alias("s3"),
        ds(v * v * v * v).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1") / n
    m2 = F.col("s2") / n
    m3 = F.col("s3") / n
    m4 = F.col("s4") / n
    var = m2 - m1 * m1
    skew = (m3 - F.lit(3) * m1 * m2 + F.lit(2) * m1 * m1 * m1) / F.nullif(
        F.pow(var, F.lit(1.5)), F.lit(0.0)
    )
    kurt = (
        m4 - F.lit(4) * m1 * m3 + F.lit(6) * m1 * m1 * m2 - F.lit(3) * m1 * m1 * m1 * m1
    ) / F.nullif(var * var, F.lit(0.0)) - F.lit(3)
    return s.select(
        "event_type",
        "n",
        F.round(m1, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("excess_kurtosis"),
    )
