"""Joins — SURVEY §2.4, including the as-of join (the one genuinely
custom operator: each delta matched to the latest snapshot ≤ its time).

The reference has zero joins; this is the implied analytics surface of
its two output tables (orderbook_snapshots ⋈ orderbook_deltas) plus the
market dimension from REST discovery (kalshi_rest_client.py:60-74).

Scale notes per query are inline; the global rules:
- dims ≤ a few MB → `broadcast()` (no shuffle of the fact side);
- fact⋈fact equi-joins → sort-merge on the key, AQE handles skew;
- the as-of join is NOT a range join: it is one union + one row-grain
  window shuffle on (key, day) (see `asof_join`), linear at 100 TB
  where a naive inequality join would be quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nt_etl_order_book_spark.operators.aggregates import dsum, sql_dsum
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """As-of join: for each left row, the latest right row with
    ``right.ts <= left.ts`` on the same key (DuckDB `ASOF JOIN` ≤
    semantics). Left rows with no prior right row get NULLs.

    Implementation is the union+window pattern, not an inequality join:
    tag right rows 0 / left rows 1, union, and take
    ``last(row_struct, ignorenulls)`` over (key) ordered by (ts, tag) —
    right rows sort before left rows at equal ts, so ties match. One
    shuffle on the key; O(n log n) per key vs the O(n·m)
    BroadcastNestedLoop a theta-join would produce.

    `right` SHOULD be unique per (key, ts) — that is the well-defined
    as-of contract. When duplicates exist anyway, every ordering
    (the window sort and the chunk carry's ``max_by``) tiebreaks on
    the right row's own value struct, so the greatest duplicate wins
    EVERYWHERE: the pick is deterministic across runs and cannot smear
    across day boundaries. When the contract holds the tiebreak never
    fires.
    Because the tiebreak compares the whole value struct, every column
    in ``value_cols`` must have an ORDERABLE type (no map columns) —
    the plan fails at analysis time otherwise. Project a map column to
    orderable fields (or map_entries) before the join if you need it
    carried.

    The matched right row travels as ONE struct, not per-column `last`
    calls: per-column ignorenulls would stitch a NULL-bearing right row
    together with older rows' values, emitting a composite right row
    that never existed.

    The running last is `chunked_prefix`'s ``"last"`` over the union,
    ordered (ts, tag, row): the union is DAY-CHUNKED when the ts is
    temporal (one constant chunk otherwise), so no task sorts a hot
    key's whole tape, and each left row takes the latest right row of
    its own day before it or else the carried last right row of the
    prior days. The picked row is the one the global window picks, so
    consumers stay bit-identical to their native-ASOF oracles.
    """
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    from nt_etl_order_book_spark.operators.timeseries import chunked_prefix

    lcols = [c for c in left.columns]
    r_struct_type = "struct<" + ",".join(
        f"{c}:{right.schema[c].dataType.simpleString()}" for c in value_cols
    ) + ">"
    l_tagged = left.select(
        F.col(key).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_is_left"),
        *[F.col(c).alias(f"_l_{c}") for c in lcols],
        F.lit(None).cast(r_struct_type).alias("_r"),
    )
    r_tagged = right.select(
        F.col(key).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(f"_l_{c}") for c in lcols],
        F.struct(*[F.col(c) for c in value_cols]).alias("_r"),
    )
    u = l_tagged.unionByName(r_tagged)
    temporal = isinstance(u.schema["_ts"].dataType, (TimestampType, TimestampNTZType, DateType))
    u = u.withColumn("_ch", F.date_trunc("day", "_ts") if temporal else F.lit(0))
    matched = chunked_prefix(u, "_k", ["_ts", "_is_left", "_r"], "_r", "last", "_m", chunk="_ch")
    return matched.filter(F.col("_is_left") == 1).select(
        *[F.col(f"_l_{c}").alias(c) for c in lcols],
        *[F.col("_m")[c].alias(f"asof_{c}") for c in value_cols],
    )


@register(
    "join_inner_hash",
    """
    SELECT l.l_orderkey, l.l_linenumber, o.o_orderstatus, o.o_orderpriority, l.l_quantity
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    doc="Fact⋈fact equi-join (deltas⋈orders analog) — sort-merge/shuffled-hash, AQE-managed.",
)
def q_join_inner_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return li.join(orders, li.l_orderkey == orders.o_orderkey, "inner").select(
        "l_orderkey", "l_linenumber", "o_orderstatus", "o_orderpriority", "l_quantity"
    )


@register(
    "join_broadcast",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation, r.r_name AS region
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
    doc="Small-dim star join with explicit broadcast (ticker-list dim analog, ~1000 rows) — zero fact-side shuffle.",
)
def q_join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", "c_name", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )


@register(
    "join_left_right_outer",
    """
    SELECT o.o_orderkey, o.o_totalprice, c.c_name, c.c_acctbal
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_acctbal > 5000
    """,
    doc="Outer join with null-extension (join predicate beyond the key keeps non-matches).",
)
def q_join_left_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cond = (orders.o_custkey == cust.c_custkey) & (cust.c_acctbal > 5000)
    return orders.join(cust, cond, "left").select("o_orderkey", "o_totalprice", "c_name", "c_acctbal")


@register(
    "join_full_outer",
    f"""
    WITH s AS (
      SELECT s_nationkey AS nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey
    ),
    c AS (
      SELECT c_nationkey AS nk, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey
    )
    SELECT COALESCE(s.nk, c.nk) AS nationkey, s.n_suppliers, c.n_customers
    FROM s FULL OUTER JOIN c ON s.nk = c.nk
    """,
    doc="Full outer join of two aggregates (null-extended on both sides).",
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    sup = load_table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    cust = load_table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return sup.join(cust, on="nk", how="full").select(
        F.col("nk").alias("nationkey"), "n_suppliers", "n_customers"
    )


@register(
    "join_semi",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi join: existence filter (markets with ≥1 delta analog).",
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi").select("c_custkey", "c_name")


@register(
    "join_anti",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join: absence filter (snapshots with no later delta analog).",
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_theta_range",
    """
    SELECT e.event_id, e.value, b.band
    FROM events e
    JOIN (
      SELECT * FROM (VALUES (0.0, 25.0, 'low'), (25.0, 50.0, 'mid'),
                            (50.0, 75.0, 'high'), (75.0, 1e9, 'extreme')) AS t(lo, hi, band)
    ) b ON e.value >= b.lo AND e.value < b.hi
    """,
    doc="Non-equi range join (price-band bucketing) — tiny band table broadcasts, so the nested-loop is per-row constant work.",
)
def q_join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [(0.0, 25.0, "low"), (25.0, 50.0, "mid"), (50.0, 75.0, "high"), (75.0, 1e9, "extreme")],
        schema="lo double, hi double, band string",
    )
    cond = (events.value >= bands.lo) & (events.value < bands.hi)
    return events.join(F.broadcast(bands), cond).select("event_id", "value", "band")


@register(
    "join_asof",
    """
    WITH views AS (
      SELECT user_id, ts, MAX(value) AS snap_value
      FROM events WHERE event_type = 'view'
      GROUP BY user_id, ts
    ),
    clicks AS (
      SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT c.event_id, c.user_id, c.ts, c.value,
           v.snap_value AS asof_snap_value
    FROM clicks c
    ASOF LEFT JOIN views v ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
    doc=(
        "AS-OF JOIN: each delta (click) matched to the latest snapshot (view) "
        "with ts ≤ its own, per key — the core of book reconstruction. Spark "
        "has no native as-of; implemented as union + last(ignorenulls) window "
        "(one key shuffle, linear at scale). Oracle: DuckDB native ASOF JOIN."
    ),
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    # Snapshots deduped to one row per (key, ts) so as-of ties are unambiguous.
    views = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("snap_value"))
    )
    clicks = events.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts", "value")
    return asof_join(
        clicks,
        views,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        value_cols=["snap_value"],
    )


@register(
    "join_interval",
    f"""
    WITH spans AS (
      SELECT user_id,
             MIN(ts) AS span_start,
             MIN(ts) + INTERVAL 2 DAY AS span_end
      FROM events GROUP BY user_id
    )
    SELECT e.user_id, COUNT(*) AS n_in_span, {sql_dsum('e.value')} AS value_in_span
    FROM events e
    JOIN spans s ON e.user_id = s.user_id AND e.ts >= s.span_start AND e.ts < s.span_end
    GROUP BY e.user_id
    """,
    doc="Interval join: events falling inside per-key [start, end) windows (equi key + range bounds).",
)
def q_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    spans = events.groupBy("user_id").agg(
        F.min("ts").alias("span_start"),
        (F.min("ts") + F.expr("INTERVAL 2 DAYS")).alias("span_end"),
    )
    e = events.alias("e")
    s = spans.alias("s")
    cond = (
        (F.col("e.user_id") == F.col("s.user_id"))
        & (F.col("e.ts") >= F.col("s.span_start"))
        & (F.col("e.ts") < F.col("s.span_end"))
    )
    return (
        e.join(s, cond)
        .groupBy(F.col("e.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_in_span"), dsum(F.col("e.value")).alias("value_in_span"))
    )
