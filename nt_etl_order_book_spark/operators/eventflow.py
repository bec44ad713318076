"""Event-flow analytics: funnels, cohort retention, robust anomaly scan.

The product-analytics trio every events warehouse serves. All three are
pure hash-aggregate / broadcast plans — no windows, no per-key ordered
passes — so they scale as "one or two shuffles of keys strictly
narrower than the input rows":

- `funnel_conversion` — conditional MIN per user (one shuffle of
  (user, 3 timestamps) partial states), then a single global combine.
- `retention_cohorts` — distinct (user, week) grid, cohort = MIN week
  per user; both aggregates and the self-join share the user_id
  hash partitioning, so AQE plans one exchange for the fan-in.
- `anomaly_zscore` — exact median/MAD need two ordered passes by
  definition; each pass reduces to a 5-row stats table that BROADCASTS
  back, so the three scans are narrow and join-shuffle-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.operators.aggregates import dsum, sql_dsum
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table

# Funnel step definitions: strictly-ordered first-touch timestamps.
FUNNEL_STEPS = ("view", "click", "purchase")


@register(
    "funnel_conversion",
    """
    WITH u AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t2,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t3
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           COUNT(t1) AS n_step1,
           CAST(SUM(CASE WHEN t2 > t1 THEN 1 ELSE 0 END) AS BIGINT) AS n_step2,
           CAST(SUM(CASE WHEN t2 > t1 AND t3 > t2 THEN 1 ELSE 0 END) AS BIGINT) AS n_step3
    FROM u
    """,
    doc=(
        "Strict-order conversion funnel view -> click -> purchase: a "
        "user advances to a step only if its FIRST occurrence is after "
        "the first occurrence of the previous step (first-touch "
        "attribution). One conditional-MIN hash aggregate per user — "
        "map-side combine ships 3 partial timestamps per (user, "
        "partition) — then a 1-row global fold. No window, no join, no "
        "second scan: the shape survives any event volume because the "
        "shuffle carries users, not events. NULL-safe by construction: "
        "a missing step keeps t_k NULL and every comparison against it "
        "is false in both engines."
    ),
)
def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    t1, t2, t3 = (
        F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t{i+1}")
        for i, s in enumerate(FUNNEL_STEPS)
    )
    u = ev.groupBy("user_id").agg(t1, t2, t3)
    step2 = F.col("t2") > F.col("t1")
    step3 = step2 & (F.col("t3") > F.col("t2"))
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t1").alias("n_step1"),
        F.sum(F.when(step2, 1).otherwise(0)).alias("n_step2"),
        F.sum(F.when(step3, 1).otherwise(0)).alias("n_step3"),
    )


@register(
    "retention_cohorts",
    """
    WITH wk AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    cohort AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM wk GROUP BY user_id
    )
    SELECT CAST(c.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(date_diff('day', c.cohort_week, w.wk) // 7 AS BIGINT) AS week_index,
           COUNT(*) AS n_users
    FROM wk w JOIN cohort c ON w.user_id = c.user_id
    GROUP BY c.cohort_week, week_index
    """,
    doc=(
        "Weekly cohort retention matrix: cohort = ISO week of a user's "
        "first event, cell (cohort, k) = users from that cohort active "
        "k weeks later. The distinct (user, week) grid is the ONLY "
        "event-volume-sized shuffle; the cohort MIN, the self-join, and "
        "the final count all hash on user_id over that already-reduced "
        "grid (users x active-weeks rows), so AQE reuses the "
        "partitioning instead of re-exchanging. week_index is an exact "
        "integer day-difference / 7 — both engines truncate Monday-"
        "anchored weeks, so the division is always whole."
    ),
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    cohort = wk.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    joined = wk.join(cohort, "user_id")
    week_index = (
        F.datediff(F.to_date("wk"), F.to_date("cohort_week")) / F.lit(7)
    ).cast("bigint")
    return (
        joined.select("cohort_week", week_index.alias("week_index"))
        .groupBy("cohort_week", "week_index")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# Scale constant for a normal-consistent robust sigma from the MAD.
MAD_SIGMA = 1.4826


@register(
    "anomaly_zscore",
    f"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, median(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n,
           ROUND(m.med, 6) AS med,
           ROUND(d.mad, 6) AS mad,
           CAST(SUM(CASE WHEN ABS(e.value - m.med) / nullif({MAD_SIGMA} * d.mad, 0.0) > 3.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(MAX(ABS(e.value - m.med) / nullif({MAD_SIGMA} * d.mad, 0.0)), 6) AS max_abs_z
    FROM events e
    JOIN med m ON e.event_type = m.event_type
    JOIN mad d ON e.event_type = d.event_type
    GROUP BY e.event_type, m.med, d.mad
    """,
    doc=(
        "Robust anomaly scan per message type: median/MAD z-scores "
        "(z = |x - med| / (1.4826 * MAD)), count of |z| > 3 and the "
        "worst offender. Median-based, so the detector itself is not "
        "poisoned by the outliers it hunts — the standard telemetry "
        "guard on a feed's value channel. Exact medians force two "
        "ordered passes (median of deviations needs the median first); "
        "each pass collapses to a |event_type|-row stats table that "
        "broadcasts back onto the scan, so the plan is three narrow "
        "scans + two broadcast joins, zero fact-side shuffles beyond "
        "the percentile aggregations of (type, value) pairs. At 100 TB "
        "swap exact median for percentile_approx and it becomes two "
        "scans; the exact form is what the oracle hash-checks."
    ),
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.aggregates import (
        grouped_exact_percentile_boundaries,
    )

    from nt_etl_order_book_spark.session import checkpoint_frame

    ev = load_table(spark, sf_dir, "events")
    # both medians via the sort-based grouped exact percentile (see
    # aggregates.grouped_exact_percentile_boundaries), not the builtin
    # whose per-group counts-map merges in one reducer.
    # Both stats frames are |event_type| rows — checkpoint them (r15
    # optimization round) so each consumer reads the materialized rows
    # instead of re-planning the whole grouped-percentile subtree (med
    # feeds the deviation pass AND the z-score join; the before-plan
    # carried 8 event scans, the documented shape is 3).
    med = checkpoint_frame(
        grouped_exact_percentile_boundaries(ev, ["event_type"], "value", [0.5]).select(
            "event_type", F.col("q1").alias("med")
        ),
        eager=False,
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = checkpoint_frame(
        grouped_exact_percentile_boundaries(dev, ["event_type"], "adev", [0.5]).select(
            "event_type", F.col("q1").alias("mad")
        ),
        eager=False,
    )
    z = (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        # nullif: a constant-valued type has MAD 0 — Spark's ANSI-mode
        # double division THROWS on /0 where DuckDB yields NULL, so a
        # degenerate distribution would crash the query, not just skew
        # it. NULL z folds to 0 outliers / NULL max in both engines.
        .withColumn(
            "absz",
            F.abs(F.col("value") - F.col("med"))
            / F.nullif(F.lit(MAD_SIGMA) * F.col("mad"), F.lit(0.0)),
        )
    )
    return z.groupBy("event_type", "med", "mad").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("absz") > 3.0, 1).otherwise(0)).alias("n_outliers"),
        F.round(F.max("absz"), 6).alias("max_abs_z"),
    ).select(
        "event_type",
        "n",
        F.round("med", 6).alias("med"),
        F.round("mad", 6).alias("mad"),
        "n_outliers",
        "max_abs_z",
    )


# Fixed-bound value binning for the heatmap: 10 buckets of width 50
# covering the feed's [0, 500) value envelope; the last bucket absorbs
# the tail. Fixed bounds (not quantiles) keep the cell ids stable
# across batches — the property a monitoring heatmap needs.
HEAT_BUCKET_W = 50.0
HEAT_N_BUCKETS = 10


@register(
    "event_heatmap",
    f"""
    SELECT CAST(EXTRACT(hour FROM ts) AS INT) AS hour_of_day,
           CAST(LEAST(FLOOR(value / {HEAT_BUCKET_W}), {HEAT_N_BUCKETS - 1}) AS INT) AS vbucket,
           COUNT(*) AS n,
           {{dsum}} AS sum_value
    FROM events
    GROUP BY hour_of_day, vbucket
    """.format(dsum=sql_dsum("value")),
    doc=(
        "2-D activity heatmap: hour-of-day x fixed-width value bucket, "
        "cell = event count + decimal-exact value mass. The canonical "
        "ops-dashboard pre-aggregation: ONE hash aggregate whose output "
        "is bounded at 24 x 10 cells regardless of input volume, so "
        "map-side combine reduces any 100 TB scan to 240 partial states "
        "per partition before the (tiny) shuffle. Bucketing is a "
        "portable floor-divide (LEAST caps the tail bucket) — no "
        "width_bucket builtin dependence, identical in both engines."
    ),
)
def q_event_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vbucket = F.least(
        F.floor(F.col("value") / HEAT_BUCKET_W), F.lit(HEAT_N_BUCKETS - 1)
    ).cast("int")
    return ev.groupBy(
        F.hour("ts").cast("int").alias("hour_of_day"),
        vbucket.alias("vbucket"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("value").alias("sum_value"),
    )


@register(
    "benford_audit",
    """
    WITH cents AS (
      SELECT event_type,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0
    ),
    digits AS (
      SELECT event_type,
             CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents
    ),
    counts AS (
      SELECT event_type, digit, COUNT(*) AS n_d FROM digits GROUP BY event_type, digit
    ),
    totals AS (
      SELECT event_type, CAST(SUM(n_d) AS BIGINT) AS n FROM counts GROUP BY event_type
    )
    SELECT c.event_type, c.digit, c.n_d,
           ROUND(CAST(c.n_d AS DOUBLE) / t.n, 6) AS frac,
           ROUND(LN(1.0 + CAST(1.0 AS DOUBLE) / c.digit) / LN(10.0), 6) AS benford
    FROM counts c JOIN totals t ON c.event_type = t.event_type
    """,
    doc=(
        "Benford first-digit audit per message type: observed "
        "first-significant-digit frequency of the price channel beside "
        "the Benford expectation log10(1 + 1/d) — the classic "
        "fabricated-data / unit-mixup tripwire for a feed (a price "
        "channel that suddenly violates its digit profile usually "
        "changed units or source). Digit extraction is EXACT, not "
        "log-based: prices are cent-precision, so floor(v*100 + 0.5) "
        "recovers the integer cents bit-identically in both engines "
        "and the leading digit comes from the integer's decimal "
        "string — no floor(log10(v)) boundary hazard (log10 of an "
        "exact power of ten is not exactly representable, and a 1-ulp "
        "disagreement there would flip the digit). One hash aggregate "
        "over (type, digit) — at most types x 9 output rows, map-side "
        "combine absorbs any volume."
    ),
)
def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    counts = ev.select("event_type", digit.alias("digit")).groupBy(
        "event_type", "digit"
    ).agg(F.count(F.lit(1)).alias("n_d"))
    totals = counts.groupBy("event_type").agg(F.sum("n_d").alias("n"))
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit")) / F.log(F.lit(10.0))
    return (
        counts.join(F.broadcast(totals), "event_type")
        .select(
            "event_type",
            "digit",
            "n_d",
            F.round(F.col("n_d").cast("double") / F.col("n"), 6).alias("frac"),
            F.round(benford, 6).alias("benford"),
        )
    )


@register(
    "markov_transitions",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ),
    trans AS (
      SELECT prev_type AS from_type, event_type AS to_type, COUNT(*) AS n
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY prev_type, event_type
    )
    SELECT from_type, to_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT), 6) AS p
    FROM trans
    """,
    doc=(
        "First-order Markov transition matrix over per-user event "
        "sequences: P(next event type | current), the standard "
        "user-journey model (and a drift tripwire when compared across "
        "deploys). One per-user ordered lag pass — the only "
        "volume-sized shuffle, keyed by user — collapses immediately "
        "to the |types|^2-bounded transition counts (25 cells here); "
        "the row-normalizing window then runs over that tiny frame. "
        "Counts are exact BIGINT; probability is one double division "
        "rounded 6 dp (DuckDB's windowed SUM(BIGINT) returns HUGEINT "
        "— cast back, the dollar_bars lesson). Each user's first "
        "event has no predecessor and is excluded in both engines."
    ),
)
def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from nt_etl_order_book_spark.operators.timeseries import chunked_shift

    ev = load_table(spark, sf_dir, "events")
    # the r6 verdict's 4.0×-at-10× lag sort: now day-chunked via
    # chunked_shift, so a hot market's sequence fans across its days
    base = ev.select(
        "user_id", "ts", "event_id", "event_type",
        F.date_trunc("day", "ts").alias("chunk"),
    )
    seq = (
        chunked_shift(base, "user_id", ["ts", "event_id"], "event_type", lag="prev_type")
        .select("event_type", "prev_type")
        .filter(F.col("prev_type").isNotNull())
    )
    trans = seq.groupBy(
        F.col("prev_type").alias("from_type"), F.col("event_type").alias("to_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    wrow = Window.partitionBy("from_type")
    return trans.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(wrow), 6).alias("p"),
    )


@register(
    "attribution_last_touch",
    """
    WITH carried AS (
      SELECT user_id, event_type, value, ts, event_id,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
      FROM events
    )
    SELECT COALESCE(touch, 'none') AS channel,
           COUNT(*) AS n_conversions,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE), 6)
             AS attributed_value
    FROM carried WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    doc=(
        "Last-touch attribution: each purchase credits the user's most "
        "recent preceding NON-purchase event (the 'channel'), the "
        "default model of every marketing-analytics warehouse. One "
        "per-user ordered pass — the running last-non-purchase type "
        "carried with a 1-PRECEDING frame so a purchase can never "
        "attribute to itself or to a later event, and consecutive "
        "purchases both credit the same prior touch (standard "
        "semantics). Purchases with no prior touch land in 'none'. "
        "The window input is the full tape but the output collapses "
        "to |types| rows; attributed value accumulates as DECIMAL."
    ),
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.timeseries import chunked_prefix

    ev = load_table(spark, sf_dir, "events")
    # Day-chunked last non-purchase type over the strictly-before frame
    # (chunked_prefix "last", strict): the same row the whole-history
    # 1-PRECEDING carry picks.
    base = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.date_trunc("day", "ts").alias("chunk"),
        F.when(F.col("event_type") != "purchase", F.col("event_type")).alias("_t"),
    )
    carried = chunked_prefix(
        base, "user_id", ["ts", "event_id"], "_t", "last", "touch", strict=True
    ).select("event_type", "value", "touch")
    return (
        carried.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("touch"), F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.round(F.sum(F.col("value").cast("decimal(30,6)")).cast("double"), 6).alias(
                "attributed_value"
            ),
        )
    )


@register(
    "scd2_intervals",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events WHERE event_type = 'signup'
    ),
    changes AS (
      SELECT user_id, ts, event_id, value
      FROM marked WHERE prev IS NULL OR value <> prev
    )
    SELECT user_id, value,
           ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
           CASE WHEN LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     IS NULL THEN 1 ELSE 0 END AS is_current
    FROM changes
    """,
    doc=(
        "SCD Type-2 history build from a change stream: compress the "
        "per-entity attribute stream to its change points and emit "
        "[valid_from, valid_to) validity intervals with an is_current "
        "flag — the dimension-table temporal pattern every warehouse "
        "maintains. Two stacked windows "
        "over the SAME (entity, ts, id) order — Spark plans one "
        "exchange and one sort: lag marks change points (first row "
        "kept via prev IS NULL; consecutive duplicates collapse), "
        "lead closes each interval with the next change's timestamp; "
        "the open interval carries NULL valid_to. The unique event_id "
        "tiebreak makes both windows deterministic under equal "
        "timestamps."
    ),
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Both ordered passes day-chunked in a SINGLE fork — a hot entity's
    # change history never sorts in one task; the whole-history oracle
    # proves equivalence. One chunk-grain frame (from the sorted per-day
    # (ts, id, value) array) carries BOTH cross-midnight facts:
    #   - prior_last_v: previous day's closing value, so each day's
    #     first row decides change-point status locally, and
    #   - next_change_ts: the ts of the first change point in any LATER
    #     day, closing each day's final interval. A day's first-change
    #     ts is itself chunk-grain arithmetic: row 0 is a change iff its
    #     value differs from prior_last_v (or nothing precedes it), else
    #     the first within-day adjacent difference wins.
    # The row pass then runs lag -> filter changes -> lead over ONE
    # (entity, day) exchange+sort (the filter preserves ordering, so the
    # lead window re-sorts nothing).
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "signup")
    base = ev.select(
        "user_id", "ts", "event_id", "value", F.date_trunc("day", "ts").alias("chunk")
    )
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    day = base.groupBy("user_id", "chunk").agg(arr.alias("arr"))
    n1 = F.greatest(F.size("arr") - 1, F.lit(0))
    # A row is a change point iff prev IS NULL OR value <> prev (the
    # global filter) — the prev-IS-NULL arm matters INSIDE a chunk too:
    # a row following a NULL-valued row is always a change, even though
    # NULL != x evaluates to NULL. The fixture has no NULL values, so
    # only the constructed test (not the oracle hash) can catch this.
    in_chg_ts = F.array_compact(
        F.zip_with(
            F.slice(F.col("arr"), 2, n1),
            F.slice(F.col("arr"), 1, n1),
            lambda a, b: F.when(
                b["value"].isNull() | (a["value"] != b["value"]), a["ts"]
            ),
        )
    )
    day = day.select(
        "user_id",
        "chunk",
        F.element_at("arr", 1)["ts"].alias("first_ts"),
        F.element_at("arr", 1)["value"].alias("first_v"),
        F.element_at("arr", -1)["value"].alias("last_v"),
        F.get(in_chg_ts, 0).alias("in_first_chg_ts"),
    )
    wch = Window.partitionBy("user_id").orderBy("chunk")
    day2 = day.select(
        "user_id",
        "chunk",
        F.lag("last_v").over(wch).alias("prior_last_v"),
        "first_ts",
        "first_v",
        "in_first_chg_ts",
    ).withColumn(
        "first_chg_ts",
        F.when(
            F.col("prior_last_v").isNull() | (F.col("first_v") != F.col("prior_last_v")),
            F.col("first_ts"),
        ).otherwise(F.col("in_first_chg_ts")),
    )
    wnext = wch.rowsBetween(1, Window.unboundedFollowing)
    chunk_frame = day2.select(
        "user_id",
        "chunk",
        "prior_last_v",
        F.first("first_chg_ts", ignorenulls=True).over(wnext).alias("next_change_ts"),
    )
    wloc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    rows = base.join(chunk_frame, ["user_id", "chunk"]).select(
        "user_id",
        "ts",
        "event_id",
        "chunk",
        "value",
        "next_change_ts",
        F.row_number().over(wloc).alias("rn"),
        F.lag("value").over(wloc).alias("l1"),
        "prior_last_v",
    )
    prev = F.when(F.col("rn") == 1, F.col("prior_last_v")).otherwise(F.col("l1"))
    changes = rows.withColumn("prev", prev).filter(
        F.col("prev").isNull() | (F.col("value") != F.col("prev"))
    )
    nxt = F.coalesce(F.lead("ts").over(wloc), F.col("next_change_ts"))
    return changes.select(
        "user_id",
        "value",
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
    )
