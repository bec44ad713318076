"""Time-series / market-analytics operators over the events stream.

The reference pipeline lands order-book ticks into Postgres for exactly
this kind of downstream consumption (reference: postgres_client.py
write path); these are the canonical downsampling and risk statistics a
market data store serves, re-expressed as Spark plans over the `events`
fixture (user_id ~ market, value ~ price).

Scale discipline shared by the family:

- Path-dependent statistics (returns, running peaks, inter-arrival
  gaps) need a per-key ordered pass — one window shuffle. Every window
  here is keyed as finely as the semantics allow (``(user, day)`` for
  intraday returns, ``(user, event_type)`` for gaps) so a single task
  never serializes more than one key-slice. Whole-history prefix scans
  (running peaks and sums, last-touch carries) and lags that cross
  midnight are day-chunked: `chunked_prefix` and `chunked_shift` are
  the one definition of that decomposition.
- Aggregation after the window re-shuffles strictly narrower keys
  (grouping columns + one double), never rows.
- Double sums accumulate in exact DECIMAL (registry discipline) so
  results are partition-order independent and oracle-hashable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.operators.aggregates import DEC, sql_dsum
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.tables import load_table

# Rank-chunk width for rolling_features' ghost-row decomposition (must
# exceed the deepest lookback, 19 rows); tests shrink it to force
# multi-chunk keys on constructed frames.
ROLLING_CHUNK = 4096


def chunked_prefix(
    df: DataFrame,
    keys: str | list[str],
    order_cols: list[str],
    col: str,
    op: str,
    out: str,
    *,
    strict: bool = False,
    chunk: str = "chunk",
) -> DataFrame:
    """Running ``op`` of `col` per key in `order_cols` order — ``"sum"``,
    ``"max"`` or ``"last"`` (last non-null) over the frame ending at the
    current row, or at the previous row when `strict` — WITHOUT a
    whole-history window. Result = input columns + `out`.

    The day-chunked carry-in decomposition: (1) the local running op
    within (keys, chunk) shards, so a hot key's history fans across its
    chunks instead of sorting in one task; (2) one aggregate per
    (keys, chunk) — for ``"last"`` the chunk's last non-null value,
    ``max_by(col, when(col IS NOT NULL, struct(order_cols)))``, so a
    chunk without one still gets a carry row — and the op over PRIOR
    chunks, the only unsharded window, over |keys|×|chunks| rows;
    (3) joined back on (keys, chunk) and combined: carry + local for
    sum (each NULL read as 0 unless both are), greatest(local, carry)
    for max, coalesce(local, carry) for last. Decimal and integer sums
    are associative, max is exact and last picks an existing row, so
    `out` is bit-identical to the whole-history window the oracles
    run. `chunk` must be monotone in `order_cols` (a day of the ts, a
    block of the id).
    """
    runs = {"sum": F.sum, "max": F.max, "last": lambda c: F.last(c, ignorenulls=True)}
    if op not in runs:
        raise ValueError(f"chunked_prefix: op must be sum, max or last, not {op!r}")
    run = runs[op]
    keys = [keys] if isinstance(keys, str) else list(keys)
    wloc = (
        Window.partitionBy(*keys, chunk)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1 if strict else Window.currentRow)
    )
    per_chunk = (
        F.max_by(col, F.when(F.col(col).isNotNull(), F.struct(*order_cols)))
        if op == "last"
        else run(col)
    )
    wcarry = Window.partitionBy(*keys).orderBy(chunk).rowsBetween(Window.unboundedPreceding, -1)
    chunks = df.groupBy(*keys, chunk).agg(per_chunk.alias("_cp_chunk"))
    chunks = chunks.select(*keys, chunk, run("_cp_chunk").over(wcarry).alias("_cp_carry"))
    # The local window runs before the join. Joined first, cusum_drift
    # planned one more exchange: its per-user aggregate could no longer
    # reuse the user-partitioned carry side.
    rows = df.withColumn("_cp_local", run(col).over(wloc)).join(chunks, [*keys, chunk])
    local, carried = F.col("_cp_local"), F.col("_cp_carry")
    if op == "sum":
        # NULL while every value so far is NULL, as the global SUM is.
        zero = F.lit(0)
        combined = F.when(local.isNull() & carried.isNull(), None).otherwise(
            F.coalesce(carried, zero) + F.coalesce(local, zero)
        )
    elif op == "max":
        combined = F.greatest(local, carried)
    else:
        combined = F.coalesce(local, carried)
    return rows.withColumn(out, combined).drop("_cp_local", "_cp_carry")


def chunked_shift(
    df: DataFrame,
    keys: str | list[str],
    order_cols: list[str],
    col: str,
    *,
    lag: str | None = None,
    lead: str | None = None,
) -> DataFrame:
    """``lag(col)`` into column `lag` and/or ``lead(col)`` into column
    `lead`, over (partitionBy keys orderBy order_cols), WITHOUT a
    whole-history window: local lag/lead within (keys, chunk) shards,
    and one chunk-grain frame carrying the previous chunk's last value
    and the next chunk's first value (``max_by`` / ``min_by`` on the
    order struct, which keep a NULL value of the picked row). A chunk's
    first row takes the carried last, its final row the carried first;
    a key's first (last) row gets NULL — exactly the global lag (lead).
    The value is the same one the global window picks, so consumers
    stay bit-identical to their whole-history oracles. The boundary
    twin of `chunked_prefix`; see it for the decomposition and the
    `chunk` contract, read here from the ``chunk`` column. Result = input
    columns + the requested outputs.
    """
    if lag is None and lead is None:
        raise ValueError("chunked_shift: pass lag= and/or lead=")
    keys = [keys] if isinstance(keys, str) else list(keys)
    okey = F.struct(*order_cols)
    wch = Window.partitionBy(*keys).orderBy("chunk")
    aggs, carries = [], []
    if lag is not None:
        aggs.append(F.max_by(col, okey).alias("_chl_last"))
        carries.append(F.lag("_chl_last").over(wch).alias("_chl_prev"))
    if lead is not None:
        aggs.append(F.min_by(col, okey).alias("_chl_first"))
        carries.append(F.lead("_chl_first").over(wch).alias("_chl_next"))
    chunks = df.groupBy(*keys, "chunk").agg(*aggs).select(*keys, "chunk", *carries)
    wloc = Window.partitionBy(*keys, "chunk").orderBy(*order_cols)
    rows = df.join(chunks, [*keys, "chunk"])
    if lag is not None:
        rows = rows.withColumn("_chl_rn", F.row_number().over(wloc)).withColumn(
            lag,
            F.when(F.col("_chl_rn") == 1, F.col("_chl_prev")).otherwise(F.lag(col).over(wloc)),
        )
    if lead is not None:
        wrev = Window.partitionBy(*keys, "chunk").orderBy(*[F.desc(c) for c in order_cols])
        rows = rows.withColumn("_chl_rrn", F.row_number().over(wrev)).withColumn(
            lead,
            F.when(F.col("_chl_rrn") == 1, F.col("_chl_next")).otherwise(F.lead(col).over(wloc)),
        )
    return rows.drop("_chl_prev", "_chl_rn", "_chl_next", "_chl_rrn")


def chunked_tick_rule(base: DataFrame, price, *, vol_offsets: bool = False) -> DataFrame:
    """Row-grain tick-rule columns WITHOUT a whole-history window.

    Input `base` must carry user_id, ts, event_id, value, chunk
    (+ vol when vol_offsets). `price` maps a raw print value Column to
    the price the rule classifies on (identity for order-flow /
    volume-clock ops, integer cents for kyle_lambda — the sign of a
    sub-cent move differs between the two, so the mapping must be the
    op's own). Returns base's columns plus:

    - ``d``   — price(value) − price(previous print), crossing
      midnight via the chunk-grain prior-close carry (NULL on a key's
      first print, exactly the global lag);
    - ``sgn`` — running last REAL sign: coalesce(local last-ignore-
      nulls within (key, day), carry over prior days) where the
      day-grain carry uses the per-day recurrence eff = (last nonzero
      within-day diff) else (boundary-diff sign vs the prior close) —
      a day with neither stays NULL and last-ignore-nulls skips it;
    - ``carry_vol`` (vol_offsets only) — sum of vol over PRIOR days'
      vol>0 prints: the day-grain offset of the dollar_bars prefix-sum
      pattern, so a volume clock adds only a LOCAL cumsum.

    This is order_flow_imbalance's measured single-fork decomposition
    (PERF.md round 7) extracted so kyle_lambda and vpin stop sorting a
    market's whole history in one task: the day pass groups one sorted
    array per (key, day) — bounded by a market-day, the bound the
    (key, day) window task already assumes — and the row pass patches
    rows from the chunk-grain frame. Values are the SAME comparisons
    and subtractions the global window performs, so consumers stay
    bit-identical to their whole-history oracles.
    """
    arr = F.sort_array(F.collect_list(F.struct("ts", "event_id", "value")))
    aggs = [arr.alias("arr")]
    if vol_offsets:
        aggs.append(
            F.sum(F.when(F.col("vol") > 0, F.col("vol")).otherwise(F.lit(0))).alias("_ctr_dayvol")
        )
    day = base.groupBy("user_id", "chunk").agg(*aggs)
    n1 = F.greatest(F.size("arr") - 1, F.lit(0))
    diffs = F.zip_with(
        F.slice(F.col("arr"), 2, n1),
        F.slice(F.col("arr"), 1, n1),
        lambda a, b: price(a["value"]) - price(b["value"]),
    )
    nz = F.filter(diffs, lambda d: d != 0)
    day = day.select(
        "user_id",
        "chunk",
        *(["_ctr_dayvol"] if vol_offsets else []),
        price(F.element_at("arr", 1)["value"]).alias("_ctr_first_p"),
        price(F.element_at("arr", -1)["value"]).alias("_ctr_last_p"),
        F.when(F.get(nz, F.size(nz) - 1) > 0, 1)
        .when(F.get(nz, F.size(nz) - 1) < 0, -1)
        .alias("_ctr_in_sign"),
    )
    wch = Window.partitionBy("user_id").orderBy("chunk")
    day2 = day.select(
        "user_id",
        "chunk",
        "_ctr_first_p",
        "_ctr_in_sign",
        *(["_ctr_dayvol"] if vol_offsets else []),
        F.lag("_ctr_last_p").over(wch).alias("_ctr_prior_p"),
    )
    bdiff = F.col("_ctr_first_p") - F.col("_ctr_prior_p")
    day2 = day2.withColumn(
        "_ctr_eff",
        F.coalesce(F.col("_ctr_in_sign"), F.when(bdiff > 0, 1).when(bdiff < 0, -1)),
    )
    wcarry = wch.rowsBetween(Window.unboundedPreceding, -1)
    carry_cols = [
        F.col("user_id"),
        F.col("chunk"),
        F.col("_ctr_prior_p"),
        F.last("_ctr_eff", ignorenulls=True).over(wcarry).alias("_ctr_carry_sign"),
    ]
    if vol_offsets:
        carry_cols.append(
            F.coalesce(F.sum("_ctr_dayvol").over(wcarry), F.lit(0)).alias("carry_vol")
        )
    chunk_frame = day2.select(*carry_cols)
    wloc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    wrun = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    p = price(F.col("value"))
    rows = (
        base.join(chunk_frame, ["user_id", "chunk"])
        .withColumn("_ctr_rn", F.row_number().over(wloc))
        .withColumn("_ctr_l1", F.lag(p).over(wloc))
    )
    prev_p = F.when(F.col("_ctr_rn") == 1, F.col("_ctr_prior_p")).otherwise(F.col("_ctr_l1"))
    d = p - prev_p
    raw = F.when(d > 0, 1).when(d < 0, -1)
    return (
        rows.withColumn("_ctr_raw", raw)
        .withColumn("d", d)
        .withColumn(
            "sgn",
            F.coalesce(
                F.last("_ctr_raw", ignorenulls=True).over(wrun), F.col("_ctr_carry_sign")
            ),
        )
        .drop("_ctr_rn", "_ctr_l1", "_ctr_raw", "_ctr_prior_p", "_ctr_carry_sign")
    )


@register(
    "realized_volatility",
    """
    WITH r AS (
      SELECT user_id,
             CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             LN(value / LAG(value) OVER (
                PARTITION BY user_id, date_trunc('day', ts)
                ORDER BY ts, event_id)) AS r
      FROM events WHERE value > 0
    )
    SELECT user_id, day,
           ROUND(CAST(SUM(CAST(r * r AS DECIMAL(38,18))) AS DOUBLE), 6) AS rv,
           COUNT(r) AS n_ret
    FROM r GROUP BY user_id, day
    """,
    doc=(
        "Daily realized variance per market: sum of squared intraday "
        "log returns, the canonical high-frequency volatility estimator "
        "(Andersen-Bollerslev RV). Returns are computed WITHIN a "
        "(user, day) window — day-boundary returns are excluded by "
        "definition, which also bounds the window task: one task never "
        "sorts more than one market-day of ticks, so a hot market "
        "cannot skew the stage at 100 TB. Order inside the window is "
        "(ts, event_id) — unique, so LAG is deterministic. The r^2 "
        "terms accumulate as DECIMAL(38,18); a day with a single tick "
        "yields NULL rv / 0 returns in both engines (SUM of empty)."
    ),
)
def q_realized_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    r = F.log(F.col("value") / F.lag("value").over(w))
    ret = ev.select("user_id", day.alias("day"), r.alias("r"))
    return ret.groupBy("user_id", "day").agg(
        F.round(F.sum((F.col("r") * F.col("r")).cast("decimal(38,18)")).cast("double"), 6).alias("rv"),
        F.count("r").alias("n_ret"),
    )


@register(
    "max_drawdown",
    """
    WITH dd AS (
      SELECT user_id,
             (MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - value)
             / MAX(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS dd
      FROM events WHERE value > 0
    )
    SELECT user_id, ROUND(MAX(dd), 6) AS max_drawdown, COUNT(*) AS n_events
    FROM dd GROUP BY user_id
    """,
    doc=(
        "Maximum drawdown per market: running peak over the (ts, "
        "event_id)-ordered price path, drawdown = (peak - value)/peak, "
        "report the worst. The oracle is the single whole-history "
        "window; the engine runs the day-chunked carry-in decomposition "
        "(chunked_prefix) "
        "so no task ever sees a key's full history: (1) local running "
        "peak within (market, day) shards — the hot market's history "
        "fans across its days, exactly realized_volatility's sharding; "
        "(2) per-(market, day) maxima collapse to a day-grain frame "
        "(|markets|×|days| rows) where a keyed cumulative-max window "
        "computes each day's carry-in peak from all PRIOR days; "
        "(3) joined back on (market, day) — co-partitioned with the "
        "phase-1 exchange — the true prefix peak is "
        "greatest(carry_in, local_peak). MAX of doubles is exact and "
        "associative, so the decomposition is bit-identical to the "
        "single window and the oracle hash is the equivalence proof."
    ),
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    base = ev.select(
        "user_id", "ts", "event_id", "value", F.date_trunc("day", "ts").alias("chunk")
    )
    peak = F.col("peak")
    dd = (peak - F.col("value")) / peak
    return (
        chunked_prefix(base, "user_id", ["ts", "event_id"], "value", "max", "peak")
        .select("user_id", dd.alias("dd"))
        .groupBy("user_id")
        .agg(F.round(F.max("dd"), 6).alias("max_drawdown"), F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "interarrival_stats",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id, event_type ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           COUNT(gap_us) AS n_gaps,
           quantile_cont(gap_us, 0.5) AS p50_us,
           quantile_cont(gap_us, 0.9) AS p90_us,
           quantile_cont(gap_us, 0.99) AS p99_us,
           MAX(gap_us) AS max_us
    FROM g GROUP BY event_type
    """,
    doc=(
        "Inter-arrival-time profile per message type: microsecond gaps "
        "between consecutive events of the same type within a market's "
        "stream, summarized as exact interpolated percentiles. The "
        "staleness/liveness monitor for a feed — the batch twin of the "
        "reference's sequence-gap alerting (kalshi_ws_client seq "
        "tracking): seq_gap_check finds DROPPED messages, this measures "
        "DELAY between the ones that arrived. Window key is (user, "
        "event_type) — finer than the output grain, so the ordered pass "
        "shards across markets; only (event_type, gap) pairs reach the "
        "percentile sort. Exact percentiles are what the oracle can "
        "hash; at 100 TB swap in percentile_approx and accept the "
        "sketch bound (the length_profile_by_source trade-off)."
    ),
)
def q_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.aggregates import (
        grouped_exact_percentile_boundaries,
    )

    ev = load_table(spark, sf_dir, "events")
    # sort-based grouped exact percentiles; n_gaps and max_us come from
    # the same (type, gap, count) table — one gap pass feeds everything.
    return grouped_exact_percentile_boundaries(
        _interarrival_gaps(ev), ["event_type"], "gap_us", [0.5, 0.9, 0.99]
    ).select(
        "event_type",
        F.col("n_vals").alias("n_gaps"),
        F.col("q1").alias("p50_us"),
        F.col("q2").alias("p90_us"),
        F.col("q3").alias("p99_us"),
        F.col("max_val").alias("max_us"),
    )


def _interarrival_gaps(ev: DataFrame) -> DataFrame:
    """(event_type, gap_us) pairs: microsecond gaps between consecutive
    events of the same type within a user's stream — shared by the exact
    and approx percentile variants."""
    # day-chunked lag on the (market, type) composite key: a hot
    # market-type stream fans across its days; integer-microsecond
    # subtraction is exact, so gaps equal the whole-history form
    # bit-for-bit (gaps legitimately span midnight — the carry
    # supplies the previous day's last timestamp).
    base = ev.select(
        "event_type",
        "user_id",
        "ts",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    lagged = chunked_shift(
        base, ["user_id", "event_type"], ["ts", "event_id"], "tus", lag="prev_tus"
    )
    return lagged.select(
        "event_type", (F.col("tus") - F.col("prev_tus")).alias("gap_us")
    )


# GK sketch accuracy for interarrival_stats_approx (rank error ≤ n/acc).
GAP_SKETCH_ACCURACY = 10_000


@register(
    "interarrival_stats_approx",
    None,  # GK sketch state merges in task-completion order → rows-only;
    # rank-error bound asserted in tests/test_timeseries_eventflow.py on
    # a uniform constructed gap distribution.
    doc=(
        "The 100 TB form of interarrival_stats, as runnable code: the "
        "same (user, event_type)-sharded gap computation, but p50/p90/"
        "p99 from one-pass mergeable GK sketches (approx_percentile, "
        f"accuracy {GAP_SKETCH_ACCURACY} → each reported gap sits "
        f"within n/{GAP_SKETCH_ACCURACY} ranks of the true percentile) "
        "instead of the exact per-group percentile sort — bounded "
        "partial state regardless of gap cardinality."
    ),
)
def q_interarrival_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return interarrival_stats_approx_frame(load_table(spark, sf_dir, "events"))


def interarrival_stats_approx_frame(ev: DataFrame) -> DataFrame:
    """Sketch-percentile gap summary over any events-shaped frame —
    split out so the rank-error bound test can drive it on a
    constructed uniform gap distribution."""
    pcts = F.approx_percentile(
        "gap_us",
        F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(GAP_SKETCH_ACCURACY),
    )
    return (
        _interarrival_gaps(ev)
        .groupBy("event_type")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            pcts.alias("_p"),
            F.max("gap_us").alias("max_us"),
        )
        .select(
            "event_type",
            "n_gaps",
            F.col("_p")[0].alias("p50_us"),
            F.col("_p")[1].alias("p90_us"),
            F.col("_p")[2].alias("p99_us"),
            "max_us",
        )
    )


@register(
    "hypertable_rollup",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           {sql_dsum('value')} AS sum_value,
           COUNT(*) AS n_events,
           MIN(value) AS min_v,
           MAX(value) AS max_v
    FROM events
    GROUP BY event_type, date_trunc('day', ts)
    """,
    doc=(
        "Hypertable-style hierarchical rollup: the hourly continuous "
        "aggregate is materialized first, then the daily level is "
        "derived by RE-AGGREGATING the hourly partials (sum of decimal "
        "partial sums, sum of counts, min of mins, max of maxes) — "
        "never by re-scanning raw rows. This is the TimescaleDB "
        "continuous-aggregate / OLAP-cube refresh pattern: at 100 TB "
        "the raw scan happens once for the finest grain and every "
        "coarser grain costs only |hours| rows. Correctness hinges on "
        "the partials being decomposable — exact DECIMAL partial sums "
        "make the two-level sum bit-identical to the oracle's direct "
        "daily aggregate (decimal addition is associative; double "
        "addition would NOT be). The daily re-shuffle moves one row "
        "per (type, hour)."
    ),
)
def q_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    return hourly.groupBy(
        "event_type", F.date_trunc("day", F.col("hour")).alias("day")
    ).agg(
        F.sum("sum_dec").cast("double").alias("sum_value"),
        F.sum("n_events").alias("n_events"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


@register(
    "roll_spread",
    """
    WITH d1 AS (
      SELECT user_id, ts, event_id,
             value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events WHERE value > 0
    ),
    dp AS (
      SELECT user_id, d,
             LAG(d) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dprev
      FROM d1
    ),
    m AS (
      SELECT user_id,
             COUNT(*) AS n,
             CAST(SUM(CAST(d * dprev AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(d AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(dprev AS DECIMAL(38,18))) AS DOUBLE) AS sy
      FROM dp WHERE d IS NOT NULL AND dprev IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n AS n_pairs,
           ROUND((sxy - sx * sy / n) / n, 6) AS autocov,
           CASE WHEN (sxy - sx * sy / n) / n < 0.0
                THEN ROUND(2.0 * SQRT(-((sxy - sx * sy / n) / n)), 6) END AS roll_spread
    FROM m
    """,
    doc=(
        "Roll (1984) effective-spread estimator per market: s = "
        "2*sqrt(-cov(dp_t, dp_t-1)) from the first-order autocovariance "
        "of consecutive price CHANGES — bid-ask bounce makes adjacent "
        "changes negatively correlated, and the strength of that "
        "bounce reveals the spread without ever seeing quotes. The "
        "classic trades-only microstructure measure an order-book "
        "store serves when the ladder isn't retained. Positive-"
        "autocovariance markets yield NULL spread (the estimator is "
        "undefined there) but still report the autocovariance. One "
        "ordered pass builds (dp, lagged dp) pairs; the covariance "
        "comes from decimal-exact component sums (the agg_stats "
        "pattern), so the 6-dp result is partition-order independent."
    ),
)
def q_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked lag-DEPTH-2 carry in a single fork (no whole-history
    # window; the oracle's global-window SQL is the equivalence proof).
    # Both lags the estimator needs reduce to lag1/lag2 of the price
    # (d = v - lag1(v), dprev = lag1(v) - lag2(v)), so instead of two
    # sequential lag-only chunked_shift calls — whose second call re-ran
    # the whole first pipeline for its chunk frame (measured 1.93 s at
    # sf0.1) —
    # ONE chunk-grain frame carries each chunk's last TWO prices and
    # the row pass takes lag1/lag2 locally, patching rows 1-2 of each
    # chunk from the carry (1.27 s, values bit-identical: same
    # operands, same subtraction). The prior-history last-two are two
    # LAGS over the chunk frame, not a flatten of every prior chunk's
    # tail (the first draft's unbounded collect_list window was
    # O(chunks²) per key — harmless at 18 fixture days, hostile at
    # years of history): prior_last = previous chunk's last price;
    # prior_2nd = previous chunk's 2nd-to-last when that chunk had ≥2
    # rows, else the chunk-before-that's last — single-row days chain
    # through the coalesce exactly like the flattened-tail form, since
    # a NULL 2nd-to-last means "this chunk contributed only one price".
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    base = ev.select(
        "user_id", "ts", "event_id", "value", F.date_trunc("day", "ts").alias("chunk")
    )
    rev = F.reverse(F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))))
    day = (
        base.groupBy("user_id", "chunk")
        .agg(F.slice(rev, 1, 2).alias("tail2"))
        .select(
            "user_id",
            "chunk",
            F.col("tail2")[0]["value"].alias("_c_last"),
            F.when(F.size("tail2") == 2, F.col("tail2")[1]["value"]).alias("_c_2nd"),
        )
    )
    wch = Window.partitionBy("user_id").orderBy("chunk")
    chunk_frame = day.select(
        "user_id",
        "chunk",
        F.lag("_c_last").over(wch).alias("prior_last"),
        F.coalesce(
            F.lag("_c_2nd").over(wch), F.lag("_c_last", 2).over(wch)
        ).alias("prior_2nd"),
    )
    wloc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    rows = base.join(chunk_frame, ["user_id", "chunk"]).select(
        "user_id",
        "value",
        F.row_number().over(wloc).alias("rn"),
        F.lag("value", 1).over(wloc).alias("l1"),
        F.lag("value", 2).over(wloc).alias("l2"),
        "prior_last",
        "prior_2nd",
    )
    lag1 = F.when(F.col("rn") == 1, F.col("prior_last")).otherwise(F.col("l1"))
    lag2 = (
        F.when(F.col("rn") == 1, F.col("prior_2nd"))
        .when(F.col("rn") == 2, F.col("prior_last"))
        .otherwise(F.col("l2"))
    )
    dp = rows.select(
        "user_id", (F.col("value") - lag1).alias("d"), (lag1 - lag2).alias("dprev")
    )
    pairs = dp.filter(F.col("d").isNotNull() & F.col("dprev").isNotNull())
    m = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") * F.col("dprev")).cast("decimal(38,18)")).cast("double").alias("sxy"),
        F.sum(F.col("d").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(F.col("dprev").cast("decimal(38,18)")).cast("double").alias("sy"),
    )
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.col("n")
    return m.select(
        "user_id",
        F.col("n").alias("n_pairs"),
        F.round(cov, 6).alias("autocov"),
        F.when(cov < 0.0, F.round(F.lit(2.0) * F.sqrt(-cov), 6)).alias("roll_spread"),
    )


@register(
    "order_flow_imbalance",
    """
    WITH d1 AS (
      SELECT user_id, ts, event_id,
             value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events WHERE value > 0
    ),
    s1 AS (
      SELECT user_id, ts, event_id,
             CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END AS raw_sign
      FROM d1
    ),
    s2 AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             LAST_VALUE(raw_sign IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      FROM s1
    )
    SELECT user_id, day,
           CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
           CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
           ROUND(CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                      - SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / nullif(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END)
                          + SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END), 0), 6) AS ofi
    FROM s2 GROUP BY user_id, day
    """,
    doc=(
        "Daily order-flow imbalance per market via the tick rule "
        "(Lee-Ready's price-test half): classify each print +1 on an "
        "uptick, -1 on a downtick, and CARRY FORWARD the last real "
        "sign through zero-ticks (last_value ignore-nulls over the "
        "unique (ts, event_id) order — carry crosses day boundaries, "
        "as the convention requires). OFI = (up - down)/(up + down) "
        "per (market, day): the classic buy/sell pressure signal "
        "derivable from trades alone. Two ordered passes over the same "
        "per-market window partitioning (lag + running last — Spark "
        "plans ONE exchange and sorts once), then a hash aggregate of "
        "day-grain counts. First prints before any tick have NULL sign "
        "and count toward neither side; an all-zero-tick day yields "
        "NULL OFI via nullif in both engines."
    ),
)
def q_order_flow_imbalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked decomposition of both ordered passes (tick diff and
    # the running last-real-sign carry) in a SINGLE fork: the carry
    # crosses midnight as the tick-rule convention requires, and
    # coalesce(local last-ignore-nulls, day-grain carry) is exactly the
    # global running last — local is NULL iff the day has no real sign
    # so far. No whole-history window; the oracle's global form is the
    # equivalence proof.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    base = ev.select(
        "user_id", "ts", "event_id", "value", F.date_trunc("day", "ts").alias("chunk")
    )
    # The day-array single-fork machinery now lives in chunked_tick_rule
    # (kyle_lambda and vpin share it); identity price — OFI classifies
    # on the raw double diff. Measured history: a forked lag-only
    # chunked_shift draft 1.29 s at sf0.1, this form 0.98 s.
    s2 = chunked_tick_rule(base, lambda v: v).select(
        "user_id", F.col("chunk").alias("day"), F.col("sgn").alias("s")
    )
    n_up = F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
    n_down = F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
    return s2.groupBy("user_id", "day").agg(
        n_up.alias("n_up"),
        n_down.alias("n_down"),
        F.round(
            (n_up - n_down).cast("double") / F.nullif(n_up + n_down, F.lit(0)), 6
        ).alias("ofi"),
    )


# Correlation matrix scope: the matrix is quadratic in markets, so it
# is computed for the TOP_N most-active markets only (deterministic
# tick-count ranking, user_id tiebreak) — the bounded form a dashboard
# actually wants. N² stays trivial for any N a human reads.
CORR_TOP_N = 10


@register(
    "market_correlation",
    f"""
    WITH keyed AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    daily AS (
      SELECT user_id, day, LN(arg_max(value, k) / arg_min(value, k)) AS ret
      FROM keyed GROUP BY user_id, day
    ),
    top_mkts AS (
      SELECT user_id FROM (
        SELECT user_id, COUNT(*) AS n_ticks,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, user_id ASC) AS rn
        FROM keyed GROUP BY user_id
      ) WHERE rn <= {CORR_TOP_N}
    ),
    r AS (
      SELECT d.user_id, d.day, d.ret FROM daily d
      WHERE d.user_id IN (SELECT user_id FROM top_mkts)
    ),
    pairs AS (
      SELECT a.user_id AS u1, b.user_id AS u2,
             COUNT(*) AS n_days,
             CAST(SUM(CAST(a.ret AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(b.ret AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(a.ret * b.ret AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(a.ret * a.ret AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(b.ret * b.ret AS DECIMAL(38,18))) AS DOUBLE) AS syy
      FROM r a JOIN r b ON a.day = b.day AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT u1, u2, n_days,
           ROUND((n_days * sxy - sx * sy)
                 / nullif(SQRT((n_days * sxx - sx * sx) * (n_days * syy - sy * sy)), 0.0),
                 6) AS corr
    FROM pairs
    """,
    doc=(
        "Daily-return correlation matrix across the TOP-N most-active "
        "markets: intraday open->close log return per (market, day) "
        "(min_by/max_by on the unique OHLC key), markets ranked by "
        "tick count with a user_id tiebreak, then a self-equi-join on "
        "day builds aligned return pairs and Pearson correlation comes "
        "from decimal-exact component sums in closed form (the "
        "agg_stats pattern; nullif kills the zero-variance "
        "denominator under ANSI). The matrix is deliberately bounded: "
        "N^2/2 pairs x shared days, with only (market, day, ret) rows "
        "in the join — at 100 TB the daily-return table is days x "
        "markets, already tiny relative to ticks, and the TOP-N guard "
        "keeps the pair fan-out human-sized regardless of how many "
        "long-tail markets exist."
    ),
)
def q_market_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        k.alias("k"),
    )
    daily = keyed.groupBy("user_id", "day").agg(
        F.log(F.max_by("value", "k") / F.min_by("value", "k")).alias("ret")
    )
    # Top-N selection via orderBy+limit → TakeOrderedAndProject: each
    # task keeps its local top CORR_TOP_N and the driver merges — no
    # single-partition rank window over the per-market census.
    top = (
        keyed.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ticks"))
        .orderBy(F.desc("n_ticks"), F.asc("user_id"))
        .limit(CORR_TOP_N)
        .select("user_id")
    )
    # Materialize the top-N daily-return frame before the a/b self-join
    # fork (r15 optimization round): Catalyst re-plans a forked
    # DataFrame under each consumer, so the scan → keyed → daily →
    # top-join subtree ran once per branch — the before-plan carried
    # EIGHT parquet scans of events (plans/r15/
    # market_correlation_before.txt); with the cut it carries two
    # (daily + top). The frame is CORR_TOP_N markets × days — KB-scale,
    # the bounded "query-side state" a checkpoint is for.
    from nt_etl_order_book_spark.session import checkpoint_frame

    r = checkpoint_frame(daily.join(F.broadcast(top), "user_id"), eager=False)
    a = r.select(F.col("user_id").alias("u1"), "day", F.col("ret").alias("x"))
    b = r.select(F.col("user_id").alias("u2"), "day", F.col("ret").alias("y"))

    def dec(c):  # noqa: ANN001
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    pairs = (
        a.join(b, "day")
        .filter(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            dec(F.col("x")).alias("sx"),
            dec(F.col("y")).alias("sy"),
            dec(F.col("x") * F.col("y")).alias("sxy"),
            dec(F.col("x") * F.col("x")).alias("sxx"),
            dec(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    n = F.col("n_days")
    num = n * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return pairs.select(
        "u1", "u2", "n_days",
        F.round(num / F.nullif(den, F.lit(0.0)), 6).alias("corr"),
    )


@register(
    "hhi_concentration",
    """
    WITH vol AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id,
             COUNT(*) AS n
      FROM events GROUP BY day, user_id
    ),
    tot AS (
      SELECT day, CAST(SUM(n) AS BIGINT) AS total FROM vol GROUP BY day
    )
    SELECT v.day,
           COUNT(*) AS n_markets,
           ROUND(CAST(SUM(CAST((CAST(v.n AS DOUBLE) / t.total)
                               * (CAST(v.n AS DOUBLE) / t.total)
                               AS DECIMAL(38,18))) AS DOUBLE) * 10000, 6) AS hhi
    FROM vol v JOIN tot t ON v.day = t.day
    GROUP BY v.day
    """,
    doc=(
        "Herfindahl-Hirschman concentration index of daily message "
        "volume across markets (x10000, the antitrust convention): "
        "HHI -> 10000/n_markets means balanced flow, a spike means one "
        "market is flooding the feed — the ingest-skew monitor that "
        "tells you BEFORE a hot-key stage falls over (the salting / "
        "AQE-skew machinery in operators/skew.py is the cure; this is "
        "the early warning). Two bounded aggregates: (day, market) "
        "volume then a day-grain fold of squared shares accumulated as "
        "DECIMAL(38,18); shuffles carry (day, market, count) rows "
        "only. The exact-ratio share keeps both engines bit-identical."
    ),
)
def q_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    vol = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = vol.groupBy("day").agg(F.sum("n").alias("total"))
    share = F.col("n").cast("double") / F.col("total")
    return (
        vol.join(tot, "day")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_markets"),
            F.round(
                F.sum((share * share).cast("decimal(38,18)")).cast("double") * 10000, 6
            ).alias("hhi"),
        )
    )


@register(
    "cusum_drift",
    """
    WITH m AS (
      SELECT user_id,
             CAST(CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE)
                  / COUNT(value) AS DOUBLE) AS mean_v
      FROM events WHERE value > 0 GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id,
             SUM(CAST(e.value - m.mean_v AS DECIMAL(38,18))) OVER (
               PARTITION BY e.user_id ORDER BY e.ts, e.event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      FROM events e JOIN m ON e.user_id = m.user_id
      WHERE e.value > 0
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           ROUND(CAST(MAX(ABS(cusum)) AS DOUBLE), 6) AS max_abs_cusum
    FROM c GROUP BY user_id
    """,
    doc=(
        "CUSUM drift detector per market: running cumulative sum of "
        "deviations from the market's own mean price; a random-walk-"
        "around-mean series keeps the CUSUM near zero while a level "
        "shift makes it trend — max |CUSUM| is the Page-test statistic "
        "a regime-change monitor thresholds on. Two passes: the mean "
        "is one decimal-exact aggregate broadcast back; the running "
        "sum accumulates the deviations as DECIMAL(38,18) inside the "
        "window, because engines disagree on double running-sum "
        "association (DuckDB windows aggregate via segment trees, "
        "Spark row-by-row — decimal addition is associative so both "
        "land on the identical value). Window ordered by the unique "
        "(ts, event_id) key; runs as the day-chunked carry-in "
        "decomposition (see max_drawdown), so no task sees a market's "
        "full history — the oracle's whole-history window is the "
        "equivalence proof."
    ),
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.aggregates import davg

    # Day-chunked running sum (chunked_prefix): decimal addition is
    # exact and associative, so it is bit-identical to the
    # whole-history window the oracle runs.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    m = ev.groupBy("user_id").agg(davg("value").alias("mean_v"))
    base = ev.join(F.broadcast(m), "user_id").select(
        "user_id",
        "ts",
        "event_id",
        (F.col("value") - F.col("mean_v")).cast("decimal(38,18)").alias("dev"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    c = chunked_prefix(base, "user_id", ["ts", "event_id"], "dev", "sum", "cusum")
    return c.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.max(F.abs(F.col("cusum"))).cast("double"), 6).alias("max_abs_cusum"),
    )


# Dollar-bar threshold: a bar closes once cumulative traded notional
# crosses this many cents ($1000) — information-driven sampling groups
# by activity, not wall clock.
DOLLAR_BAR_CENTS = 100_000


@register(
    "dollar_bars",
    f"""
    WITH cents AS (
      SELECT user_id, ts, event_id, value,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    cum AS (
      SELECT user_id, value, c, k,
             CAST(SUM(c) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_c
      FROM cents
    )
    SELECT user_id,
           (cum_c - c) // {DOLLAR_BAR_CENTS} AS bar_id,
           arg_min(value, k) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, k) AS close,
           COUNT(*) AS n_ticks,
           CAST(SUM(c) AS BIGINT) AS notional_cents
    FROM cum
    GROUP BY user_id, bar_id
    """,
    doc=(
        "Dollar bars (de Prado's information-driven sampling): a bar "
        "closes when cumulative traded notional crosses the threshold, "
        "so active periods produce many bars and quiet ones few — the "
        "downsampling that keeps per-bar information content roughly "
        "constant where time bars oversample dead hours. A tick "
        "belongs to bar floor(pre-tick-cumulative / K): EXACT BIGINT "
        "arithmetic end-to-end (cent-precision prices -> integer "
        "cents -> running BIGINT sum, which no engine can associate "
        "differently) — no decimal division, no double accumulation. "
        "One per-market ordered pass for the running notional, then "
        "the OHLC hash aggregate on the unique-key min_by/max_by "
        "pattern. Day-chunked carry-in decomposition like max_drawdown "
        "(no whole-history task); bar count "
        "per market = notional / K regardless of tick volume."
    ),
)
def q_dollar_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Running notional via chunked_prefix (BIGINT sum is associative,
    # so bit-identical to the whole-history window the oracle runs).
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        c.alias("c"),
        k.alias("k"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    cum = chunked_prefix(base, "user_id", ["ts", "event_id"], "c", "sum", "cum_c")
    bar = F.expr(f"(cum_c - c) div {DOLLAR_BAR_CENTS}")
    return cum.groupBy("user_id", bar.alias("bar_id")).agg(
        F.min_by("value", "k").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "k").alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
        F.sum("c").alias("notional_cents"),
    )


@register(
    "amihud_illiquidity",
    f"""
    WITH keyed AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    daily AS (
      SELECT user_id, day,
             ABS(LN(arg_max(value, k) / arg_min(value, k))) AS abs_ret,
             CAST(SUM(c) AS BIGINT) AS notional_cents
      FROM keyed GROUP BY user_id, day
      HAVING COUNT(*) >= 2
    )
    SELECT user_id,
           COUNT(*) AS n_days,
           ROUND(CAST(SUM(CAST(abs_ret / (CAST(notional_cents AS DOUBLE) / 100.0)
                               AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*) * 1000000, 6) AS amihud_x1m
    FROM daily GROUP BY user_id
    """,
    doc=(
        "Amihud (2002) illiquidity ratio per market: mean over days of "
        "|daily log return| / daily dollar volume (x1e6, the paper's "
        "scaling) — the standard price-impact-per-dollar proxy when "
        "only trades are retained, complementing roll_spread (cost) "
        "and realized_volatility (risk) to complete the trades-only "
        "microstructure triple. Daily return from the min_by/max_by "
        "OHLC key; notional in exact integer cents; single-tick days "
        "excluded (no return exists). Two bounded hash aggregates — "
        "(market, day) then market — with the per-day ratios "
        "accumulated as DECIMAL(38,18)."
    ),
)
def q_amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id",
        F.date_trunc("day", F.col("ts")).alias("day"),
        "value",
        c.alias("c"),
        k.alias("k"),
    )
    daily = (
        keyed.groupBy("user_id", "day")
        .agg(
            F.abs(F.log(F.max_by("value", "k") / F.min_by("value", "k"))).alias("abs_ret"),
            F.sum("c").alias("notional_cents"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .filter(F.col("n_ticks") >= 2)
    )
    ratio = F.col("abs_ret") / (F.col("notional_cents").cast("double") / F.lit(100.0))
    return daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(ratio.cast("decimal(38,18)")).cast("double")
            / F.count(F.lit(1))
            * 1_000_000,
            6,
        ).alias("amihud_x1m"),
    )


# ---------------------------------------------------------------------------
# Price-impact / informed-trading family: Kyle's lambda and VPIN. Both
# consume the tick-rule sign (order_flow_imbalance's carry-forward
# classifier) plus the per-print size from the props envelope, so a
# trades-only feed yields the full adverse-selection toolkit the
# reference's Postgres consumers would otherwise rebuild by hand
# (reference: postgres_client.py write path).


@register(
    "kyle_lambda",
    """
    WITH t AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
               - LAG(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events WHERE value > 0
    ),
    s AS (
      SELECT user_id, vol, d,
             LAST_VALUE(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      FROM t
    ),
    xy AS (
      SELECT user_id, sgn * vol AS x, d AS y
      FROM s WHERE sgn IS NOT NULL AND d IS NOT NULL
    ),
    comp AS (
      SELECT user_id, COUNT(*) AS n_obs,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy GROUP BY user_id
    )
    SELECT user_id, n_obs,
           ROUND(CAST(n_obs * sxy - sx * sy AS DOUBLE)
                 / nullif(CAST(n_obs * sxx - sx * sx AS DOUBLE), 0.0),
                 6) AS kyle_lambda_cents
    FROM comp
    """,
    doc=(
        "Kyle (1985) lambda per market: OLS slope of the price change "
        "(in integer CENTS — prices are cent-precision, the "
        "dollar_bars trick) on signed order flow (tick-rule sign x "
        "print size), the canonical price-impact coefficient, in cents "
        "per unit volume. EVERY regression component (n, Sum x, "
        "Sum x^2, Sum y, Sum xy) is exact BIGINT, and numerator / "
        "denominator are formed in BIGINT before the one double "
        "division — bit-identical across engines by construction, no "
        "decimal-to-double cast anywhere (the first draft accumulated "
        "Sum(xy) as DECIMAL(38,18) of double products and a 1-ulp "
        "conversion difference flipped a 6-dp round at sf0.1). "
        "Overflow bound: |n * Sum(xy)| stays under 2^63 through ~1e8 "
        "classified prints per market at these magnitudes; a larger "
        "retention widens the two products to DECIMAL(38,0) — still "
        "exact integers. Prints before the first classifiable tick "
        "and first prints are excluded in both engines. Day-chunked "
        "tick-rule pass (chunked_tick_rule with the CENTS price "
        "mapping — the sign of a sub-cent move must come from the "
        "cents diff, not the raw double diff), then a market-grain "
        "hash aggregate; no task ever sorts a market's full history."
    ),
)
def q_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("vol"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    cents = lambda v: F.floor(v * 100 + F.lit(0.5)).cast("bigint")  # noqa: E731
    s = chunked_tick_rule(base, cents)
    xy = s.filter(F.col("sgn").isNotNull() & F.col("d").isNotNull()).select(
        "user_id",
        (F.col("sgn") * F.col("vol")).alias("x"),
        F.col("d").alias("y"),
    )
    comp = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    lam = (F.col("n_obs") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / F.nullif(
        (F.col("n_obs") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
        F.lit(0.0),
    )
    return comp.select("user_id", "n_obs", F.round(lam, 6).alias("kyle_lambda_cents"))


VPIN_BUCKET_VOL = 500


@register(
    "vpin",
    f"""
    WITH t AS (
      SELECT user_id, ts, event_id,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS vol,
             value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS d
      FROM events WHERE value > 0
    ),
    s AS (
      SELECT user_id, ts, event_id, vol,
             LAST_VALUE(CASE WHEN d > 0 THEN 1 WHEN d < 0 THEN -1 END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sgn
      FROM t
    ),
    v AS (
      SELECT user_id, vol, sgn,
             CAST(SUM(vol) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cum_vol
      FROM s WHERE vol > 0
    ),
    buckets AS (
      SELECT user_id, (cum_vol - vol) // {VPIN_BUCKET_VOL} AS bucket_id,
             CAST(SUM(CASE WHEN sgn = 1 THEN vol ELSE 0 END) AS BIGINT) AS buy_vol,
             CAST(SUM(CASE WHEN sgn = -1 THEN vol ELSE 0 END) AS BIGINT) AS sell_vol,
             CAST(SUM(vol) AS BIGINT) AS tot_vol
      FROM v GROUP BY user_id, bucket_id
    )
    SELECT user_id, COUNT(*) AS n_buckets,
           ROUND(CAST(SUM(CAST(CAST(ABS(buy_vol - sell_vol) AS DOUBLE)
                               / tot_vol AS DECIMAL(38,18))) AS DOUBLE)
                 / COUNT(*), 6) AS vpin
    FROM buckets GROUP BY user_id
    """,
    doc=(
        "VPIN (Easley, Lopez de Prado, O'Hara 2012) per market: form "
        "equal-volume buckets on the volume clock (a print belongs to "
        "bucket floor(pre-print cumulative volume / V), the dollar_bars "
        "integer-bucketing trick on size instead of notional), classify "
        "volume buy/sell by the carried tick-rule sign, and average "
        "|buy - sell| / bucket_volume across buckets. The tick-rule "
        "sign is classified on the FULL tape (zero-size prints still "
        "move price), but zero-size prints are then dropped before the "
        "volume clock — they carry no volume to bucket, and a bucket "
        "of only zero-size prints would divide by zero under ANSI "
        "(caught at sf0.1). Unclassifiable prints (before the first "
        "real tick) advance the volume clock but count to neither "
        "side; the trailing partial bucket is kept (documented choice "
        "— deterministic in both engines). All volumes are exact BIGINT; "
        "the per-bucket ratio is double-from-exact-integers and the "
        "cross-bucket mean accumulates as DECIMAL(38,18). One ordered "
        "pass per market (sign carry + running volume share one window "
        "exchange), then two bounded hash aggregates."
    ),
)
def q_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked tick rule + day-chunked volume clock: the sign carry
    # comes from chunked_tick_rule (identity price — vpin classifies on
    # the raw double diff), and the running volume is carry_vol (sum of
    # prior days' vol>0 prints, a chunk-grain offset) + a LOCAL BIGINT
    # cumsum within (market, day) — the dollar_bars prefix-sum pattern,
    # associative so bit-exact vs the oracle's global window. The vol>0
    # filter happens AFTER the sign pass (zero-size prints classify on
    # the full tape but drop from the clock, as the oracle's CTE order
    # requires) and preserves the (market, day) partitioning, so the
    # local cumsum rides the same exchange.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("vol"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    s = chunked_tick_rule(base, lambda v: v, vol_offsets=True)
    wloc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    wrun = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    v = s.filter(F.col("vol") > 0).withColumn(
        "cum_vol", F.col("carry_vol") + F.sum("vol").over(wrun)
    )
    bucket = F.expr(f"(cum_vol - vol) div {VPIN_BUCKET_VOL}")
    buckets = v.groupBy("user_id", bucket.alias("bucket_id")).agg(
        F.sum(F.when(F.col("sgn") == 1, F.col("vol")).otherwise(0)).alias("buy_vol"),
        F.sum(F.when(F.col("sgn") == -1, F.col("vol")).otherwise(0)).alias("sell_vol"),
        F.sum("vol").alias("tot_vol"),
    )
    ratio = F.abs(F.col("buy_vol") - F.col("sell_vol")).cast("double") / F.col("tot_vol")
    return buckets.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.round(
            F.sum(ratio.cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("vpin"),
    )


@register(
    "ohlc_volatility",
    """
    WITH keyed AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    daily AS (
      SELECT user_id, day,
             LN(MAX(value) / MIN(value)) AS lhl,
             LN(arg_max(value, k) / arg_min(value, k)) AS lco
      FROM keyed GROUP BY user_id, day
      HAVING COUNT(*) >= 2
    ),
    terms AS (
      SELECT user_id,
             lhl * lhl / (4 * LN(2)) AS park,
             0.5 * lhl * lhl - (2 * LN(2) - 1) * lco * lco AS gk
      FROM daily
    )
    SELECT user_id, COUNT(*) AS n_days,
           ROUND(CAST(SUM(CAST(park AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
             AS parkinson_var,
           ROUND(CAST(SUM(CAST(gk AS DECIMAL(38,18))) AS DOUBLE) / COUNT(*), 6)
             AS garman_klass_var
    FROM terms GROUP BY user_id
    """,
    doc=(
        "Range-based daily variance estimators per market: Parkinson "
        "(1980) ln(H/L)^2 / (4 ln 2) and Garman-Klass (1980) "
        "0.5 ln(H/L)^2 - (2 ln 2 - 1) ln(C/O)^2, averaged across days "
        "— 5-8x more efficient than close-to-close variance from the "
        "same retention, and computable from the hourly/daily rollup "
        "alone. H/L from plain MIN/MAX; O/C from min_by/max_by on the "
        "unique (epoch_us*1000 + event_id) key (the ohlc_bars "
        "discipline); single-print days carry no range and are "
        "excluded. Per-day terms are identical double expressions in "
        "both engines over identical inputs; the cross-day mean "
        "accumulates as DECIMAL(38,18). Two bounded hash aggregates, "
        "no window at all — day grain then market grain."
    ),
)
def q_ohlc_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"), "value", k.alias("k")
    )
    daily = (
        keyed.groupBy("user_id", "day")
        .agg(
            F.log(F.max("value") / F.min("value")).alias("lhl"),
            F.log(F.max_by("value", "k") / F.min_by("value", "k")).alias("lco"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .filter(F.col("n_ticks") >= 2)
    )
    ln2 = F.log(F.lit(2.0))
    park = F.col("lhl") * F.col("lhl") / (F.lit(4.0) * ln2)
    gk = (
        F.lit(0.5) * F.col("lhl") * F.col("lhl")
        - (F.lit(2.0) * ln2 - F.lit(1.0)) * F.col("lco") * F.col("lco")
    )
    terms = daily.select("user_id", park.alias("park"), gk.alias("gk"))
    return terms.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.round(
            F.sum(F.col("park").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("parkinson_var"),
        F.round(
            F.sum(F.col("gk").cast("decimal(38,18)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("garman_klass_var"),
    )


@register(
    "autocorr_returns",
    """
    WITH keyed AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, value,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    daily AS (
      SELECT user_id, day, arg_max(value, k) AS close
      FROM keyed GROUP BY user_id, day
    ),
    rets AS (
      SELECT user_id, day,
             LN(close / LAG(close) OVER (PARTITION BY user_id ORDER BY day)) AS ret
      FROM daily
    ),
    pairs AS (
      SELECT user_id, ret AS y,
             LAG(ret) OVER (PARTITION BY user_id ORDER BY day) AS x
      FROM rets WHERE ret IS NOT NULL
    ),
    comp AS (
      SELECT user_id, COUNT(*) AS n_pairs,
             CAST(SUM(CAST(x AS DECIMAL(38,18))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(38,18))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(38,18))) AS DOUBLE) AS syy
      FROM pairs WHERE x IS NOT NULL
      GROUP BY user_id
    )
    SELECT user_id, n_pairs,
           ROUND((n_pairs * sxy - sx * sy)
                 / nullif(SQRT((n_pairs * sxx - sx * sx) * (n_pairs * syy - sy * sy)), 0.0),
                 6) AS ac1
    FROM comp
    """,
    doc=(
        "Lag-1 autocorrelation of daily close-to-close log returns per "
        "market — the standard mean-reversion / momentum diagnostic "
        "(and the sign ingredient behind roll_spread's covariance). "
        "Daily close by max_by on the unique OHLC key; returns and "
        "their lag from two stacked windows over the SAME per-market "
        "day order (one exchange, day-grain rows only — the window "
        "input is days x markets, tiny at any tick volume); Pearson "
        "rho in closed form over DECIMAL(38,18) component sums with "
        "nullif guarding the zero-variance denominator under ANSI "
        "(the market_correlation discipline)."
    ),
)
def q_autocorr_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"), "value", k.alias("k")
    )
    daily = keyed.groupBy("user_id", "day").agg(F.max_by("value", "k").alias("close"))
    wday = Window.partitionBy("user_id").orderBy("day")
    rets = daily.select(
        "user_id", "day", F.log(F.col("close") / F.lag("close").over(wday)).alias("ret")
    )
    pairs = (
        rets.filter(F.col("ret").isNotNull())
        .select("user_id", "day", F.col("ret").alias("y"), F.lag("ret").over(wday).alias("x"))
        .filter(F.col("x").isNotNull())
    )

    def dec(c):  # noqa: ANN001
        return F.sum(c.cast("decimal(38,18)")).cast("double")

    comp = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"),
        dec(F.col("y") * F.col("y")).alias("syy"),
    )
    rho = (F.col("n_pairs") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.nullif(
        F.sqrt(
            (F.col("n_pairs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n_pairs") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
        F.lit(0.0),
    )
    return comp.select("user_id", "n_pairs", F.round(rho, 6).alias("ac1"))


@register(
    "effective_spread",
    """
    WITH quotes AS (
      SELECT user_id, ts, arg_max(value, event_id) AS mid
      FROM events WHERE event_type = 'view' AND value > 0
      GROUP BY user_id, ts
    ),
    trades AS (
      SELECT user_id, ts, event_id, value AS price
      FROM events WHERE event_type = 'purchase' AND value > 0
    ),
    matched AS (
      SELECT t.user_id, t.price, q.mid
      FROM trades t
      ASOF LEFT JOIN quotes q ON t.user_id = q.user_id AND t.ts >= q.ts
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN mid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quoted,
           CAST(SUM(CASE WHEN mid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unquoted,
           ROUND(CAST(SUM(CAST(2 * ABS(price - mid) / mid * 10000 AS DECIMAL(38,18)))
                      AS DOUBLE)
                 / nullif(SUM(CASE WHEN mid IS NOT NULL THEN 1 ELSE 0 END), 0), 6)
             AS eff_spread_bps
    FROM matched GROUP BY user_id
    """,
    doc=(
        "Effective spread per market: 2 * |trade price - prevailing "
        "mid| / mid in bps, averaged over trades — the realized "
        "transaction-cost measure that needs QUOTES at trade time, "
        "i.e. the canonical as-of-join composition (trades = "
        "'purchase' prints, prevailing quote = latest same-market "
        "'view' at or before the trade). Reuses the asof_join "
        "union+window kernel (operators/joins.py) — one shuffle on "
        "the market key, no inequality join — against DuckDB's native "
        "ASOF LEFT JOIN as the oracle, so the kernel's <= and "
        "equal-ts tie semantics are cross-checked by an independent "
        "implementation in a second engine. Quotes dedupe to latest "
        "event per (market, ts) first (the helper requires per-(key, "
        "ts) uniqueness; max_by on the unique event_id). Trades "
        "before any quote stay unmatched (LEFT), counted as "
        "n_unquoted, excluded from the mean; per-trade bps terms "
        "accumulate as DECIMAL(38,18)."
    ),
)
def q_effective_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.joins import asof_join

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    quotes = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max_by("value", "event_id").alias("mid"))
    )
    trades = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", F.col("value").alias("price")
    )
    matched = asof_join(
        trades, quotes, key="user_id", left_ts="ts", right_ts="ts", value_cols=["mid"]
    )
    mid = F.col("asof_mid")  # the helper prefixes matched right columns
    bps = F.lit(2) * F.abs(F.col("price") - mid) / mid * 10000
    quoted = F.sum(F.when(mid.isNotNull(), 1).otherwise(0))
    return matched.groupBy("user_id").agg(
        quoted.alias("n_quoted"),
        F.sum(F.when(mid.isNull(), 1).otherwise(0)).alias("n_unquoted"),
        F.round(
            F.sum(bps.cast("decimal(38,18)")).cast("double") / F.nullif(quoted, F.lit(0)), 6
        ).alias("eff_spread_bps"),
    )


@register(
    "twap",
    """
    WITH c AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id, date_trunc('day', ts)
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM events WHERE value > 0
    )
    SELECT user_id, day,
           COUNT(dt_us) AS n_intervals,
           ROUND(CAST(SUM(c * dt_us) AS DOUBLE)
                 / CAST(SUM(dt_us) AS BIGINT) / 100.0, 6) AS twap
    FROM c WHERE dt_us IS NOT NULL
    GROUP BY user_id, day
    """,
    doc=(
        "Time-weighted average price per (market, day): each print "
        "weighted by its holding interval to the next print — the "
        "execution benchmark (vs vwap's volume weighting). "
        "Interval = lead(ts) within the (market, day) window, so the "
        "last print of a day carries no weight and day boundaries "
        "never leak (the realized_volatility sharding). EVERYTHING is "
        "integer-exact: cent prices x microsecond intervals sum in "
        "BIGINT (bound: a market-day's c*dt sum is < 2^63 up to ~1e6 "
        "dollar-seconds x 1e6 — fine at any real tick density; wider "
        "retentions per group cannot occur because the group IS a "
        "day), one double division at the end. Single day-sharded "
        "window pass, then a day-grain hash aggregate."
    ),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    tus = F.unix_micros(F.col("ts").cast("timestamp"))
    dt = F.unix_micros(F.lead("ts").over(w).cast("timestamp")) - tus
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    rows = ev.select(
        "user_id", day.alias("day"), c.alias("c"), dt.alias("dt_us")
    ).filter(F.col("dt_us").isNotNull())
    return rows.groupBy("user_id", "day").agg(
        F.count("dt_us").alias("n_intervals"),
        F.round(
            F.sum(F.col("c") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("bigint")
            / F.lit(100.0),
            6,
        ).alias("twap"),
    )


@register(
    "gini_concentration",
    """
    WITH vol AS (
      SELECT user_id, COUNT(*) AS x FROM events GROUP BY user_id
    ),
    ranked AS (
      SELECT x, ROW_NUMBER() OVER (ORDER BY x ASC, user_id ASC) AS i FROM vol
    ),
    comp AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(i * x) AS BIGINT) AS six
      FROM ranked
    )
    SELECT n AS n_markets,
           ROUND(2.0 * six / (n * CAST(sx AS DOUBLE))
                 - (n + 1) / CAST(n AS DOUBLE), 6) AS gini
    FROM comp
    """,
    doc=(
        "Gini coefficient of event volume across users — the "
        "inequality summary of ingest concentration (hhi_concentration "
        "squares shares; Gini ranks them — the pair distinguishes 'one "
        "giant' from 'graded tail'). The volume aggregate collapses to "
        "user_id grain first, then the global ROW_NUMBER runs through "
        "the distributed_rank range-partition decomposition (keys=[]) "
        "instead of a single-task ORDER BY window — the only unkeyed "
        "window left is over the |partitions|-row offsets frame; rank "
        "ties broken by the unique user_id; Sum(i*x) and Sum(x) are "
        "exact BIGINT and the closed form runs in double over them, "
        "6 dp. (n_markets keeps its recorded column name: it counts "
        "the ranked entities — user_id grain.)"
    ),
)
def q_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.windows import distributed_rank

    ev = load_table(spark, sf_dir, "events")
    vol = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("x"))
    ranked = distributed_rank(
        vol, [], [F.asc("x"), F.asc("user_id")]
    ).select("x", F.col("_rnk").alias("i"))
    comp = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("i") * F.col("x")).cast("bigint").alias("six"),
    )
    return comp.select(
        F.col("n").alias("n_markets"),
        F.round(
            F.lit(2.0) * F.col("six") / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + 1) / F.col("n").cast("double"),
            6,
        ).alias("gini"),
    )


@register(
    "rolling_features",
    """
    WITH c0 AS (
      SELECT user_id, event_id, ts, value,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value > 0
    ),
    f AS (
      SELECT user_id, event_id,
             LN(value / LAG(value) OVER w) AS ret_1,
             value - LAG(value, 5) OVER w AS momentum_5,
             CAST(SUM(c) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sc_5,
             COUNT(*) OVER (w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS n_5,
             CAST(SUM(c * c) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS scc_20,
             CAST(SUM(c) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS sc_20,
             COUNT(*) OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS n_20
      FROM c0
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, event_id,
           ROUND(ret_1, 6) AS ret_1,
           ROUND(momentum_5, 6) AS momentum_5,
           CAST((2 * 10000 * sc_5 + n_5) // (2 * n_5) AS DOUBLE) / 1000000.0 AS ma_5,
           CAST((2 * 100 * (n_20 * scc_20 - sc_20 * sc_20) + n_20 * n_20)
                // (2 * n_20 * n_20) AS DOUBLE) / 1000000.0 AS var_20
    FROM f
    """,
    doc=(
        "Multi-horizon rolling feature matrix per print: 1-tick log "
        "return, 5-tick momentum, 5-tick moving average, and 20-tick "
        "rolling variance — the standard per-entity feature builder "
        "feeding a training pipeline (one row out per event, the only "
        "full-tape-output op in the family, because a feature matrix "
        "IS the tape). Every feature shares the SAME (market, ts, id) "
        "window order, so Spark plans ONE exchange and one sort for "
        "all six window functions. Rolling moments accumulate as exact "
        "BIGINT CENTS inside the frame (first draft used "
        "DECIMAL(38,12) of the double v*v — at v^2 ~ 1e4 the double "
        "ulp equals the 1e-12 decimal grain, and the cast's tie "
        "rounding flipped 18 var_20 values at sf0.1; c*c in integer "
        "cents-squared has NO conversion step to disagree on); "
        "variance comes from the two integer moments in closed form. Short-history rows get "
        "NULL returns/momentum and partial-frame averages, "
        "identically in both engines."
    ),
)
def q_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Every window here reads ≤19 preceding rows (lag 1, lag 5, ROWS -4
    # and -19 frames), so the whole feature matrix runs on the
    # win_moving_avg RANK-chunked ghost decomposition: distributed_rank
    # lifts the key-global row number, blocks of B ghost their last 19
    # rows forward, and all six window functions run locally per
    # (key, chunk) over reals + ghosts — identical frame rows, so the
    # BIGINT moments (and everything downstream of them) are bit-exact
    # vs the whole-history oracle. No task ever sorts a market's tape.
    from nt_etl_order_book_spark.operators.windows import distributed_rank

    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    base = ev.select("user_id", "event_id", "ts", "value", c.alias("c"))
    r = distributed_rank(base, ["user_id"], [F.asc("ts"), F.asc("event_id")])
    B, K = ROLLING_CHUNK, 19
    chunked = r.withColumn("_ch", F.floor((F.col("_rnk") - 1) / B))
    ghosts = (
        chunked.filter(((F.col("_rnk") - 1) % B) >= B - K)
        .withColumn("_ch", F.col("_ch") + 1)
        .withColumn("_g", F.lit(1))
    )
    u = chunked.withColumn("_g", F.lit(0)).unionByName(ghosts)
    w = Window.partitionBy("user_id", "_ch").orderBy("_rnk")
    w5 = w.rowsBetween(-4, Window.currentRow)
    w20 = w.rowsBetween(-19, Window.currentRow)
    v = F.col("value")
    sc5 = F.sum("c").over(w5)
    n5 = F.count(F.lit(1)).over(w5)
    scc20 = F.sum(F.col("c") * F.col("c")).over(w20)
    sc20 = F.sum("c").over(w20)
    n20 = F.count(F.lit(1)).over(w20)
    f = u.select(
        "user_id",
        "event_id",
        "_g",
        F.log(v / F.lag(v).over(w)).alias("ret_1"),
        (v - F.lag(v, 5).over(w)).alias("momentum_5"),
        sc5.alias("sc_5"),
        n5.alias("n_5"),
        scc20.alias("scc_20"),
        sc20.alias("sc_20"),
        n20.alias("n_20"),
    ).filter(F.col("_g") == 0)
    # 6-dp rounding happens IN INTEGER ARITHMETIC on the true rational
    # (half-up via (2a + b) div (2b)): ROUND(double, 6) disagrees
    # between engines when the double lands ~1e-10 from a .5 boundary
    # (caught at sf0.1) — with exact integer moments no double exists
    # until the final /1e6, which is exact for these magnitudes.
    return f.select(
        "user_id",
        "event_id",
        F.round("ret_1", 6).alias("ret_1"),
        F.round("momentum_5", 6).alias("momentum_5"),
        (F.expr("(2 * 10000 * sc_5 + n_5) div (2 * n_5)").cast("double") / 1_000_000.0).alias("ma_5"),
        (
            F.expr(
                "(2 * 100 * (n_20 * scc_20 - sc_20 * sc_20) + n_20 * n_20)"
                " div (2 * n_20 * n_20)"
            ).cast("double")
            / 1_000_000.0
        ).alias("var_20"),
    )


@register(
    "overnight_gap",
    """
    WITH keyed AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events WHERE value > 0
    ),
    daily AS (
      SELECT user_id, day,
             arg_min(c, k) AS open_c,
             arg_max(c, k) AS close_c
      FROM keyed GROUP BY user_id, day
    ),
    gaps AS (
      SELECT user_id, day, open_c,
             LAG(close_c) OVER (PARTITION BY user_id ORDER BY day) AS prev_close_c
      FROM daily
    )
    SELECT user_id,
           COUNT(prev_close_c) AS n_gaps,
           ROUND(CAST(SUM(CAST(ABS(CAST(open_c - prev_close_c AS DOUBLE))
                               / prev_close_c * 10000 AS DECIMAL(38,18)))
                      AS DOUBLE) / nullif(COUNT(prev_close_c), 0), 6)
             AS mean_abs_gap_bps,
           ROUND(MAX(ABS(CAST(open_c - prev_close_c AS DOUBLE)) / prev_close_c * 10000), 6)
             AS max_abs_gap_bps
    FROM gaps GROUP BY user_id
    """,
    doc=(
        "Overnight-gap profile per market: |open - previous close| / "
        "previous close in bps, averaged and maxed across days — the "
        "session-boundary risk statistic (gaps are where stops fail "
        "and close-to-close vol hides; complements ohlc_volatility's "
        "intraday ranges). Open/close from min_by/max_by on the "
        "unique OHLC key IN INTEGER CENTS, so the gap ratio is a "
        "double over exact integers; per-day bps terms accumulate as "
        "DECIMAL(38,18); the first day of each market has no prior "
        "close and is excluded by COUNT/SUM null semantics "
        "identically in both engines. One day-grain aggregate, one "
        "tiny lag window over days x markets, one market-grain "
        "aggregate."
    ),
)
def q_overnight_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    c = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"), c.alias("c"), k.alias("k")
    )
    daily = keyed.groupBy("user_id", "day").agg(
        F.min_by("c", "k").alias("open_c"), F.max_by("c", "k").alias("close_c")
    )
    wd = Window.partitionBy("user_id").orderBy("day")
    gaps = daily.select(
        "user_id", "day", "open_c", F.lag("close_c").over(wd).alias("prev_close_c")
    )
    bps = (
        F.abs((F.col("open_c") - F.col("prev_close_c")).cast("double"))
        / F.col("prev_close_c")
        * 10000
    )
    return gaps.groupBy("user_id").agg(
        F.count("prev_close_c").alias("n_gaps"),
        F.round(
            F.sum(bps.cast("decimal(38,18)")).cast("double")
            / F.nullif(F.count("prev_close_c"), F.lit(0)),
            6,
        ).alias("mean_abs_gap_bps"),
        F.round(F.max(bps), 6).alias("max_abs_gap_bps"),
    )
