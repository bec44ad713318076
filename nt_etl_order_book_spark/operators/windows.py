"""Window functions — SURVEY §2.6.

Depth-of-book ranking, lag/lead change detection, cumulative depth,
moving averages, latest-snapshot-per-key, and best-bid/ask — the
analytics the reference's output tables exist to answer.

Every window ordering carries a unique tiebreak (event_id / linenumber)
so results are total-ordered and replay-stable. Running sums over
doubles are deterministic once the order is total (sequential frame
evaluation), but framed AVGs still accumulate in DECIMAL for exactness.

Scale: no query here sorts a key's whole history, or the whole input,
in one task. Prefix and lag/lead windows run day-chunked through
`timeseries.chunked_prefix` / `chunked_shift` (one row-grain shuffle on
(key, day) plus small chunk-grain frames); global and keyed ranks go
through `distributed_rank`'s range partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nt_etl_order_book_spark.operators.aggregates import DEC
from nt_etl_order_book_spark.registry import register
from nt_etl_order_book_spark.session import spread
from nt_etl_order_book_spark.tables import load_table

# Rank-chunk width for the ghost-row ROWS-frame decomposition
# (win_moving_avg). Must exceed the frame depth so the previous chunk
# always holds the full lookback; tests shrink it to force multi-chunk
# keys on small constructed frames.
MOVING_AVG_CHUNK = 4096


@register(
    "win_rank_topk_depth",
    """
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, l_quantity,
             ROW_NUMBER() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC) AS rn,
             RANK()       OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC) AS rnk,
             DENSE_RANK() OVER (PARTITION BY l_orderkey ORDER BY l_quantity DESC, l_linenumber ASC) AS drnk
      FROM lineitem
    )
    SELECT l_orderkey, l_linenumber, l_quantity, rn, rnk, drnk
    FROM ranked WHERE rn <= 3
    """,
    doc="Top-k price levels per (ticker, side): depth-of-book ranking.",
)
def q_win_rank_topk_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread by the WINDOW key (r15 optimization round): the window's
    # required distribution is then already satisfied, so the plan keeps
    # ONE exchange — but the sort + WindowGroupLimit run across the
    # cluster instead of inside the single-row-group scan's one task
    # (measured 1.16 → 0.46 s at sf0.1; no-op at scale where the scan
    # splits feed the partial WindowGroupLimit in parallel already).
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_quantity"
        ),
        "l_orderkey",
    )
    w = Window.partitionBy("l_orderkey").orderBy(F.desc("l_quantity"), F.asc("l_linenumber"))
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag_lead",
    """
    SELECT user_id, event_id, ts, value,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
    FROM events
    """,
    doc="Price change vs previous observation (lag/lead over the time-ordered key window).",
)
def q_win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked lag AND lead from ONE chunk-grain frame
    # (chunked_shift): same picked rows as the global window, so
    # bit-identical.
    from nt_etl_order_book_spark.operators.timeseries import chunked_shift

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id", "event_id", "ts", "value", F.date_trunc("day", "ts").alias("chunk")
    )
    return chunked_shift(
        base, "user_id", ["ts", "event_id"], "value", lag="prev_value", lead="next_value"
    ).drop("chunk")


@register(
    "win_running_sum",
    """
    SELECT user_id, event_id, ts,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS running_value
    FROM events
    """,
    doc="Cumulative depth: running sum over the full history per key.",
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked prefix sum (chunked_prefix): scale-6 decimal addition
    # is exact and associative, so it is bit-identical to the global
    # window the oracle runs.
    from nt_etl_order_book_spark.operators.timeseries import chunked_prefix

    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        "ts",
        F.col("value").cast(DEC).alias("_dv"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    return chunked_prefix(base, "user_id", ["ts", "event_id"], "_dv", "sum", "_run").select(
        "user_id", "event_id", "ts", F.col("_run").cast("double").alias("running_value")
    )


@register(
    "win_moving_avg",
    """
    SELECT user_id, event_id, ts,
           CAST(
             CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE)
             / COUNT(value) OVER w
           AS DOUBLE) AS moving_avg5
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
    doc="Moving average over the last 5 observations per key (frame-spec window).",
)
def q_win_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Bounded ROWS frames decompose too — RANK-chunked ghost rows:
    # distributed_rank lifts a key-global row number without a
    # whole-key sort, rows chunk in blocks of B = 4096 ≥ frame depth
    # (every non-final chunk is exactly B rows, so the previous chunk
    # always holds the full lookback — the chain problem day-chunking
    # has with ROWS frames disappears), each chunk's last 4 rows copy
    # flagged into the next chunk, and the 4-PRECEDING frame runs
    # locally per (key, chunk) over reals + ghosts. Every row's frame
    # is exactly its global frame (ghosts ARE its global predecessors,
    # ordered by the same _rnk), so the decimal sum / non-null count
    # are bit-identical to the whole-history window the oracle runs.
    events = load_table(spark, sf_dir, "events")
    sel = events.select("user_id", "event_id", "ts", "value")
    r = distributed_rank(sel, ["user_id"], [F.asc("ts"), F.asc("event_id")])
    B, K = MOVING_AVG_CHUNK, 4
    chunked = r.withColumn("_ch", F.floor((F.col("_rnk") - 1) / B))
    ghosts = (
        chunked.filter(((F.col("_rnk") - 1) % B) >= B - K)
        .withColumn("_ch", F.col("_ch") + 1)
        .withColumn("_g", F.lit(1))
    )
    u = chunked.withColumn("_g", F.lit(0)).unionByName(ghosts)
    w = Window.partitionBy("user_id", "_ch").orderBy("_rnk").rowsBetween(-K, 0)
    return (
        u.select(
            "user_id",
            "event_id",
            "ts",
            "_g",
            (
                F.sum(F.col("value").cast(DEC)).over(w).cast("double")
                / F.count("value").over(w)
            )
            .cast("double")
            .alias("moving_avg5"),
        )
        .filter(F.col("_g") == 0)
        .drop("_g")
    )


@register(
    "win_range_frame",
    """
    SELECT user_id, event_id, ts,
           COUNT(*) OVER w AS n_last_hour,
           CAST(SUM(CAST(value AS DECIMAL(30,6))) OVER w AS DOUBLE) AS sum_last_hour
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_ms(ts)
      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW
    )
    """,
    doc="RANGE frame on event-time seconds: all observations within the trailing hour per key (time-range window, not row-count).",
)
def q_win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked via GHOST-ROW overlap: the trailing-hour frame of a
    # row in the first hour of day D reaches only rows from the LAST
    # hour of day D-1 (1 h < 1 day, so the reach never spans two
    # boundaries). Each last-hour row is therefore copied — flagged —
    # into the next calendar day's chunk (date_trunc(ts + 1 h) differs
    # from its own day exactly for last-hour rows), the RANGE window
    # runs within (user, day) over reals + ghosts, and ghosts are
    # dropped from the output. Every global frame's row set is present
    # in-chunk exactly once, and COUNT/decimal-SUM are order-free, so
    # the result is bit-identical to the whole-history window the
    # oracle runs. Cost: duplicating the last-hour fraction of the
    # tape (frame/chunk ratio) instead of sorting hot keys whole.
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    spill = F.date_trunc("day", F.col("ts") + F.expr("interval 1 hour"))
    ghosts = (
        base.filter(spill != F.col("chunk"))
        .withColumn("chunk", spill)
        .withColumn("_g", F.lit(1))
    )
    u = base.withColumn("_g", F.lit(0)).unionByName(ghosts)
    w = (
        Window.partitionBy("user_id", "chunk")
        .orderBy("ts_ms")
        .rangeBetween(-3_600_000, 0)
    )
    return (
        u.select(
            "user_id",
            "event_id",
            "ts",
            "_g",
            F.count(F.lit(1)).over(w).alias("n_last_hour"),
            F.sum(F.col("value").cast(DEC)).over(w).cast("double").alias("sum_last_hour"),
        )
        .filter(F.col("_g") == 0)
        .drop("_g")
    )


@register(
    "win_first_last",
    """
    WITH ranked AS (
      SELECT user_id, ts, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    SELECT user_id, ts AS last_ts, value AS last_value
    FROM ranked WHERE rn = 1
    """,
    doc="Latest observation per key (latest snapshot per ticker analog).",
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_by aggregate, NOT a row_number window: partial (map-side)
    # max states combine per key, so a hot market's tape never sorts —
    # the (ts, event_id) struct max picks the same unique row the
    # ROW_NUMBER-desc oracle keeps.
    events = load_table(spark, sf_dir, "events")
    picked = events.groupBy("user_id").agg(
        F.max_by(F.struct("ts", "value"), F.struct("ts", "event_id")).alias("_m")
    )
    return picked.select(
        "user_id",
        F.col("_m")["ts"].alias("last_ts"),
        F.col("_m")["value"].alias("last_value"),
    )


@register(
    "session_islands",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch_ms(ts) - epoch_ms(LAG(ts) OVER w) > 3600000
                   OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM marked
    )
    SELECT user_id, session_id,
           COUNT(*) AS n_events,
           epoch_ms(MIN(ts)) AS session_start_ms,
           epoch_ms(MAX(ts)) AS session_end_ms
    FROM sessions
    GROUP BY user_id, session_id
    """,
    doc=(
        "Sessionization (gaps-and-islands): a >1h silence starts a new "
        "session per key — the batch, oracle-checkable twin of the "
        "streaming session_window aggregation (session_bursts)."
    ),
)
def q_session_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Day-chunked decomposition with a SINGLE chunk-grain side frame
    # (the first draft forked the row-level pipeline twice — once for
    # the local cumsum window, once for the day totals — re-running
    # the scan+lag-carry chain per branch: 4 parquet scans, 1.66 s at
    # sf0.1; this form measures 1.06 s with 2 scans, and the plain
    # whole-history window it replaces was 0.63 s — the premium is the
    # second scan plus the chunk hop, bought for the hot-key fan-out).
    #
    # Chunk grain carries BOTH cross-midnight facts in one pass:
    #   - prev_last_ms: the previous day's last timestamp (lag carry,
    #     so a session spanning midnight stays one session), and
    #   - carry_ns: sessions started in all PRIOR days (prefix-sum
    #     carry). day_ns decomposes as in-day gap count + the
    #     first-row flag, and the first-row flag is itself chunk-grain
    #     arithmetic (first_ms vs prev day's last_ms) — so day totals
    #     never need the row-level pass. In-day gaps come from the
    #     sorted ms array of the day (consecutive differences are
    #     invariant to the (ts, event_id) tiebreak: equal ts ⇒ equal
    #     ms, so the non-decreasing ms sequence is order-unique); the
    #     array is bounded by one market-day — the same bound the
    #     (user, day) window task already assumes.
    # Integer arithmetic throughout, bit-identical to the
    # whole-history windows the oracle runs.
    T = 3_600_000
    events = load_table(spark, sf_dir, "events")
    base = events.select(
        "user_id",
        "ts",
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ms"),
        F.date_trunc("day", "ts").alias("chunk"),
    )
    n1 = F.greatest(F.size("arr") - 1, F.lit(0))
    day = (
        base.groupBy("user_id", "chunk")
        .agg(F.sort_array(F.collect_list("ms")).alias("arr"))
        .select(
            "user_id",
            "chunk",
            F.element_at("arr", 1).alias("first_ms"),
            F.element_at("arr", -1).alias("last_ms"),
            F.size(
                F.filter(
                    F.zip_with(
                        F.slice(F.col("arr"), 2, n1),
                        F.slice(F.col("arr"), 1, n1),
                        lambda a, b: a - b,
                    ),
                    lambda g: g > T,
                )
            ).alias("in_gaps"),
        )
    )
    wch = Window.partitionBy("user_id").orderBy("chunk")
    day2 = day.select(
        "user_id",
        "chunk",
        "in_gaps",
        "first_ms",
        F.lag("last_ms").over(wch).alias("prev_last_ms"),
    ).withColumn(
        "day_ns",
        F.col("in_gaps")
        + F.when(
            F.col("prev_last_ms").isNull()
            | ((F.col("first_ms") - F.col("prev_last_ms")) > T),
            1,
        ).otherwise(0),
    )
    wcarry = wch.rowsBetween(Window.unboundedPreceding, -1)
    chunk_frame = day2.select(
        "user_id",
        "chunk",
        "prev_last_ms",
        F.coalesce(F.sum("day_ns").over(wcarry), F.lit(0)).alias("carry_ns"),
    )
    wloc = Window.partitionBy("user_id", "chunk").orderBy("ts", "event_id")
    wcum = wloc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows = (
        base.join(chunk_frame, ["user_id", "chunk"])
        .select(
            "user_id",
            "ts",
            "event_id",
            "chunk",
            "ms",
            "prev_last_ms",
            "carry_ns",
            F.row_number().over(wloc).alias("rn"),
            F.lag("ms").over(wloc).alias("lag_ms"),
        )
        .withColumn(
            "prev_ms",
            F.when(F.col("rn") == 1, F.col("prev_last_ms")).otherwise(F.col("lag_ms")),
        )
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ms").isNull() | ((F.col("ms") - F.col("prev_ms")) > T), 1
            ).otherwise(0),
        )
        .withColumn("session_id", F.col("carry_ns") + F.sum("new_session").over(wcum))
    )
    return rows.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.unix_millis(F.min("ts").cast("timestamp")).alias("session_start_ms"),
        F.unix_millis(F.max("ts").cast("timestamp")).alias("session_end_ms"),
    )


@register(
    "win_ntile",
    """
    SELECT o_orderkey, o_totalprice,
           NTILE(4) OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS price_quartile
    FROM orders
    """,
    doc="NTILE bucketing over a total order (price quartiles; unique tiebreak keeps assignment stable).",
)
def q_win_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return distributed_ntile(
        orders, 4, [F.desc("o_totalprice"), F.asc("o_orderkey")]
    ).withColumnRenamed("ntile", "price_quartile")


def distributed_ntile(df: DataFrame, n_buckets: int, order_cols: list) -> DataFrame:
    """ANSI NTILE over a total order WITHOUT the single-partition window.

    A bare NTILE(k) OVER (ORDER BY ...) moves the whole input into one
    window task. Decomposition: `distributed_rank` with no keys (the
    caller must include a unique tiebreak so the order is total), then
    the closed-form bucket: the first n % k buckets get ceil(n/k) rows,
    the rest floor(n/k) — exactly ANSI NTILE, which the DuckDB oracle
    runs natively, so the hash match proves the decomposition. Output:
    input columns + ``ntile``. Building the result runs a Spark job
    (see `distributed_rank`'s SIDE EFFECT note).
    """
    ranked = distributed_rank(df, [], order_cols)
    rnk = F.col("_rnk")
    k = F.lit(n_buckets)
    q = F.floor(F.col("_n") / k)
    r = F.col("_n") % k
    cut = r * (q + 1)
    bucket = (
        F.when(rnk <= cut, F.floor((rnk - 1) / (q + 1)) + 1)
        .otherwise(r + F.floor((rnk - 1 - cut) / F.greatest(q, F.lit(1))) + 1)
        .cast("int")
    )
    return ranked.select(*df.columns, bucket.alias("ntile"))


def _range_parts(df: DataFrame) -> int:
    """Range-partition fan-out for the rank decompositions: the
    session's configured shuffle parallelism, not a constant, so the
    split count grows with the deployment (1000-executor clusters run
    thousands of shuffle partitions; a hardcoded 32 would leave one
    range per ~30 executors). Clamped to 4× the session's core count:
    ranges beyond that add offsets-frame rows and task overhead without
    adding parallelism (an un-tuned local session carries Spark's
    200-partition default against a handful of cores), while on a real
    cluster 4×cores ≥ the configured parallelism so the clamp never
    bites. Broad except: conf.get can fail through Py4J wrappers too,
    and the fallback must hold for any failure shape."""
    try:
        conf_parts = max(int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")), 1)
    except Exception:
        return 32
    try:
        cores = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return conf_parts
    return min(conf_parts, max(4 * cores, 32))


def distributed_rank(df: DataFrame, keys: list[str], order_cols: list) -> DataFrame:
    """Keyed global ROW_NUMBER + per-key count WITHOUT sorting a key's
    partition in one task: range-partition on (keys +
    order_cols) so each key's rows stay order-contiguous across
    partitions, rank locally per (partition, key), lift with per-
    (key, partition) count offsets (the only cross-partition window
    runs over |partitions|×|keys| rows, broadcast back). The caller
    must make order_cols a TOTAL order (unique tiebreak) — then the
    lifted rank equals RANK()/ROW_NUMBER() and per-key ``n`` feeds the
    PERCENT_RANK/CUME_DIST closed forms exactly. ``keys`` may be empty
    for a global total order (the offsets frame is then |partitions|
    rows). Output: input columns + ``_rnk`` + ``_n``.

    SIDE EFFECT: building the returned DataFrame runs a Spark job —
    the ranked frame is eagerly checkpointed (the in-body comment
    explains the row-loss the lineage cut prevents), and the blocks
    live until the superseded frame is GC'd on the driver. Callers
    that construct plans without executing them still pay that job.

    The offsets frame is |partitions|×|keys| rows and is broadcast —
    right for the bounded key counts every caller has (markets, days).
    """
    from nt_etl_order_book_spark.session import checkpoint_frame

    kcols = [F.col(k) for k in keys]
    parts = df.repartitionByRange(
        _range_parts(df), *kcols, *order_cols
    ).withColumn("_pid", F.spark_partition_id())
    wloc = Window.partitionBy("_pid", *keys).orderBy(*order_cols)
    # Materialize the ranked frame BEFORE forking into the counts branch
    # and the join probe: spark_partition_id() is nondeterministic and
    # repartitionByRange re-SAMPLES its boundaries per execution, so two
    # recomputations of this subtree can assign different _pid values —
    # the (\_pid, key) join then silently drops rows (caught as a 28-row
    # loss on the win_moving_avg oracle; the lineage cut makes both
    # consumers read the same materialized assignment).
    local = checkpoint_frame(parts.withColumn("_lrn", F.row_number().over(wloc)))
    counts = local.groupBy("_pid", *keys).agg(F.count(F.lit(1)).alias("_cnt"))
    # BOUNDED-FRAME: the offset windows run over the counts frame —
    # |partitions|×|keys| rows by construction (|partitions| total when
    # keys=[], where the spec degenerates to unpartitioned and the
    # WindowExec "No Partition Defined" WARN is the intended plan).
    woff = (
        Window.partitionBy(*keys)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_pid",
        *keys,
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(Window.partitionBy(*keys)).alias("_n"),
    )
    return local.join(F.broadcast(offsets), ["_pid", *keys]).select(
        *df.columns, (F.col("_off") + F.col("_lrn")).alias("_rnk"), "_n"
    )


@register(
    "best_bid_ask",
    """
    SELECT user_id,
           MAX(CASE WHEN event_type = 'click' THEN value END) AS best_bid,
           MIN(CASE WHEN event_type = 'view'  THEN value END) AS best_ask,
           MIN(CASE WHEN event_type = 'view'  THEN value END)
             - MAX(CASE WHEN event_type = 'click' THEN value END) AS spread
    FROM events
    WHERE event_type IN ('click', 'view')
    GROUP BY user_id
    """,
    doc=(
        "Best bid/ask + spread per market: conditional MAX/MIN over sides "
        "(bid = highest yes with contracts>0 in the order-book domain)."
    ),
)
def q_best_bid_ask(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    bid = F.max(F.when(F.col("event_type") == "click", F.col("value")))
    ask = F.min(F.when(F.col("event_type") == "view", F.col("value")))
    return (
        events.filter(F.col("event_type").isin("click", "view"))
        .groupBy("user_id")
        .agg(
            bid.alias("best_bid"),
            ask.alias("best_ask"),
            (ask - bid).alias("spread"),
        )
    )


@register(
    "win_cume_dist",
    """
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           PERCENT_RANK() OVER w AS pct_rank,
           CUME_DIST() OVER w AS cume
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    doc=(
        "Relative-rank windows: PERCENT_RANK + CUME_DIST per priority "
        "class (unique tiebreak keeps both exact across engines — the "
        "values are integer-ratio doubles, identical under IEEE division)."
    ),
)
def q_win_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distributed_rank decomposition: with the unique (o_totalprice,
    # o_orderkey) tiebreak the order is TOTAL, so RANK == ROW_NUMBER,
    # PERCENT_RANK = (rnk-1)/(n-1), CUME_DIST = rnk/n — the same
    # integer-ratio IEEE divisions the builtin windows produce, without
    # ever sorting a priority class (5 keys at any scale) in one task.
    orders = load_table(spark, sf_dir, "orders")
    sel = orders.select("o_orderkey", "o_orderpriority", "o_totalprice")
    r = distributed_rank(
        sel, ["o_orderpriority"], [F.asc("o_totalprice"), F.asc("o_orderkey")]
    )
    rnk = F.col("_rnk").cast("double")
    n = F.col("_n").cast("double")
    return r.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.when(F.col("_n") > 1, (rnk - 1) / (n - 1)).otherwise(F.lit(0.0)).alias("pct_rank"),
        (rnk / n).alias("cume"),
    )


@register(
    "resample_ffill",
    """
    WITH ev AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
        FROM events
      ) WHERE rn = 1
    ),
    bounds AS (
      SELECT user_id, date_trunc('day', MIN(ts)) AS h0, date_trunc('day', MAX(ts)) AS h1
      FROM events GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, UNNEST(generate_series(h0, h1, INTERVAL 1 DAY)) AS gts FROM bounds
    )
    SELECT g.user_id, g.gts, e.value AS ffill_value
    FROM grid g ASOF LEFT JOIN ev e
      ON g.user_id = e.user_id AND g.gts >= e.ts
    """,
    doc=(
        "Time-series resampling with forward fill: a daily grid per "
        "user from its first to last event day, each grid point carrying "
        "the most recent event value at or before it (NULL before the "
        "first event — the day-boundary grid start precedes it). The "
        "gap-filling half of every OHLC/telemetry downsampler. "
        "Implementation IS asof_join(grid, deduped events): grid points "
        "are the left side, (per-(user, ts) deduped, max-event_id) "
        "events the right, ≤ semantics from the shared kernel — which "
        "also brings its day-chunked running last (no whole-key sort; "
        "the value rides in a struct so a null-valued event is still "
        "'a row' and never filled past). Grid size is span/day per key "
        "(bounded by retention, independent of event volume); the "
        "DuckDB oracle is a native ASOF LEFT JOIN against the same "
        "deduped events."
    ),
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nt_etl_order_book_spark.operators.joins import asof_join

    ev_raw = load_table(spark, sf_dir, "events")
    # Same-timestamp events collapse to the max-event_id row so the
    # as-of pick is deterministic (mirrors the oracle's ROW_NUMBER).
    w_dedup = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    ev = (
        ev_raw.select("user_id", "ts", "value", "event_id")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts", "value")
    )
    bounds = ev_raw.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("h0"),
        F.date_trunc("day", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 day"))).alias("gts"),
    )
    return asof_join(
        grid, ev, key="user_id", left_ts="gts", right_ts="ts", value_cols=["value"]
    ).select("user_id", "gts", F.col("asof_value").alias("ffill_value"))


@register(
    "ohlc_bars",
    """
    WITH keyed AS (
      SELECT user_id,
             date_trunc('hour', ts) AS bar_ts,
             value,
             epoch_us(ts) * 1000 + event_id AS k
      FROM events
    )
    SELECT user_id, bar_ts,
           arg_min(value, k) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, k) AS close,
           COUNT(*) AS n_events
    FROM keyed
    GROUP BY user_id, bar_ts
    """,
    doc=(
        "Hourly OHLC bars per user: open/close via min_by/max_by on a "
        "UNIQUE composite key (epoch-µs scaled + event_id — two events "
        "on the same microsecond cannot make open/close "
        "partition-order-dependent), high/low plain extremes. The "
        "canonical financial downsampler, ONE hash aggregate with "
        "map-side partial combine — no window, no sort; at any scale "
        "the shuffle carries one partial bar per (user, hour) per "
        "partition. The aggregation twin of resample_ffill's "
        "gap-filling grid."
    ),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Unique tiebreak key: epoch microseconds leaves headroom for
    # event_id in the low bits only if scaled; *1000 then + event_id is
    # collision-free while event counts per microsecond < 1000 (fixture
    # ids are globally unique anyway — the key only needs uniqueness).
    # NTZ → timestamp cast is exact under the UTC session discipline
    # (the win_range_frame pattern); unix_micros needs TIMESTAMP.
    k = F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000) + F.col("event_id")
    keyed = ev.select(
        "user_id",
        F.date_trunc("hour", F.col("ts")).alias("bar_ts"),
        "value",
        k.alias("k"),
    )
    return keyed.groupBy("user_id", "bar_ts").agg(
        F.min_by("value", "k").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by("value", "k").alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )
