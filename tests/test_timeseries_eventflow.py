"""Constructed-input correctness + plan gates for the r5 time-series,
event-flow, and quality families (timeseries.py / eventflow.py /
quality.py). The fixture-vs-DuckDB hash check lives in tools/check.py;
these tests pin the SEMANTICS on inputs the fixture can't express
(day boundaries, strict funnel ordering, planted outliers, degenerate
text) and the plan shapes the 100 TB claims rest on."""

from __future__ import annotations

import datetime as dt
import math
import zlib

import pytest

from nt_etl_order_book_spark import registry
from nt_etl_order_book_spark.functions import quality as qualmod
from nt_etl_order_book_spark.operators import eventflow as flowmod
from nt_etl_order_book_spark.operators import timeseries as tsmod
from nt_etl_order_book_spark.plans.explain import (
    count_shuffles,
    formatted_plan,
    plan_has_partial_aggregate,
    plan_uses_broadcast_join,
    scan_read_schema,
)

T = dt.datetime
EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _events(spark, rows):
    return spark.createDataFrame(rows, EV_SCHEMA)


def _run(module, name, spark, frame):
    orig = module.load_table
    try:
        module.load_table = lambda _s, _d, _n: frame
        return registry.all_specs()[name].fn(spark, "_").collect()
    finally:
        module.load_table = orig


# ---------------------------------------------------------------- timeseries


def test_realized_volatility_intraday_only_and_single_tick_day(spark):
    # Day 1: 100 -> 110 (one return). Day 2: single tick — the
    # day-boundary 110 -> 50 move must NOT appear as a return.
    rows = [
        (1, T(2024, 1, 1, 9), 7, "view", 100.0),
        (2, T(2024, 1, 1, 10), 7, "view", 110.0),
        (3, T(2024, 1, 2, 9), 7, "view", 50.0),
    ]
    out = {r.day.day: (r.rv, r.n_ret) for r in _run(tsmod, "realized_volatility", spark, _events(spark, rows))}
    assert out[1][1] == 1
    assert out[1][0] == pytest.approx(math.log(1.1) ** 2, abs=1e-6)
    assert out[2] == (None, 0)  # single-tick day: NULL rv, zero returns


def test_max_drawdown_running_peak(spark):
    # Path 100 -> 120 -> 60 -> 90: worst drawdown is (120-60)/120 = 0.5
    # (the later recovery to 90 must not mask it).
    rows = [
        (1, T(2024, 1, 1, 9), 7, "view", 100.0),
        (2, T(2024, 1, 1, 10), 7, "view", 120.0),
        (3, T(2024, 1, 1, 11), 7, "view", 60.0),
        (4, T(2024, 1, 1, 12), 7, "view", 90.0),
    ]
    [r] = _run(tsmod, "max_drawdown", spark, _events(spark, rows))
    assert (r.user_id, r.max_drawdown, r.n_events) == (7, 0.5, 4)


def test_interarrival_gaps_scoped_to_user_and_type(spark):
    # User 7 clicks at t0, +10s, +30s -> gaps 10s, 20s. User 8's click
    # and user 7's views must not contaminate the click gap stream.
    t0 = T(2024, 1, 1, 9)
    rows = [
        (1, t0, 7, "click", 1.0),
        (2, t0 + dt.timedelta(seconds=10), 7, "click", 1.0),
        (3, t0 + dt.timedelta(seconds=30), 7, "click", 1.0),
        (4, t0 + dt.timedelta(seconds=1), 7, "view", 1.0),
        (5, t0 + dt.timedelta(seconds=2), 8, "click", 1.0),
    ]
    out = {r.event_type: r for r in _run(tsmod, "interarrival_stats", spark, _events(spark, rows))}
    clk = out["click"]
    assert (clk.n_gaps, clk.max_us) == (2, 20_000_000)
    assert clk.p50_us == pytest.approx(15_000_000.0)  # interpolated median
    assert out["view"].n_gaps == 0


def test_hypertable_rollup_cascade_equals_direct_daily(spark, sf_dir):
    # The two-level (hourly -> daily) cascade must be bit-identical to a
    # direct daily aggregate — the decomposability claim, checked
    # in-engine (the DuckDB oracle re-proves it cross-engine).
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators.aggregates import DEC
    from nt_etl_order_book_spark.tables import load_table

    cascade = registry.all_specs()["hypertable_rollup"].fn(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    direct = ev.groupBy("event_type", F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.sum(F.col("value").cast(DEC)).cast("double").alias("sum_value"),
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )
    key = lambda r: (r.event_type, r.day)  # noqa: E731
    assert sorted(map(tuple, cascade.collect()), key=str) == sorted(
        map(tuple, direct.collect()), key=str
    )


# ----------------------------------------------------------------- eventflow


def test_funnel_requires_strict_first_touch_order(spark):
    t0 = T(2024, 1, 1, 9)
    s = lambda k: t0 + dt.timedelta(seconds=k)  # noqa: E731
    rows = [
        # user 1: view -> click -> purchase (full funnel)
        (1, s(1), 1, "view", 1.0), (2, s(2), 1, "click", 1.0), (3, s(3), 1, "purchase", 1.0),
        # user 2: click BEFORE first view — never reaches step 2
        (4, s(1), 2, "click", 1.0), (5, s(2), 2, "view", 1.0),
        # user 3: view only
        (6, s(1), 3, "view", 1.0),
        # user 4: purchase fired before the click — step 2 yes, step 3 no
        (7, s(1), 4, "purchase", 1.0), (8, s(2), 4, "view", 1.0), (9, s(3), 4, "click", 1.0),
    ]
    [r] = _run(flowmod, "funnel_conversion", spark, _events(spark, rows))
    assert (r.n_users, r.n_step1, r.n_step2, r.n_step3) == (4, 4, 2, 1)


def test_retention_cohort_week_indexing(spark):
    # 2024-01-01 is a Monday. User 1 active weeks 0 and 2 of its
    # cohort; user 2's cohort starts the following week.
    rows = [
        (1, T(2024, 1, 2), 1, "view", 1.0),     # week of 2024-01-01
        (2, T(2024, 1, 17), 1, "view", 1.0),    # week of 2024-01-15 -> index 2
        (3, T(2024, 1, 10), 2, "view", 1.0),    # week of 2024-01-08
    ]
    out = {(r.cohort_week.date().isoformat(), r.week_index): r.n_users
           for r in _run(flowmod, "retention_cohorts", spark, _events(spark, rows))}
    assert out == {("2024-01-01", 0): 1, ("2024-01-01", 2): 1, ("2024-01-08", 0): 1}


def test_anomaly_zscore_flags_planted_outlier(spark):
    t0 = T(2024, 1, 1, 9)
    vals = [8.0, 9.0, 10.0, 11.0, 12.0] * 4 + [1000.0]
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "x", v) for i, v in enumerate(vals)]
    [r] = _run(flowmod, "anomaly_zscore", spark, _events(spark, rows))
    assert (r.med, r.mad, r.n_outliers) == (10.0, 1.0, 1)
    assert r.max_abs_z == pytest.approx(990.0 / 1.4826, abs=1e-6)


# ------------------------------------------------------------------- quality


def test_char_entropy_exact_on_constructed_docs(spark):
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcdefghijklmnopqrstuvwxyz")],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.entropy_nats, r.low_entropy)
           for r in _run(qualmod, "char_entropy", spark, docs)}
    assert out[1] == (0.0, 1)                       # single symbol: zero entropy
    assert out[2][0] == pytest.approx(math.log(2), abs=1e-6) and out[2][1] == 1
    assert out[3][0] == pytest.approx(math.log(26), abs=1e-6) and out[3][1] == 0


def test_compression_ratio_pins_exact_zlib_bytes(spark, sf_dir):
    from nt_etl_order_book_spark.tables import load_table

    got = {r.doc_id: r for r in registry.all_specs()["compression_ratio"].fn(spark, sf_dir).collect()}
    sample = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(5).collect()
    assert sample
    for row in sample:
        raw = row.text.encode("utf-8")
        exp_comp = len(zlib.compress(raw, qualmod.ZLIB_LEVEL))
        r = got[row.doc_id]
        assert (r.raw_bytes, r.zlib_bytes) == (len(raw), exp_comp)
        assert r.ratio == math.floor(len(raw) / exp_comp * 10_000 + 0.5) / 10_000


def test_compression_ratio_orders_repetitive_above_random(spark):
    import random

    rng = random.Random(7)
    rep = "spam ham " * 200
    rnd = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(len(rep)))
    docs = spark.createDataFrame([(1, rep), (2, rnd)], "doc_id long, text string")
    out = {r.doc_id: r.ratio for r in _run(qualmod, "compression_ratio", spark, docs)}
    assert out[1] > 3 * out[2]  # boilerplate compresses far better


# ----------------------------------------------------------------- plan gates


def test_realized_volatility_window_sharded_by_day(spark, sf_dir):
    df = registry.queries()["realized_volatility"](spark, sf_dir)
    # one window exchange + one aggregate exchange, nothing quadratic
    assert count_shuffles(df) <= 2
    cols = scan_read_schema(df)
    assert "props" not in cols and "event_type" not in cols
    # the window partition key must include the day shard, not just user
    assert "day" in formatted_plan(df) or "date_trunc" in formatted_plan(df).lower()


def test_hypertable_rollup_two_level_aggregate(spark, sf_dir):
    df = registry.queries()["hypertable_rollup"](spark, sf_dir)
    assert plan_has_partial_aggregate(df)
    assert count_shuffles(df) == 2  # hourly exchange + daily exchange


def test_anomaly_zscore_stats_broadcast_back(spark, sf_dir):
    df = registry.queries()["anomaly_zscore"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    assert "SortMergeJoin" not in formatted_plan(df)


def test_funnel_single_user_shuffle(spark, sf_dir):
    df = registry.queries()["funnel_conversion"](spark, sf_dir)
    assert plan_has_partial_aggregate(df)
    # user-grain exchange + the 1-row global fold's single-partition pass
    assert count_shuffles(df) <= 2


def test_char_entropy_is_fully_narrow(spark, sf_dir):
    # r15 optimization round: the per-row entropy fold itself is still
    # pure narrow HOF work, but a CONDITIONAL session.spread exchange
    # now sits under it when (and only when) the scan cannot feed every
    # core — the single-row-group fixture. Pin the new shape exactly:
    # at most the one spread repartition (REPARTITION_BY_NUM, never an
    # ENSURE_REQUIREMENTS exchange — i.e. no aggregation/window/join
    # ever demands a distribution), and on an input that already has
    # enough partitions the plan is verifiably exchange-free, which is
    # the 100 TB scan-parallelism claim made testable.
    import re

    from nt_etl_order_book_spark.plans.explain import formatted_plan

    df = registry.queries()["char_entropy"](spark, sf_dir)
    plan = formatted_plan(df)
    exchanges = re.findall(r"\(\d+\) Exchange\n.*?Arguments: ([^\n]*)", plan)
    assert count_shuffles(df) <= 1
    assert all("REPARTITION_BY_NUM" in a for a in exchanges), exchanges
    cols = scan_read_schema(df)
    assert "lang" not in cols and "source" not in cols
    # spread is a no-op once the source splits: same query over a
    # pre-partitioned frame plans ZERO exchanges.
    from nt_etl_order_book_spark.session import spread
    from nt_etl_order_book_spark.tables import load_table

    wide = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    assert spread(wide, "doc_id") is wide


def test_compression_ratio_is_fully_narrow(spark, sf_dir):
    df = registry.queries()["compression_ratio"](spark, sf_dir)
    assert count_shuffles(df) == 0


def test_retention_cohorts_bounded_exchanges(spark, sf_dir):
    df = registry.queries()["retention_cohorts"](spark, sf_dir)
    # distinct grid + cohort agg + join + final agg, all on the same
    # user_id hash partitioning where AQE can reuse it
    assert count_shuffles(df) <= 4


# ------------------------------------------------------------ batch 2 ops


def test_delta_dedup_constructed_collisions(spark):
    from nt_etl_order_book_spark.functions import dedup as dedupmod

    docs = spark.createDataFrame(
        [
            (1, "dup", "s", 3),        # corpus holds "dup"
            (10, "dup", "s", 3),       # batch copy of corpus doc -> dropped
            (20, "new", "s", 3),       # batch-internal dup pair: 20 is canonical
            (30, "new", "s", 3),       #   -> dropped
            (40, "unique", "s", 6),    # genuinely new -> kept
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    orig = dedupmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, _n: docs
        out = sorted(
            r.doc_id
            for r in registry.all_specs()["delta_dedup"].fn(spark, "_").collect()
        )
    finally:
        dedupmod.load_table = orig
    assert out == [20, 40]


def test_heavy_hitters_sketch_equals_exact_on_skewed_corpus(spark):
    # Vocabulary (2000) far exceeds the MG counter budget (256), so the
    # sketch must actually prune — and still find exactly the planted
    # heavy tokens with exact counts.
    from nt_etl_order_book_spark.functions import sketches as skmod

    body = [f"tok{i}" for i in range(1986)]          # 1986 singletons
    hot = ["hot1"] * 500 + ["hot2"] * 300            # planted heavy hitters
    edge = ["edge"] * 14                             # n=2800: 14*200 == n,
    toks = body + hot + edge                         # exactly AT the threshold
    docs = spark.createDataFrame(
        [(i, " ".join(toks[i::8])) for i in range(8)], "doc_id long, text string"
    ).repartition(8)
    orig = skmod.load_table
    try:
        skmod.load_table = lambda _s, _d, _n: docs
        out = {r.token: r.cnt for r in registry.all_specs()["heavy_hitters"].fn(spark, "_").collect()}
    finally:
        skmod.load_table = orig
    # the boundary token must be INCLUDED (>= threshold, integer-exact
    # in both engines — the double-multiply form got this wrong)
    assert out == {"hot1": 500, "hot2": 300, "edge": 14}


def test_heavy_hitters_total_counts_degenerate_docs(spark):
    # r15 optimization: the grand total is sum(size(token_array)) over
    # docs instead of a third full explode pass. Pin the equivalence on
    # the degenerate shapes where the two differ most easily: empty
    # text (split -> [""] -> filtered -> size 0), whitespace-only text,
    # and multi-space runs (split emits "" entries the filter drops).
    # The threshold uses the total, so a miscount flips membership.
    from nt_etl_order_book_spark.functions import sketches as skmod

    docs = spark.createDataFrame(
        [
            (0, "hot hot hot hot"),   # 4 tokens
            (1, ""),                  # 0 tokens
            (2, "   "),               # 0 tokens (whitespace only)
            (3, "hot  hot"),          # 2 tokens (double space)
            (4, "cold"),              # 1 token
        ],
        "doc_id long, text string",
    ).repartition(2)
    orig = skmod.load_table
    try:
        skmod.load_table = lambda _s, _d, _n: docs
        out = {r.token: r.cnt for r in registry.all_specs()["heavy_hitters"].fn(spark, "_").collect()}
    finally:
        skmod.load_table = orig
    # total must be 7 (not 9 from unfiltered splits, not 5 from
    # dropping doc 3's second token): threshold = ceil(7/200) -> 1, so
    # BOTH tokens qualify with exact counts.
    assert out == {"hot": 6, "cold": 1}


def test_event_heatmap_tail_bucket_caps(spark):
    rows = [
        (1, T(2024, 1, 1, 7, 30), 1, "view", 25.0),    # hour 7, bucket 0
        (2, T(2024, 1, 1, 7, 45), 1, "view", 499.0),   # hour 7, bucket 9
        (3, T(2024, 1, 1, 23, 5), 2, "view", 5000.0),  # beyond range -> capped 9
    ]
    out = {(r.hour_of_day, r.vbucket): (r.n, r.sum_value)
           for r in _run(flowmod, "event_heatmap", spark, _events(spark, rows))}
    assert out == {(7, 0): (1, 25.0), (7, 9): (1, 499.0), (23, 9): (1, 5000.0)}


def test_large_orders_having_collapses_before_joins(spark, sf_dir):
    df = registry.queries()["composite_large_orders"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan  # top-100 is never a global sort
    # the lineitem aggregate + HAVING must sit BELOW the joins: the
    # order-grain aggregate appears before any join consumes lineitem
    assert plan_has_partial_aggregate(df)


def test_heavy_hitters_bounded_exchanges_and_broadcast(spark, sf_dir):
    df = registry.queries()["heavy_hitters"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    assert count_shuffles(df) <= 4  # candidate distinct + recount + total fold


def test_delta_dedup_shuffles_digests_not_text(spark, sf_dir):
    df = registry.queries()["delta_dedup"](spark, sf_dir)
    plan = formatted_plan(df)
    import re

    # formatted mode puts Exchange args on their own line:
    #   Arguments: hashpartitioning(digest#6, 8), ENSURE_REQUIREMENTS, ...
    exchange_keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert exchange_keys, "expected at least one hash exchange"
    for args in exchange_keys:
        assert "text" not in args  # only digests/ids move


def test_anomaly_zscore_constant_type_yields_null_not_crash(spark):
    # A constant-valued type has MAD 0: Spark's ANSI double division
    # would THROW on /0 (DuckDB yields NULL) — the nullif guard must
    # make both engines agree on NULL z / zero outliers.
    t0 = T(2024, 1, 1, 9)
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "const", 5.0) for i in range(10)]
    [r] = _run(flowmod, "anomaly_zscore", spark, _events(spark, rows))
    assert (r.med, r.mad, r.n_outliers, r.max_abs_z) == (5.0, 0.0, 0, None)


# ------------------------------------------------------------------ pagerank


def test_pagerank_path_graph_exact(spark):
    # Path graph 1 - 2 - 3 via shared 25-token paragraphs (X, Y): the
    # middle doc must outrank the symmetric endpoints, and all three
    # ranks must match the analytic 3-iteration PageRank.
    from nt_etl_order_book_spark.functions import graph as gmod

    X = " ".join(f"x{i}" for i in range(25))
    Y = " ".join(f"y{i}" for i in range(25))
    docs = spark.createDataFrame(
        [(1, X), (2, X + " " + Y), (3, Y)], "doc_id long, text string"
    )
    orig = gmod.load_table
    try:
        gmod.load_table = lambda _s, _d, _n: docs
        out = {r.doc_id: (r.rank, r.deg)
               for r in registry.all_specs()["pagerank_docs"].fn(spark, "_").collect()}
    finally:
        gmod.load_table = orig
    a, b = 1 / 3, 1 / 3  # endpoint rank, middle rank
    for _ in range(gmod.PR_ITERS):
        a, b = 0.15 / 3 + 0.85 * (b / 2), 0.15 / 3 + 0.85 * (2 * a)
    assert out[1][1] == 1 and out[2][1] == 2 and out[3][1] == 1
    assert out[1][0] == out[3][0] == pytest.approx(a, abs=1e-9)
    assert out[2][0] == pytest.approx(b, abs=1e-9)
    assert out[2][0] > out[1][0]


def test_pagerank_shuffles_ids_not_text(spark, sf_dir):
    df = registry.queries()["pagerank_docs"](spark, sf_dir)
    plan = formatted_plan(df)
    import re

    keys = re.findall(r"hashpartitioning\(([^)]*)\)", plan)
    assert keys
    for args in keys:
        assert "text" not in args  # digests and doc ids only


# ----------------------------------------------------- roll spread / shares


def test_roll_spread_bounce_and_trend(spark):
    # User 7: pure bid-ask bounce 10,12,10,12,... -> strongly negative
    # autocovariance, spread defined. User 8: accelerating uptrend ->
    # positive autocovariance, estimator undefined (NULL) but autocov
    # still reported. Expected values replicate the component-sum
    # formula the operator implements.
    t0 = T(2024, 1, 1, 9)
    bounce = [10.0, 12.0] * 6                       # d alternates +2/-2
    trend = [10.0, 11.0, 13.0, 16.0, 20.0, 25.0]    # d: 1,2,3,4,5 (rising)
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "x", v) for i, v in enumerate(bounce)]
    rows += [(100 + i, t0 + dt.timedelta(seconds=i), 8, "x", v) for i, v in enumerate(trend)]
    out = {r.user_id: r for r in _run(tsmod, "roll_spread", spark, _events(spark, rows))}

    def expected(prices):
        d = [b - a for a, b in zip(prices, prices[1:])]
        pairs = list(zip(d[1:], d[:-1]))
        n = len(pairs)
        sxy = sum(x * y for x, y in pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        cov = (sxy - sx * sy / n) / n
        return n, cov

    n7, cov7 = expected(bounce)
    assert out[7].n_pairs == n7 and cov7 < 0
    assert out[7].autocov == pytest.approx(cov7, abs=1e-6)
    assert out[7].roll_spread == pytest.approx(2 * math.sqrt(-cov7), abs=1e-6)
    n8, cov8 = expected(trend)
    assert out[8].n_pairs == n8 and cov8 > 0
    assert out[8].autocov == pytest.approx(cov8, abs=1e-6)
    assert out[8].roll_spread is None  # undefined under positive autocov


def test_share_of_total_sums_to_one_per_region(spark, sf_dir):
    rows = registry.queries()["share_of_total"](spark, sf_dir).collect()
    by_region = {}
    for r in rows:
        by_region.setdefault(r.region, []).append(r.region_share)
    assert by_region
    for region, shares in by_region.items():
        assert sum(shares) == pytest.approx(1.0, abs=1e-5), region
        assert all(0.0 <= s <= 1.0 for s in shares)


def test_order_flow_imbalance_tick_rule_carry_forward(spark):
    # Prices 10, 12, 12, 12, 11, 11 on one day:
    #   print 1: no prior tick -> NULL sign (counts neither side)
    #   print 2: uptick -> +1
    #   prints 3-4: zero-tick -> CARRY +1
    #   print 5: downtick -> -1
    #   print 6: zero-tick -> carry -1
    # n_up=3, n_down=2, ofi=(3-2)/5=0.2
    t0 = T(2024, 1, 1, 9)
    prices = [10.0, 12.0, 12.0, 12.0, 11.0, 11.0]
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "x", v) for i, v in enumerate(prices)]
    [r] = _run(tsmod, "order_flow_imbalance", spark, _events(spark, rows))
    assert (r.n_up, r.n_down, r.ofi) == (3, 2, 0.2)


def test_order_flow_imbalance_day_sharded_no_whole_history_window(spark, sf_dir):
    # r7 decomposition contract (replaces the old single-exchange gate,
    # which asserted exactly the whole-history-window shape we removed):
    # every FACT-side window is keyed by (user, day-chunk) — the plan
    # carries date_trunc partition keys and no Window node partitioned
    # by user_id alone over the fact. The day-grain carry frames add
    # small exchanges (|markets|×|days| rows); bound the total.
    import re

    df = registry.queries()["order_flow_imbalance"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "date_trunc" in plan.lower()
    assert count_shuffles(df) <= 8
    # No window runs partitioned by user_id ALONE over the raw events:
    # every partition spec that mentions user_id also mentions the
    # chunk column (day). Window specs print as
    # "windowspecdefinition(user_id#.., chunk#.., ts#.. ASC ...".
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan.lower()):
        if "user_id" in spec:
            assert "chunk" in spec or "day" in spec, spec


def test_prefix_dedup_truncation_variants(spark):
    from nt_etl_order_book_spark.functions import dedup as dedupmod

    head = " ".join(f"w{i}" for i in range(dedupmod.PREFIX_TOKENS))
    docs = spark.createDataFrame(
        [
            (1, head + " long tail version one"),
            (2, head + " different tail entirely"),   # same head, new tail
            (3, head + " long tail version one"),     # exact dup of 1
            (4, "unrelated " + head),                 # head not at position 0
            (5, "too short"),                         # < PREFIX_TOKENS: excluded
        ],
        "doc_id long, text string",
    )
    orig = dedupmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, _n: docs
        rows = registry.all_specs()["prefix_dedup"].fn(spark, "_").collect()
    finally:
        dedupmod.load_table = orig
    assert len(rows) == 1  # docs 1,2,3 cluster; 4 has a shifted head; 5 excluded
    [r] = rows
    assert (r.n_docs, r.canonical_doc_id, r.n_distinct_full) == (3, 1, 2)


def test_market_correlation_perfect_anti_and_degenerate(spark):
    # Markets 1 and 2 share the same daily return pattern at different
    # price levels (corr exactly 1), market 3 is the inverse pattern
    # (corr exactly -1), market 4 has zero return variance (corr NULL
    # via the nullif guard — ANSI would crash on /0 otherwise).
    import math as m

    t0 = T(2024, 1, 1, 0)
    pat = [0.1, -0.2, 0.15, 0.05, -0.1]
    rows, eid = [], 0
    for d, x in enumerate(pat):
        day = t0 + dt.timedelta(days=d)
        for mkt, (o, c) in {
            1: (1.0, m.exp(x)),
            2: (2.0, 2.0 * m.exp(x)),
            3: (1.0, m.exp(-x)),
            4: (1.0, 1.0),
        }.items():
            rows.append((eid, day + dt.timedelta(hours=9), mkt, "view", o)); eid += 1
            rows.append((eid, day + dt.timedelta(hours=15), mkt, "view", c)); eid += 1
    out = {(r.u1, r.u2): (r.n_days, r.corr)
           for r in _run(tsmod, "market_correlation", spark, _events(spark, rows))}
    assert out[(1, 2)] == (5, 1.0)
    assert out[(1, 3)] == (5, -1.0)
    assert out[(2, 3)] == (5, -1.0)
    for pair in [(1, 4), (2, 4), (3, 4)]:
        assert out[pair] == (5, None)


def test_benford_audit_exact_digits_and_expectation(spark):
    # Prices chosen so first digits are unambiguous including the
    # sub-dollar case (0.07 -> 7 cents -> digit 7). The Benford column
    # must be log10(1 + 1/d).
    t0 = T(2024, 1, 1, 9)
    prices = [1.23, 19.99, 0.07, 345.0, 3.50]  # digits 1,1,7,3,3
    rows = [(i, t0, 7, "x", v) for i, v in enumerate(prices)]
    out = {r.digit: r for r in _run(flowmod, "benford_audit", spark, _events(spark, rows))}
    assert {d: out[d].n_d for d in out} == {1: 2, 3: 2, 7: 1}
    assert out[1].frac == 0.4 and out[7].frac == 0.2
    for d, r in out.items():
        assert r.benford == pytest.approx(math.log10(1 + 1 / d), abs=1e-6)


def test_hhi_concentration_known_shares(spark):
    # Day 1: one market only -> HHI 10000. Day 2: two equal markets ->
    # 5000. Day 3: 90/10 split -> 8200.
    t0 = T(2024, 1, 1, 0)
    rows, eid = [], 0

    def add(day, mkt, n):
        nonlocal eid
        for i in range(n):
            rows.append((eid, t0 + dt.timedelta(days=day, seconds=i), mkt, "view", 1.0))
            eid += 1

    add(0, 1, 10)
    add(1, 1, 5); add(1, 2, 5)
    add(2, 1, 9); add(2, 2, 1)
    out = {r.day.day: (r.n_markets, r.hhi)
           for r in _run(tsmod, "hhi_concentration", spark, _events(spark, rows))}
    assert out[1] == (1, 10000.0)
    assert out[2] == (2, 5000.0)
    assert out[3] == (2, 8200.0)


def test_cusum_drift_level_shift_vs_flat(spark):
    # Flat series: zero CUSUM everywhere. Level shift 1->3 halfway:
    # mean 2, CUSUM walks to -5 at the shift point, back to 0 at the
    # end -> max |CUSUM| = 5.
    t0 = T(2024, 1, 1, 0)
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "x", v)
            for i, v in enumerate([1.0] * 5 + [3.0] * 5)]
    rows += [(100 + i, t0 + dt.timedelta(seconds=i), 8, "x", 2.5) for i in range(6)]
    out = {r.user_id: (r.n_events, r.max_abs_cusum)
           for r in _run(tsmod, "cusum_drift", spark, _events(spark, rows))}
    assert out[7] == (10, 5.0)
    assert out[8] == (6, 0.0)


def test_dollar_bars_threshold_rollover(spark):
    # K = $1000. Prices $400, $400, $400, $400: pre-tick cumulative is
    # 0/400/800/1200 dollars -> bars 0,0,0,1. Bar 0 holds three ticks
    # (open 400 high/low 400 close 400, notional $1200), bar 1 one.
    from nt_etl_order_book_spark.operators.timeseries import DOLLAR_BAR_CENTS

    assert DOLLAR_BAR_CENTS == 100_000  # test arithmetic assumes $1000 bars
    t0 = T(2024, 1, 1, 9)
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "x", 400.0) for i in range(4)]
    out = {r.bar_id: (r.n_ticks, r.notional_cents, r.open, r.close)
           for r in _run(tsmod, "dollar_bars", spark, _events(spark, rows))}
    assert out == {0: (3, 120_000, 400.0, 400.0), 1: (1, 40_000, 400.0, 400.0)}


def test_ann_filtered_topk_excludes_query_label(spark, sf_dir):
    # Every returned neighbor must carry a label different from its
    # query's label (the filter is part of the search, not a post-hoc
    # trim), and each query still gets a full top-k.
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.tables import load_table

    out = registry.queries()["ann_filtered_topk"](spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    qlab = emb.withColumnRenamed("vec_id", "qid").withColumnRenamed("label", "qlabel")
    nlab = emb.withColumnRenamed("label", "nlabel")
    joined = out.join(qlab, "qid").join(nlab, "vec_id")
    assert joined.filter(F.col("qlabel") == F.col("nlabel")).count() == 0
    per_q = joined.groupBy("qid").count().collect()
    assert per_q and all(r["count"] == 5 for r in per_q)


def test_moments_profile_known_distribution(spark):
    # Symmetric two-point distribution {1, 3}: mean 2, variance 1,
    # skewness 0, excess kurtosis -2 (the two-point minimum). A skewed
    # set {0,0,0,4}: mean 1, var 3, skew (m3-3*m1*m2+2*m1^3)/var^1.5.
    t0 = T(2024, 1, 1, 9)
    rows = [(i, t0 + dt.timedelta(seconds=i), 7, "sym", v)
            for i, v in enumerate([1.0, 3.0] * 10)]
    rows += [(100 + i, t0 + dt.timedelta(seconds=i), 7, "skw", v)
             for i, v in enumerate([0.0, 0.0, 0.0, 4.0] * 5)]
    from nt_etl_order_book_spark.operators import aggregates as aggmod

    out = {r.event_type: r for r in _run(aggmod, "moments_profile", spark, _events(spark, rows))}
    sym = out["sym"]
    assert (sym.mean, sym.variance, sym.skewness, sym.excess_kurtosis) == (2.0, 1.0, 0.0, -2.0)
    skw = out["skw"]
    import numpy as np

    vals = np.array([0.0, 0.0, 0.0, 4.0] * 5)
    m = vals.mean()
    assert skw.mean == pytest.approx(m)
    assert skw.variance == pytest.approx(vals.var(), abs=1e-6)
    assert skw.skewness == pytest.approx(
        ((vals - m) ** 3).mean() / vals.var() ** 1.5, abs=1e-6)
    assert skw.excess_kurtosis == pytest.approx(
        ((vals - m) ** 4).mean() / vals.var() ** 2 - 3, abs=1e-6)


# ------------------------------------------- r5 microstructure additions

EVP_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _pevents(spark, rows):
    return spark.createDataFrame(rows, EVP_SCHEMA)


def test_kyle_lambda_recovers_planted_impact(spark):
    # Plant price impact of exactly 2 cents per unit signed volume:
    # every print moves price by 0.02 * size in the trade direction, so
    # the tick-rule sign equals the true direction and the OLS slope
    # must be exactly 2.0 (intercept 0, zero residual).
    rows = [
        (1, T(2024, 1, 1, 9, 0), 1, "view", 100.00, '{"k": 10}'),   # first: excluded
        (2, T(2024, 1, 1, 9, 1), 1, "view", 100.10, '{"k": 5}'),    # +5 -> +10c
        (3, T(2024, 1, 1, 9, 2), 1, "view", 100.04, '{"k": 3}'),    # -3 -> -6c
        (4, T(2024, 1, 1, 9, 3), 1, "view", 100.18, '{"k": 7}'),    # +7 -> +14c
        (5, T(2024, 1, 1, 9, 4), 1, "view", 100.14, '{"k": 2}'),    # -2 -> -4c
    ]
    out = _run(tsmod, "kyle_lambda", spark, _pevents(spark, rows))
    assert len(out) == 1
    assert out[0].n_obs == 4
    assert out[0].kyle_lambda_cents == pytest.approx(2.0, abs=1e-9)


def test_vpin_buckets_and_zero_size_prints(spark):
    # Bucket volume = 500. Bucket 0: the unclassified first print fills
    # it alone (ratio 0). Bucket 1: two buys (ratio 1). Bucket 2: one
    # buy + one sell of equal size (ratio 0). Then a ZERO-SIZE uptick
    # must set the carried sign without advancing the volume clock, so
    # the final flat-price print classifies as a buy -> bucket 3 ratio
    # 1. VPIN = (0 + 1 + 0 + 1) / 4 = 0.5.
    rows = [
        (1, T(2024, 1, 1, 9, 0), 1, "view", 100.00, '{"k": 500}'),  # no sign yet
        (2, T(2024, 1, 1, 9, 1), 1, "view", 100.10, '{"k": 300}'),  # uptick buy
        (3, T(2024, 1, 1, 9, 2), 1, "view", 100.20, '{"k": 200}'),  # uptick buy
        (4, T(2024, 1, 1, 9, 3), 1, "view", 100.30, '{"k": 250}'),  # uptick buy
        (5, T(2024, 1, 1, 9, 4), 1, "view", 100.20, '{"k": 250}'),  # downtick sell
        (6, T(2024, 1, 1, 9, 5), 1, "view", 100.30, '{"k": 0}'),    # zero-size uptick
        (7, T(2024, 1, 1, 9, 6), 1, "view", 100.30, '{"k": 500}'),  # flat: carries +1
    ]
    out = _run(tsmod, "vpin", spark, _pevents(spark, rows))
    assert len(out) == 1
    assert out[0].n_buckets == 4
    assert out[0].vpin == pytest.approx(0.5, abs=1e-9)


def test_ohlc_volatility_closed_form_day(spark):
    # One 3-print day: O=100, H=121, L=100, C=110 -> Parkinson and
    # Garman-Klass match their closed forms; a second single-print day
    # carries no range and must be excluded.
    rows = [
        (1, T(2024, 1, 1, 9), 1, "view", 100.0),
        (2, T(2024, 1, 1, 10), 1, "view", 121.0),
        (3, T(2024, 1, 1, 11), 1, "view", 110.0),
        (4, T(2024, 1, 2, 9), 1, "view", 55.0),
    ]
    out = _run(tsmod, "ohlc_volatility", spark, _events(spark, rows))
    assert len(out) == 1
    lhl = math.log(1.21)
    lco = math.log(1.10)
    assert out[0].n_days == 1
    assert out[0].parkinson_var == pytest.approx(lhl * lhl / (4 * math.log(2)), abs=1e-6)
    assert out[0].garman_klass_var == pytest.approx(
        0.5 * lhl * lhl - (2 * math.log(2) - 1) * lco * lco, abs=1e-6
    )


def test_autocorr_alternating_closes_is_minus_one(spark):
    # Daily closes oscillate 100 <-> 110: returns alternate +/- ln(1.1)
    # exactly, so consecutive-return pairs are perfectly anticorrelated.
    rows = [
        (i, T(2024, 1, 1 + i, 12), 1, "view", 100.0 if i % 2 == 0 else 110.0)
        for i in range(6)
    ]
    out = _run(tsmod, "autocorr_returns", spark, _events(spark, rows))
    assert len(out) == 1
    assert out[0].n_pairs == 4
    assert out[0].ac1 == pytest.approx(-1.0, abs=1e-9)


def test_returned_items_pushdown_and_topk(spark, sf_dir):
    df = registry.queries()["composite_returned_items"](spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan          # top-20, never a global sort
    assert "PushedFilters" in plan and "l_returnflag" in plan  # R-filter reaches the scan
    assert plan_uses_broadcast_join(df)             # nation broadcasts


def test_promo_revenue_single_aggregate_no_fork(spark, sf_dir):
    # promo and total revenue must come from ONE conditional-SUM
    # aggregate over one broadcast join — a filtered second branch
    # would fork a second full exchange (the dsir_weights lesson).
    df = registry.queries()["composite_promo_revenue"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)
    assert count_shuffles(df) <= 1  # only the 1-row final aggregate exchange


def test_top_supplier_scalar_max_broadcast(spark, sf_dir):
    df = registry.queries()["composite_top_supplier"](spark, sf_dir)
    assert plan_uses_broadcast_join(df)  # 1-row MAX broadcast back onto rev
    rows = df.collect()
    assert len(rows) >= 1  # at least one top supplier; ties all surface


def test_small_qty_predicate_is_integer_exact(spark, sf_dir):
    # The 20%-of-average test must be the integer rewrite (5*q*cnt <
    # sum_q): no doubles in the comparison, so no boundary rows can
    # flip cross-engine.
    df = registry.queries()["composite_small_qty_revenue"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan_uses_broadcast_join(df)
    assert "NestedLoop" not in plan


# ------------------------------------------------------- r5 audits family


def _run_tables(module, name, spark, frames):
    orig = module.load_table
    try:
        module.load_table = lambda _s, _d, n: frames[n]
        return registry.all_specs()[name].fn(spark, "_").collect()
    finally:
        module.load_table = orig


def test_referential_audit_flags_planted_orphans(spark):
    from nt_etl_order_book_spark.operators import audits as audmod

    frames = {
        "lineitem": spark.createDataFrame(
            [(1, 10, 100), (2, 20, 100), (99, 10, 100)],  # orderkey 99 is an orphan
            "l_orderkey long, l_partkey long, l_suppkey long",
        ),
        "orders": spark.createDataFrame([(1, 5), (2, 5)], "o_orderkey long, o_custkey long"),
        "part": spark.createDataFrame([(10,), (20,)], "p_partkey long"),
        "supplier": spark.createDataFrame([(100,)], "s_suppkey long"),
        "customer": spark.createDataFrame([(5, 0)], "c_custkey long, c_nationkey int"),
        "nation": spark.createDataFrame([(0,)], "n_nationkey int"),
        # ML edge: vector 7 dangles (no landed document)
        "embeddings": spark.createDataFrame([(1,), (7,)], "vec_id long"),
        "documents": spark.createDataFrame([(1,)], "doc_id long"),
    }
    out = {r.rel: (r.n_child, r.n_orphans) for r in _run_tables(audmod, "referential_integrity_audit", spark, frames)}
    assert out["lineitem.l_orderkey -> orders"] == (3, 1)
    assert out["lineitem.l_partkey -> part"] == (3, 0)
    assert out["orders.o_custkey -> customer"] == (2, 0)
    assert out["embeddings.vec_id -> documents"] == (2, 1)


def test_uniqueness_audit_duplicates_and_null_keys(spark):
    from nt_etl_order_book_spark.operators import audits as audmod

    one = spark.createDataFrame([(1,)], "x long")
    frames = {
        "customer": one.selectExpr("x as c_custkey"),
        "documents": one.selectExpr("x as doc_id"),
        # duplicated event_id -> 1 dup row
        "events": spark.createDataFrame([(7,), (7,), (8,)], "event_id long"),
        # composite key incl. a NULL tuple: struct semantics must count
        # the NULL tuple as a distinct key, not drop it
        "lineitem": spark.createDataFrame(
            [(1, 1), (1, 1), (None, None)], "l_orderkey long, l_linenumber int"
        ),
        "orders": one.selectExpr("x as o_orderkey"),
        "part": one.selectExpr("x as p_partkey"),
        "supplier": one.selectExpr("x as s_suppkey"),
    }
    out = {r.key_name: (r.n_rows, r.n_keys, r.n_dup_rows) for r in _run_tables(audmod, "uniqueness_audit", spark, frames)}
    assert out["events.event_id"] == (3, 2, 1)
    assert out["lineitem.(l_orderkey,l_linenumber)"] == (3, 2, 1)


def test_markov_transitions_normalize_and_skip_first(spark):
    rows = [
        (1, T(2024, 1, 1, 9, 0), 1, "view", 0.0),
        (2, T(2024, 1, 1, 9, 1), 1, "click", 0.0),
        (3, T(2024, 1, 1, 9, 2), 1, "view", 0.0),
        (4, T(2024, 1, 1, 9, 3), 1, "click", 0.0),
        (5, T(2024, 1, 1, 9, 4), 1, "purchase", 0.0),
        (6, T(2024, 1, 2, 9, 0), 2, "view", 0.0),  # user 2's only event: no transition
    ]
    out = _run(flowmod, "markov_transitions", spark, _events(spark, rows))
    trans = {(r.from_type, r.to_type): (r.n, r.p) for r in out}
    assert trans[("view", "click")] == (2, 1.0)
    assert trans[("click", "view")][0] == 1 and trans[("click", "view")][1] == 0.5
    assert trans[("click", "purchase")][1] == 0.5
    assert sum(n for n, _ in trans.values()) == 4  # 5 events user 1 -> 4 transitions


def test_effective_spread_asof_semantics(spark):
    # Quotes (views) at 9:00 mid=100 and 9:10 mid=102.  Trades
    # (purchases): 8:59 (before any quote -> unquoted), 9:00 at 101
    # (equal-ts quote counts: 2*|101-100|/100*1e4 = 200 bps), 9:05 at
    # 100 (still the 9:00 quote: 0 bps), 9:15 at 102.51 (the 9:10
    # quote: 2*0.51/102*1e4 = 100 bps).  Mean over quoted = 100 bps.
    rows = [
        (1, T(2024, 1, 1, 9, 0), 1, "view", 100.0),
        (2, T(2024, 1, 1, 9, 10), 1, "view", 102.0),
        (3, T(2024, 1, 1, 8, 59), 1, "purchase", 99.0),
        (4, T(2024, 1, 1, 9, 0), 1, "purchase", 101.0),
        (5, T(2024, 1, 1, 9, 5), 1, "purchase", 100.0),
        (6, T(2024, 1, 1, 9, 15), 1, "purchase", 102.51),
    ]
    out = _run(tsmod, "effective_spread", spark, _events(spark, rows))
    assert len(out) == 1
    r = out[0]
    assert (r.n_quoted, r.n_unquoted) == (3, 1)
    assert r.eff_spread_bps == pytest.approx(100.0, abs=1e-4)


def test_attribution_last_touch_semantics(spark):
    # view -> click -> purchase -> purchase: both purchases credit the
    # click (consecutive conversions share the touch; never self- or
    # forward-attribute). A leading purchase with no history -> 'none'.
    rows = [
        (1, T(2024, 1, 1, 8), 2, "purchase", 10.0),  # user 2: no prior touch
        (2, T(2024, 1, 1, 9, 0), 1, "view", 0.0),
        (3, T(2024, 1, 1, 9, 1), 1, "click", 0.0),
        (4, T(2024, 1, 1, 9, 2), 1, "purchase", 5.0),
        (5, T(2024, 1, 1, 9, 3), 1, "purchase", 7.0),
    ]
    out = {r.channel: (r.n_conversions, r.attributed_value)
           for r in _run(flowmod, "attribution_last_touch", spark, _events(spark, rows))}
    assert out["click"] == (2, 12.0)
    assert out["none"] == (1, 10.0)
    assert "view" not in out


def test_idle_customers_anti_join_uses_date_cutoff(spark):
    from nt_etl_order_book_spark.operators import composites as compmod

    frames = {
        # avg balance = 100; A and B are above it
        "customer": spark.createDataFrame(
            [(1, 0, 150.0), (2, 0, 160.0), (3, 0, 0.0), (4, 0, 90.0)],
            "c_custkey long, c_nationkey int, c_acctbal double",
        ),
        # A ordered recently (excluded); B only before the cutoff (idle)
        "orders": spark.createDataFrame(
            [(10, 1, T(2001, 5, 1)), (11, 2, T(1999, 5, 1))],
            "o_orderkey long, o_custkey long, o_orderdate timestamp",
        ),
        "nation": spark.createDataFrame([(0, "N0")], "n_nationkey int, n_name string"),
    }
    out = _run_tables(compmod, "composite_idle_customers", spark, frames)
    assert len(out) == 1
    assert (out[0].n_name, out[0].n_customers, out[0].avg_acctbal) == ("N0", 1, 160.0)


def test_composite_nation_trade_broadcast_and_pushdown(spark, sf_dir):
    df = registry.queries()["composite_nation_trade"](spark, sf_dir)
    plan = formatted_plan(df)
    assert plan_uses_broadcast_join(df)
    assert "NestedLoop" not in plan
    df19 = registry.queries()["composite_brand_disjunction"](spark, sf_dir)
    assert plan_uses_broadcast_join(df19)


def test_split_leakage_counts_both_side_entities(spark):
    from nt_etl_order_book_spark.operators import audits as audmod

    # cutoff 2024-01-16: user 1 both sides (leaks), user 2 only pre,
    # user 3 only post.
    frames = {"events": _events(spark, [
        (1, T(2024, 1, 10), 1, "view", 0.0),
        (2, T(2024, 1, 20), 1, "view", 0.0),
        (3, T(2024, 1, 10), 2, "view", 0.0),
        (4, T(2024, 1, 20), 3, "view", 0.0),
    ])}
    out = _run_tables(audmod, "split_leakage_audit", spark, frames)
    r = out[0]
    assert (r.n_train_entities, r.n_test_entities, r.n_leaked) == (2, 2, 1)
    assert r.leakage_frac == 0.5


def test_winsorize_clips_exactly_at_percentiles(spark):
    from nt_etl_order_book_spark.operators import audits as audmod

    # 101 values 0..100 of one type: p01 = 1.0, p99 = 99.0 exactly
    # (interpolated percentile on 0..100), so 0 and 100 clip.
    frames = {"events": _events(spark, [
        (i, T(2024, 1, 1, 9, 0, 0), 1, "view", float(i)) for i in range(101)
    ])}
    out = _run_tables(audmod, "winsorize_stats", spark, frames)
    r = out[0]
    assert r.n == 101 and r.n_clipped == 2
    assert r.winsorized_mean == pytest.approx(50.0, abs=1e-9)


def test_scd2_intervals_compress_and_close(spark):
    # user 1: values 10,10,20,10 -> intervals [t0,t2)=10, [t2,t3)=20,
    # [t3,null)=10 (consecutive duplicate collapsed; re-appearance of an
    # old value opens a NEW interval). Non-signup rows ignored.
    rows = [
        (1, T(2024, 1, 1), 1, "signup", 10.0),
        (2, T(2024, 1, 2), 1, "signup", 10.0),
        (3, T(2024, 1, 3), 1, "signup", 20.0),
        (4, T(2024, 1, 4), 1, "signup", 10.0),
        (5, T(2024, 1, 5), 1, "click", 99.0),
    ]
    out = sorted(
        _run(flowmod, "scd2_intervals", spark, _events(spark, rows)),
        key=lambda r: r.valid_from,
    )
    assert [(r.value, r.valid_to is None, r.is_current) for r in out] == [
        (10.0, False, 0),
        (20.0, False, 0),
        (10.0, True, 1),
    ]
    assert out[0].valid_to == out[1].valid_from


def test_table_diff_statuses(spark):
    from nt_etl_order_book_spark.operators.audits import table_diff_summary

    before = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "dup", 1), (5, "dup", 1)],
        "k long, s string, v int",
    )
    after = spark.createDataFrame(
        [(1, "a", 10),          # unchanged
         (2, "b", 21),          # changed value
         (4, "d", 40),          # added
         (5, "dup", 1)],        # key 5: row count 2 -> 1 = changed
        "k long, s string, v int",
    )
    out = {r.status: r.n_keys for r in table_diff_summary(before, after, ["k"]).collect()}
    assert out == {"unchanged": 1, "changed": 2, "added": 1, "removed": 1}


def test_table_diff_null_vs_empty_not_confused(spark):
    from nt_etl_order_book_spark.operators.audits import table_diff

    before = spark.createDataFrame([(1, None)], "k long, s string")
    after = spark.createDataFrame([(1, "")], "k long, s string")
    out = table_diff(before, after, ["k"]).collect()
    assert out[0].status == "changed"


def test_rolling_features_hand_computed_frame(spark):
    # Prices 1.00, 2.00, 3.00 for one market: row 3 has ret_1=ln(1.5),
    # ma_5 = mean(1,2,3) = 2.0, var_20 = E[x^2]-E[x]^2 = (14/3) - 4 =
    # 2/3 -> integer-rounded 6dp = 0.666667 (the .5-boundary-safe path).
    rows = [
        (1, T(2024, 1, 1, 9, 0, 0), 1, "view", 1.0),
        (2, T(2024, 1, 1, 9, 0, 1), 1, "view", 2.0),
        (3, T(2024, 1, 1, 9, 0, 2), 1, "view", 3.0),
    ]
    out = {r.event_id: r for r in _run(tsmod, "rolling_features", spark, _events(spark, rows))}
    assert out[1].ret_1 is None and out[1].momentum_5 is None
    assert out[3].ret_1 == pytest.approx(round(math.log(1.5), 6))
    assert out[3].ma_5 == 2.0
    assert out[3].var_20 == 0.666667  # exact integer half-up of 2/3
    assert out[2].var_20 == 0.25      # var(1,2) = 0.25


def test_overnight_gap_hand_computed(spark):
    # Day 1: open 100, close 110. Day 2: open 99 -> gap |99-110|/110 =
    # 1000 bps. Day 3: open 110, prev close 99 -> |110-99|/99 bps.
    rows = [
        (1, T(2024, 1, 1, 9), 1, "view", 100.0),
        (2, T(2024, 1, 1, 16), 1, "view", 110.0),
        (3, T(2024, 1, 2, 9), 1, "view", 99.0),
        (4, T(2024, 1, 2, 16), 1, "view", 99.0),
        (5, T(2024, 1, 3, 9), 1, "view", 110.0),
    ]
    [r] = _run(tsmod, "overnight_gap", spark, _events(spark, rows))
    g2 = abs(9900 - 11000) / 11000 * 10000
    g3 = abs(11000 - 9900) / 9900 * 10000
    assert r.n_gaps == 2
    assert r.mean_abs_gap_bps == pytest.approx(round((g2 + g3) / 2, 6))
    assert r.max_abs_gap_bps == pytest.approx(round(g3, 6))


def test_interarrival_stats_approx_rank_error_bound(spark):
    # Promised in interarrival_stats_approx's oracle comment: on a
    # constructed uniform gap distribution (gaps 1..n_gaps microseconds,
    # so gap value == rank), each reported sketch percentile sits within
    # n/GAP_SKETCH_ACCURACY ranks of the true percentile.
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators.timeseries import (
        GAP_SKETCH_ACCURACY,
        interarrival_stats_approx_frame,
    )

    n_gaps = 20_000
    # Event i sits at the cumulative sum of gaps 1..i microseconds, one
    # user / one event_type, so _interarrival_gaps recovers exactly the
    # gaps 1..n_gaps.
    ev = (
        spark.range(0, n_gaps + 1)
        .select(
            F.col("id").alias("event_id"),
            F.lit(7).alias("user_id"),
            F.lit("t").alias("event_type"),
            F.timestamp_micros(
                (F.col("id") * (F.col("id") + 1) / 2).cast("long")
            ).alias("ts"),
        )
    )
    out = interarrival_stats_approx_frame(ev).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_gaps"] == n_gaps
    rank_tol = n_gaps / GAP_SKETCH_ACCURACY  # = 2
    for frac, col in ((0.5, "p50_us"), (0.9, "p90_us"), (0.99, "p99_us")):
        assert abs(r[col] - frac * n_gaps) <= rank_tol, (col, r[col])
    assert r["max_us"] == n_gaps


def test_max_drawdown_cross_day_carry_in(spark):
    # The two-phase decomposition must carry the peak ACROSS day chunks:
    # peak 100 on day 1, quiet day 2, trough 40 on day 3 → drawdown 0.6
    # even though day 3's local peak is only 50. Parity vs the
    # single-window form on the same frame.
    import datetime as dtm

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = []
    for i, (day, val) in enumerate(
        [(1, 80.0), (1, 100.0), (1, 90.0), (2, 85.0), (2, 95.0), (3, 50.0), (3, 40.0), (3, 45.0)]
    ):
        rows.append((i, dtm.datetime(2024, 3, day, 12, 0, i), 7, "view", val, "{}"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    orig = tsmod.load_table
    try:
        tsmod.load_table = lambda _s, _d, name: ev
        got = registry.all_specs()["max_drawdown"].fn(spark, "_").collect()
    finally:
        tsmod.load_table = orig
    assert len(got) == 1
    assert got[0]["max_drawdown"] == 0.6 and got[0]["n_events"] == 8
    # bit-parity with the single whole-history window on the same frame
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    peak = F.max("value").over(w)
    ref = (
        ev.select("user_id", ((peak - F.col("value")) / peak).alias("dd"))
        .groupBy("user_id")
        .agg(F.round(F.max("dd"), 6).alias("md"))
        .collect()[0]["md"]
    )
    assert got[0]["max_drawdown"] == ref


def _awkward_chunk_rows():
    # Single-row chunks, multi-row chunks, a gap day, and NULL values at
    # a chunk boundary: day 6 closes on NULL, so day 7's first row must
    # carry a genuine NULL (max_by keeps the NULL value, it must not
    # skip back to an earlier non-null).
    rows = []
    i = 0
    for key in (1, 2):
        for day, n in ((1, 1), (2, 3), (3, 1), (5, 2)):  # gap day 4
            for j in range(n):
                rows.append((i, dt.datetime(2024, 4, day, 10, 0, j), key, float(10 * key + i)))
                i += 1
    rows += [
        (i, dt.datetime(2024, 4, 6, 10, 0, 0), 1, 77.0),
        (i + 1, dt.datetime(2024, 4, 6, 10, 0, 1), 1, None),
        (i + 2, dt.datetime(2024, 4, 7, 10, 0, 0), 1, 88.0),
    ]
    return rows


def test_chunked_lag_matches_global_lag_on_awkward_chunks(spark):
    # Single-row chunks, multi-row chunks, and a key appearing in only
    # one chunk — the chunked decomposition must equal the global lag
    # row-for-row, including the NULL on each key's first row.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators.timeseries import chunked_shift

    rows = _awkward_chunk_rows()
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    base = ev.withColumn("chunk", F.date_trunc("day", "ts"))
    got = {
        r.event_id: r.prev
        for r in chunked_shift(base, "user_id", ["ts", "event_id"], "value", lag="prev").collect()
    }
    wg = W.partitionBy("user_id").orderBy("ts", "event_id")
    ref = {r.event_id: r.prev for r in ev.select("event_id", F.lag("value").over(wg).alias("prev")).collect()}
    assert got == ref


@pytest.mark.parametrize(
    "op,strict",
    [
        ("max", False),  # max_drawdown
        ("sum", False),  # cusum_drift, dollar_bars, win_running_sum
        ("last", False),  # asof_join
        ("last", True),  # attribution_last_touch
    ],
)
def test_chunked_prefix_matches_global_window_on_awkward_chunks(spark, op, strict):
    # The lag test's frame plus keys whose chunks OPEN on NULL (key 3:
    # a NULL-led day after a valued one, an all-NULL day; key 4: an
    # all-NULL first day). Each (op, strict) pair a caller uses must
    # equal the whole-history window row-for-row, NULLs included.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators.timeseries import chunked_prefix

    extra = [
        (3, 1, 0, 10.0), (3, 1, 1, 11.0),
        (3, 2, 0, None), (3, 2, 1, 12.0),
        (3, 3, 0, None),
        (3, 5, 0, None), (3, 5, 1, 13.0),
        (4, 1, 0, None),
        (4, 2, 0, None), (4, 2, 1, 5.0),
    ]
    rows = _awkward_chunk_rows()
    rows += [
        (100 + n, dt.datetime(2024, 4, day, 10, 0, sec), key, v)
        for n, (key, day, sec, v) in enumerate(extra)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    ).withColumn("v", F.col("value").cast("decimal(30,6)"))
    base = ev.withColumn("chunk", F.date_trunc("day", "ts"))
    got = {
        r.event_id: r.run
        for r in chunked_prefix(
            base, "user_id", ["ts", "event_id"], "v", op, "run", strict=strict
        ).collect()
    }
    run = {"sum": F.sum, "max": F.max, "last": lambda c: F.last(c, ignorenulls=True)}[op]
    wg = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1 if strict else W.currentRow)
    )
    ref = {r.event_id: r.run for r in ev.select("event_id", run("v").over(wg).alias("run")).collect()}
    assert got == ref


def test_attribution_carry_crosses_midnight(spark):
    # A purchase first thing on day 2 must credit the LAST touch of day
    # 1 (the day-grain carry), and a same-day later purchase must credit
    # the day-2 touch instead (local beats carry once present).
    rows = [
        (1, T(2024, 6, 1, 9), 7, "click", 1.0),
        (2, T(2024, 6, 1, 23), 7, "view", 1.0),     # last touch of day 1
        (3, T(2024, 6, 2, 0, 0, 1), 7, "purchase", 10.0),  # -> view (carried)
        (4, T(2024, 6, 2, 8), 7, "click", 1.0),
        (5, T(2024, 6, 2, 9), 7, "purchase", 5.0),  # -> click (local)
    ]
    out = {r.channel: (r.n_conversions, r.attributed_value)
           for r in _run(flowmod, "attribution_last_touch", spark, _events(spark, rows))}
    assert out == {"view": (1, 10.0), "click": (1, 5.0)}


def test_chunked_lead_matches_global_lead_on_awkward_chunks(spark):
    # Mirror of the chunked_lag test for chunked_shift's lead output:
    # single-row chunks, a chunk gap, and the NULL on each key's final row.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators.timeseries import chunked_shift

    rows = []
    i = 0
    for key in (1, 2):
        for day, n in ((1, 2), (3, 1), (4, 3)):
            for j in range(n):
                rows.append((i, dt.datetime(2024, 5, day, 10, 0, j), key, float(100 * key + i)))
                i += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    base = ev.withColumn("chunk", F.date_trunc("day", "ts"))
    got = {
        r.event_id: r.nxt
        for r in chunked_shift(base, "user_id", ["ts", "event_id"], "value", lead="nxt").collect()
    }
    wg = W.partitionBy("user_id").orderBy("ts", "event_id")
    ref = {r.event_id: r.nxt for r in ev.select("event_id", F.lead("value").over(wg).alias("nxt")).collect()}
    assert got == ref


def test_session_islands_chunk_carries_cross_midnight(spark):
    # Pins the single-fork day-chunked decomposition (operators/
    # windows.py q_session_islands): a <1h silence across midnight must
    # NOT split the session (lag carry), a >1h gap across midnight MUST
    # start a new one, in-day gaps still split, and session ids stay
    # globally consecutive per key (prefix-sum carry over day totals —
    # in_gaps + the chunk-grain first-row flag).
    from nt_etl_order_book_spark.operators import windows as winmod

    rows = [
        # key 7: session A spans midnight (23:00 -> 23:50 -> 00:20, all
        # gaps < 1h); a 9h40m silence starts session B; an in-day >1h
        # gap starts session C the same day.
        (1, T(2024, 7, 1, 23, 0), 7, "view", 1.0),
        (2, T(2024, 7, 1, 23, 50), 7, "view", 1.0),
        (3, T(2024, 7, 2, 0, 20), 7, "view", 1.0),   # same session: 30m
        (4, T(2024, 7, 2, 10, 0), 7, "view", 1.0),   # new session: 9h40m
        (5, T(2024, 7, 2, 12, 0), 7, "view", 1.0),   # new session: 2h gap
        # key 8: single event per day, days 1 and 3 — >1h apart, two
        # sessions; exercises single-row chunks and a missing day.
        (6, T(2024, 7, 1, 9, 0), 8, "view", 1.0),
        (7, T(2024, 7, 3, 9, 0), 8, "view", 1.0),
    ]
    out = _run(winmod, "session_islands", spark, _events(spark, rows))
    by_key = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.session_id)):
        by_key.setdefault(r.user_id, []).append(
            (r.session_id, r.n_events, r.session_start_ms, r.session_end_ms)
        )
    ms = lambda *a: int(dt.datetime(*a, tzinfo=dt.timezone.utc).timestamp() * 1000)
    assert by_key[7] == [
        (1, 3, ms(2024, 7, 1, 23, 0), ms(2024, 7, 2, 0, 20)),
        (2, 1, ms(2024, 7, 2, 10, 0), ms(2024, 7, 2, 10, 0)),
        (3, 1, ms(2024, 7, 2, 12, 0), ms(2024, 7, 2, 12, 0)),
    ]
    assert by_key[8] == [
        (1, 1, ms(2024, 7, 1, 9, 0), ms(2024, 7, 1, 9, 0)),
        (2, 1, ms(2024, 7, 3, 9, 0), ms(2024, 7, 3, 9, 0)),
    ]


def test_roll_spread_lag2_carry_matches_global_windows(spark):
    # Pins the single-fork lag-depth-2 decomposition in q_roll_spread:
    # single-row days force the prior-history last-two to span multiple
    # chunks (rn==1 takes both carries, rn==2 patches lag2 from the
    # prior last), and the result must equal a plain whole-history
    # double-lag reference bit-for-bit. Prices chosen so adjacent
    # changes alternate sign (negative autocov -> non-NULL spread).
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from nt_etl_order_book_spark.operators import timeseries as tsmod

    prices = [100.0, 99.0, 100.5, 99.2, 100.8, 99.5, 100.2]
    rows = []
    # key 7: days sized (1,1,3,2) — two single-row chunks up front mean
    # the day-3 first row's lag2 reaches back across BOTH of them.
    sizes = [(1, 1), (2, 1), (3, 3), (4, 2)]
    i = 0
    for day, n in sizes:
        for j in range(n):
            rows.append((i, T(2024, 8, day, 10, 0, j), 7, "view", prices[i]))
            i += 1
    got = _run(tsmod, "roll_spread", spark, _events(spark, rows))

    ev = _events(spark, rows)
    wg = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = (F.col("value") - F.lag("value").over(wg)).alias("d")
    d1 = ev.filter(F.col("value") > 0).select("user_id", "ts", "event_id", d)
    dp = d1.select("user_id", "d", F.lag("d").over(wg).alias("dprev"))
    pairs = dp.filter(F.col("d").isNotNull() & F.col("dprev").isNotNull())
    ref = pairs.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("d") * F.col("dprev")).cast("decimal(38,18)")).cast("double").alias("sxy"),
        F.sum(F.col("d").cast("decimal(38,18)")).cast("double").alias("sx"),
        F.sum(F.col("dprev").cast("decimal(38,18)")).cast("double").alias("sy"),
    ).collect()[0]
    cov = (ref.sxy - ref.sx * ref.sy / ref.n) / ref.n
    [g] = got
    assert g.n_pairs == ref.n == 5
    assert g.autocov == round(cov, 6)
    assert cov < 0 and g.roll_spread == round(2.0 * math.sqrt(-cov), 6)


def test_scd2_intervals_null_values_and_chunk_carries_match_global(spark):
    # The global change filter is `prev IS NULL OR value <> prev`: a row
    # AFTER a NULL-valued row is always a change (prev IS NULL), and a
    # NULL-valued row after a real value is NOT (NULL <> x is NULL).
    # The fixture has no NULL values, so the oracle hash can't exercise
    # this arm of the day-chunked decomposition — pin it against a
    # plain whole-history reference on data that also crosses midnight
    # and includes single-row days.
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [
        (1, T(2024, 9, 1, 9), 1, "signup", 10.0),
        (2, T(2024, 9, 1, 10), 1, "signup", None),    # not a change (NULL<>10 -> NULL)
        (3, T(2024, 9, 1, 11), 1, "signup", 10.0),    # CHANGE: prev IS NULL
        (4, T(2024, 9, 2, 9), 1, "signup", 10.0),     # not a change (10 == 10 across midnight)
        (5, T(2024, 9, 2, 10), 1, "signup", 20.0),    # change
        (6, T(2024, 9, 4, 9), 1, "signup", None),     # day 4 single NULL row: not a change
        (7, T(2024, 9, 5, 9), 1, "signup", 20.0),     # CHANGE: prev (day-4 NULL) IS NULL, carried
        (8, T(2024, 9, 1, 9), 2, "signup", None),     # first row of key: change (prev IS NULL)
        (9, T(2024, 9, 2, 9), 2, "signup", None),     # after NULL: change
    ]
    got = sorted(
        _run(flowmod, "scd2_intervals", spark, _events(spark, rows)),
        key=lambda r: (r.user_id, r.valid_from),
    )

    ev = _events(spark, rows).filter(F.col("event_type") == "signup")
    wg = W.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.select("user_id", "ts", "event_id", "value", F.lag("value").over(wg).alias("prev"))
    changes = marked.filter(F.col("prev").isNull() | (F.col("value") != F.col("prev")))
    nxt = F.lead("ts").over(wg)
    ref = sorted(
        changes.select(
            "user_id", "value", F.col("ts").alias("valid_from"), nxt.alias("valid_to"),
            F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        ).collect(),
        key=lambda r: (r.user_id, r.valid_from),
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in ref]
    # spot-pin the NULL arms: event 3 opens an interval, event 6 does not
    k1 = [r for r in got if r.user_id == 1]
    assert [r.valid_from for r in k1] == [
        T(2024, 9, 1, 9), T(2024, 9, 1, 11), T(2024, 9, 2, 10), T(2024, 9, 5, 9)
    ]


# ------------------------------------------------- chunked §2.6 windows


def test_win_lag_lead_chunk_carries_cross_midnight(spark):
    # Pins the single-chunk-frame lag+lead decomposition (operators/
    # windows.py q_win_lag_lead): prev/next must cross day boundaries,
    # chain through single-row days, and stay NULL at each key's ends.
    from nt_etl_order_book_spark.operators import windows as winmod

    rows = [
        (1, T(2024, 7, 1, 23, 0), 7, "view", 10.0),
        (2, T(2024, 7, 2, 0, 30), 7, "view", 20.0),   # prev=10 across midnight
        (3, T(2024, 7, 2, 9, 0), 7, "view", 30.0),
        # key 8: one row per day (single-row chunks), with a missing day
        (4, T(2024, 7, 1, 9, 0), 8, "view", 1.0),
        (5, T(2024, 7, 3, 9, 0), 8, "view", 2.0),
        (6, T(2024, 7, 4, 9, 0), 8, "view", 3.0),
    ]
    out = _run(winmod, "win_lag_lead", spark, _events(spark, rows))
    got = {r.event_id: (r.prev_value, r.next_value) for r in out}
    assert got == {
        1: (None, 20.0),
        2: (10.0, 30.0),
        3: (20.0, None),
        4: (None, 2.0),
        5: (1.0, 3.0),
        6: (2.0, None),
    }


def test_win_running_sum_chunk_carry_cross_midnight(spark):
    # Pins the day-grain prefix-sum offsets: running totals must carry
    # across midnight and through single-row days exactly.
    from nt_etl_order_book_spark.operators import windows as winmod

    rows = [
        (1, T(2024, 7, 1, 9, 0), 7, "view", 1.5),
        (2, T(2024, 7, 1, 23, 0), 7, "view", 2.25),
        (3, T(2024, 7, 2, 0, 30), 7, "view", 4.0),
        (4, T(2024, 7, 4, 9, 0), 7, "view", 8.0),
    ]
    out = _run(winmod, "win_running_sum", spark, _events(spark, rows))
    got = {r.event_id: r.running_value for r in out}
    assert got == {1: 1.5, 2: 3.75, 3: 7.75, 4: 15.75}


def test_win_range_frame_ghost_rows_at_midnight(spark):
    # Pins the ghost-row overlap: the trailing-hour frame of a row just
    # after midnight must reach prior-day rows, INCLUSIVE at exactly
    # t-1h; rows beyond the hour never leak in, and ghosts never emit.
    from nt_etl_order_book_spark.operators import windows as winmod

    rows = [
        (1, T(2024, 7, 1, 23, 0), 7, "view", 1.0),
        (2, T(2024, 7, 1, 23, 30), 7, "view", 2.0),
        (3, T(2024, 7, 2, 0, 0), 7, "view", 4.0),    # reaches 23:00 (edge) + 23:30
        (4, T(2024, 7, 2, 0, 15), 7, "view", 8.0),   # reaches 23:30 + 00:00
        (5, T(2024, 7, 2, 1, 30), 7, "view", 16.0),  # reaches nothing
        # key 8: prior-day row OUTSIDE the last hour must not be ghosted
        (6, T(2024, 7, 1, 22, 0), 8, "view", 1.0),
        (7, T(2024, 7, 2, 0, 30), 8, "view", 2.0),
    ]
    out = _run(winmod, "win_range_frame", spark, _events(spark, rows))
    assert len(out) == len(rows)  # no ghost rows in the output
    got = {r.event_id: (r.n_last_hour, r.sum_last_hour) for r in out}
    assert got == {
        1: (1, 1.0),
        2: (2, 3.0),
        3: (3, 7.0),
        4: (3, 14.0),
        5: (1, 16.0),
        6: (1, 1.0),
        7: (1, 2.0),
    }


def test_win_first_last_null_value_and_tie(spark):
    # max_by must return the PICKED row's value (even NULL — probed
    # semantics), and break same-ts ties by max event_id.
    from nt_etl_order_book_spark.operators import windows as winmod

    rows = [
        (1, T(2024, 7, 1, 9, 0), 7, "view", 5.0),
        (2, T(2024, 7, 2, 9, 0), 7, "view", None),   # latest row, NULL value
        (3, T(2024, 7, 1, 9, 0), 8, "view", 1.0),
        (4, T(2024, 7, 1, 9, 0), 8, "view", 2.0),    # same ts, higher event_id
    ]
    out = _run(winmod, "win_first_last", spark, _events(spark, rows))
    got = {r.user_id: (r.last_ts, r.last_value) for r in out}
    assert got == {
        7: (T(2024, 7, 2, 9, 0), None),
        8: (T(2024, 7, 1, 9, 0), 2.0),
    }


def test_win_moving_avg_ghost_rows_across_rank_chunks(spark, monkeypatch):
    # Shrink the rank-chunk width to 8 so a 30-row key spans 4 chunks:
    # every chunk-boundary row's 5-row frame must reach the previous
    # chunk through the ghost copies, exactly matching the builtin
    # whole-history window.
    from pyspark.sql import Window

    from nt_etl_order_book_spark.operators import windows as winmod

    monkeypatch.setattr(winmod, "MOVING_AVG_CHUNK", 8)
    rows = [
        (i, T(2024, 7, 1 + i // 12, i % 12), 7, "view", float((i * 13) % 10))
        for i in range(30)
    ] + [(100 + i, T(2024, 7, 1, i), 8, "view", float(i)) for i in range(3)]
    frame = _events(spark, rows)
    out = _run(winmod, "win_moving_avg", spark, frame)
    got = {r.event_id: r.moving_avg5 for r in out}
    w = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    )
    from pyspark.sql import functions as FF

    want = {
        r.event_id: r.m
        for r in frame.select(
            "event_id",
            (
                FF.sum(FF.col("value").cast("decimal(30,6)")).over(w).cast("double")
                / FF.count("value").over(w)
            )
            .cast("double")
            .alias("m"),
        ).collect()
    }
    assert got == want and len(got) == 33


def test_rolling_features_ghost_rows_across_rank_chunks(spark, monkeypatch):
    # Chunk width 25 on a 60-row key: rows near every chunk boundary
    # need up to 19 ghosted predecessors for lag(5)/w5/w20 — compare
    # the full feature matrix against the builtin whole-history form.
    import nt_etl_order_book_spark.operators.timeseries as tsmod
    from pyspark.sql import Window
    from pyspark.sql import functions as FF

    monkeypatch.setattr(tsmod, "ROLLING_CHUNK", 25)
    rows = [
        (i, T(2024, 7, 1 + i // 20, i % 20), 7, "view", float(1 + (i * 7) % 23))
        for i in range(60)
    ]
    frame = _events(spark, rows)
    out = _run(tsmod, "rolling_features", spark, frame)
    got = {r.event_id: (r.ret_1, r.momentum_5, r.ma_5, r.var_20) for r in out}
    # whole-history reference, same integer-exact arithmetic
    ev = frame.filter(FF.col("value") > 0)
    c = FF.floor(FF.col("value") * 100 + FF.lit(0.5)).cast("bigint")
    base = ev.select("user_id", "event_id", "ts", "value", c.alias("c"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w5, w20 = w.rowsBetween(-4, 0), w.rowsBetween(-19, 0)
    v = FF.col("value")
    f = base.select(
        "user_id", "event_id",
        FF.log(v / FF.lag(v).over(w)).alias("ret_1"),
        (v - FF.lag(v, 5).over(w)).alias("momentum_5"),
        FF.sum("c").over(w5).alias("sc_5"),
        FF.count(FF.lit(1)).over(w5).alias("n_5"),
        FF.sum(FF.col("c") * FF.col("c")).over(w20).alias("scc_20"),
        FF.sum("c").over(w20).alias("sc_20"),
        FF.count(FF.lit(1)).over(w20).alias("n_20"),
    )
    ref = f.select(
        "event_id",
        FF.round("ret_1", 6).alias("ret_1"),
        FF.round("momentum_5", 6).alias("momentum_5"),
        (FF.expr("(2 * 10000 * sc_5 + n_5) div (2 * n_5)").cast("double") / 1e6).alias("ma_5"),
        (FF.expr(
            "(2 * 100 * (n_20 * scc_20 - sc_20 * sc_20) + n_20 * n_20) div (2 * n_20 * n_20)"
        ).cast("double") / 1e6).alias("var_20"),
    )
    want = {r.event_id: (r.ret_1, r.momentum_5, r.ma_5, r.var_20) for r in ref.collect()}
    assert got == want and len(got) == 60
