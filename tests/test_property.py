"""Property-based tests (hypothesis): the custom operators against
brute-force python oracles on arbitrary small inputs.

These cover the space the example-based tests can't: random tie
patterns, interleavings, empty sides, all-negative books.
"""

from __future__ import annotations

import re
from collections import defaultdict

import pytest

hypothesis = pytest.importorskip("hypothesis")
from hypothesis import HealthCheck, example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

from pyspark.sql import functions as F  # noqa: E402

from nt_etl_order_book_spark.operators.aggregates import book_reconstruct  # noqa: E402
from nt_etl_order_book_spark.operators.joins import asof_join  # noqa: E402

KEYS = ["A", "B"]
TS = st.integers(min_value=0, max_value=20)
VAL = st.integers(min_value=-5, max_value=10)  # ints: no float-compare noise

left_rows = st.lists(st.tuples(st.sampled_from(KEYS), TS), min_size=0, max_size=12)
right_rows = st.lists(st.tuples(st.sampled_from(KEYS), TS, VAL), min_size=0, max_size=12)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=left_rows, right=right_rows)
def test_asof_join_matches_bruteforce(spark_prop, left, right):
    spark = spark_prop
    # dedupe right per (key, ts): keep max value (the query contract)
    rd: dict[tuple, int] = {}
    for k, ts, v in right:
        rd[(k, ts)] = max(v, rd.get((k, ts), v))
    left_ids = [(k, ts, i) for i, (k, ts) in enumerate(left)]

    ldf = spark.createDataFrame(
        [(k, ts, i) for k, ts, i in left_ids] or [("Z", -1, -1)],
        "k string, ts int, lid int",
    )
    rdf = spark.createDataFrame(
        [(k, ts, v) for (k, ts), v in rd.items()] or [("Z", -1, 0)],
        "k string, ts int, snap int",
    )
    out = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"])
    got = {r.lid: r.asof_snap for r in out.collect()}

    for k, ts, i in left_ids or [("Z", -1, -1)]:
        cands = [(rts, v) for (rk, rts), v in rd.items() if rk == k and rts <= ts]
        expected = max(cands)[1] if cands else None
        if (k, ts, i) == ("Z", -1, -1):
            continue
        assert got[i] == expected, f"lid={i} key={k} ts={ts}: {got[i]} != {expected}"


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=left_rows, right=right_rows)
def test_asof_join_day_chunked_matches_bruteforce(spark_prop, left, right):
    # Same brute-force contract as above but with TIMESTAMP ts (int tick
    # t → day t//5, hour t%5) so the DAY-CHUNKED path runs: carries must
    # hop left-only days, multi-day gaps, and day boundaries exactly as
    # the global window would.
    from datetime import datetime, timedelta

    spark = spark_prop
    epoch = datetime(2024, 1, 1)

    def to_ts(t: int) -> datetime:
        return epoch + timedelta(days=t // 5, hours=t % 5)

    rd: dict[tuple, int] = {}
    for k, ts, v in right:
        rd[(k, ts)] = max(v, rd.get((k, ts), v))
    left_ids = [(k, ts, i) for i, (k, ts) in enumerate(left)]

    ldf = spark.createDataFrame(
        [(k, to_ts(ts), i) for k, ts, i in left_ids] or [("Z", epoch, -1)],
        "k string, ts timestamp, lid int",
    )
    rdf = spark.createDataFrame(
        [(k, to_ts(ts), v) for (k, ts), v in rd.items()] or [("Z", epoch, 0)],
        "k string, ts timestamp, snap int",
    )
    out = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"])
    got = {r.lid: r.asof_snap for r in out.collect()}

    for k, ts, i in left_ids:
        cands = [(rts, v) for (rk, rts), v in rd.items() if rk == k and rts <= ts]
        expected = max(cands)[1] if cands else None
        assert got[i] == expected, f"lid={i} key={k} ts={ts}: {got[i]} != {expected}"


maybe_val = st.one_of(st.none(), VAL)
nullable_right = st.lists(
    st.tuples(st.sampled_from(KEYS), TS, maybe_val, maybe_val), min_size=0, max_size=10
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(left=left_rows, right=nullable_right)
def test_asof_join_never_stitches_composite_rows(spark_prop, left, right):
    # Anti-stitch invariant: every matched (asof_a, asof_b) pair must be
    # a row that EXISTS in the right table — per-column last(ignorenulls)
    # used to fabricate composites from different right rows when one
    # column was NULL.
    spark = spark_prop
    rd: dict[tuple, tuple] = {}
    for k, ts, a, b in right:
        rd[(k, ts)] = (a, b)  # unique per (key, ts): last writer wins
    ldf = spark.createDataFrame(
        [(k, ts) for k, ts in left] or [("Z", -1)], "k string, ts int"
    )
    rdf = spark.createDataFrame(
        [(k, ts, a, b) for (k, ts), (a, b) in rd.items()] or [("Z", -1, 0, 0)],
        "k string, ts int, a int, b int",
    )
    out = asof_join(ldf, rdf, key="k", left_ts="ts", right_ts="ts", value_cols=["a", "b"])
    # no-match rows are all-null; (0, 0) is the empty-side placeholder row
    real_rows = set(rd.values()) | {(None, None), (0, 0)}
    for r in out.collect():
        assert (r.asof_a, r.asof_b) in real_rows, (
            f"composite row ({r.asof_a}, {r.asof_b}) never existed in right"
        )


snap_rows = st.lists(st.tuples(st.sampled_from(KEYS), TS, VAL), min_size=0, max_size=8)
delta_rows = st.lists(st.tuples(st.sampled_from(KEYS), TS, VAL), min_size=0, max_size=12)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(snaps=snap_rows, deltas=delta_rows)
def test_book_reconstruct_matches_bruteforce(spark_prop, snaps, deltas):
    spark = spark_prop
    sdf = spark.createDataFrame(
        [(k, ts, i, float(v)) for i, (k, ts, v) in enumerate(snaps)] or [("Z", -1, -1, 0.0)],
        "k string, ts int, event_id int, value double",
    )
    ddf = spark.createDataFrame(
        [(k, ts, float(v)) for k, ts, v in deltas] or [("Z", -1, 0.0)],
        "k string, ts int, value double",
    )
    out = {r.k: (r.book_value, r.n_deltas) for r in book_reconstruct(sdf, ddf, "k").collect()}

    # brute force
    latest: dict[str, tuple] = {}
    for i, (k, ts, v) in enumerate(snaps):
        cur = latest.get(k)
        if cur is None or (ts, i) > (cur[0], cur[1]):
            latest[k] = (ts, i, v)
    dsum: dict[str, float] = defaultdict(float)
    dcnt: dict[str, int] = defaultdict(int)
    for k, ts, v in deltas:
        snap_ts = latest.get(k, (None,))[0]
        if snap_ts is None or ts > snap_ts:
            dsum[k] += v
            dcnt[k] += 1
    keys = set(latest) | set(dcnt)
    for k in keys:
        if k == "Z":
            continue
        base = latest.get(k, (0, 0, 0.0))[2] if k in latest else 0.0
        assert out[k] == (base + dsum.get(k, 0.0), dcnt.get(k, 0)), k


pack_docs = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),  # doc_id (deduped below)
        st.sampled_from(KEYS),                   # source
        st.integers(min_value=1, max_value=50),  # n_tokens
    ),
    min_size=0,
    max_size=16,
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(docs=pack_docs)
def test_pack_sequences_matches_bruteforce(spark_prop, docs):
    # Bucketed concat-then-chunk packing vs a python brute force: within
    # each (source, floor(doc_id/shard)) shard, docs concatenated in
    # doc_id order, a doc belongs to the pack its first token lands in.
    from nt_etl_order_book_spark.functions.packing import pack_sequences

    budget, shard = 16, 4
    dd: dict[int, tuple] = {}
    for doc_id, src, nt in docs:
        dd[doc_id] = (src, nt)  # unique doc_ids (last wins)
    rows = [(i, s, n) for i, (s, n) in sorted(dd.items())]

    # pack ids are NOT necessarily contiguous: a doc longer than the
    # whole budget straddles packs p..p+k and the next doc starts in
    # p+k, so packs with no doc START never emit a row — keyed dict,
    # not a list.
    expected: dict[tuple, dict] = defaultdict(dict)  # shard -> pack_id -> agg
    shard_cum: dict[tuple, int] = defaultdict(int)
    for doc_id, src, nt in rows:
        key = (src, doc_id // shard)
        pack_id = shard_cum[key] // budget
        p = expected[key].setdefault(pack_id, [0, 0, doc_id, doc_id])
        p[0] += 1  # n_docs
        p[1] += nt  # pack_tokens
        p[3] = doc_id  # last_doc_id
        shard_cum[key] += nt

    df = spark_prop.createDataFrame(
        rows or [(0, "Z", 1)], "doc_id long, source string, n_tokens long"
    )
    out = pack_sequences(df, budget=budget, shard_docs=shard)
    got = {
        (r.source, r.bucket, r.pack_id): (r.n_docs, r.pack_tokens, r.first_doc_id, r.last_doc_id)
        for r in out.collect()
    }
    if not rows:
        assert got == {("Z", 0, 0): (1, 1, 0, 0)}
        return
    want = {
        (src, b, pid): tuple(agg)
        for (src, b), packs in expected.items()
        for pid, agg in packs.items()
    }
    assert got == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=24),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_hash_bucket_matches_python_md5(spark_prop, texts):
    # The Horner ascii fold over the first 8 md5 hex chars must equal
    # the reference computation int(md5[:8], 16) % n for ANY content —
    # this is the portability contract every deterministic split/sample
    # op (sample_split, domain_mix, bloom positions) builds on.
    import hashlib

    from nt_etl_order_book_spark.functions.sampling import hash_bucket

    df = spark_prop.createDataFrame([(t,) for t in texts], "t string")
    got = {r.t: r.b for r in df.select("t", hash_bucket(F.col("t"), 100).alias("b")).collect()}
    for t in texts:
        want = int(hashlib.md5(t.encode()).hexdigest()[:8], 16) % 100
        assert got[t] == want, (t, got[t], want)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    edges=st.lists(
        st.tuples(st.integers(min_value=0, max_value=11), st.integers(min_value=0, max_value=11)),
        min_size=1,
        max_size=14,
    )
)
def test_connected_components_matches_union_find(spark_prop, edges):
    # Distributed min-label propagation + pointer doubling vs a python
    # union-find on arbitrary small graphs (self-loops and duplicate
    # edges included) — label must be the component's min node id.
    from nt_etl_order_book_spark.functions.dedup import connected_components

    parent = list(range(12))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    nodes = {v for e in edges for v in e}
    want = {}
    for v in nodes:
        comp = [u for u in nodes if find(u) == find(v)]
        want[v] = min(comp)

    df = spark_prop.createDataFrame(edges, "a long, b long")
    got = {r.x: r.label for r in connected_components(df).collect()}
    assert got == want


# ---------------------------------------------------------- r5 additions

price_rows = st.lists(
    st.tuples(
        st.integers(min_value=100, max_value=999),   # cents price
        st.integers(min_value=0, max_value=50),      # print size
    ),
    min_size=3,
    max_size=16,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=price_rows)
def test_kyle_lambda_matches_bruteforce_ols(spark_prop, rows):
    import datetime as dt

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.operators import timeseries as tsmod

    spark = spark_prop
    ev = spark.createDataFrame(
        [
            (i, dt.datetime(2024, 1, 1, 9, 0, i), 1, "view", c / 100.0,
             '{"k": %d}' % vol)
            for i, (c, vol) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    orig = tsmod.load_table
    try:
        tsmod.load_table = lambda _s, _d, name: ev
        out = registry.all_specs()["kyle_lambda"].fn(spark, "_").collect()
    finally:
        tsmod.load_table = orig

    # brute force: tick-rule sign with carry, OLS slope over (sgn*vol, dc)
    xs, ys = [], []
    sgn = None
    prev = None
    for c, vol in rows:
        d = None if prev is None else c - prev
        prev = c
        if d is not None and d > 0:
            sgn = 1
        elif d is not None and d < 0:
            sgn = -1
        if d is not None and sgn is not None:
            xs.append(sgn * vol)
            ys.append(d)
    n = len(xs)
    if n == 0:
        assert out == [] or out[0].kyle_lambda_cents is None
        return
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    den = n * sxx - sx * sx
    want = None if den == 0 else round((n * sxy - sx * sy) / den, 6)
    assert len(out) == 1 and out[0].n_obs == n
    assert out[0].kyle_lambda_cents == want


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(vols=st.lists(st.integers(min_value=1, max_value=30), min_size=2, max_size=20))
def test_gini_matches_mean_absolute_difference(spark_prop, vols):
    import datetime as dt

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.operators import timeseries as tsmod

    spark = spark_prop
    rows = []
    eid = 0
    for m, v in enumerate(vols):
        for _ in range(v):
            rows.append((eid, dt.datetime(2024, 1, 1, 9, 0, 0), m, "view", 1.0))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    orig = tsmod.load_table
    try:
        tsmod.load_table = lambda _s, _d, name: ev
        g = registry.all_specs()["gini_concentration"].fn(spark, "_").collect()[0]
    finally:
        tsmod.load_table = orig
    from fractions import Fraction

    n = len(vols)
    # Gini = mean absolute difference / (2 * mean) = S / (2 n T), exact.
    # The query rounds its double result to 6 dp, so it sits within half
    # a unit of the 6th place of the exact value. (Comparing against
    # Python's round() instead fails on exact ties such as 33/128:
    # round() goes to even, Spark's ROUND goes half-up.)
    want = Fraction(sum(abs(a - b) for a in vols for b in vols), 2 * n * sum(vols))
    assert g.n_markets == n
    assert abs(Fraction(g.gini) - want) <= Fraction(1, 2 * 10**6) + Fraction(1, 10**12)


WORDS = ["aa", "bb", "cc", "dd"]
doc_texts = st.lists(
    st.lists(st.sampled_from(WORDS), min_size=0, max_size=6).map(" ".join),
    min_size=0,
    max_size=8,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=doc_texts)
def test_shingle_pair_stats_matches_bruteforce(spark_prop, texts):
    # The in-array pair generation (capped postings, i<j over the
    # sorted list) against a python oracle of the same semantics:
    # distinct 3-gram shingles per doc (short docs contribute one
    # partial gram — including the "" shingle of an empty doc), df cap
    # applied across docs, pair rows for every doc pair sharing >= 1
    # surviving shingle with exact (inter, sz_a, sz_b).
    from nt_etl_order_book_spark.functions.dedup import shingle_pair_stats

    spark = spark_prop
    CAP = 3

    def sh_of(text: str) -> set:
        toks = [t for t in text.split(" ") if t != ""]
        return {" ".join(toks[i : i + 3]) for i in range(max(len(toks) - 3, 0) + 1)}

    shingle_sets = {i: sh_of(t) for i, t in enumerate(texts)}
    df_count: dict = defaultdict(int)
    for s in shingle_sets.values():
        for g in s:
            df_count[g] += 1
    surviving = {i: {g for g in s if df_count[g] <= CAP} for i, s in shingle_sets.items()}
    want = {}
    ids = sorted(surviving)
    for x in ids:
        for y in ids:
            if x < y:
                inter = len(surviving[x] & surviving[y])
                if inter >= 1:
                    want[(x, y)] = (inter, len(surviving[x]), len(surviving[y]))

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] or [(0, "placeholder never matches")],
        "doc_id long, text string",
    )
    got = {
        (r.a, r.b): (r.inter, r.sz_a, r.sz_b)
        for r in shingle_pair_stats(docs, cap=CAP).collect()
    }
    if not texts:
        assert got == {}
        return
    assert got == want

@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=doc_texts)
def test_winnow_fingerprints_match_bruteforce(spark_prop, texts):
    # The r9 rolling-gram kernel (token md5-hex8 once, polynomial
    # combine mod 2^57) against a character-faithful python oracle of
    # the full winnowing pipeline: per-position k-gram hashes with the
    # clipped partial-gram rule (short docs fold the tokens they have;
    # empty docs emit the -1 sentinel), then distinct window minima.
    # This is the hypothesis twin of the shingle kernel's bruteforce
    # gate — the r8 version of which caught the ANSI element_at throw.
    import hashlib

    from nt_etl_order_book_spark.functions.dedup import SHINGLE_HASH_MOD, SHINGLE_HASH_MULT
    from nt_etl_order_book_spark.functions.text import (
        WINNOW_K,
        WINNOW_W,
        winnow_fp_expr,
        winnow_hashes,
    )

    spark = spark_prop

    def py_hex8(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def py_pipeline(text: str) -> tuple[list[int], set[int]]:
        toks = [t for t in text.split(" ") if t != ""]
        th = [py_hex8(t) for t in toks]
        if not th:
            hs = [-1]
        else:
            hs = []
            for i in range(max(len(th) - WINNOW_K, 0) + 1):
                acc = th[i]
                for j in range(1, WINNOW_K):
                    if i + j < len(th):
                        acc = (acc * SHINGLE_HASH_MULT + th[i + j]) % SHINGLE_HASH_MOD
                hs.append(acc)
        fp = {
            min(hs[i : i + WINNOW_W])
            for i in range(max(len(hs) - WINNOW_W, 0) + 1)
        }
        return hs, fp

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)] or [(0, "placeholder")],
        "doc_id long, text string",
    )
    hashed = winnow_hashes(docs)
    got = {
        r.doc_id: (list(r.hs), set(r.fp))
        for r in hashed.select("doc_id", "hs", winnow_fp_expr().alias("fp")).collect()
    }
    for i, t in enumerate(texts):
        hs, fp = py_pipeline(t)
        assert got[i] == (hs, fp), (t, got[i], (hs, fp))

@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    texts=st.lists(
        st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=40),
        min_size=1,
        max_size=6,
    ),
    n=st.integers(min_value=2, max_value=8),
)
def test_rolling_gram_expr_matches_bruteforce(spark_prop, texts, n):
    # The shared hash-once + linear-fold kernel (token_hash_expr +
    # rolling_gram_expr) against a python oracle: xxhash64 can't be
    # reproduced in python, so the oracle property is STRUCTURAL —
    # gram count = size - n + 1, and two positions collide exactly when
    # their token windows are equal (same tokens → same rolling hash;
    # the converse at these sizes is the ~D²/2⁵⁸ collision bound).
    # The clipped kernel (partial_grams) is checked on the same texts.
    from nt_etl_order_book_spark.functions.dedup import (
        partial_grams,
        rolling_gram_expr,
        token_hash_expr,
    )

    spark = spark_prop
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    hashed = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", " "), lambda t: t != "")).alias("ntok"),
        token_hash_expr().alias("_th"),
    )
    staged = hashed.filter(F.col("ntok") >= n)
    got = {
        r.doc_id: list(r.g)
        for r in staged.select(
            "doc_id", rolling_gram_expr(F.col("_th"), n).alias("g")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x != ""]
        if len(toks) < n:
            assert i not in got
            continue
        grams = got[i]
        assert len(grams) == len(toks) - n + 1
        windows = [tuple(toks[j : j + n]) for j in range(len(toks) - n + 1)]
        for x in range(len(windows)):
            for y in range(x + 1, len(windows)):
                if windows[x] == windows[y]:
                    assert grams[x] == grams[y], (t, x, y)
                else:
                    assert grams[x] != grams[y], (t, x, y)

    # partial_grams on every doc: -1 for an empty doc, ONE clipped gram
    # for a doc of k < n tokens (the full-width fold over all k of them),
    # and the full-width grams wherever size >= n.
    th = F.col("_th")
    whole = F.coalesce(
        *[F.when(F.col("ntok") == k, rolling_gram_expr(th, k)) for k in range(1, n)]
    )
    part = {
        r.doc_id: (list(r.p), r.w)
        for r in hashed.select(
            "doc_id", partial_grams(th, n).alias("p"), whole.alias("w")
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = [x for x in t.split(" ") if x != ""]
        p, w = part[i]
        if not toks:
            assert p == [-1], t
        elif len(toks) < n:
            assert len(w) == 1 and w[0] >= 0 and p == list(w), (t, p, w)
        else:
            assert p == got[i], (t, p, got[i])


# ---------------------------------------------------------------------------
# table_diff: the order-independent multi-row-key digest, vs multiset truth
# ---------------------------------------------------------------------------
# The registered table_diff query diffs on a UNIQUE key (event_id), so the
# driver oracle never exercises the digest's multi-row-key claim: that a
# key owning SEVERAL rows digests order-independently (sum of per-row
# 56-bit sha2 prefixes + row count), so reordered-but-identical row
# multisets compare 'unchanged' and any multiset change compares
# 'changed'. Small discrete keys force heavy key collisions; values
# include NULL and strings that could collide with naive NULL tagging
# ("null", "") — the tagged digest must keep them distinct.

_DIFF_KEYS = st.integers(min_value=0, max_value=4)
_DIFF_VALS = st.sampled_from([None, "", "null", "a", "b", "v:1"])
_diff_rows = st.lists(
    st.tuples(_DIFF_KEYS, _DIFF_VALS, _DIFF_VALS), min_size=0, max_size=14
)


@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
@given(before=_diff_rows, after=_diff_rows)
def test_table_diff_matches_multiset_bruteforce(spark_prop, before, after):
    from collections import Counter

    from nt_etl_order_book_spark.operators.audits import table_diff

    spark = spark_prop
    schema = "k int, v1 string, v2 string"
    bdf = spark.createDataFrame(before or [(-99, None, None)], schema)
    adf = spark.createDataFrame(after or [(-99, None, None)], schema)
    got = {r.k: r.status for r in table_diff(bdf, adf, ["k"]).collect()}

    bm: dict[int, Counter] = defaultdict(Counter)
    for k, v1, v2 in before or [(-99, None, None)]:
        bm[k][(v1, v2)] += 1
    am: dict[int, Counter] = defaultdict(Counter)
    for k, v1, v2 in after or [(-99, None, None)]:
        am[k][(v1, v2)] += 1
    expected = {}
    for k in set(bm) | set(am):
        if k not in bm:
            expected[k] = "added"
        elif k not in am:
            expected[k] = "removed"
        elif bm[k] == am[k]:
            expected[k] = "unchanged"
        else:
            expected[k] = "changed"
    assert got == expected


# current_book: snapshot messages (ladders of distinct levels) and delta
# messages, each carrying one stream id from a pool that mixes '5000-9'
# vs '5000-10', '999-0' vs '5000-0' and non-conforming ids, or none.
# A sid names one message (the kernel's precondition), so ids are drawn
# without replacement; replays are exact copies of drawn messages.
SID_POOL = ["5000-9", "5000-10", "999-0", "5000-0", "5000-1", "7-3", "abc", "5000-x", "", "12", "1-2-3", "3-4"]
LEVELS = st.tuples(st.sampled_from(["yes", "no"]), st.integers(min_value=1, max_value=3))
snap_msgs = st.lists(
    st.tuples(
        st.sampled_from(KEYS),
        st.integers(min_value=0, max_value=4),  # few ts: same-ts snapshot messages are common
        st.booleans(),  # carries a sid
        st.dictionaries(LEVELS, st.integers(min_value=0, max_value=5), min_size=1, max_size=3),
    ),
    max_size=4,
)
delta_msgs = st.lists(
    st.tuples(st.sampled_from(KEYS), st.integers(min_value=0, max_value=6), st.booleans(), LEVELS, VAL),
    max_size=8,
)
book_history = st.fixed_dictionaries(
    {
        "snaps": snap_msgs,
        "deltas": delta_msgs,
        "sids": st.permutations(SID_POOL),
        "replays": st.lists(st.integers(min_value=0, max_value=11), max_size=4),
        "as_of_ms": st.one_of(st.none(), st.integers(min_value=0, max_value=6)),
        "clamp": st.booleans(),
    }
)


def _sidk(sid):
    if sid is None:
        return None
    return (int(sid.split("-")[0]), int(sid.split("-")[1]), sid) if re.fullmatch(r"\d+-\d+", sid) else (-1, -1, sid)


def _book_bruteforce(snap_rows, delta_rows, as_of_ms, clamp):
    if as_of_ms is not None:
        snap_rows = [r for r in snap_rows if r[0] <= as_of_ms]
        delta_rows = [r for r in delta_rows if r[0] <= as_of_ms]
    seen, deduped = set(), []
    for r in delta_rows:
        if r[5] is None or r[5] not in seen:
            deduped.append(r)
            seen.add(r[5])
    book: dict[tuple, int] = {}
    snap_ts: dict[str, int] = {}
    for k in KEYS:
        mine = [r for r in snap_rows if r[1] == k]
        if not mine:
            continue
        snap_ts[k] = ts = max(r[0] for r in mine)
        at_ts = [r for r in mine if r[0] == ts]
        sidks = [_sidk(r[5]) for r in at_ts if r[5] is not None]
        best: dict[tuple, tuple] = {}
        for ts_, _k, side, p, c, sid in at_ts:
            sk = _sidk(sid)
            if sk is not None and sk != max(sidks):
                continue
            rank = (sk is not None, sk or (), c)
            if (k, side, p) not in best or rank > best[(k, side, p)]:
                best[(k, side, p)] = rank
        book.update({lvl: rank[2] for lvl, rank in best.items()})
    for ts, k, side, p, d, _sid in deduped:
        if k not in snap_ts or ts > snap_ts[k]:
            book[(k, side, p)] = book.get((k, side, p), 0) + d
    return {lvl: c for lvl, c in book.items() if c > 0 or not clamp}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(h=book_history)
@example(
    h={  # two snapshot messages at one ts, '5000-10' > '5000-9', a NULL-sid level, a replay
        "snaps": [("A", 3, True, {("yes", 1): 4}), ("A", 3, True, {("yes", 1): 2, ("no", 2): 1}), ("A", 3, False, {("no", 2): 5})],
        "deltas": [("A", 4, True, ("yes", 1), 3), ("A", 2, True, ("yes", 1), 9), ("B", 1, False, ("no", 3), -2)],
        "sids": ["5000-10", "5000-9", "abc"] + SID_POOL[3:],
        "replays": [3, 3, 5, 1],
        "as_of_ms": None,
        "clamp": False,
    }
)
def test_current_book_matches_bruteforce(spark_prop, h):
    from decimal import Decimal

    from nt_etl_order_book_spark.analytics import current_book

    sids = iter(h["sids"])
    snap_msgs_ = []
    for k, ts, has, lv in h["snaps"]:  # one sid per message, shared by its levels
        sid = next(sids) if has else None
        snap_msgs_.append([(ts, k, side, p, c, sid) for (side, p), c in lv.items()])
    delta_msgs_ = [[(ts, k, side, p, d, next(sids) if has else None)] for k, ts, has, (side, p), d in h["deltas"]]
    msgs = snap_msgs_ + delta_msgs_
    for i in h["replays"]:  # an at-least-once replay re-sends a whole message
        if i < len(msgs):
            (snap_msgs_ if i < len(snap_msgs_) else delta_msgs_).append(msgs[i])
    snap_rows = [r for m in snap_msgs_ for r in m]
    delta_rows = [r for m in delta_msgs_ for r in m]

    def frame(rows, qty):
        return spark_prop.createDataFrame(
            [(ts, k, side, Decimal(p) / 100, q, sid) for ts, k, side, p, q, sid in rows],
            f"timestamp long, ticker string, side string, price_dollars decimal(5,4), {qty} int, redis_stream_id string",
        )

    out = current_book(frame(snap_rows, "contracts"), frame(delta_rows, "delta"), as_of_ms=h["as_of_ms"], clamp=h["clamp"])
    got = [((r.ticker, r.side, int(r.price_dollars * 100)), r.contracts) for r in out.collect()]
    assert len(got) == len(dict(got)), "one row per level"
    assert dict(got) == _book_bruteforce(snap_rows, delta_rows, h["as_of_ms"], h["clamp"])
