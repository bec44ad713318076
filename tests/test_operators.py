"""Per-operator unit tests on tiny in-memory frames — SURVEY §5.2 edge
semantics: empty ladder sides, negative deltas, duplicate
redis_stream_id replays, seq gaps, decimal boundaries, as-of ties.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import functions as F
from pyspark.sql import Row

from nt_etl_order_book_spark.operators.aggregates import book_reconstruct, dsum
from nt_etl_order_book_spark.operators.joins import asof_join
from nt_etl_order_book_spark.operators.setops import dedup_keep_first
from nt_etl_order_book_spark.operators.transforms import (
    cast_to,
    route_by_type,
    unpivot_sides,
)


def test_unpivot_sides_emits_literal_side(spark):
    df = spark.createDataFrame([(1, 10.0, 20.0)], "id int, yes double, no double")
    out = unpivot_sides(df, keep=["id"], side_cols={"yes": "yes", "no": "no"}).collect()
    assert {(r.side, r.ladder) for r in out} == {("yes", 10.0), ("no", 20.0)}


def test_cast_to_decimal_boundaries(spark):
    df = spark.createDataFrame([("0.0001",), ("0.9999",)], "p string")
    out = cast_to(df, {"p": "decimal(5,4)"}).collect()
    assert [r.p for r in out] == [Decimal("0.0001"), Decimal("0.9999")]


def test_route_by_type(spark):
    df = spark.createDataFrame(
        [("orderbook_snapshot", 1), ("orderbook_delta", 2), ("other", 3)], "type string, v int"
    )
    assert route_by_type(df, "type", "orderbook_delta").collect()[0].v == 2


def test_dedup_keep_first_is_deterministic_on_replay(spark):
    # Same redis_stream_id appearing twice (at-least-once replay):
    # survivor must be the earliest by (ts, payload) regardless of input order.
    rows = [("1-1", 5, "b"), ("1-1", 5, "a"), ("1-1", 3, "z"), ("2-1", 9, "q")]
    df = spark.createDataFrame(rows, "redis_stream_id string, ts int, payload string")
    out = dedup_keep_first(df, ["redis_stream_id"], [F.asc("ts"), F.asc("payload")]).collect()
    got = {(r.redis_stream_id, r.ts, r.payload) for r in out}
    assert got == {("1-1", 3, "z"), ("2-1", 9, "q")}


def test_asof_join_tie_and_no_match(spark):
    left = spark.createDataFrame(
        [("A", 10, "l1"), ("A", 5, "l2"), ("B", 1, "l3")], "k string, ts int, tag string"
    )
    right = spark.createDataFrame(
        [("A", 5, 50.0), ("A", 8, 80.0)], "k string, ts int, snap double"
    )
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"])
    got = {(r.k, r.ts, r.asof_snap) for r in out.collect()}
    # ts=10 → snapshot at 8; ts=5 → tie matches (<= semantics); B → no match.
    assert got == {("A", 10, 80.0), ("A", 5, 50.0), ("B", 1, None)}


def test_asof_join_day_chunked_carry(spark):
    # Timestamp ts engages the day-chunked path. Pins the carries the
    # fixture can't: a left row early on day D matching day D-1's last
    # right row, a LEFT-ONLY day whose carry must hop the day-distinct
    # frame, a multi-day gap, and the ≤ tie at a day boundary.
    left = spark.createDataFrame(
        [
            ("A", "2024-01-01 00:00:00", 1),  # before any right → NULL
            ("A", "2024-01-02 00:00:01", 2),  # day 2 early → day 1's last (20.0)
            ("A", "2024-01-03 12:00:00", 3),  # left-only day → carry 25.0
            ("A", "2024-01-05 00:00:00", 4),  # 2-day gap → still 25.0
            ("A", "2024-01-05 06:00:00", 5),  # tie with right at same ts → 50.0
            ("B", "2024-01-04 00:00:00", 6),  # other key, no rights → NULL
        ],
        "k string, ts string, lid int",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [
            ("A", "2024-01-01 09:00:00", 10.0),
            ("A", "2024-01-01 23:59:59", 20.0),  # day 1 close
            ("A", "2024-01-02 08:00:00", 25.0),  # day 2's only right
            ("A", "2024-01-05 06:00:00", 50.0),  # exact-tie row
        ],
        "k string, ts string, snap double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join(left, right, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"])
    got = {r.lid: r.asof_snap for r in out.collect()}
    assert got == {1: None, 2: 20.0, 3: 25.0, 4: 25.0, 5: 50.0, 6: None}


def test_asof_join_duplicate_ts_right_rows_deterministic(spark):
    # The as-of contract wants right unique per (key, ts); when callers
    # violate it anyway, the pick must be deterministic and IDENTICAL
    # between the int-ts single-window path and the timestamp-ts
    # day-chunked path (the carry's max_by and the local window both
    # tiebreak on the right value struct → greatest duplicate wins,
    # and the ambiguity cannot propagate differently across days).
    left_rows = [("A", 10, "l1"), ("A", 20, "l2")]
    right_rows = [("A", 5, 50.0), ("A", 5, 70.0), ("A", 5, 60.0)]  # dup (A,5)
    left_i = spark.createDataFrame(left_rows, "k string, ts int, tag string")
    right_i = spark.createDataFrame(right_rows, "k string, ts int, snap double")
    out_i = asof_join(
        left_i, right_i, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"]
    )
    got_i = {r.tag: r.asof_snap for r in out_i.collect()}

    def _ts(day_off: int, sec: int) -> str:
        return f"2024-01-0{day_off} 00:00:{sec:02d}"

    # Same shape on the timestamp path, with the duplicates on day 1
    # and the second left row on day 2 so the pick rides the carry.
    left_t = spark.createDataFrame(
        [("A", _ts(1, 10), "l1"), ("A", _ts(2, 20), "l2")], "k string, ts string, tag string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right_t = spark.createDataFrame(
        [("A", _ts(1, 5), 50.0), ("A", _ts(1, 5), 70.0), ("A", _ts(1, 5), 60.0)],
        "k string, ts string, snap double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out_t = asof_join(
        left_t, right_t, key="k", left_ts="ts", right_ts="ts", value_cols=["snap"]
    )
    got_t = {r.tag: r.asof_snap for r in out_t.collect()}

    # Greatest duplicate by the value struct wins on both paths, twice.
    assert got_i == {"l1": 70.0, "l2": 70.0}
    assert got_t == {"l1": 70.0, "l2": 70.0}
    assert {r.tag: r.asof_snap for r in out_i.collect()} == got_i
    assert {r.tag: r.asof_snap for r in out_t.collect()} == got_t


def test_asof_join_null_value_not_stitched(spark):
    # The matched right row must arrive WHOLE: with per-column
    # last(ignorenulls) a NULL in one value column was stitched from an
    # older right row, emitting a composite that never existed.
    left = spark.createDataFrame([("A", 10, "l1")], "k string, ts int, tag string")
    right = spark.createDataFrame(
        [("A", 5, 50.0, "old"), ("A", 8, None, "new")],
        "k string, ts int, snap double, label string",
    )
    out = asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts", value_cols=["snap", "label"]
    ).collect()
    assert [(r.asof_snap, r.asof_label) for r in out] == [(None, "new")]


def test_book_reconstruct_negative_deltas_to_zero(spark):
    snaps = spark.createDataFrame(
        [("M", 100, 1, 10.0), ("M", 50, 0, 99.0)], "k string, ts int, event_id int, value double"
    )
    deltas = spark.createDataFrame(
        [("M", 150, -4.0), ("M", 160, -6.0), ("M", 90, 123.0),  # before latest snap: ignored
         ("N", 10, 7.0)],  # no snapshot: base 0
        "k string, ts int, value double",
    )
    out = {r.k: (r.book_value, r.n_deltas) for r in book_reconstruct(snaps, deltas, "k").collect()}
    assert out["M"] == (0.0, 2)  # 10 - 4 - 6 → exactly zero (negative deltas legal)
    assert out["N"] == (7.0, 1)


def test_dsum_is_order_independent(spark):
    vals = [(0.1,), (0.2,), (0.3,)] * 100
    df = spark.createDataFrame(vals, "v double")
    a = df.repartition(1).agg(dsum("v").alias("s")).collect()[0].s
    b = df.repartition(13).agg(dsum("v").alias("s")).collect()[0].s
    assert a == b == 60.0


def test_seq_gap_detection(spark):
    df = spark.createDataFrame(
        [Row(user_id=1, event_id=i) for i in [1, 2, 3, 7, 8]]
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("event_id")
    gaps = (
        df.select("user_id", "event_id", F.lag("event_id").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("event_id") - F.col("prev") > 1))
        .collect()
    )
    assert [(g.event_id, g.prev) for g in gaps] == [(7, 3)]


def test_multimodal_bmp_decodes_for_real(spark):
    # A well-formed 24bpp BMP must decode natively (header parse + numpy
    # pixel stats); arbitrary bytes take the deterministic fallback with
    # NULL image fields. Runs through the full mapInPandas path.
    import struct

    from nt_etl_order_book_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        extract_features,
    )

    width, height = 2, 2
    row = bytes([255, 0, 0] * 2 + [0, 0]) # two blue pixels + 2 pad bytes
    red_row = bytes([0, 0, 255] * 2 + [0, 0])
    pixels = row + red_row
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    )
    bmp = header + pixels
    rows = [
        (1, "image", bmp, len(bmp), "fp1"),
        (2, "image", b"not an image at all, just bytes", 31, "fp2"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r.doc_id: r for r in extract_features(df).collect()}

    real = got[1]
    assert (real.width, real.height, real.feature_dim) == (2, 2, 3)
    # 2 blue + 2 red pixels: mean B = mean R = 127.5, mean G = 0
    expect_lum = (0.114 * 127.5 + 0.587 * 0.0 + 0.299 * 127.5) / 255.0
    assert abs(real.mean_lum - expect_lum) < 1e-9

    fake = got[2]
    assert fake.width is None and fake.height is None and fake.mean_lum is None
    assert fake.feature_dim == 16 + (31 % 48)


def test_multimodal_resize_real_bmp_and_fallback(spark):
    # BMPs resize for real: a solid-color image thumbnails to
    # THUMB_EDGE² pixels of that color, so the crc is exactly
    # sum(BGR) * 64. Non-images take the deterministic byte-sample
    # fallback (NULL dims); both paths must be stable across runs.
    import struct

    from nt_etl_order_book_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        THUMB_EDGE,
        resize_images,
    )

    width, height = 4, 4
    row = bytes([10, 20, 30] * width)  # 12 bytes/row, already 4-aligned
    pixels = row * height
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    )
    rows = [
        (1, "image", header + pixels, 54 + len(pixels), "fp1"),
        (2, "audio", b"definitely not pixels", 21, "fp2"),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    for _ in range(2):  # deterministic across runs
        got = {r.doc_id: r for r in resize_images(df).collect()}
        real = got[1]
        assert (real.out_w, real.out_h) == (THUMB_EDGE, THUMB_EDGE)
        assert real.thumb_crc == (10 + 20 + 30) * THUMB_EDGE * THUMB_EDGE
        fake = got[2]
        assert fake.out_w is None and fake.out_h is None and fake.thumb_crc > 0


def _gradient_bmp(width: int, height: int, *, topdown: bool) -> bytes:
    """24bpp gradient BMP with per-pixel BGR = ((x*7+y), (y*31+x), (x*y+3))
    mod 256 in IMAGE orientation; rows padded to 4 bytes. Bottom-up files
    store image rows bottom-first (positive height, the BMP default)."""
    import struct

    rows = []
    for y in range(height):
        row = bytearray()
        for x in range(width):
            row += bytes([(x * 7 + y) % 256, (y * 31 + x) % 256, (x * y + 3) % 256])
        row += b"\x00" * ((-len(row)) % 4)
        rows.append(bytes(row))
    stored = rows if topdown else rows[::-1]
    pixels = b"".join(stored)
    h_field = -height if topdown else height
    return (
        b"BM"
        + struct.pack("<IHHI", 54 + len(pixels), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, width, h_field, 1, 24, 0, len(pixels), 0, 0, 0, 0)
        + pixels
    )


def test_multimodal_resize_thumbnail_bytes_pinned(spark):
    # Exact-bytes regression pin for the REAL resize path (r4 verdict
    # item 3): a 10x6 gradient BMP — non-solid, padded rows, BOTH storage
    # orientations — must thumbnail to byte-identical THUMB_EDGE² BGR
    # samples in image orientation. The expectation is derived by an
    # independent pure-Python loop AND pinned as a sha256 literal, so a
    # silent change to the sampling math (or a reintroduced orientation
    # bug — bottom-up files used to be sampled upside down) trips even
    # if impl and test drift together.
    import hashlib

    from nt_etl_order_book_spark.functions.multimodal import (
        MEDIA_SCHEMA,
        THUMB_EDGE,
        _bmp_pixels,
        resize_images,
    )

    width, height = 10, 6
    exp = []
    for i in range(THUMB_EDGE):
        y = (i * height) // THUMB_EDGE
        for j in range(THUMB_EDGE):
            x = (j * width) // THUMB_EDGE
            exp += [(x * 7 + y) % 256, (y * 31 + x) % 256, (x * y + 3) % 256]
    exp_bytes = bytes(exp)
    assert (
        hashlib.sha256(exp_bytes).hexdigest()
        == "1e37cd18e578b95c408f94f7b2d408186f4af0f38d62c99ef0bb9839e6cd24f5"
    )
    exp_crc = sum(exp) % (1 << 31)
    assert exp_crc == 7424  # pinned alongside the byte digest

    bmps = {
        1: _gradient_bmp(width, height, topdown=True),
        2: _gradient_bmp(width, height, topdown=False),
    }
    # thumbnail BYTES, sampled exactly as resize_payload samples them
    yi = [(i * height) // THUMB_EDGE for i in range(THUMB_EDGE)]
    xi = [(j * width) // THUMB_EDGE for j in range(THUMB_EDGE)]
    for bmp in bmps.values():
        px = _bmp_pixels(bmp)
        thumb = bytes(int(v) for v in px[yi][:, xi].ravel())
        assert thumb == exp_bytes

    rows = [(k, "image", b, len(b), f"fp{k}") for k, b in bmps.items()]
    got = {
        r.doc_id: r
        for r in resize_images(spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()
    }
    for k in bmps:
        assert (got[k].out_w, got[k].out_h, got[k].thumb_crc) == (
            THUMB_EDGE,
            THUMB_EDGE,
            exp_crc,
        )


def test_multimodal_resize_sf001_full_output_audit(spark):
    # multimodal_resize is rows-only at the driver (mapInPandas, no SQL
    # oracle) — this is its quantitative audit (r4 verdict item 3): at
    # sf0.01, EVERY output row must equal an independent pandas
    # recomputation from the parquet fixture (payload = utf-8 text,
    # media_type from doc_id%3, fallback crc = byte-stride fold).
    import pyarrow.parquet as pq

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions.multimodal import THUMB_EDGE

    sf01 = "/root/testdata/sf0.01"
    tbl = pq.read_table(f"{sf01}/documents.parquet", columns=["doc_id", "text"])
    kinds = ["image", "audio", "video"]
    want = set()
    for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
        payload = text.encode("utf-8")
        n = len(payload)
        if n == 0:
            want.add((doc_id, kinds[doc_id % 3], 0, None, None, 0))
            continue
        k = THUMB_EDGE * THUMB_EDGE
        crc = 0
        for j in range(min(n, k)):
            crc = (crc * 31 + payload[(j * n) // k] + j) % (1 << 31)
        want.add((doc_id, kinds[doc_id % 3], n, None, None, crc))

    got = {
        (r.doc_id, r.media_type, r.n_src_bytes, r.out_w, r.out_h, r.thumb_crc)
        for r in registry.all_specs()["multimodal_resize"].fn(spark, sf01).collect()
    }
    assert got == want


def test_corpus_filter_funnel_stages_partition_docs(spark, sf_dir):
    # The funnel stages must PARTITION each source's docs: every doc is
    # counted in exactly one of fail_quality / fail_repetition /
    # dup_dropped / kept, and survivors carry positive token mass.
    from nt_etl_order_book_spark import registry

    rows = registry.all_specs()["corpus_filter_funnel"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.n_docs == r.n_fail_quality + r.n_fail_repetition + r.n_dup_dropped + r.n_kept
        assert (r.tokens_kept > 0) == (r.n_kept > 0)


def test_domain_kl_divergence_is_nonnegative(spark, sf_dir):
    # Gibbs' inequality: KL(P_source || P_corpus) >= 0, equality only if
    # the source's unigram distribution equals the corpus's. A negative
    # value (beyond the 6-dp rounding) means the estimator is broken.
    from nt_etl_order_book_spark import registry

    rows = registry.all_specs()["domain_kl_divergence"].fn(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.kl_nats >= -1e-6, (r.source, r.kl_nats)
        assert r.vocab > 0 and r.src_tokens > 0


def test_rag_chunk_covers_every_token_with_stride_overlap(spark, sf_dir):
    # Coverage invariants independent of the SQL oracle: chunk starts
    # advance by exactly CHUNK_STRIDE, the union of [start, start+n)
    # covers [0, doc_tokens) with no gap, every non-final chunk is full
    # width, and the final chunk reaches exactly the last token.
    import pyarrow.parquet as pq

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions.packing import CHUNK_STRIDE, CHUNK_TOKENS

    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    want_tokens = {
        d: len([t for t in txt.split(" ") if t])
        for d, txt in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist())
    }

    rows = registry.all_specs()["rag_chunk"].fn(spark, sf_dir).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert set(by_doc) == set(want_tokens)
    for d, chunks in by_doc.items():
        chunks.sort(key=lambda r: r.chunk_idx)
        n_total = want_tokens[d]
        assert [c.chunk_idx for c in chunks] == list(range(len(chunks)))
        for c in chunks:
            assert c.start_tok == c.chunk_idx * CHUNK_STRIDE
        for c in chunks[:-1]:
            assert c.n_tokens == CHUNK_TOKENS  # only the tail may be short
        last = chunks[-1]
        assert last.start_tok + last.n_tokens == max(n_total, 0) or n_total == 0
        if n_total > CHUNK_TOKENS:
            # every token index is inside some chunk (stride < width)
            assert chunks[-1].start_tok < n_total
            assert all(
                chunks[i + 1].start_tok <= chunks[i].start_tok + chunks[i].n_tokens
                for i in range(len(chunks) - 1)
            )
        else:
            assert len(chunks) == 1


def test_embed_centroid_stats_basic_geometry(spark, sf_dir):
    # Per-label vector counts must match the table; cosine-to-own-
    # centroid statistics live in [-1, 1], min <= avg, and the mean is
    # positive (sum of dots against the own-label centroid is n*|c|^2).
    import pyarrow.parquet as pq

    from nt_etl_order_book_spark import registry

    tbl = pq.read_table(f"{sf_dir}/embeddings.parquet", columns=["label"])
    import collections

    want = collections.Counter(tbl["label"].to_pylist())
    rows = registry.all_specs()["embed_centroid_stats"].fn(spark, sf_dir).collect()
    got = {r.label: r for r in rows}
    assert {k: v.n_vecs for k, v in got.items()} == dict(want)
    for r in rows:
        assert -1.0 - 1e-9 <= r.min_cos_to_centroid <= r.avg_cos_to_centroid <= 1.0 + 1e-9
        assert r.avg_cos_to_centroid > 0


def test_rag_chunk_boundary_token_counts(spark):
    # Chunk-count arithmetic at the exact boundaries, against
    # hand-computed expectations (CHUNK=64, STRIDE=48): empty doc → one
    # empty chunk (md5 of '' — both engines agree); n <= 64 → 1 chunk;
    # n = 65 → 2 chunks (tail of 17); n = 112 (64+48) → 2 full-ish;
    # n = 113 → 3.
    import hashlib

    from nt_etl_order_book_spark.functions.packing import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_rag_chunk,
    )

    cases = {0: 1, 1: 1, CHUNK_TOKENS: 1, CHUNK_TOKENS + 1: 2,
             CHUNK_TOKENS + CHUNK_STRIDE: 2, CHUNK_TOKENS + CHUNK_STRIDE + 1: 3}
    docs = spark.createDataFrame(
        [(n, " ".join(f"t{j}" for j in range(n)), "en", "s", 0) for n in cases],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as tmp:
        docs.write.parquet(f"{tmp}/documents.parquet")
        rows = q_rag_chunk(spark, tmp).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {d: len(c) for d, c in by_doc.items()} == cases
    empty = by_doc[0][0]
    assert empty.n_tokens == 0
    assert empty.chunk_md5 == hashlib.md5(b"").hexdigest()
    tail = max(by_doc[CHUNK_TOKENS + 1], key=lambda r: r.chunk_idx)
    assert (tail.start_tok, tail.n_tokens) == (CHUNK_STRIDE, CHUNK_TOKENS + 1 - CHUNK_STRIDE)


def test_dsir_weights_tilt_toward_target_language(spark, sf_dir):
    # The estimator's whole point: documents drawn from the target
    # distribution (lang='en') must score a higher mean importance
    # log-ratio than documents from any other language — hashed-feature
    # smoothing can compress the gap but never invert it on a corpus
    # where languages use disjoint vocabulary.
    from nt_etl_order_book_spark import registry

    rows = registry.all_specs()["dsir_weights"].fn(spark, sf_dir).collect()
    assert rows
    by_lang: dict[str, list[float]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.dsir_avg_logratio)
    means = {lang: sum(v) / len(v) for lang, v in by_lang.items()}
    assert "en" in means and len(means) > 1
    for lang, m in means.items():
        if lang != "en":
            assert means["en"] > m, (means["en"], lang, m)


def test_zipf_fit_recovers_power_law_on_constructed_corpus(spark):
    # A corpus built with freq(rank) = floor(2000/rank) IS Zipf slope -1;
    # the estimator must recover it with near-perfect R^2. (The fixture
    # corpus is synthetic-uniform and rightly scores slope ~-0.2 with
    # R^2 ~0.06 — this test is where the estimator itself is proven.)
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    words = []
    for rank in range(1, 51):
        words.extend([f"w{rank:03d}"] * (2000 // rank))
    docs = spark.createDataFrame(
        [(i, " ".join(words[i::10])) for i in range(10)], "doc_id long, text string"
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        row = registry.all_specs()["zipf_fit"].fn(spark, "_").first()
    finally:
        textmod.load_table = orig
    assert row.n_terms == 50
    assert -1.05 <= row.zipf_slope <= -0.95, row.zipf_slope
    assert row.r_squared >= 0.99, row.r_squared


def test_approx_quantile_audit_respects_rank_error_bound(spark):
    # GK guarantee: the sketch's p50 sits within n/accuracy RANKS of the
    # true median. On uniform 0..n-1 values, ranks are values, so the
    # returned value must land inside [true - n/acc, true + n/acc].
    # (The fixture's 25-doc groups are trivially exact; this corpus is
    # where the bound is actually exercised.)
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod
    from nt_etl_order_book_spark.functions.text import QSKETCH_ACCURACY

    n = 20_000
    docs = spark.range(n).selectExpr(
        "id as doc_id", "'s0' as source", "cast(id as long) as n_chars"
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        row = registry.all_specs()["approx_quantile_audit"].fn(spark, "_").first()
    finally:
        textmod.load_table = orig
    assert row.n_docs == n
    slack = n / QSKETCH_ACCURACY
    assert abs(row.approx_p50 - row.exact_p50) <= slack, (row.approx_p50, row.exact_p50)


def test_zipf_fit_degenerate_head_yields_null_not_nan(spark):
    # All-equal frequencies (every token hapax) → zero y-variance → the
    # r_squared quotient is 0/0. Both engines must agree on NULL (Spark
    # would otherwise emit NaN and break the driver's value-hash).
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [(1, "u1 u2 u3 u4 u5"), (2, "u6 u7 u8")], "doc_id long, text string"
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        row = registry.all_specs()["zipf_fit"].fn(spark, "_").first()
    finally:
        textmod.load_table = orig
    assert row.n_terms == 8
    assert row.zipf_slope == 0.0  # x-variance exists; slope of a flat line
    assert row.r_squared is None  # 0/0 → NULL, never NaN


def test_ccnet_buckets_ordered_and_complete(spark, sf_dir):
    # Cutoff-based terciles: every bucket that exists is strictly
    # ordered by mean surprisal, the head always exists (scores <= t1 is
    # never empty), and every scored doc lands in exactly one bucket.
    # Balance is NOT an invariant here — ties at a cutoff legitimately
    # collapse into the lower bucket (pinned by the constructed-tie test
    # below); the fixture happens to be tie-free so all three buckets
    # appear near-equal, but the assertion must not depend on that luck.
    from nt_etl_order_book_spark import registry

    from nt_etl_order_book_spark.tables import load_table

    rows = registry.all_specs()["ccnet_buckets"].fn(spark, sf_dir).collect()
    by_lang: dict[str, dict[str, object]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {})[r.bucket] = r
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    expected = {
        r.lang: r.n
        for r in docs.filter(F.size(toks) >= 1)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    order = {"head": 0, "middle": 1, "tail": 2}
    for lang, buckets in by_lang.items():
        assert set(buckets) <= {"head", "middle", "tail"} and "head" in buckets, lang
        assert sum(b.n_docs for b in buckets.values()) == expected[lang], lang
        present = sorted(buckets, key=order.__getitem__)
        nlls = [buckets[b].mean_avg_nll for b in present]
        assert nlls == sorted(nlls) and len(set(nlls)) == len(nlls), (lang, nlls)


def test_ccnet_buckets_ties_collapse_to_lower_bucket(spark):
    # Pinned cutoff semantics on a constructed corpus: scores tied AT a
    # cutoff all take the lower bucket. One lang, 9 docs, three distinct
    # surprisal scores with counts (4, 4, 1) ascending: the 2/3 cutoff
    # lands exactly ON the tied middle score, so all 4 middle-scored
    # docs collapse into 'middle' and the split is deliberately
    # unbalanced (4, 4, 1) — the behavior the balance-style NTILE
    # assertion would wrongly reject.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    # Vocabulary frequency drives surprisal: token counts c×16 > r×4 >
    # m×2, so scores ascend c-docs < r-docs < m-doc, with the four
    # r-docs tied exactly.
    rows = (
        [(i, "en", "c c c c") for i in range(4)]
        + [(4, "en", "m m")]
        + [(i, "en", "r") for i in range(5, 9)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        out = {
            r.bucket: r.n_docs
            for r in registry.all_specs()["ccnet_buckets"].fn(spark, "_").collect()
        }
    finally:
        textmod.load_table = orig
    assert out == {"head": 4, "middle": 4, "tail": 1}


def test_lang_id_confusion_fracs_sum_and_diagonal_on_marked_corpus(spark, sf_dir):
    # Fixture half: row_frac must sum to 1 per true language (the
    # synthetic corpus is NOT real language text, so no accuracy claim
    # there — the matrix exists exactly to expose that). Constructed
    # half: on docs that DO carry the marker words, the matrix must be
    # perfectly diagonal.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    rows = registry.all_specs()["lang_id_confusion"].fn(spark, sf_dir).collect()
    by_true: dict[str, list] = {}
    for r in rows:
        by_true.setdefault(r.true_lang, []).append(r)
    for lang, rs in by_true.items():
        assert abs(sum(r.row_frac for r in rs) - 1.0) < 1e-6, lang

    marked = spark.createDataFrame(
        [
            (1, "en", "the cat and the dog of note"),
            (2, "es", "el gato que vio la casa el dia"),
            (3, "fr", "le chat et la maison le soir"),
            (4, "de", "der hund und die katze der nacht"),
        ],
        "doc_id long, lang string, text string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: marked
        diag = registry.all_specs()["lang_id_confusion"].fn(spark, "_").collect()
    finally:
        textmod.load_table = orig
    assert {(r.true_lang, r.pred_lang, r.row_frac) for r in diag} == {
        ("en", "en", 1.0), ("es", "es", 1.0), ("fr", "fr", 1.0), ("de", "de", 1.0),
    }


def test_license_tag_counts_on_constructed_docs(spark):
    # Exact marker semantics: phrase present → counted once per doc (not
    # per occurrence), multi-license docs count in every column, and
    # untagged = docs hitting no marker.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [
            (1, "s", "Licensed under the MIT License for all uses"),
            (2, "s", "dual: MIT license and Apache License 2.0 apply"),
            (3, "s", "released into the Public Domain public domain twice"),
            (4, "s", "no licensing words at all"),
            # word-boundary negatives (review finding): substrings inside
            # other words must NOT count.
            (5, "s", "please submit license paperwork today"),
            (6, "s", "nonpublic domain data goes here"),
        ],
        "doc_id long, source string, text string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        row = registry.all_specs()["license_tag"].fn(spark, "_").first()
    finally:
        textmod.load_table = orig
    assert (row.n_docs, row.n_mit, row.n_apache, row.n_public_domain, row.n_untagged) == (
        6, 2, 1, 1, 3,
    )


def test_resample_ffill_edges(spark):
    # Pinned semantics on a constructed stream: (a) the day-boundary
    # grid start precedes the first event -> NULL; (b) a grid point on
    # an exact event timestamp picks that event up; (c) same-timestamp
    # events collapse to the max-event_id value; (d) values forward-fill
    # across empty days.
    import datetime as dt

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.operators import windows as winmod

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 1, 12, 0, 0), 7, 10.0),   # midday day 1
        (2, T(2024, 1, 3, 0, 0, 0), 7, 30.0),    # exactly on the day-3 grid point
        (3, T(2024, 1, 3, 0, 0, 0), 7, 31.0),    # same ts, higher event_id wins
        (4, T(2024, 1, 5, 6, 0, 0), 7, 50.0),    # gap: day 4 has no events
        (5, T(2024, 1, 6, 6, 0, 0), 7, None),    # NULL value: must NOT fill past
        (6, T(2024, 1, 8, 0, 0, 0), 7, 80.0),    # extends the grid through day 8
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    orig = winmod.load_table
    try:
        winmod.load_table = lambda _s, _d, name: ev
        out = {
            r.gts.day: r.ffill_value
            for r in registry.all_specs()["resample_ffill"].fn(spark, "_").collect()
        }
    finally:
        winmod.load_table = orig
    # Day 7's as-of row IS event 5 (value NULL): ASOF semantics return
    # that row's NULL, not event 4's 50.0 — filling through would be the
    # composite-row bug the struct wrap prevents.
    assert out == {
        1: None, 2: 10.0, 3: 31.0, 4: 31.0, 5: 31.0, 6: 50.0, 7: None, 8: 80.0,
    }


def test_ngram_novelty_exact_on_constructed_corpus(spark):
    # Three docs: A and B share one 8-gram exactly (the planted window);
    # C is fully unique; D is too short for any shingle and must emit no
    # row. Novelty fractions computed by hand.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import dedup as dedupmod

    shared = "s1 s2 s3 s4 s5 s6 s7 s8"
    docs = spark.createDataFrame(
        [
            (1, f"a1 {shared} a2"),   # 10 tokens → 3 windows, 1 is the shared 8-gram
            (2, f"b1 b2 {shared}"),   # 10 tokens → 3 windows, 1 shared
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9"),  # 9 tokens → 2 windows, all novel
            (4, "too short for one"),
        ],
        "doc_id long, text string",
    )
    orig = dedupmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, name: docs
        out = {
            r.doc_id: (r.n_shingles, r.n_novel, r.novelty_frac)
            for r in registry.all_specs()["ngram_novelty"].fn(spark, "_").collect()
        }
    finally:
        dedupmod.load_table = orig
    assert out == {
        1: (3, 2, 0.666667),
        2: (3, 2, 0.666667),
        3: (2, 2, 1.0),
    }


def test_ohlc_bars_same_timestamp_tiebreak(spark):
    # Two events in the same hour with IDENTICAL timestamps: open must
    # be the lower event_id's value and close the higher's (the unique
    # composite key), high/low the extremes; a second hour opens fresh.
    import datetime as dt

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.operators import windows as winmod

    T = dt.datetime
    rows = [
        (1, T(2024, 1, 1, 10, 0, 5), 7, 30.0),
        (2, T(2024, 1, 1, 10, 0, 5), 7, 10.0),  # same ts, higher id → close
        (3, T(2024, 1, 1, 10, 30, 0), 7, 99.0),
        (4, T(2024, 1, 1, 11, 0, 1), 7, 5.0),
    ]
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")
    orig = winmod.load_table
    try:
        winmod.load_table = lambda _s, _d, name: ev
        out = {
            r.bar_ts.hour: (r.open, r.high, r.low, r.close, r.n_events)
            for r in registry.all_specs()["ohlc_bars"].fn(spark, "_").collect()
        }
    finally:
        winmod.load_table = orig
    assert out == {10: (30.0, 99.0, 10.0, 99.0, 3), 11: (5.0, 5.0, 5.0, 5.0, 1)}


def test_source_vocab_overlap_exact_jaccard(spark):
    # A={x,y,z}, B={y,z,w}: inter 2, union 4 -> 0.5. C shares nothing
    # with A (drops out) and {w} with B -> 1/4.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [
            (1, "x y z y", "A"),
            (2, "y z w", "B"),
            (3, "w q", "C"),
        ],
        "doc_id long, text string, source string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        out = {
            (r.src_a, r.src_b): (r.n_common, r.jaccard)
            for r in registry.all_specs()["source_vocab_overlap"].fn(spark, "_").collect()
        }
    finally:
        textmod.load_table = orig
    assert out[("A", "B")] == (2, 0.5)
    assert out[("B", "C")] == (1, 0.25)
    assert ("A", "C") not in out  # zero-overlap pairs drop out


def test_pairwise_cosine_histogram_constructed_buckets(spark):
    # Four sampled vectors (ids 0,4,8,12): two identical (cos 1.0 ->
    # clamped into top bucket), one orthogonal pair each with the rest
    # (cos 0 -> bucket 10), one opposite (cos -1 -> bucket 0).
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import similarity as simmod

    rows = [
        (0, [1.0, 0.0], 0),
        (4, [1.0, 0.0], 0),    # cos(0,4) = 1
        (8, [0.0, 1.0], 0),    # cos with 0/4 = 0
        (12, [-1.0, 0.0], 0),  # cos(0,12) = cos(4,12) = -1; cos(8,12) = 0
        (5, [9.0, 9.0], 0),    # not sampled: id % 4 != 0
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    orig = simmod.load_table
    try:
        simmod.load_table = lambda _s, _d, name: emb
        out = {
            r.bucket: r.n_pairs
            for r in registry.all_specs()["pairwise_cosine_histogram"].fn(spark, "_").collect()
        }
    finally:
        simmod.load_table = orig
    assert out == {19: 1, 10: 3, 0: 2}


def test_ngram_coverage_curve_band_arithmetic(spark):
    # tf: a=5, b=3, c=1, d=1 (total 10). 50% -> needed 5 -> k=1 (a).
    # 90% -> needed 9 -> a+b=8, one more 1-tf term -> k=3.
    # 99% -> needed 10 -> k=4.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [(1, "a a a b b", "s"), (2, "a a b c d", "s")],
        "doc_id long, text string, source string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        out = {
            r.pct: (r.k_terms, r.vocab_size, r.total_tokens)
            for r in registry.all_specs()["ngram_coverage_curve"].fn(spark, "_").collect()
        }
    finally:
        textmod.load_table = orig
    assert out[50] == (1, 4, 10)
    assert out[90] == (3, 4, 10)
    assert out[99] == (4, 4, 10)


def test_lexical_complexity_closed_form(spark):
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    # tokens: abc (1 vowel group), de (1), xyz (0), abc again
    docs = spark.createDataFrame(
        [(1, "abc de", "s"), (2, "xyz abc", "s")],
        "doc_id long, text string, source string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        out = registry.all_specs()["lexical_complexity"].fn(spark, "_").collect()
    finally:
        textmod.load_table = orig
    assert len(out) == 1
    r = out[0]
    assert r.n_tokens == 4
    assert r.avg_word_len == (3 + 2 + 3 + 3) / 4
    assert r.syllables_per_word == 0.75  # abc, de, abc each carry 1 vowel group
    assert r.type_token_ratio == 0.75   # {abc, de, xyz} / 4


def test_typo_pairs_deletion_blocking_finds_all_lev1(spark):
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod

    docs = spark.createDataFrame(
        [(1, "cat cats bat hat chat xyz", "s")],
        "doc_id long, text string, source string",
    )
    # the query unions the part-name catalog vocab; give it an empty one
    part = spark.createDataFrame([], "p_partkey long, p_name string")
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: part if name == "part" else docs
        got = {
            (r.tok_a, r.tok_b)
            for r in registry.all_specs()["typo_pairs"].fn(spark, "_").collect()
        }
    finally:
        textmod.load_table = orig
    # every unordered lev-1 pair, by brute force
    toks = ["cat", "cats", "bat", "hat", "chat", "xyz"]

    def lev1(a, b):
        import itertools
        if abs(len(a) - len(b)) > 1:
            return False
        # tiny DP
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[-1] == 1

    want = {tuple(sorted((x, y))) for x in toks for y in toks if x < y and lev1(x, y)}
    assert got == want
    assert ("cat", "cats") in got and ("bat", "cat") in got and ("chat", "hat") in got


def test_gini_and_twap_closed_form(spark):
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.operators import timeseries as tsmod
    import datetime as dt

    T = dt.datetime
    ev = spark.createDataFrame(
        [
            # market 1: 9 events; market 2: 1 event -> x=[1,9], gini 0.4
            *[(i, T(2024, 1, 1, 9, 0, i), 1, "view", 0.0) for i in range(9)],
            (9, T(2024, 1, 1, 9, 0, 20), 2, "view", 0.0),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    )
    orig = tsmod.load_table
    try:
        tsmod.load_table = lambda _s, _d, name: ev
        g = registry.all_specs()["gini_concentration"].fn(spark, "_").collect()[0]
        assert g.n_markets == 2 and g.gini == 0.4

        tw = spark.createDataFrame(
            [
                (1, T(2024, 1, 1, 9, 0, 0), 1, "view", 100.0),
                (2, T(2024, 1, 1, 9, 0, 10), 1, "view", 200.0),
                (3, T(2024, 1, 1, 9, 0, 30), 1, "view", 300.0),  # no interval
            ],
            "event_id long, ts timestamp, user_id long, event_type string, value double",
        )
        tsmod.load_table = lambda _s, _d, name: tw
        t = registry.all_specs()["twap"].fn(spark, "_").collect()[0]
        assert t.n_intervals == 2
        assert t.twap == round((100 * 10 + 200 * 20) / 30, 6)
    finally:
        tsmod.load_table = orig


def test_bm25_closed_form_on_tiny_corpus(spark):
    import math

    import pytest

    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import text as textmod
    from nt_etl_order_book_spark.functions.text import BM25_B, BM25_K1

    docs = spark.createDataFrame(
        [(1, "table table scan", "s"), (2, "merge", "s"), (3, "x y z w", "s")],
        "doc_id long, text string, source string",
    )
    orig = textmod.load_table
    try:
        textmod.load_table = lambda _s, _d, name: docs
        got = {
            r.doc_id: (r.score, r.n_terms_hit)
            for r in registry.all_specs()["bm25_search"].fn(spark, "_").collect()
        }
    finally:
        textmod.load_table = orig

    n, avg = 3, 8 / 3
    idf1 = math.log(1 + (n - 1 + 0.5) / (1 + 0.5))  # every query term has df=1

    def term(tf, dl):
        return idf1 * tf * (BM25_K1 + 1) / (tf + BM25_K1 * (1 - BM25_B + BM25_B * dl / avg))

    assert got[1][1] == 2 and got[2][1] == 1 and 3 not in got
    assert got[1][0] == pytest.approx(term(2, 3) + term(1, 3), abs=1e-6)
    assert got[2][0] == pytest.approx(term(1, 1), abs=1e-6)


def test_triangle_count_on_known_graphs(spark):
    # Corpus engineered so the dup graph is K4 on docs 1-4 (4 triangles)
    # plus a path 5-6-7 (0 triangles): shared paragraph P makes the
    # clique; P2/P3 make the path edges. A triangle requires >=25-token
    # paragraphs shared pairwise.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import dedup as dedupmod

    def para(tag):
        return " ".join(f"{tag}w{i}" for i in range(25))

    P, P2, P3 = para("p"), para("q"), para("r")
    docs = spark.createDataFrame(
        [
            (1, P, "s"), (2, P, "s"), (3, P, "s"), (4, P, "s"),   # K4
            (5, P2, "s"), (6, f"{P2} {P3}", "s"), (7, P3, "s"),   # path 5-6-7
        ],
        "doc_id long, text string, source string",
    )
    orig = dedupmod.load_table
    import nt_etl_order_book_spark.functions.graph as graphmod
    orig_g = graphmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, name: docs
        graphmod.load_table = lambda _s, _d, name: docs
        [r] = registry.all_specs()["triangle_count"].fn(spark, "_").collect()
    finally:
        dedupmod.load_table = orig
        graphmod.load_table = orig_g
    assert r.n_nodes == 7
    assert r.n_edges == 6 + 2        # K4 edges + the two path edges
    assert r.n_triangles == 4        # C(4,3)


def test_minhash_eval_perfect_on_exact_dups(spark):
    # Far-apart docs with planted exact duplicates: every true pair is
    # an identical-signature pair (LSH must catch all), nothing else
    # crosses 0.5 — precision and recall both exactly 1.0.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import dedup as dedupmod

    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten eleven",
        "red orange yellow green blue indigo violet black white gray",
    ]
    rows = []
    did = 0
    for t in base:
        for _copy in range(2):  # each text twice -> 3 true pairs
            rows.append((did, t, "s"))
            did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    orig = dedupmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, name: docs
        [r] = registry.all_specs()["minhash_eval"].fn(spark, "_").collect()
    finally:
        dedupmod.load_table = orig
    assert (r.n_pred, r.n_truth, r.n_hit) == (3, 3, 3)
    assert r.precision == 1.0 and r.recall == 1.0


def test_graph_reachability_bfs_distances(spark):
    # Chain 0-1-2-3-4-5 (paragraph-shared links) with seed node 0:
    # dist = hop count, capped at REACH_HOPS; node 5 (4 hops) is out of
    # radius; node 50 in a separate component is unreachable.
    from nt_etl_order_book_spark import registry
    from nt_etl_order_book_spark.functions import dedup as dedupmod
    from nt_etl_order_book_spark.functions import graph as graphmod

    def para(tag):
        return " ".join(f"{tag}w{i}" for i in range(25))

    links = [para(f"l{i}") for i in range(5)]  # link i joins doc i and i+1
    rows = []
    for i in range(6):
        text = " ".join(
            ([links[i - 1]] if i > 0 else []) + ([links[i]] if i < 5 else [])
        )
        rows.append((i, text, "s"))
    rows += [(50, para("x"), "s"), (51, para("x"), "s")]  # separate component
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    orig_d, orig_g = dedupmod.load_table, graphmod.load_table
    try:
        dedupmod.load_table = lambda _s, _d, name: docs
        graphmod.load_table = lambda _s, _d, name: docs
        out = {
            r.doc_id: r.dist
            for r in registry.all_specs()["graph_reachability"].fn(spark, "_").collect()
        }
    finally:
        dedupmod.load_table = orig_d
        graphmod.load_table = orig_g
    # seeds: node 0 and node 50 (both % 50 == 0 and present as srcs)
    assert out[0] == 0 and out[1] == 1 and out[2] == 2 and out[3] == 3
    assert 4 not in out or out[4] > 3  # beyond the hop bound (REACH_HOPS=3)
    assert out[50] == 0 and out[51] == 1


def test_equi_depth_histogram_approx_rank_error_bound(spark):
    # The bound the operator's docstring promises, asserted on a uniform
    # 20k-value corpus (values 1..n, so value == rank): each GK-sketch
    # quartile boundary sits within n/QHIST_ACCURACY ranks of the exact
    # quartile, hence each bucket's count deviates from n/4 by at most
    # 2*n/QHIST_ACCURACY.
    from nt_etl_order_book_spark.operators.aggregates import (
        QHIST_ACCURACY,
        _quartile_histogram,
    )

    n = 20_000
    li = spark.range(1, n + 1).select(F.col("id").cast("double").alias("l_extendedprice"))
    q = (
        li.agg(
            F.approx_percentile(
                "l_extendedprice",
                F.array(F.lit(0.25), F.lit(0.50), F.lit(0.75)),
                F.lit(QHIST_ACCURACY),
            ).alias("qs")
        )
        .select(
            F.col("qs")[0].alias("q1"),
            F.col("qs")[1].alias("q2"),
            F.col("qs")[2].alias("q3"),
        )
    )
    rank_tol = n / QHIST_ACCURACY  # = 2
    bounds = q.collect()[0]
    for frac, val in ((0.25, bounds["q1"]), (0.50, bounds["q2"]), (0.75, bounds["q3"])):
        assert abs(val - frac * n) <= rank_tol, (frac, val)
    buckets = {int(r["bucket"]): r for r in _quartile_histogram(li, q).collect()}
    assert set(buckets) == {0, 1, 2, 3}
    for b, r in buckets.items():
        assert abs(r["n"] - n / 4) <= 2 * rank_tol, (b, r["n"])


def test_winsorize_stats_approx_cutoff_and_clip_bounds(spark):
    # Promised in winsorize_stats_approx's oracle comment: on a uniform
    # constructed corpus (values 1..n, value == rank) each sketch cutoff
    # is within n/WINSOR_SKETCH_ACCURACY ranks of the exact [p01, p99],
    # and n_clipped deviates from the exact clip count by at most
    # 2*n/WINSOR_SKETCH_ACCURACY.
    from nt_etl_order_book_spark.operators.audits import (
        WINSOR_SKETCH_ACCURACY,
        _winsorized_moments,
    )

    n = 20_000
    ev = spark.range(1, n + 1).select(
        F.lit("t").alias("event_type"), F.col("id").cast("double").alias("value")
    )
    pcts = F.approx_percentile(
        "value", F.array(F.lit(0.01), F.lit(0.99)), F.lit(WINSOR_SKETCH_ACCURACY)
    )
    cuts = ev.groupBy("event_type").agg(
        pcts.getItem(0).cast("double").alias("p01"),
        pcts.getItem(1).cast("double").alias("p99"),
    )
    rank_tol = n / WINSOR_SKETCH_ACCURACY  # = 2
    c = cuts.collect()[0]
    assert abs(c["p01"] - 0.01 * n) <= rank_tol, c["p01"]
    assert abs(c["p99"] - 0.99 * n) <= rank_tol, c["p99"]
    out = _winsorized_moments(ev, cuts).collect()[0]
    # Exact cutoffs (200, 19800) clip {1..199} and {19801..20000} → 399.
    exact_clip = (0.01 * n - 1) + (n - 0.99 * n)
    assert abs(out["n_clipped"] - exact_clip) <= 2 * rank_tol, out["n_clipped"]


def test_exact_percentile_boundaries_parity_with_builtin(spark):
    # The distributed counts-table decomposition must reproduce Spark's
    # own exact interpolated percentile() bit-for-bit — including on a
    # dup-heavy multiset where boundaries fall inside and between runs,
    # and at fracs whose position lands exactly on a value (frac 0/1).
    from nt_etl_order_book_spark.operators.aggregates import (
        boundaries_from_counts,
        ranked_value_counts,
    )

    fracs = [0.0, 0.01, 0.25, 0.5, 0.75, 0.99, 1.0]
    df = spark.range(0, 10_007).select(
        # heavy dup runs (x//7) mixed with a scattered tail
        F.when(F.col("id") % 3 == 0, F.floor(F.col("id") / 7))
        .otherwise(F.pmod(F.col("id") * 131, F.lit(997)))
        .cast("double")
        .alias("x")
    )
    got = boundaries_from_counts(spark, ranked_value_counts(df, "x"), fracs).collect()[0]
    ref = df.agg(
        *[
            F.expr(f"percentile(x, {f})").alias(f"q{i + 1}")
            for i, f in enumerate(fracs)
        ]
    ).collect()[0]
    for i in range(len(fracs)):
        assert got[f"q{i + 1}"] == ref[f"q{i + 1}"], (fracs[i], got[f"q{i + 1}"], ref[f"q{i + 1}"])


def test_grouped_exact_percentile_boundaries_parity_with_builtin(spark):
    # Grouped twin of the test above: per-group bit-exact parity with
    # builtin percentile(), plus the n/min/max ride-along columns.
    from nt_etl_order_book_spark.operators.aggregates import (
        grouped_exact_percentile_boundaries,
    )

    fracs = [0.1, 0.5, 0.9]
    df = spark.range(0, 9_001).select(
        (F.col("id") % 7).cast("string").alias("g"),
        F.when(F.col("id") % 4 == 0, F.floor(F.col("id") / 11))
        .otherwise(F.pmod(F.col("id") * 211, F.lit(787)))
        .cast("double")
        .alias("x"),
    )
    got = {
        r["g"]: r
        for r in grouped_exact_percentile_boundaries(df, ["g"], "x", fracs).collect()
    }
    ref = {
        r["g"]: r
        for r in df.groupBy("g")
        .agg(
            *[F.expr(f"percentile(x, {f})").alias(f"q{i + 1}") for i, f in enumerate(fracs)],
            F.count("x").alias("n_vals"),
            F.min("x").alias("min_val"),
            F.max("x").alias("max_val"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for gk in ref:
        for c in ("q1", "q2", "q3", "n_vals", "min_val", "max_val"):
            assert got[gk][c] == ref[gk][c], (gk, c, got[gk][c], ref[gk][c])


def test_win_cume_dist_distributed_rank_parity(spark):
    # distributed_rank vs the builtin PERCENT_RANK/CUME_DIST windows on
    # a constructed frame that spans range partitions (97 rows, 3
    # classes) and includes a single-row class (the n=1 → pct_rank=0
    # ANSI arm the closed form must reproduce).
    from pyspark.sql import Window

    from nt_etl_order_book_spark.operators.windows import distributed_rank

    rows = [(i, ["A", "B", "C"][i % 3 if i < 96 else 2], float((i * 37) % 50)) for i in range(96)]
    rows.append((999, "solo", 1.0))
    df = spark.createDataFrame(rows, "k long, cls string, v double")
    r = distributed_rank(df, ["cls"], [F.asc("v"), F.asc("k")])
    rnk, n = F.col("_rnk").cast("double"), F.col("_n").cast("double")
    got = {
        row.k: (row.p, row.c)
        for row in r.select(
            "k",
            F.when(F.col("_n") > 1, (rnk - 1) / (n - 1)).otherwise(F.lit(0.0)).alias("p"),
            (rnk / n).alias("c"),
        ).collect()
    }
    w = Window.partitionBy("cls").orderBy(F.asc("v"), F.asc("k"))
    want = {
        row.k: (row.p, row.c)
        for row in df.select(
            "k", F.percent_rank().over(w).alias("p"), F.cume_dist().over(w).alias("c")
        ).collect()
    }
    assert got == want
    assert got[999] == (0.0, 1.0)


def test_distributed_rank_shuffled_offsets_and_empty_keys(spark):
    # keys=[] (the gini_concentration and distributed_ntile path) must
    # equal a plain global ROW_NUMBER.
    from pyspark.sql import Window

    from nt_etl_order_book_spark.operators.windows import distributed_rank

    rows = [(i, ["A", "B", "C"][i % 3], float((i * 37) % 50)) for i in range(96)]
    df = spark.createDataFrame(rows, "k long, cls string, v double")
    order = [F.asc("v"), F.asc("k")]

    glob = {
        (r.k, r._rnk)
        for r in distributed_rank(df, [], order).select("k", "_rnk").collect()
    }
    want = {
        (r.k, r.rn)
        for r in df.select("k", F.row_number().over(Window.orderBy(*order)).alias("rn")).collect()
    }
    assert glob == want


def test_range_parts_clamps_untuned_sessions(spark):
    # The rank-decomposition fan-out follows spark.sql.shuffle.partitions
    # but clamps at 4x cores: an un-tuned local session carrying Spark's
    # 200-partition default must not inflate the offsets frame, while a
    # tuned session's setting passes through untouched.
    from nt_etl_order_book_spark.operators.windows import _range_parts

    df = spark.range(10)
    cores = spark.sparkContext.defaultParallelism
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(100 * cores))
        assert _range_parts(df) == max(4 * cores, 32)
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        assert _range_parts(df) == 8
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)


def test_spread_conditional_repartition(spark):
    # session.spread parallelizes CPU-bound narrow pipelines over
    # under-split inputs and must be a strict no-op (same object, no
    # exchange) once the frame is already wide enough -- the property
    # that keeps every spread call invisible in at-scale plans.
    from nt_etl_order_book_spark.session import spread

    df = spark.range(1000).coalesce(1).selectExpr("id", "id * 2 AS v")
    out = spread(df, "id")
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # rows identical (hash repartition moves rows, never changes them)
    assert sorted(r.v for r in out.collect()) == sorted(r.v for r in df.collect())
    wide = df.repartition(spark.sparkContext.defaultParallelism, "id")
    assert spread(wide, "id") is wide


def test_spread_split_estimate(spark, tmp_path):
    # The spread decision walks the optimized plan once: Project/Filter
    # over one file relation is estimated from the relation's FileIndex
    # with Spark's split packing; any other plan (repartition, coalesce,
    # union, constructed frame) takes the materialized partition count.
    # Assertions are on the decision, so they hold on any core count.
    from nt_etl_order_book_spark.session import _scan_split_estimate, spread
    from nt_etl_order_book_spark.tables import load_table

    dp = spark.sparkContext.defaultParallelism
    assert _scan_split_estimate(spark.range(10)) is None  # constructed frame
    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    est = _scan_split_estimate(li)
    assert est is not None
    assert (spread(li, "l_orderkey") is li) == (est >= dp)
    # projections/filters over the scan stay estimable (same file set)
    narrow = li.select("l_orderkey").filter("l_orderkey > 0")
    assert _scan_split_estimate(narrow) == est
    assert (spread(narrow, "l_orderkey") is narrow) == (est >= dp)
    # an already-repartitioned file frame passes through as the same object
    wide = li.repartition(dp)
    assert _scan_split_estimate(wide) is None
    assert spread(wide, "l_orderkey") is wide
    # a coalesced file frame is one partition wide, whatever its files say
    one = li.coalesce(1)
    assert _scan_split_estimate(one) is None
    out = spread(one, "l_orderkey")
    assert (out is one) == (dp == 1) and out.rdd.getNumPartitions() == dp
    # a union of two scans takes the rdd fallback
    both = li.union(li)
    assert _scan_split_estimate(both) is None
    assert (spread(both, "l_orderkey") is both) == (both.rdd.getNumPartitions() >= dp)
    # many small files: openCost padding makes the packed split count
    # reach defaultParallelism, so spread must NOT add an exchange
    many = spark.range(dp * 2).repartition(dp * 2)
    many.write.mode("overwrite").parquet(str(tmp_path / "many"))
    back = spark.read.parquet(str(tmp_path / "many"))
    est_many = _scan_split_estimate(back)
    assert est_many is not None and est_many >= dp
    assert spread(back, "id") is back
