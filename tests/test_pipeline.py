"""Tests for the LLM-data-pipeline operators (SURVEY §2 B18-B23)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sqlite_cdc_spark.pipeline import dedup, multimodal, similarity
from sqlite_cdc_spark.pipeline import text as textops
from sqlite_cdc_spark.sources import load_table


def _distributed_cc(monkeypatch, backend: str) -> None:
    """Send ``dup_clusters`` past its union-find fast path to one
    distributed backend: ``"star"`` gets no propagate rounds, so the
    large-star/small-star restart fires at once; ``"propagate"`` gets
    rounds enough for every graph in these tests."""
    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_LIMIT", 0)
    monkeypatch.setattr(
        dedup, "CC_PROPAGATE_ROUNDS", 0 if backend == "star" else 60
    )


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(3, "a"), (1, "a"), (2, "b"), (9, "a")], ["id", "t"]
    )
    kept = dedup.exact_dedup(df, ["t"], "id")
    assert sorted(r.id for r in kept.collect()) == [1, 2]
    groups = dedup.duplicate_groups(df, ["t"], "id").collect()
    assert len(groups) == 1
    assert groups[0].n_copies == 3 and groups[0].keeper_id == 1


def test_char_shingles(spark):
    df = spark.createDataFrame([("Hello, World",)], ["text"])
    got = df.select(dedup.char_shingles("text", 5).alias("s")).first().s
    # normalized: "hello world" → 7 shingles, distinct
    assert "hello" in got and "o wor" in got
    assert all(len(s) == 5 for s in got)


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame([("the quick brown fox",), ("the quick brown fox",)], ["text"])
    sigs = df.select(
        dedup.minhash_signature(dedup.char_shingles("text", 5), 32).alias("sig")
    ).collect()
    assert sigs[0].sig == sigs[1].sig
    assert len(sigs[0].sig) == 32


def test_near_dup_pairs_finds_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat("text", F.lit(" zzz")).alias("text"),
    )
    corpus = docs.unionByName(mutated)
    n_planted = mutated.count()
    pairs = dedup.near_dup_pairs(corpus, "doc_id", "text", threshold=0.8).collect()
    planted_found = {
        (a, b) for a, b in ((r.id_a, r.id_b) for r in pairs) if b == a + 200000
    }
    # LSH with 16 bands × 4 rows at jaccard≈0.99 should find essentially all
    assert len(planted_found) >= int(0.95 * n_planted)
    # and every reported pair really is ≥ threshold (verified by construction)
    assert all(r.jaccard >= 0.8 for r in pairs)


def test_simhash_hamming(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated content")],
        ["doc_id", "text"],
    )
    fp = df.select("doc_id", dedup.simhash64("text").alias("fp"))
    vals = {r.doc_id: r.fp for r in fp.collect()}
    assert vals[1] == vals[2]
    d = (
        fp.alias("a")
        .crossJoin(fp.alias("b"))
        .select(dedup.hamming64(F.col("a.fp"), F.col("b.fp")).alias("h"))
    )
    assert d.agg(F.max("h")).first()[0] > 0  # different docs differ


def test_cosine_topk_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0)
    top = similarity.cosine_topk(emb, q, k=3).collect()
    assert len(top) == 3
    assert [r.rnk for r in sorted(top, key=lambda r: r.rnk)] == [1, 2, 3]
    assert all(r.neighbor_id != 0 for r in top)
    scores = [r.score for r in sorted(top, key=lambda r: r.rnk)]
    assert scores == sorted(scores, reverse=True)
    assert all(-1.0 - 1e-9 <= s <= 1.0 + 1e-9 for s in scores)


def test_ann_lsh_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.ann_topk_lsh(emb, q, k=5, dim=64)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"ANN recall too low: {recall}"


def test_ann_ivf_recall_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = similarity.cosine_topk(emb, q, k=5)
    approx = similarity.ann_topk_ivf(emb, q, k=5, n_centroids=8, n_probe=3)
    e = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    a = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # approximate results are a subset of all scored pairs: every returned
    # score must match the exact cosine for that pair
    ex_scores = {(r.query_id, r.neighbor_id): r.score for r in exact.collect()}
    for r in approx.collect():
        if (r.query_id, r.neighbor_id) in ex_scores:
            assert abs(r.score - ex_scores[(r.query_id, r.neighbor_id)]) < 1e-9


def test_ann_portable_topk_recall_vs_exact(spark, sf_dir):
    # the oracle-able ANN variants (integer-exact candidates + exact
    # rescoring, registered as b20_ann_lsh / b20_ann_ivf) must stay
    # useful approximations, not just deterministic ones
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 8)
    exact = {(r.query_id, r.neighbor_id) for r in similarity.cosine_topk(emb, q, k=5).collect()}
    lsh = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_topk_lsh_portable(emb, q, k=5, dim=64).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_topk_ivf_portable(emb, q, k=5, n_probe=3).collect()
    }
    assert len(exact & lsh) / len(exact) >= 0.3, "portable LSH recall too low"
    assert len(exact & ivf) / len(exact) >= 0.5, "portable IVF recall too low"


def test_ann_ivf_deterministic(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4)
    r1 = similarity.ann_topk_ivf(emb, q, k=5).collect()
    r2 = similarity.ann_topk_ivf(emb, q, k=5).collect()
    key = lambda r: (r.query_id, r.rnk)  # noqa: E731
    assert sorted(
        [(r.query_id, r.neighbor_id, r.rnk) for r in r1], key=lambda t: (t[0], t[2])
    ) == sorted(
        [(r.query_id, r.neighbor_id, r.rnk) for r in r2], key=lambda t: (t[0], t[2])
    )


def test_lang_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and it is a good day for the cat"),
            (2, "der hund ist nicht auf der couch und das ist gut"),
            (3, "le chat est dans la maison et il est pour le mieux"),
            (4, "xyzzy qwerty plugh"),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r.l for r in df.select("doc_id", textops.lang_id("text").alias("l")).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und"}
    feats = textops.quality_features(df, "text").collect()
    by_id = {r.doc_id: r for r in feats}
    assert by_id[1].quality_score > by_id[4].quality_score
    assert 0.0 <= by_id[1].quality_score <= 1.0
    assert by_id[1].q_tokens == 15


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [("Hello  World",), ("hello world",), ("different",)], ["text"]
    )
    fps = [r.f for r in df.select(textops.fingerprint("text").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]  # normalization-stable
    rolled = df.select(
        textops.rolling_fingerprints("text", window_tokens=2, stride=1).alias("r")
    ).first().r
    assert len(rolled) >= 1


def test_multimodal_plumbing(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(50)
    packed = multimodal.pack_binary(
        docs, multimodal.text_as_payload("text"), "text/plain"
    )
    row = packed.first()
    assert row.media_meta.media_type == "text/plain"
    assert row.media_meta.n_bytes == len(row.payload)
    # hex/base64 roundtrips are identity
    rt = packed.select(
        (multimodal.hex_roundtrip("payload") == F.col("payload")).alias("h"),
        (multimodal.base64_roundtrip("payload") == F.col("payload")).alias("b"),
    )
    assert rt.filter(~F.col("h") | ~F.col("b")).isEmpty()
    # Arrow-batched feature extraction: deterministic across runs
    f1 = {r.doc_id: r.feature for r in multimodal.extract_features(packed).collect()}
    f2 = {r.doc_id: r.feature for r in multimodal.extract_features(packed).collect()}
    assert f1 == f2
    assert all(len(v) == 8 for v in f1.values())


def test_extract_frames_covers_container(spark):
    # frame extraction is the GENUINE demux path (multimodal.extract_frames,
    # r7); the byte-offset frame_sample_plan stub it superseded is deleted
    frames = multimodal.extract_frames(
        multimodal.synth_ppm_stream(
            spark.createDataFrame([(7,)], ["doc_id"])
        )
    )
    rows = frames.collect()
    assert rows and all(r.decode_ok for r in rows)
    assert [r.frame_idx for r in rows] == list(range(len(rows)))


def _ppm_bytes(w, h, raster):
    return b"P6\n%d %d\n255\n" % (w, h) + bytes(raster)


def _bmp_bytes(w, h, rgb_rows):
    """Minimal 24bpp BI_RGB bottom-up BMP from top-down RGB rows."""
    import struct

    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(rgb_rows):  # bottom-up storage
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)  # BGR
        raster += line + b"\0" * (stride - len(line))
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
    return hdr + info + raster


def test_decode_image_real_without_pil(spark):
    # r7 (VERDICT r6 item 4): decode works codec-free — pure PPM/BMP
    # parsers — so there is no NotImplementedError path left anywhere.
    # Corrupt payloads are row-level misses, not task failures.
    px = [(10 * y + x) % 256 for y in range(2) for x in range(9)]
    ppm = _ppm_bytes(3, 2, px)
    bmp = _bmp_bytes(2, 2, [[(1, 2, 3), (4, 5, 6)], [(7, 8, 9), (10, 11, 12)]])
    df = spark.createDataFrame(
        [(1, ppm), (2, bmp), (3, b"junk"), (4, b"P6\n3 2\n255\nshort")],
        ["doc_id", "payload"],
    )
    rows = {r.doc_id: r for r in multimodal.decode_image(df).collect()}
    assert (rows[1].width, rows[1].height, rows[1].decode_ok) == (3, 2, True)
    assert (rows[2].width, rows[2].height, rows[2].decode_ok) == (2, 2, True)
    assert rows[3].decode_ok is False and rows[3].width is None
    assert rows[4].decode_ok is False  # truncated raster


def test_bmp_and_ppm_decode_agree(spark):
    # same pixels through both containers -> identical decoded arrays
    rgb = [[(255, 0, 0), (0, 255, 0), (0, 0, 255)], [(9, 8, 7), (6, 5, 4), (3, 2, 1)]]
    flat = [c for row in rgb for px in row for c in px]
    w1, h1, a1 = multimodal._parse_ppm(_ppm_bytes(3, 2, flat))
    w2, h2, a2 = multimodal._parse_bmp(_bmp_bytes(3, 2, rgb))
    assert (w1, h1) == (w2, h2) == (3, 2)
    assert (a1 == a2).all()


def test_image_resize_is_exact_nearest_neighbor(spark):
    # 4x4 image -> 2x2: NN with src = floor(dst*src/dst) picks pixels
    # (0,0),(0,2),(2,0),(2,2); channel sums are integer-exact
    px = list(range(4 * 4 * 3))  # raster byte i = i (fits < 256)
    df = spark.createDataFrame([(7, _ppm_bytes(4, 4, px))], ["doc_id", "payload"])
    out = multimodal.image_resize(df, 2, 2).collect()[0]
    assert (out.src_w, out.src_h, out.width, out.height) == (4, 4, 2, 2)
    picked = [(0, 0), (0, 2), (2, 0), (2, 2)]
    exp = [[px[(y * 4 + x) * 3 + c] for (y, x) in picked] for c in range(3)]
    assert (out.sum_r, out.sum_g, out.sum_b) == tuple(sum(e) for e in exp)
    # output payload is itself a decodable PPM (round-trips the decoder)
    w, h, arr = multimodal._parse_ppm(bytes(out.payload))
    assert (w, h) == (2, 2)
    assert int(arr[:, :, 0].sum()) == out.sum_r
    assert out.decode_ok is True


def test_binaryfile_ingest_decode_resize_end_to_end(spark, tmp_path):
    # the full real-media path: PPM files on disk -> binaryFile source ->
    # pure-Python decode -> numpy NN resize; ids recovered from filenames
    import re

    for did in (3, 8):
        w, h = 4 + did % 5, 4 + (did // 5) % 5
        raster = bytes((did * 31 + i) % 256 for i in range(w * h * 3))
        (tmp_path / f"img_{did}.ppm").write_bytes(
            b"P6\n%d %d\n255\n" % (w, h) + raster
        )
    raw = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.ppm")
    docs = raw.select(
        F.regexp_extract("path", r"img_(\d+)\.ppm$", 1).cast("long").alias("doc_id"),
        "payload",
    )
    out = {r.doc_id: r for r in multimodal.image_resize(docs, 8, 8).collect()}
    for did in (3, 8):
        w, h = 4 + did % 5, 4 + (did // 5) % 5
        assert (out[did].src_w, out[did].src_h, out[did].decode_ok) == (w, h, True)
        exp = [0, 0, 0]
        for y in range(8):
            for x in range(8):
                for c in range(3):
                    exp[c] += (did * 31 + (((y * h) // 8) * w + (x * w) // 8) * 3 + c) % 256
        assert (out[did].sum_r, out[did].sum_g, out[did].sum_b) == tuple(exp)


def test_image_stats_integer_exact(spark):
    # 4x4 image, raster byte i = i: channel sums, Rec.601 luma and the
    # center crop (rows 1..2, cols 1..2) replay in closed form
    px = list(range(4 * 4 * 3))
    df = spark.createDataFrame([(3, _ppm_bytes(4, 4, px))], ["doc_id", "payload"])
    r = multimodal.image_stats(df).collect()[0]
    sums = [sum(px[(y * 4 + x) * 3 + c] for y in range(4) for x in range(4)) for c in range(3)]
    assert (r.sum_r, r.sum_g, r.sum_b) == tuple(sums)
    assert r.luma_sum == 299 * sums[0] + 587 * sums[1] + 114 * sums[2]
    crop = sum(
        px[(y * 4 + x) * 3 + c]
        for y in (1, 2) for x in (1, 2) for c in range(3)
    )
    assert r.crop_sum == crop
    assert r.decode_ok is True


def test_extract_frames_demux_walk_and_corrupt_tail(spark):
    # two valid frames then garbage: both frames decode, the walk stops
    # with one decode_ok=false marker; every_n=2 keeps frames 0, 2, ...
    f0 = _ppm_bytes(2, 2, range(12))
    f1 = _ppm_bytes(3, 2, range(18))
    df = spark.createDataFrame(
        [(1, f0 + f1), (2, f0 + f1 + b"JUNK")], ["doc_id", "payload"]
    )
    rows = sorted(
        multimodal.extract_frames(df).collect(),
        key=lambda r: (r.doc_id, r.frame_idx if r.frame_idx is not None else 99),
    )
    d1 = [r for r in rows if r.doc_id == 1]
    assert [(r.frame_idx, r.width, r.height) for r in d1] == [(0, 2, 2), (1, 3, 2)]
    assert d1[0].frame_sum == sum(range(12))
    assert d1[1].frame_sum == sum(range(18))
    d2 = [r for r in rows if r.doc_id == 2]
    assert [(r.frame_idx, r.decode_ok) for r in d2] == [
        (0, True), (1, True), (None, False)
    ]
    sampled = multimodal.extract_frames(
        df.filter("doc_id = 1"), every_n=2
    ).collect()
    assert [r.frame_idx for r in sampled] == [0]


def test_audio_stats_exact_and_corrupt_safe(spark):
    # r7: genuine s16le decode — known 4-sample waveform replays exactly;
    # an odd-length payload is corrupt (torn 2-byte frame) -> row-level
    # miss, never a task failure
    import struct

    wave = [100, -50, 0, -1]  # crossings: 100->-50, -50->0, 0->-1 = 3
    pcm = struct.pack("<4h", *wave)
    df = spark.createDataFrame(
        [(1, pcm), (2, pcm + b"\x00")], ["doc_id", "payload"]
    )
    rows = {r.doc_id: r for r in multimodal.audio_stats(df).collect()}
    r = rows[1]
    assert (r.n_samples, r.sum_abs, r.max_abs) == (4, 151, 100)
    assert r.zero_crossings == 3
    assert r.energy == 100**2 + 50**2 + 0 + 1
    assert r.decode_ok is True
    assert rows[2].decode_ok is False and rows[2].energy is None


def test_synth_ppm_resize_matches_closed_form(spark):
    # the synthetic fixture's pixels are a pure id function, so the
    # decode+resize channel sums must equal the replayed arithmetic
    df = spark.createDataFrame([(i,) for i in range(40)], ["doc_id"])
    out = {
        r.doc_id: r
        for r in multimodal.image_resize(multimodal.synth_ppm(df), 8, 8).collect()
    }
    for did in range(40):
        w = 4 + did % 5
        h = 4 + (did // 5) % 5
        sums = [0, 0, 0]
        for y in range(8):
            for x in range(8):
                sy, sx = (y * h) // 8, (x * w) // 8
                for c in range(3):
                    sums[c] += (did * 31 + (sy * w + sx) * 3 + c) % 256
        r = out[did]
        assert (r.src_w, r.src_h) == (w, h)
        assert (r.sum_r, r.sum_g, r.sum_b) == tuple(sums), did


def test_kcenter_and_mmr_picks_survive_hostile_string_ids(spark):
    # ids carrying a quote, a backslash or a double quote must not break
    # the per-pick SQL of either greedy loop: the picks must equal those
    # over integer ids that sort the same way
    ids = ["a\\b", "b", "o'brien", "q", 'x"y']
    assert sorted(ids) == ids
    vecs = [[0.0, 0.0], [1.0, 0.2], [5.0, 1.0], [0.3, 4.0], [6.0, 6.0]]
    num = {s: i for i, s in enumerate(ids, 1)}

    def frame(keys, typ):
        return spark.createDataFrame(
            list(zip(keys, vecs)), f"vec_id {typ}, embedding array<double>"
        )

    hostile, plain = frame(ids, "string"), frame(sorted(num.values()), "long")

    def as_ints(rows, *id_fields):
        return sorted(
            tuple(num[v] if f in id_fields else v for f, v in r.asDict().items())
            for r in rows
        )

    centers = similarity.kcenter_greedy(hostile, k=3).collect()
    # the three hostile ids are the three picks (seed, then farthest)
    assert {r.center_id for r in centers} == {"a\\b", 'x"y', "o'brien"}
    assert as_ints(centers, "center_id") == sorted(
        tuple(r) for r in similarity.kcenter_greedy(plain, k=3).collect()
    )
    assigned = similarity.kcenter_greedy(hostile, k=3, assignments=True)
    assert as_ints(assigned.collect(), "vec_id", "center_id") == sorted(
        tuple(r)
        for r in similarity.kcenter_greedy(plain, k=3, assignments=True).collect()
    )
    picks = similarity.mmr_rerank(hostile, query_id="o'brien", k=4).collect()
    assert len(picks) == 4
    assert as_ints(picks, "vec_id") == sorted(
        tuple(r)
        for r in similarity.mmr_rerank(plain, query_id=num["o'brien"], k=4).collect()
    )


#: every public vector-family call, as ``(corpus, queries, names)`` →
#: DataFrame, where ``names`` carries ``id_col`` and ``vec_col``
_VECTOR_CALLS = {
    "cosine_topk": lambda c, q, n: similarity.cosine_topk(c, q, k=3, **n),
    "semantic_contamination": lambda c, q, n: similarity.semantic_contamination(
        c, q, **n
    ),
    "with_norm": lambda c, q, n: similarity.with_norm(q, n["vec_col"]),
    "ann_topk_ivf": lambda c, q, n: similarity.ann_topk_ivf(c, q, k=3, **n),
    "portable_lsh_buckets": lambda c, q, n: similarity.portable_lsh_buckets(
        c, similarity._plane_table(c.sparkSession, 64, 4, 2), **n
    ),
    "semantic_contamination_bucketed": (
        lambda c, q, n: similarity.semantic_contamination_bucketed(
            c, q, n_planes=4, n_tables=4, **n
        )
    ),
    "triplet_mining_ann": lambda c, q, n: similarity.triplet_mining_ann(c, q, **n),
    "hubness_ann": lambda c, q, n: similarity.hubness_ann(c, q, k=3, **n),
    "ann_lsh_portable": lambda c, q, n: similarity.ann_lsh_portable(c, q, **n),
    "ann_topk_lsh_portable": lambda c, q, n: similarity.ann_topk_lsh_portable(
        c, q, k=3, **n
    ),
    "ann_topk_ivf_portable": lambda c, q, n: similarity.ann_topk_ivf_portable(
        c, q, k=3, **n
    ),
    "ann_topk_lsh": lambda c, q, n: similarity.ann_topk_lsh(c, q, k=3, **n),
    "group_centroids": lambda c, q, n: similarity.group_centroids(
        q, n["id_col"], n["vec_col"]
    ),
    "covariance_matrix": lambda c, q, n: similarity.covariance_matrix(
        q, n["vec_col"]
    ),
    "covariance_matrix_fast": lambda c, q, n: similarity.covariance_matrix_fast(
        q, n["vec_col"]
    ),
    "pca_project": lambda c, q, n: similarity.pca_project(
        c, n["id_col"], n["vec_col"], n_components=2
    ),
    "kmeans_exact": lambda c, q, n: similarity.kmeans_exact(c, k=2, iters=1, **n),
    "ann_topk_pq": lambda c, q, n: similarity.ann_topk_pq(c, q, k=3, **n),
    "kcenter_greedy": lambda c, q, n: similarity.kcenter_greedy(c, k=3, **n),
    "radius_search_portable": lambda c, q, n: similarity.radius_search_portable(
        c, q, **n
    ),
    "mmr_rerank": lambda c, q, n: similarity.mmr_rerank(c, 0, k=3, **n),
    "embedding_near_dups_exact": lambda c, q, n: dedup.embedding_near_dups(
        c, threshold=0.4, exact=True, **n
    ),
    "embedding_near_dups_lsh": lambda c, q, n: dedup.embedding_near_dups(
        c, threshold=0.4, **n
    ),
}


def _rounded(v):
    if isinstance(v, float):
        return round(v, 6)
    if isinstance(v, (list, tuple)):
        return tuple(_rounded(x) for x in v)
    return v


@pytest.mark.parametrize("name", sorted(_VECTOR_CALLS))
def test_vector_family_resolves_dotted_column_names(spark, sf_dir, name):
    # a caller's `vec.id` must resolve as one column, never as field `id`
    # of a struct `vec`: the call returns the rows it returns when the
    # same columns carry plain names
    call = _VECTOR_CALLS[name]
    emb = load_table(spark, sf_dir, "embeddings")
    hostile = emb.select(
        F.col("vec_id").alias("vec.id"), F.col("embedding").alias("emb"), "label"
    )

    def rows(df, id_col, vec_col):
        q = df.filter(F.col(f"`{id_col}`") < 8)
        out = call(df, q, {"id_col": id_col, "vec_col": vec_col})
        return sorted(_rounded(tuple(r)) for r in out.collect())

    want = rows(emb, "vec_id", "embedding")
    assert want
    assert rows(hostile, "vec.id", "emb") == want


def test_embedding_near_dups_lsh_vs_exact(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    exact = dedup.embedding_near_dups(emb, threshold=0.4, exact=True)
    approx = dedup.embedding_near_dups(emb, threshold=0.4, exact=False)
    e = {(r.id_a, r.id_b) for r in exact.collect()}
    a = {(r.id_a, r.id_b) for r in approx.collect()}
    assert a <= e  # LSH candidates are a subset, all above threshold
    assert len(a) >= 0.5 * len(e)  # and recall is reasonable


def test_read_binary_dir(spark, tmp_path):
    # B22: binaryFile ingest into the payload+metadata shape
    import hashlib

    files = {"a.bin": b"\x00\x01\x02" * 100, "b.bin": b"media-bytes", "skip.txt": b"x"}
    for name, data in files.items():
        (tmp_path / name).write_bytes(data)
    df = multimodal.read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = {r.path.split("/")[-1]: r for r in df.collect()}
    assert set(rows) == {"a.bin", "b.bin"}
    assert rows["a.bin"].media_meta.n_bytes == 300
    assert bytes(rows["b.bin"].payload) == b"media-bytes"
    assert rows["b.bin"].media_meta.checksum == hashlib.md5(b"media-bytes").hexdigest()
    # feature extraction runs unchanged on file-sourced payloads
    feats = multimodal.extract_features(
        df.select(F.col("length").alias("doc_id"), "payload")
    ).collect()
    assert len(feats) == 2


def test_zscore_by_group_applyinpandas(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    z = textops.zscore_by_group(docs, ["lang"], "n_chars")
    rows = z.collect()
    assert len(rows) == docs.count()
    import statistics

    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r.zscore)
    for lang, zs in by_lang.items():
        assert abs(statistics.mean(zs)) < 1e-9  # centered per group
        if len(zs) > 1:
            assert abs(statistics.pstdev(zs) - 1.0) < 1e-9  # unit variance


def test_incremental_lsh_index(spark, sf_dir, tmp_path):
    # CDC x dedup composition: index the corpus once, probe with a batch
    # of newly-arrived near-duplicates; only the batch is hashed
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idx_path = str(tmp_path / "lsh_index")
    dedup.build_lsh_index(docs, "doc_id", "text").write.parquet(idx_path)
    index = spark.read.parquet(idx_path)

    new_batch = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"),
        F.concat("text", F.lit(" qqq")).alias("text"),
    )
    n_new = new_batch.count()
    cand = dedup.query_lsh_index(index, new_batch, "doc_id", "text")
    pairs = {(r.new_id, r.corpus_id) for r in cand.collect()}
    found_sources = {n for n, c in pairs if c == n - 500000}
    assert len(found_sources) >= int(0.95 * n_new)
    # and candidates verify through the shared jaccard stage
    both = docs.unionByName(new_batch)
    scored = dedup.jaccard_pairs(
        both,
        cand.select(F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b")),
        "doc_id",
        "text",
    )
    true_pairs = scored.filter(F.col("jaccard") >= 0.8)
    assert true_pairs.count() >= int(0.95 * n_new)


def test_sketches_error_bounds(spark, sf_dir):
    """approx_count_distinct (HLL++) and percentile_approx stay within
    published error bounds of the exact values on real data."""
    import __spark_entry__ as entry

    rows = entry.queries()["b27_sketches"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        # HLL++ default rsd is 5%; allow 3 sigma
        assert abs(r.approx_orders - r.exact_orders) <= 0.15 * r.exact_orders + 1
        # percentile_approx at accuracy=1000: within 1% rank error ≈ small
        # value error on this smooth distribution
        assert abs(r.p50_approx - r.p50_exact) <= 0.05 * abs(r.p50_exact)


def test_audio_chunk_plan_covers_payload(spark):
    rate, bps = 1000, 2  # 2000 B/s
    df = spark.createDataFrame([(1, b"x" * 4500)], ["doc_id", "payload"])
    rows = multimodal.audio_chunk_plan(
        df, chunk_seconds=1.0, sample_rate=rate, bytes_per_sample=bps
    ).collect()
    assert [r.chunk_idx for r in rows] == [0, 1, 2]
    assert sum(r.chunk_len for r in rows) == 4500  # exhaustive, no overlap
    assert rows[-1].chunk_len == 500  # tail chunk is short
    assert rows[1].chunk_offset == 2000 and rows[1].chunk_start_s == 1.0


# --- round 2: decontamination, PII, repetition -------------------------------


def test_decontaminate_drops_planted_overlaps(spark, sf_dir):
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import decontam
    from sqlite_cdc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20).select("doc_id", "text")
    b0 = docs.filter(F.col("doc_id") == 0).select(F.col("text").alias("bt"))
    planted = (
        docs.filter((F.col("doc_id") % 10 == 5) & (F.col("doc_id") >= 20))
        .crossJoin(F.broadcast(b0))
        .select(
            (F.col("doc_id") + F.lit(300000)).alias("doc_id"),
            F.concat("text", F.lit(" "), "bt").alias("text"),
        )
    )
    corpus = docs.filter(F.col("doc_id") >= 20).select("doc_id", "text").unionByName(planted)
    flags = decontam.ngram_contamination(corpus, bench, n=5)
    # every planted doc contains bench doc 0's full text -> contaminated
    planted_flags = flags.filter(F.col("doc_id") >= 300000)
    assert planted_flags.filter(~F.col("contaminated")).isEmpty()
    # the filter form drops exactly the contaminated ids
    kept = decontam.decontaminate(corpus, bench, n=5)
    n_contam = flags.filter(F.col("contaminated")).count()
    assert kept.count() == corpus.count() - n_contam


def test_redact_pii_and_counts(spark):
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import text as textops

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-ample.org or x@y.io, call +44 20 7946 0958!"),
            (2, "host 192.168.0.1 plain text"),
            (3, "nothing here"),
        ],
        "id int, text string",
    )
    out = df.select(
        "id",
        textops.redact_pii("text").alias("r"),
        *[c.alias(k) for k, c in textops.pii_counts("text").items()],
    ).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[1]["email"] == 2 and by_id[1]["phone"] == 1
    assert "[EMAIL]" in by_id[1]["r"] and "[PHONE]" in by_id[1]["r"]
    assert "@" not in by_id[1]["r"]
    assert by_id[2]["ipv4"] == 1 and "[IP]" in by_id[2]["r"]
    assert by_id[3]["r"] == "nothing here"


def test_repetition_features_flags_degenerate_text(spark):
    from sqlite_cdc_spark.pipeline import text as textops

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam"),
            (2, "the quick brown fox jumps high"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in textops.repetition_features(df).collect()}
    assert rows[1]["n_tokens"] == 6
    assert rows[1]["top_token_ratio"] == 1.0
    assert rows[1]["dup_2gram_ratio"] == 1.0  # all 5 bigrams identical
    assert rows[2]["distinct_ratio"] == 1.0
    assert rows[2]["top_token_ratio"] == round(1 / 6, 6)
    assert rows[2]["dup_2gram_ratio"] == 0.0


def test_dup_clusters_transitive_closure(spark):
    # pairs (2,1),(2,3) chain into one component labeled by its min id;
    # disjoint pairs stay separate; labels converge regardless of pair
    # orientation
    from sqlite_cdc_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (21, 20)], "id_a long, id_b long"
    )
    out = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dup_clusters(pairs).collect()
    )
    assert out == [
        (1, 1, 3), (2, 1, 3), (3, 1, 3),
        (10, 10, 2), (11, 10, 2),
        (20, 20, 2), (21, 20, 2),
    ]


def test_dup_clusters_long_chain_converges(spark):
    # a 12-hop path needs multiple propagation rounds — exercises the
    # fixpoint loop, not just one round
    from sqlite_cdc_spark.pipeline import dedup

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    rows = dedup.dup_clusters(pairs).collect()
    assert {r.cluster_id for r in rows} == {0}
    assert all(r.cluster_size == 13 for r in rows)


def test_dup_clusters_star_matches_propagate(spark, monkeypatch):
    # both distributed backends produce identical canonical-min labels
    # on a mixed fixture (chain + disjoint pairs + a bridge), regardless
    # of pair orientation
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (21, 20), (3, 40), (40, 41), (7, 7)],
        "id_a long, id_b long",
    )

    def clusters():
        return sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup.dup_clusters(pairs).collect()
        )

    _distributed_cc(monkeypatch, "propagate")
    prop = clusters()
    _distributed_cc(monkeypatch, "star")
    star = clusters()
    assert prop == star
    assert (7, 7, 1) in prop  # self-pair-only vertex keeps its singleton


def test_dup_clusters_long_chain_star_converges_propagate_raises(spark):
    # a 24-hop path has diameter 24: min-label propagation needs ~24
    # rounds, so within 8 it must return None, not labels (non-min
    # labels would corrupt a later update_clusters merge) — while
    # large-star/small-star converges in O(log n) rounds under the same
    # budget and yields the exact component labels; it has no fallback,
    # so its own exhaustion raises
    import pytest

    path = [(i, i + 1) for i in range(24)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    assert dedup._cc_propagate(edges, 8) is None
    rows = dedup._cc_star(edges, 8).collect()
    assert dedup.LAST_CC_ROUNDS <= 8
    assert {r.label for r in rows} == {0}
    assert {r.v for r in rows} == set(range(25))
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup._cc_star(edges, 1)


def test_dup_clusters_auto_backend_handles_any_diameter(spark, monkeypatch):
    """VERDICT r5 item 6: dup_clusters must converge WITHOUT the caller
    choosing a backend — propagate for shallow dup graphs, automatic
    restart on large-star/small-star when the diameter exceeds the
    propagate round budget — and the labels must be identical to both
    distributed backends."""
    # pathological: a 40-hop path (diameter 40 >> CC_PROPAGATE_ROUNDS)
    # plus a disjoint triangle and a self-loop singleton
    chain = [(i, i + 1) for i in range(100, 140)]
    extra = [(7, 8), (8, 9), (7, 9), (55, 55)]
    pairs = spark.createDataFrame(chain + extra, "id_a long, id_b long")

    def labelmap(rows):
        return {r.doc_id: (r.cluster_id, r.cluster_size) for r in rows}

    auto = labelmap(dedup.dup_clusters(pairs).collect())
    _distributed_cc(monkeypatch, "star")
    star = labelmap(dedup.dup_clusters(pairs).collect())
    _distributed_cc(monkeypatch, "propagate")
    prop = labelmap(dedup.dup_clusters(pairs).collect())
    monkeypatch.undo()
    assert auto == star == prop
    assert auto[139] == (100, 41)
    assert auto[7] == (7, 3) and auto[9] == (7, 3)
    assert auto[55] == (55, 1)
    # shallow graph: auto takes the single-task union-find fast path
    # (small edge relation — one pass, no distributed rounds at all)
    shallow = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = labelmap(dedup.dup_clusters(shallow).collect())
    assert out == {1: (1, 3), 2: (1, 3), 3: (1, 3), 10: (10, 2), 11: (10, 2)}
    assert dedup.LAST_CC_ROUNDS <= 4


def test_mixture_sample_quota_and_determinism(spark):
    from sqlite_cdc_spark.pipeline import sampling

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"),
        F.lit(10).alias("n_tok"),
    )
    # de: 1500 docs * 10 tok = 15000 total, budget 3000 -> keep_b 20 -> ~20%
    # en: 500 * 10 = 5000 total, budget 5000 -> keep everything
    out = sampling.mixture_sample(
        df, "lang", "doc_id", "n_tok", budgets={"de": 3000, "en": 5000}
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["en"] == 500
    assert 0 < counts["de"] < 1500 * 0.3  # ≈20% of 1500, quota respected
    # deterministic: a second run keeps the identical doc set
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(
        r.doc_id
        for r in sampling.mixture_sample(
            df, "lang", "doc_id", "n_tok", budgets={"de": 3000, "en": 5000}
        ).collect()
    )
    assert a == b


def test_mixture_sample_unbudgeted_group_kept(spark):
    from sqlite_cdc_spark.pipeline import sampling

    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 50, "en").otherwise("xx").alias("lang"),
        F.lit(100).alias("n_tok"),
    )
    # no default budget: 'xx' has no quota -> fully kept
    out = sampling.mixture_sample(
        df, "lang", "doc_id", "n_tok", budgets={"en": 1000}
    )
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts["xx"] == 50
    assert counts["en"] < 50  # en is quota'd (1000 of 5000 tokens -> 20%)


def test_mixture_sample_zero_and_null_totals_keep_group(spark):
    # ADVICE r3: a budgeted group whose sizes sum to 0 must not abort with
    # an ANSI DIVIDE_BY_ZERO, and an all-NULL-size group must be KEPT
    # (budget >= total means keep everything), not silently dropped
    from sqlite_cdc_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(1, "zz", 0), (2, "zz", 0), (3, "nn", None), (4, "nn", None),
         (5, "en", 10), (6, "en", 10)],
        "doc_id long, lang string, n_tok long",
    )
    out = sampling.mixture_sample(
        df, "lang", "doc_id", "n_tok",
        budgets={"zz": 100, "nn": 100, "en": 20}, buckets=10,
    )
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts.get("zz") == 2  # zero total -> keep everything, no abort
    assert counts.get("nn") == 2  # NULL total -> keep everything


def test_fingerprint_containment_flags_planted_run(spark):
    # a corpus doc embedding a >=23-token verbatim benchmark run MUST be
    # flagged (dense-bench/sparse-corpus sampling guarantee); clean docs
    # must not be
    from sqlite_cdc_spark.pipeline import decontam

    bench_text = " ".join(f"b{i}" for i in range(30))
    clean_text = " ".join(f"c{i}" for i in range(40))
    dirty_text = " ".join(f"d{i}" for i in range(11)) + " " + bench_text
    bench = spark.createDataFrame([(0, bench_text)], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, clean_text), (2, dirty_text)], "doc_id long, text string"
    )
    rows = {
        r.doc_id: (r.n_shared_windows, r.contained)
        for r in decontam.fingerprint_containment(corpus, bench).collect()
    }
    assert rows[1] == (0, False)
    assert rows[2][0] > 0 and rows[2][1] is True


def test_fingerprint_rows_equals_array_form(spark):
    # the codegen row form must be output-identical to exploding the
    # array-form rolling_fingerprints, across every length regime:
    # empty, < window, == window, window+stride-1 boundary, long
    from sqlite_cdc_spark.pipeline import text as textops

    rows = [
        (d, " ".join(f"w{d}x{i}" for i in range(k)))
        for d, k in enumerate([0, 1, 5, 15, 16, 17, 23, 24, 25, 40, 100, 129])
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    a = sorted(
        (r.doc_id, r.win_idx, r.fp)
        for r in textops.fingerprint_rows(df, "doc_id").collect()
    )
    b = sorted(
        (r.doc_id, r.win_idx, r.fp)
        for r in df.select(
            "doc_id",
            F.posexplode(textops.rolling_fingerprints("text")).alias(
                "win_idx", "fp"
            ),
        ).collect()
    )
    assert a == b


def test_update_clusters_equals_scratch(spark):
    # the incremental-maintenance invariant:
    # update_clusters(dup_clusters(P1), P2) == dup_clusters(P1 ∪ P2)
    # — on random pair sets with overlapping vertex ranges (merges,
    # appends, and untouched clusters all occur)
    import random

    from sqlite_cdc_spark.pipeline import dedup

    rng = random.Random(11)
    for trial in range(3):
        p1 = [(rng.randint(0, 15), rng.randint(0, 15)) for _ in range(6)]
        p2 = [(rng.randint(0, 25), rng.randint(0, 25)) for _ in range(4)]
        P1 = spark.createDataFrame(p1, "id_a long, id_b long")
        P2 = spark.createDataFrame(p2, "id_a long, id_b long")
        scratch = sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup.dup_clusters(P1.unionByName(P2)).collect()
        )
        inc = sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup.update_clusters(
                dedup.dup_clusters(P1), P2
            ).collect()
        )
        assert inc == scratch, (trial, p1, p2)


def test_chunk_rows_covers_document(spark):
    # every token lands in some chunk, chunks are exact token slices with
    # the declared overlap, zero-new-content tails are suppressed, and
    # short/empty docs yield exactly one chunk
    from sqlite_cdc_spark.pipeline import text as textops

    doc = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, doc), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = textops.chunk_rows(df, "doc_id", chunk_tokens=16, overlap=4).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.n_tok))
    c1 = sorted(by_doc[1])
    # 40 tokens, stride 12: starts 0,12,24; start 36 adds no new content
    # beyond chunk@24's coverage (36+4 >= 40) and is suppressed
    assert [c[0] for c in c1] == [0, 1, 2]
    toks = doc.split()
    covered: set = set()
    for idx, chunk_text, n in c1:
        start = idx * 12
        assert chunk_text.split() == toks[start : start + 16]
        assert n == len(chunk_text.split())
        covered |= set(range(start, start + n))
    assert covered == set(range(40))
    assert by_doc[2] == [(0, "a b", 2)]
    assert by_doc[3] == [(0, "", 1)]


def test_update_lsh_index_equals_rebuild(spark):
    # appending a batch's signatures must equal rebuilding the index over
    # the combined corpus (signatures are per-doc, no corpus dependence)
    from sqlite_cdc_spark.pipeline import dedup

    a = spark.createDataFrame(
        [(1, "x y z w v u t s"), (2, "a b c d e f g h")],
        "doc_id long, text string",
    )
    b = spark.createDataFrame([(3, "x y z w v u t s q")], "doc_id long, text string")
    K = dict(num_hashes=16, bands=4)
    appended = dedup.update_lsh_index(
        dedup.build_lsh_index(a, "doc_id", "text", **K), b, "doc_id", "text", **K
    )
    rebuilt = dedup.build_lsh_index(a.unionByName(b), "doc_id", "text", **K)
    assert sorted(map(tuple, appended.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_dup_ngram_coverage_hand_check(spark):
    from sqlite_cdc_spark.pipeline import dedup

    df = spark.createDataFrame(
        [
            (1, "a b c d e f"),      # grams: abcde, bcdef
            (2, "a b c d e x"),      # grams: abcde, bcdex
            (3, "z z z y w v u"),    # grams: zzzyw, zzywv, zywvu — unique
            (4, "a b"),              # <5 tokens: no grams, absent
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dedup.dup_ngram_coverage(df, "doc_id", k=5).collect()}
    assert set(out) == {1, 2, 3}
    assert (out[1].n_grams, out[1].n_dup_grams) == (2, 1)  # "a b c d e" shared
    assert out[1].dup_ratio == 0.5
    assert (out[2].n_grams, out[2].n_dup_grams) == (2, 1)
    assert (out[3].n_grams, out[3].n_dup_grams) == (3, 0)
    assert out[3].dup_ratio == 0.0


def test_covariance_matrix_matches_numpy_both_paths(spark, sf_dir):
    import numpy as np

    from sqlite_cdc_spark.pipeline import similarity
    from sqlite_cdc_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    m = np.asarray(
        [np.asarray(r.embedding, dtype="float64") for r in emb.collect()]
    )
    ref = np.cov(m, rowvar=False, ddof=0)
    exact = {
        (r.i, r.j): r.cov
        for r in similarity.covariance_matrix(emb).collect()
    }
    fast = {
        (r.i, r.j): r.cov
        for r in similarity.covariance_matrix_fast(emb).collect()
    }
    d = m.shape[1]
    assert len(exact) == d * (d + 1) // 2 == len(fast)
    for i in range(d):
        for j in range(i, d):
            # quantized mode: deterministic approximation, error ~1e-6
            assert abs(exact[(i, j)] - ref[i, j]) < 2e-6
            # float twin: numerically equal to numpy
            assert abs(fast[(i, j)] - ref[i, j]) < 1e-9


def test_pca_project_matches_numpy_pca(spark, sf_dir):
    import numpy as np

    from sqlite_cdc_spark.pipeline import similarity
    from sqlite_cdc_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.select("vec_id", "embedding").collect()
    ids = [r.vec_id for r in rows]
    m = np.asarray([np.asarray(r.embedding, dtype="float64") for r in rows])
    out = {
        r.vec_id: np.asarray(r.proj)
        for r in similarity.pca_project(emb, "vec_id", n_components=4).collect()
    }
    # reference PCA: eigh of covariance, same deterministic sign fix
    C = np.cov(m, rowvar=False, ddof=0)
    w, v = np.linalg.eigh(C)
    order = np.argsort(w)[::-1][:4]
    comps = []
    for k in order:
        c = v[:, k]
        if c[int(np.argmax(np.abs(c)))] < 0:
            c = -c
        comps.append(c)
    ref = (m - m.mean(axis=0)) @ np.asarray(comps).T
    got = np.asarray([out[i] for i in ids])
    assert np.abs(got - ref).max() < 1e-6
    # projected variance is sorted descending (top components first)
    var = got.var(axis=0)
    assert all(var[k] >= var[k + 1] - 1e-12 for k in range(3))


def test_lexical_diversity_values(spark):
    import math

    from sqlite_cdc_spark.pipeline import text as textops

    df = spark.createDataFrame(
        [
            (1, "a a a a"),          # one type, zero entropy
            (2, "a b c d"),          # uniform: entropy = ln(4), ttr = 1
            (3, ""),                 # empty: kept with NULLs
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in textops.lexical_diversity(df).collect()}
    assert got[1].n_tokens == 4 and got[1].n_types == 1
    assert got[1].token_entropy == 0.0
    assert got[2].ttr == 1.0
    assert got[2].token_entropy == round(math.log(4), 6)
    assert got[3].n_tokens == 0 and got[3].token_entropy is None


def test_fuzzy_self_join_adversarial_completeness(spark):
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import dedup

    rows = [
        # repeated-gram pair: 'aaaaaaaa' has ONE distinct 3-gram, so the
        # naive length-based count bound (L-q+1-qd = 3) would demand 3
        # shared grams and silently drop this true pair
        (1, "aaaaaaaa"), (2, "aaaaaaab"),
        # short-block pairs (len < q*(d+1) = 6)
        (3, "ab"), (4, "ac"), (5, "abcd"), (6, "abxd"),
        # short x long boundary: 5 chars vs 6 chars, one edit apart
        (7, "abcde"), (8, "abcdef"),
        # a pair that should NOT match
        (9, "zzzzzz"), (10, "qqqqqq"),
    ]
    df = spark.createDataFrame(rows, "id long, s string")
    got = {
        (r.id_a, r.id_b): r.dist
        for r in dedup.fuzzy_self_join(df, "id", "s", max_dist=1, q=3).collect()
    }
    # brute-force truth
    want = {}
    data = dict(rows)
    for a in sorted(data):
        for b in sorted(data):
            if a < b:
                d = (
                    spark.createDataFrame([(data[a], data[b])], "x string, y string")
                    .select(F.levenshtein("x", "y").alias("d"))
                    .collect()[0].d
                )
                if d <= 1:
                    want[(a, b)] = d
    assert got == want
    assert (1, 2) in got and (3, 4) in got and (7, 8) in got
    assert (9, 10) not in got


def test_kmeans_exact_separable_clusters(spark):
    # two tight groups far apart → k=2 must split them exactly
    rows = [(i, [0.0 + i * 0.001, 0.0]) for i in range(5)]
    rows += [(10 + i, [10.0 + i * 0.001, 10.0]) for i in range(5)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = similarity.kmeans_exact(df, k=2, iters=3).collect()
    by_cluster = {}
    for r in got:
        by_cluster.setdefault(r.cluster_id, set()).add(r.vec_id)
        assert r.cluster_size == 5
    assert sorted(len(v) for v in by_cluster.values()) == [5, 5]
    # groups are not mixed
    for members in by_cluster.values():
        assert members <= set(range(5)) or members <= set(range(10, 15))


def test_kmeans_exact_deterministic_across_partitioning(spark):
    rows = [(i, [float((i * 37) % 11), float((i * 53) % 7)]) for i in range(40)]
    df1 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(1)
    df8 = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)
    a = sorted((r.vec_id, r.cluster_id) for r in similarity.kmeans_exact(df1, k=3, iters=2).collect())
    b = sorted((r.vec_id, r.cluster_id) for r in similarity.kmeans_exact(df8, k=3, iters=2).collect())
    assert a == b


def test_kmeans_exact_empty_cluster_keeps_centroid(spark):
    # all points identical → after round 1 only cluster 0 is nonempty;
    # clusters 1..2 must keep their (stale) centroids without crashing
    df = spark.createDataFrame(
        [(i, [1.0, 1.0]) for i in range(6)], ["vec_id", "embedding"]
    )
    got = similarity.kmeans_exact(df, k=3, iters=2).collect()
    assert len(got) == 6
    assert {r.cluster_id for r in got} == {0}
    assert all(r.cluster_size == 6 for r in got)


def test_sorted_neighborhood_finds_prefix_stable_typos(spark):
    rows = [
        (1, "apple pie crust"),
        (2, "apple pie crusx"),   # typo past the block prefix → found
        (3, "banana bread mix"),
        (4, "xanana bread mix"),  # typo IN the block prefix → missed (SNM trade-off)
        (5, "cherry cake base"),
    ]
    df = spark.createDataFrame(rows, ["id", "name"])
    got = {
        (r.id_a, r.id_b)
        for r in dedup.sorted_neighborhood_pairs(
            df, "id", "name", window=3, block_chars=2, max_dist=1
        ).collect()
    }
    assert (1, 2) in got
    assert (3, 4) not in got


def test_sorted_neighborhood_candidates_bounded_by_window(spark):
    # identical keys: n rows in one block → each row pairs with the
    # next w-1 only, so candidates = sum over i of min(w-1, n-1-i)
    df = spark.createDataFrame([(i, "same key") for i in range(10)], ["id", "name"])
    cand = dedup.sorted_neighborhood_pairs(df, "id", "name", window=4).collect()
    assert len(cand) == 9 + 9 + 9 - 1 - 2  # 3*(10-1) - (2+1) = 24
    assert all(r.dist is None for r in cand)


def test_pq_ann_recall_against_exact(spark, sf_dir):
    from sqlite_cdc_spark.sources import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 4)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.cosine_topk(emb, qs, k=10).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in similarity.ann_topk_pq(emb, qs, k=10).collect()
    }
    # PQ with 8 seed codebooks is coarse; demand it still recovers a
    # reasonable share of the true neighbors (and is non-degenerate)
    recall = len(exact & pq) / len(exact)
    assert recall >= 0.2, f"PQ recall collapsed: {recall}"
    assert len(pq) == 40


def test_pq_codes_compress_and_rank_deterministically(spark):
    rows = [(i, [float((i * 31 + j * 7) % 13) for j in range(16)]) for i in range(30)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    qs = df.filter(F.col("vec_id") < 2)
    a = sorted(
        (r.query_id, r.neighbor_id, r.approx_dist, r.rnk)
        for r in similarity.ann_topk_pq(
            df.repartition(1), qs, k=5, m=4, dim=16, seed_ids=(0, 5, 11)
        ).collect()
    )
    b = sorted(
        (r.query_id, r.neighbor_id, r.approx_dist, r.rnk)
        for r in similarity.ann_topk_pq(
            df.repartition(7), qs, k=5, m=4, dim=16, seed_ids=(0, 5, 11)
        ).collect()
    )
    assert a == b and len(a) == 10


def test_set_similarity_join_complete_vs_brute_force(spark, sf_dir):
    from sqlite_cdc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.set_similarity_join(docs, "doc_id", "text", threshold=0.6).collect()
    }
    # brute force over the same shingle sets — the definition
    rows = docs.select(
        "doc_id", dedup.word_shingles("text", 3).alias("s")
    ).collect()
    sets = {r.doc_id: set(r.s) for r in rows}
    ids = sorted(sets)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            if inter == 0:
                continue
            j = inter / (len(sets[a]) + len(sets[b]) - inter)
            if j >= 0.6:
                want[(a, b)] = round(j, 6)
    assert got == want, (
        f"missing={set(want) - set(got)} extra={set(got) - set(want)}"
    )


def test_set_similarity_join_prefix_is_selective(spark, sf_dir):
    # the prefix relation must be much smaller than the full shingle
    # relation — that's the whole point of rarity ordering
    from sqlite_cdc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dg = dedup.shingle_rows(docs, "doc_id", "text", k=3)
    n_all = dg.count()
    pairs = dedup.set_similarity_join(docs, "doc_id", "text", threshold=0.8)
    # pipeline runs end-to-end and returns plausibly few pairs
    assert pairs.count() < n_all


def test_golden_records_survivorship_rules(spark):
    docs = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the longest text here", 21),
            (3, "medium txt", 10),
            (9, "lonely", 6),
        ],
        ["doc_id", "text", "n_len"],
    )
    labels = spark.createDataFrame(
        [(1, 1, 3), (2, 1, 3), (3, 1, 3), (9, 9, 1)],
        ["doc_id", "cluster_id", "cluster_size"],
    )
    got = {
        r.cluster_id: r
        for r in dedup.golden_records(
            docs,
            labels,
            "doc_id",
            {
                "best_text": ("longest", "text"),
                "min_id": ("min", "doc_id"),
                "max_len": ("max", "n_len"),
                "keeper_text": ("keeper", "text"),
                "mode_text": ("mode", "text"),
            },
        ).collect()
    }
    g = got[1]
    assert g.n_members == 3
    assert g.best_text == "the longest text here"
    assert g.min_id == 1 and g.max_len == 21
    assert g.keeper_text == "short"  # keeper = cluster_id member (doc 1)
    assert got[9].keeper_text == "lonely"


def test_golden_records_longest_ties_to_min_id(spark):
    docs = spark.createDataFrame(
        [(5, "aaaa"), (2, "bbbb"), (7, "cc")], ["doc_id", "text"]
    )
    labels = spark.createDataFrame(
        [(5, 2, 3), (2, 2, 3), (7, 2, 3)], ["doc_id", "cluster_id", "cluster_size"]
    )
    got = dedup.golden_records(
        docs, labels, "doc_id", {"best_text": ("longest", "text")}
    ).first()
    assert got.best_text == "bbbb"  # len tie between ids 2 and 5 → min id 2


def test_cdc_chunks_position_independent(spark):
    # the CDC property fixed blocks lack: a PREFIX insertion shifts all
    # byte offsets, but chunks after the first boundary are identical
    text = "the quick brown fox jumps over the lazy dog " * 20
    df = spark.createDataFrame(
        [(1, text), (2, "PREFIX-" + text)], ["doc_id", "text"]
    )
    got = dedup.cdc_chunk_stats(df, "doc_id", "text").first()
    # near-total sharing: distinct chars well under total
    assert got.n_chunks > got.n_distinct
    assert got.dedup_ratio > 0.4, got


def test_cdc_chunks_cover_every_char(spark):
    df = spark.createDataFrame(
        [(1, "abcdefghij" * 30), (2, "xy")], ["doc_id", "text"]
    )
    got = dedup.cdc_chunk_stats(df, "doc_id", "text").first()
    assert got.total_chars == 300 + 2  # exact coverage, no gaps/overlaps


def test_cdc_chunks_short_doc_is_single_chunk(spark):
    # r6 advice (medium): docs shorter than the window used to emit the
    # DESCENDING sequence [1, 0] (Spark's step defaults to -1 when
    # start > stop), producing spurious zero-length boundary chunks — a
    # 2-char doc reported n_chunks=3 with avg_chunk_len 0.67. Short docs
    # must be exactly one sentinel chunk of their full length.
    df = spark.createDataFrame([(1, "xy")], ["doc_id", "text"])
    got = dedup.cdc_chunk_stats(df, "doc_id", "text", window=8).first()
    assert got.n_chunks == 1, got
    assert got.total_chars == 2
    assert got.avg_chunk_len == 2.0


def test_ngram_contamination_requires_benchmark_or_grams(spark):
    import pytest

    from sqlite_cdc_spark.pipeline import decontam

    with pytest.raises(ValueError, match="benchmark or grams"):
        decontam.ngram_contamination(
            spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"]),
            benchmark=None,
            grams=None,
        )


def test_semantic_contamination_zero_norm_scores_zero(spark):
    # degenerate all-zero vectors must score 0.0 (clean), never NULL
    from sqlite_cdc_spark.pipeline import similarity

    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 0.0])], ["vec_id", "embedding"]
    )
    bench = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])], ["vec_id", "embedding"]
    )
    rows = {
        r.vec_id: r
        for r in similarity.semantic_contamination(
            corpus, bench, threshold=0.5
        ).collect()
    }
    assert rows[1].max_cos == 0.0 and rows[1].contaminated is False
    assert rows[2].max_cos == 1.0 and rows[2].contaminated is True
    assert all(r.contaminated is not None for r in rows.values())


def test_extract_frames_survives_comment_headers(spark):
    # a legal '#'-comment-bearing PPM header desynced the old
    # re-measuring advance; the walk now advances by exactly what the
    # parser consumed (ADVICE r7)
    f1 = b"P6\n# a comment line\n2 2\n255\n" + bytes(range(12))
    f2 = b"P6\n2 1\n255\n" + bytes(range(6))
    df = spark.createDataFrame([(5, f1 + f2)], ["doc_id", "payload"])
    rows = sorted(
        multimodal.extract_frames(df).collect(), key=lambda r: r.frame_idx
    )
    assert [(r.frame_idx, r.width, r.height, r.decode_ok) for r in rows] == [
        (0, 2, 2, True),
        (1, 2, 1, True),
    ]
    assert rows[0].frame_sum == sum(range(12))
    assert rows[1].frame_sum == sum(range(6))


def test_semantic_contamination_bucketed_recall(spark, sf_dir):
    # the ANN-bucketed screen must agree with the exhaustive scorer on
    # the fixture: at 4 tables + one-bit-flip probes it should recover
    # essentially every contaminated flag, and every (vec, bench, score)
    # it does report must match the exhaustive score exactly
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 50 == 0)
    corpus = emb.filter(F.col("vec_id") % 50 != 0)
    exact = {
        r.vec_id: r
        for r in similarity.semantic_contamination(
            corpus, bench, threshold=0.35
        ).collect()
    }
    approx = {
        r.vec_id: r
        for r in similarity.semantic_contamination_bucketed(
            corpus, bench, threshold=0.35, n_planes=4, n_tables=12
        ).collect()
    }
    assert set(approx) == set(exact)  # complete manifest either way
    flagged_exact = {v for v, r in exact.items() if r.contaminated}
    flagged_approx = {v for v, r in approx.items() if r.contaminated}
    assert flagged_approx <= flagged_exact  # no false positives ever
    if flagged_exact:
        recall = len(flagged_approx) / len(flagged_exact)
        assert recall >= 0.8, f"bucketed decontam recall too low: {recall}"
    # agreement on the nearest item implies identical exact scores
    for v in flagged_approx:
        assert approx[v].max_cos <= exact[v].max_cos + 1e-12


def test_dup_clusters_distributed_auto_path_still_restarts(spark, monkeypatch):
    # force the distributed branch (as if the graph exceeded the local
    # probe) so auto's propagate->star restart stays covered now that
    # small graphs take the single-task union-find fast path
    from sqlite_cdc_spark.pipeline import dedup

    monkeypatch.setattr(dedup, "CC_LOCAL_EDGE_LIMIT", 0)
    chain = [(i, i + 1) for i in range(100, 140)]
    pairs = spark.createDataFrame(
        chain + [(7, 8), (55, 55)], "id_a long, id_b long"
    )
    out = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in dedup.dup_clusters(pairs).collect()
    }
    assert out[139] == (100, 41)
    assert out[8] == (7, 2)
    assert out[55] == (55, 1)
    assert dedup.LAST_CC_ROUNDS > 1  # distributed rounds actually ran


def test_cc_local_labels_match_distributed_backends(spark, monkeypatch):
    # the fast path must be label-identical to both distributed backends
    # on a mixed graph (chain + triangle + self-loop + isolated pair)
    pairs = spark.createDataFrame(
        [(5, 3), (3, 9), (9, 5), (20, 21), (21, 22), (55, 55), (70, 71)],
        "id_a long, id_b long",
    )

    def labelmap(rows):
        return {r.doc_id: (r.cluster_id, r.cluster_size) for r in rows}

    local = labelmap(dedup.dup_clusters(pairs).collect())
    _distributed_cc(monkeypatch, "star")
    star = labelmap(dedup.dup_clusters(pairs).collect())
    _distributed_cc(monkeypatch, "propagate")
    prop = labelmap(dedup.dup_clusters(pairs).collect())
    assert local == star == prop
    assert local[22] == (20, 3) and local[55] == (55, 1)


def test_ahash64_groups_visual_duplicates(spark):
    # identical rasters hash identically; corrupt payloads surface as
    # decode_ok=false with NULL hash halves
    ids = spark.createDataFrame([(1, 10), (2, 10), (3, 77)], ["doc_id", "img_id"])
    hashed = {
        r.doc_id: r
        for r in multimodal.ahash64(
            multimodal.synth_ppm(ids, id_col="img_id")
        ).collect()
    }
    assert hashed[1].decode_ok and hashed[2].decode_ok
    assert (hashed[1].hash_hi, hashed[1].hash_lo) == (
        hashed[2].hash_hi,
        hashed[2].hash_lo,
    )
    bad = multimodal.ahash64(
        spark.createDataFrame([(9, b"not an image")], ["doc_id", "payload"])
    ).collect()[0]
    assert bad.decode_ok is False and bad.hash_hi is None


def _winnow_ref(text, k=3, window=4):
    """Pure-Python literal winnowing (Schleimer et al. Fig. 5 semantics:
    per full window, rightmost minimal hash; dedupe selections)."""
    import hashlib
    import re

    toks = [t for t in re.sub(r"[^a-z0-9]+", " ", text.lower()).split() if t]
    if len(toks) >= k:
        grams = [
            (i, " ".join(toks[i : i + k])) for i in range(len(toks) - k + 1)
        ]
    else:
        grams = [(0, " ".join(toks))] if toks else []
    hs = [
        (p, int(hashlib.md5(g.encode()).hexdigest()[:15], 16))
        for p, g in grams
    ]
    sel = set()
    n = len(hs)
    if not n:
        return sel
    spans = (
        [(s, min(window, n)) for s in range(n - window + 1)]
        if n >= window
        else [(0, n)]
    )
    for s, wlen in spans:
        frame = hs[s : s + wlen]
        wm = min(h for _, h in frame)
        pos = max(p for p, h in frame if h == wm)
        sel.add((pos, wm))
    return sel


def test_winnowed_fingerprints_match_reference_and_guarantee(spark):
    import random

    from sqlite_cdc_spark.pipeline import text as textops

    r = random.Random(7)
    rows = []
    vocab = [f"t{i}" for i in range(30)]
    for i in range(24):
        rows.append((i, " ".join(r.choice(vocab) for _ in range(r.randint(1, 40)))))
    # planted shared run of window + k - 1 = 6 tokens between 100 and 101
    run = "a b c d e f"
    rows.append((100, "x y " + run + " z w q"))
    rows.append((101, run + " m n o p"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.pos, r.fp)
        for r in textops.winnowed_fingerprints(df, "doc_id").collect()
    }
    want = {
        (i, p, h) for i, t in rows for (p, h) in _winnow_ref(t)
    }
    assert got == want
    # the winnowing guarantee: a shared run of >= window+k-1 tokens
    # always shares a selected fingerprint value
    f100 = {fp for d, p, fp in got if d == 100}
    f101 = {fp for d, p, fp in got if d == 101}
    assert f100 & f101


def test_winnow_pair_screen_caps_hot_fingerprints(spark):
    """VERDICT r10 item 4: winnowing's per-window minima favor small
    hash values, so a common gram's posting list is O(corpus) and an
    uncapped fp self-join is O(postings²) on one skewed key. The pair
    screen must DROP fingerprints with df > max_df before the join —
    and still count rarer shared fingerprints for the same pairs."""
    rows = []
    # fp=1 is boilerplate: present in 100 docs (df=100 > max_df=64)
    for d in range(100):
        rows.append((d, 1))
    # fp=2 shared by docs 0 and 1 only; fp=3 likewise (rare evidence)
    rows += [(0, 2), (1, 2), (0, 3), (1, 3)]
    # fp=4 shared by docs 2 and 3 ONCE only -> below min_shared
    rows += [(2, 4), (3, 4)]
    fps = spark.createDataFrame(rows, "doc_id int, fp long")

    out = textops.winnow_pair_screen(
        fps, "doc_id", min_shared=2, max_df=64
    ).collect()
    # without the cap, fp=1 alone emits C(100,2)=4950 pairs with
    # shared_fps>=1 and every (i,j) in the first 100 docs would reach
    # min_shared via fp=1 + any other shared fp; with it, only the
    # rare-fp pair survives, and its count EXCLUDES the hot fp
    assert len(out) == 1
    assert (out[0].id_a, out[0].id_b, out[0].shared_fps) == (0, 1, 2)

    # cap boundary is inclusive: df == max_df is kept
    small = spark.createDataFrame(
        [(d, 7) for d in range(4)] + [(0, 8), (1, 8)],
        "doc_id int, fp long",
    )
    kept = textops.winnow_pair_screen(small, "doc_id", min_shared=2, max_df=4)
    assert {
        (r.id_a, r.id_b, r.shared_fps) for r in kept.collect()
    } == {(0, 1, 2)}


def test_shingle_rows_handles_backtick_column_names(spark):
    df = spark.createDataFrame(
        [(1, "one two three four")], ["doc`id", "te`xt"]
    )
    rows = dedup.shingle_rows(df, "doc`id", "te`xt", k=3).collect()
    assert {r["sh"] for r in rows} == {"one two three", "two three four"}


def test_quality_features_handles_backtick_column_name(spark):
    df = spark.createDataFrame([(1, "the quick brown fox")], ["doc_id", "t`xt"])
    out = textops.quality_features(df, text_col="t`xt").collect()
    assert len(out) == 1 and out[0]["q_tokens"] == 4
