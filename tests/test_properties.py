"""Property-based tests (hypothesis) for the core roundtrip invariants.

The reference ships example-based tests only (SURVEY §5); these properties
pin the algebra: diff/apply inverse, codec roundtrips, image extraction.
Examples are bounded small — each case builds a real DataFrame.
"""

from __future__ import annotations

import datetime as dt
import json
from unittest import mock

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sqlite_cdc_spark import derive, model

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# simple relational rows: key + two nullable value columns
rows_st = st.dictionaries(
    keys=st.integers(min_value=0, max_value=30),
    values=st.tuples(
        st.one_of(st.none(), st.text(alphabet="abcdef", max_size=4)),
        st.one_of(st.none(), st.integers(min_value=-100, max_value=100)),
    ),
    max_size=12,
)


def _df(spark, d):
    rows = [(k, v[0], v[1]) for k, v in d.items()]
    return spark.createDataFrame(rows, "k bigint, s string, n bigint")


@given(old=rows_st, new=rows_st)
@settings(**SETTINGS)
def test_diff_apply_inverse(spark, old, new):
    """apply(old, diff(old, new)) == new — for ANY pair of snapshots,
    including null values, disjoint keys, and empty sides."""
    o, n = _df(spark, old), _df(spark, new)
    diff = derive.snapshot_diff(o, n, ["k"])
    applied = derive.apply_changes(o, diff, ["k"])
    got = {(r.k, r.s, r.n) for r in applied.collect()}
    want = {(k, v[0], v[1]) for k, v in new.items()}
    assert got == want


@given(old=rows_st)
@settings(**SETTINGS)
def test_diff_self_is_empty(spark, old):
    o = _df(spark, old)
    assert derive.snapshot_diff(o, o, ["k"]).isEmpty()


@given(data=st.binary(min_size=0, max_size=64))
@settings(**SETTINGS)
def test_hex_roundtrip(spark, data):
    df = spark.createDataFrame([(bytearray(data),)], "b binary")
    out = df.select(F.unhex(model.blob_to_hex("b")).alias("rt")).first().rt
    assert bytes(out or b"") == data


@given(
    ts=st.datetimes(
        min_value=dt.datetime(1971, 1, 1),
        max_value=dt.datetime(2200, 1, 1),
    )
)
@settings(**SETTINGS)
def test_log_timestamp_roundtrip_ms(spark, ts):
    ts = ts.replace(microsecond=(ts.microsecond // 1000) * 1000)  # ms precision
    df = spark.createDataFrame([(ts,)], "t timestamp")
    rt = df.select(
        model.parse_log_timestamp(model.format_log_timestamp("t")).alias("rt")
    ).first().rt
    assert rt == ts


@given(
    vals=st.lists(
        st.tuples(
            st.integers(min_value=-(10**9), max_value=10**9),
            st.text(alphabet="abc ,\"\\", max_size=8),
        ),
        min_size=1,
        max_size=5,
    )
)
@settings(**SETTINGS)
def test_row_image_field_extraction(spark, vals):
    """Every field of a JSON row image extracts back intact — including
    JSON-hostile strings (quotes, backslashes, commas)."""
    df = spark.createDataFrame(vals, "a bigint, s string")
    out = df.select(
        model.row_image(df).alias("img"), F.col("a"), F.col("s")
    ).collect()
    for r in out:
        parsed = json.loads(r.img)
        assert parsed["a"] == r.a
        assert parsed["s"] == r.s


edges_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),
        st.integers(min_value=0, max_value=20),
    ),
    min_size=1,
    max_size=15,
)


@given(edges=edges_st)
@settings(**SETTINGS)
def test_dup_clusters_is_valid_partition(spark, edges):
    """For ANY pair set: every endpoint gets exactly one cluster, both
    endpoints of every pair share a cluster, each cluster is labeled by
    its own min member, and sizes are consistent — i.e. the output is a
    genuine partition refinable to connected components."""
    from sqlite_cdc_spark.pipeline import dedup

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    rows = dedup.dup_clusters(pairs).collect()
    label = {r.doc_id: r.cluster_id for r in rows}
    size = {r.doc_id: r.cluster_size for r in rows}
    verts = {v for e in edges for v in e}
    assert set(label) == verts  # every endpoint labeled exactly once
    for a, b in edges:
        assert label[a] == label[b]  # pair endpoints co-clustered
    from collections import Counter

    members = Counter(label.values())
    for v in verts:
        assert label[label[v]] == label[v]  # label is a member of its own cluster
        assert label[v] == min(
            u for u in verts if label[u] == label[v]
        )  # canonical min labeling
        assert size[v] == members[label[v]]
    # the large-star/small-star backend is label-identical on ANY pair
    # set: no local fast path and no propagate rounds route dup_clusters
    # straight to it
    with mock.patch.object(dedup, "CC_LOCAL_EDGE_LIMIT", 0), mock.patch.object(
        dedup, "CC_PROPAGATE_ROUNDS", 0
    ):
        star = sorted(
            (r.doc_id, r.cluster_id, r.cluster_size)
            for r in dedup.dup_clusters(pairs).collect()
        )
    assert star == sorted((r.doc_id, r.cluster_id, r.cluster_size) for r in rows)


@given(
    keys=st.sets(st.integers(min_value=0, max_value=500), min_size=1, max_size=40),
    budget=st.integers(min_value=0, max_value=2000),
)
@settings(**SETTINGS)
def test_mixture_sample_subset_and_monotone(spark, keys, budget):
    """For ANY key set and budget: the sample is a subset of the input,
    and raising the budget never drops a previously kept row
    (monotonicity — the property that makes budget tuning reproducible)."""
    from sqlite_cdc_spark.pipeline import sampling

    df = spark.createDataFrame(
        [(k, "g", 10) for k in keys], "doc_id long, lang string, n_tok long"
    )
    lo = {
        r.doc_id
        for r in sampling.mixture_sample(
            df, "lang", "doc_id", "n_tok", budgets={"g": budget}
        ).collect()
    }
    hi = {
        r.doc_id
        for r in sampling.mixture_sample(
            df, "lang", "doc_id", "n_tok", budgets={"g": budget * 2 + 10}
        ).collect()
    }
    assert lo <= keys and hi <= keys
    assert lo <= hi


texts_st = st.dictionaries(
    keys=st.integers(min_value=0, max_value=20),
    values=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=0, max_size=8
    ),
    min_size=1,
    max_size=8,
)


def _docs_df(spark, d):
    rows = [(k, " ".join(v)) for k, v in d.items()]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


@given(corpus=texts_st, batch=texts_st)
@settings(**SETTINGS)
def test_lm_incremental_merge_equals_recount(spark, corpus, batch):
    """update_unigram_counts(counts(C), inserts=B) == counts(C ∪ B) for
    ARBITRARY corpora/batches — the streaming-equals-batch algebra of the
    LM family, not just the fixture case."""
    from sqlite_cdc_spark.pipeline import lm

    c = _docs_df(spark, corpus)
    b = _docs_df(spark, {k + 100: v for k, v in batch.items()})
    merged = {
        r.tok: r.cnt
        for r in lm.update_unigram_counts(
            lm.unigram_counts(c), inserts=b
        ).collect()
    }
    scratch = {
        r.tok: r.cnt for r in lm.unigram_counts(c.unionByName(b)).collect()
    }
    assert merged == scratch


@given(corpus=texts_st)
@settings(**SETTINGS)
def test_lm_delete_insert_roundtrip_is_identity(spark, corpus):
    """Deleting and re-inserting the same batch leaves the model exactly
    unchanged (CDC UPDATE with identical before/after images)."""
    from sqlite_cdc_spark.pipeline import lm

    c = _docs_df(spark, corpus)
    model = lm.unigram_counts(c)
    roundtrip = lm.update_unigram_counts(model, inserts=c, deletes=c)
    got = {r.tok: r.cnt for r in roundtrip.collect()}
    want = {r.tok: r.cnt for r in model.collect()}
    assert got == want


# --- r7: pure-Python image decoders (no Spark needed — pure functions) ----

_img_st = st.tuples(
    st.integers(min_value=1, max_value=12),
    st.integers(min_value=1, max_value=12),
    st.randoms(use_true_random=False),
)


@given(img=_img_st)
@settings(**SETTINGS)
def test_ppm_bmp_decode_agree_on_random_images(img):
    """The same random pixels pushed through BOTH containers decode to
    identical arrays — the two parsers cross-validate each other."""
    import numpy as np

    from sqlite_cdc_spark.pipeline import multimodal as mm

    w, h, rng = img
    px = [[tuple(rng.randrange(256) for _ in range(3)) for _ in range(w)]
          for _ in range(h)]
    flat = bytes(c for row in px for p in row for c in p)
    ppm = b"P6\n%d %d\n255\n" % (w, h) + flat
    # minimal BMP writer (bottom-up, padded) — independent of the parser
    import struct

    stride = (w * 3 + 3) & ~3
    raster = b""
    for row in reversed(px):
        line = b"".join(bytes((b, g, r)) for (r, g, b) in row)
        raster += line + b"\0" * (stride - len(line))
    off = 54
    bmp = (
        b"BM" + struct.pack("<IHHI", off + len(raster), 0, 0, off)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(raster), 0, 0, 0, 0)
        + raster
    )
    w1, h1, a1 = mm._parse_ppm(ppm)
    w2, h2, a2 = mm._parse_bmp(bmp)
    assert (w1, h1) == (w2, h2) == (w, h)
    assert (a1 == a2).all()
    assert a1.shape == (h, w, 3)
    assert bytes(a1.tobytes()) == flat  # PPM raster is row-major RGB


@given(img=_img_st, cut=st.integers(min_value=0, max_value=200))
@settings(**SETTINGS)
def test_truncated_images_raise_never_crash(img, cut):
    """Any prefix of a valid image either parses (only when complete) or
    raises ValueError — never an index error or a silent wrong shape."""
    import pytest as _pytest

    from sqlite_cdc_spark.pipeline import multimodal as mm

    w, h, rng = img
    flat = bytes(rng.randrange(256) for _ in range(w * h * 3))
    ppm = b"P6\n%d %d\n255\n" % (w, h) + flat
    trunc = ppm[: max(0, len(ppm) - cut)]
    if trunc == ppm:
        mm._parse_ppm(trunc)  # complete → must parse
    else:
        with _pytest.raises(ValueError):
            mm._parse_ppm(trunc)


@given(
    w=st.integers(min_value=1, max_value=10),
    h=st.integers(min_value=1, max_value=10),
)
@settings(**SETTINGS)
def test_nn_resize_identity_when_dims_match(spark, w, h):
    """Resizing to the source dimensions is the identity — the NN index
    map floor(i*n/n) == i."""
    from sqlite_cdc_spark.pipeline import multimodal as mm

    flat = bytes((i * 37) % 256 for i in range(w * h * 3))
    df = spark.createDataFrame(
        [(1, b"P6\n%d %d\n255\n" % (w, h) + flat)], ["doc_id", "payload"]
    )
    out = mm.image_resize(df, w, h).collect()[0]
    _, _, arr = mm._parse_ppm(bytes(out.payload))
    assert arr.tobytes() == flat


# --- r8: two-phase rank/ntile and the join-view delta rule ---------------

ranked_rows_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # group
        st.integers(min_value=-50, max_value=50),   # order key (ties ok)
    ),
    min_size=1,
    max_size=40,
)


@given(rows=ranked_rows_st, n=st.integers(min_value=1, max_value=7))
@settings(**SETTINGS)
def test_distributed_ntile_property(spark, rows, n):
    """distributed_ntile == built-in ntile for ANY size/bucket count,
    including N < n, heavy ties (id tie-break restores totality), and
    single-row inputs."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(rows)], "id long, k long"
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    w = Window.orderBy(*order)
    want = {
        r.id: r.t
        for r in df.select("id", F.ntile(n).over(w).alias("t")).collect()
    }
    got = {
        r.id: r.tile
        for r in derive.distributed_ntile(df, order, n).collect()
    }
    assert got == want


@given(rows=ranked_rows_st)
@settings(**SETTINGS)
def test_distributed_row_number_property(spark, rows):
    """distributed_row_number == keyed-window row_number for ANY group
    shape (all rows one group, all singletons, ties on the order key)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, g, k) for i, (g, k) in enumerate(rows)],
        "id long, g long, k long",
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    w = Window.partitionBy("g").orderBy(*order)
    want = {
        r.id: r.rn
        for r in df.select(
            "id", F.row_number().over(w).alias("rn")
        ).collect()
    }
    got = {
        r.id: r.rn
        for r in derive.distributed_row_number(df, ["g"], order).collect()
    }
    assert got == want


@given(rows=ranked_rows_st)
@settings(**SETTINGS)
def test_distributed_row_number_global_property(spark, rows):
    """The NO-partition-cols (global permutation) case — the shape
    b26_global_shuffle / b24_corpus_v9 ship — must equal the naive
    unpartitioned row_number for any duplicate/tie structure."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, k) for i, (_, k) in enumerate(rows)], "id long, k long"
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    w = Window.orderBy(*order)
    want = {
        r.id: r.rn
        for r in df.select(
            "id", F.row_number().over(w).alias("rn")
        ).collect()
    }
    got = {
        r.id: r.rn
        for r in derive.distributed_row_number(df, [], order).collect()
    }
    assert got == want


ab_tables_st = st.tuples(
    # A rows: (apk unique via enumeration, join key, payload)
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)), max_size=12
    ),
    # B rows
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 9)), max_size=8
    ),
    # batch mutations: subsets of A/B pks to update, delete
    st.sets(st.integers(0, 11), max_size=4),
    st.sets(st.integers(0, 11), max_size=4),
    st.sets(st.integers(0, 7), max_size=3),
)


@given(t=ab_tables_st)
@settings(**SETTINGS)
def test_incremental_join_view_property(spark, t):
    """increment == recompute for ANY batch: payload updates, deletes,
    and simultaneous same-key mutations on both sides (the cross-term
    case), with empty tables and no-op batches included."""
    a_rows, b_rows, upd_a, del_a, del_b = t
    a_old = spark.createDataFrame(
        [(i, k, v) for i, (k, v) in enumerate(a_rows)],
        "apk long, k long, av long",
    )
    b_old = spark.createDataFrame(
        [(100 + i, k, v) for i, (k, v) in enumerate(b_rows)],
        "bpk long, k long, bv long",
    )
    view = a_old.join(b_old, "k")
    upd_a = upd_a - del_a  # an update of a deleted pk is meaningless
    a_del = a_old.filter(
        F.col("apk").isin(list(upd_a | del_a)) if (upd_a | del_a) else F.lit(False)
    )
    a_ins = a_old.filter(
        F.col("apk").isin(list(upd_a)) if upd_a else F.lit(False)
    ).withColumn("av", F.col("av") + 1000)
    b_del = b_old.filter(
        F.col("bpk").isin([100 + i for i in del_b]) if del_b else F.lit(False)
    )
    got = derive.incremental_join_view(
        view, a_old, b_old, "k",
        a_inserts=a_ins, a_deletes=a_del, b_inserts=None, b_deletes=b_del,
    )
    a_new = a_old.join(a_del.select("apk"), "apk", "left_anti").unionByName(
        a_ins
    )
    b_new = b_old.join(b_del.select("bpk"), "bpk", "left_anti")
    want = a_new.join(b_new, "k")
    gs = sorted(tuple(r) for r in got.select(sorted(got.columns)).collect())
    ws = sorted(tuple(r) for r in want.select(sorted(want.columns)).collect())
    assert gs == ws


# ---- round-9 sketch invariants ------------------------------------------

stream_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),      # user/key
        st.integers(min_value=0, max_value=999),     # value
    ),
    min_size=1,
    max_size=40,
)


@given(stream=stream_st)
@settings(**SETTINGS)
def test_cms_estimate_is_one_sided(spark, stream):
    """Count-Min one-sided error: for EVERY key, the CMS estimate
    (min over d rows of counter[h_r(key)]) is >= the exact count —
    collisions can only ADD. Mirrors q_b27_cms_heavy_hitters's
    construction with the portable hash family."""
    from sqlite_cdc_spark.pipeline.dedup import portable_hash60

    df = spark.createDataFrame(
        [(k,) for k, _ in stream], "user_id bigint"
    )
    per = df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    hashed = per.select(
        "user_id",
        "n",
        *[
            (
                portable_hash60(
                    F.concat(F.lit(f"{i}:"), F.col("user_id").cast("string"))
                )
                % 8
            ).alias(f"b{i}")
            for i in range(4)
        ],
    )
    counters = (
        hashed.selectExpr(
            "n", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (r, b)"
        )
        .groupBy("r", "b")
        .agg(F.sum("n").alias("cnt"))
    )
    est = (
        hashed.selectExpr(
            "user_id", "n", "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (r, b)"
        )
        .join(counters, ["r", "b"])
        .groupBy("user_id", "n")
        .agg(F.min("cnt").alias("est"))
        .collect()
    )
    assert est and all(r.est >= r.n for r in est)


@given(stream=stream_st)
@settings(**SETTINGS)
def test_histogram_sketch_merge_equals_rebuild(spark, stream):
    """merge(sketch(A), sketch(B)) == sketch(A ∪ B) for ANY split of
    ANY stream — counts are sums, so a standing sketch absorbing
    batches is indistinguishable from a rebuild. Also: total counts
    conserve (no row lost to clamping)."""
    mid = len(stream) // 2
    mk = lambda rows: spark.createDataFrame(
        [(str(k % 3), v) for k, v in rows], "scope string, vm bigint"
    )
    a, b = stream[:mid], stream[mid:]
    full = derive.histogram_sketch(mk(stream), "scope", "vm", 0, 1000, 16)
    if a and b:
        merged = derive.merge_histogram_sketches(
            derive.histogram_sketch(mk(a), "scope", "vm", 0, 1000, 16),
            derive.histogram_sketch(mk(b), "scope", "vm", 0, 1000, 16),
        )
        got = sorted((r.scope, r.bkt, r.cnt) for r in merged.collect())
        want = sorted((r.scope, r.bkt, r.cnt) for r in full.collect())
        assert got == want
    total = sum(r.cnt for r in full.collect())
    assert total == len(stream)


@given(stream=stream_st)
@settings(**SETTINGS)
def test_histogram_sketch_quantile_bucket_contains_kth(spark, stream):
    """The sketch's quantile read-back invariant: for q in {50, 95},
    the first bucket whose cumulative count reaches ceil(q·n/100)
    really CONTAINS the exact k-th smallest value — for any stream,
    any occupancy."""
    LO, R, BK = 0, 1000, 16
    vals = sorted(v for _, v in stream)
    n = len(vals)
    df = spark.createDataFrame(
        [("x", v) for _, v in stream], "scope string, vm bigint"
    )
    sk = {
        r.bkt: r.cnt
        for r in derive.histogram_sketch(df, "scope", "vm", LO, R, BK).collect()
    }
    for q in (50, 95):
        k = -(-q * n // 100)  # ceil
        exact = vals[k - 1]
        cum = 0
        for bkt in range(BK):
            cum += sk.get(bkt, 0)
            if cum * 100 >= q * n:
                lo = LO + -(-bkt * R // BK)
                hi = LO + -(-(bkt + 1) * R // BK) - 1
                assert lo <= exact <= hi
                break
        else:
            raise AssertionError("no bucket reached the quantile")
