"""Registry query functions — vector family (split from
__spark_entry__.py; pure move)."""

# ruff: noqa: F401,F403,F405
from __future__ import annotations
from collections.abc import Callable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from sqlite_cdc_spark import bootstrap as bs
from sqlite_cdc_spark import derive, log, meta, model
from sqlite_cdc_spark.pipeline import (
    decontam,
    dedup,
    lm,
    multimodal,
    sampling,
    similarity,
    text as textops,
)
from sqlite_cdc_spark.sources import load_table
import math as _math

from entryimpl.common import *


def q_b20_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4)
    return similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rnk"
    )


def q_b20_ann_lsh(spark, sf_dir):
    """LSH ANN top-k, now a full correctness row (VERDICT r3 next-2):
    engine-portable integer-exact bucket assignment → exact-cosine
    re-rank, so the DuckDB oracle replays candidates AND ranking
    bit-for-bit. Approximate in which neighbors it CONSIDERS (bucket
    mates only), deterministic in what it RETURNS. The float-plane
    production path (ann_topk_lsh, multi-table recall tuning) keeps its
    pytest recall gate."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4)
    return similarity.ann_topk_lsh_portable(emb, queries_df, k=5, dim=64).select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rnk"
    )


def q_b20_ann_ivf(spark, sf_dir):
    """IVF ANN top-k, now a full correctness row (VERDICT r3 next-2):
    seed-centroid inverted file with integer-exact cell assignment →
    exact-cosine re-rank — same cells/probe structure as IVF, replayable
    in any engine. The learned-kmeans production path (ann_topk_ivf)
    keeps its pytest recall gate."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4)
    return similarity.ann_topk_ivf_portable(emb, queries_df, k=5, n_probe=3).select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score"), "rnk"
    )


def q_b20_ann_recall(spark, sf_dir):
    """Deterministic ANN quality gate (VERDICT r1 next-7): recall@5 of the
    engine-portable LSH candidates against the exact cosine top-5. Both
    sides — integer-exact bucket assignment AND the exact top-k — are
    replayed by the DuckDB oracle, so the recall number itself is a fully
    green correctness row (unlike the float-plane production ANN, which is
    approximate by design)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4)
    cand = similarity.ann_lsh_portable(
        emb, queries_df, dim=64, n_planes=8, quant=1000
    )
    topk = similarity.cosine_topk(emb, queries_df, k=5).select(
        "query_id", "neighbor_id"
    )
    joined = topk.join(
        cand.withColumn("__hit", F.lit(1)), ["query_id", "neighbor_id"], "left"
    )
    return joined.groupBy("query_id").agg(
        F.count("__hit").alias("n_hits"),
        (F.count("__hit") / F.lit(5.0)).alias("recall"),
    )


def q_b20_vector_audit(spark, sf_dir):
    """Vector-data audit (B20 QA depth): per-label embedding count, mean
    L2 norm, and degenerate-vector counts (zero norm / NaN component) —
    the sanity pass before any similarity work. Norms are row-local
    `aggregate` arithmetic (codegen); one keyed agg."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = similarity.l2_norm(similarity.as_double(F.col("embedding")))
    has_nan = F.exists("embedding", lambda x: F.isnan(x.cast("double")))
    return (
        emb.select(
            F.col("label").cast("int").alias("label"),
            norm.alias("__n"),
            has_nan.cast("int").alias("__nan"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.round(F.avg("__n"), 6).alias("mean_norm"),
            F.sum(F.when(F.col("__n") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_zero"),
            F.sum("__nan").cast("bigint").alias("n_nan"),
        )
    )


def q_b20_mean_pool(spark, sf_dir):
    """Distributed mean-pooling (B20 depth): per-label centroids over the
    embeddings table as (group, dim, value) rows — one partial+final avg
    keyed by (label, dim), array reassembled via array_sort(collect_list)
    — the fully-distributed centroid path (the IVF trainer's bounded
    numpy sample is the other half). Per-dim means rounded to 6
    (similarity.py: group_centroids). The library API returns the
    centroid as array<double>; the DRIVER row serializes it with a fixed
    %.6f per element (values pre-rounded to 6, so the format is lossless
    and engine-identical) — the r5 driver canonicalizer cannot factorize
    list dtypes (VERDICT r5 item 1)."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = similarity.group_centroids(emb, "label")
    return cent.select(
        F.col("label").cast("int").alias("label"),
        "n_vecs",
        F.concat_ws(
            ",", F.transform("centroid", lambda v: F.format_string("%.6f", v))
        ).alias("centroid_csv"),
    )


def q_b20_covariance(spark, sf_dir):
    """Embedding covariance matrix (B20 depth) in the engine-portable
    quantized mode: floor(v·1e6) integer power sums keyed by (i, j) —
    order-independent exact arithmetic, so the (i ≤ j) upper triangle
    replays bit-identically on any engine at any parallelism. The float
    production twin is covariance_matrix_fast (per-partition numpy outer
    products, |partitions|·d² transfer), property-tested ≈ this one
    (similarity.py: covariance_matrix)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.covariance_matrix(emb)


def q_b20_kmeans(spark, sf_dir):
    """Distributed Lloyd's k-means over the embedding corpus (B20
    depth): k=4, 3 update rounds, bit-exact replay — floor-quantized
    int64 components, integer squared-L2 assignment (ties to lowest
    cid), exact-floor-division centroid updates, deterministic
    smallest-id seeding. Per round the only driver-side data is the
    k·d centroid table (re-broadcast as literals); assignment is a
    narrow codegen map and the update shuffle is |tasks|·k·d rows via
    map-side partial agg — corpus size never hits the driver
    (similarity.py: kmeans_exact). The oracle replays all rounds as
    chained CTEs, so the driver row proves every intermediate centroid
    matched."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kmeans_exact(emb, k=4, iters=3)


def q_b20_centroid_drift(spark, sf_dir):
    """Embedding centroid-drift monitor (B20 × B3, r7): per-label
    centroid distance from the global centroid — the embedding-space
    health check a retrieval/dedup pipeline runs per ingest batch (a
    label whose centroid wanders is a source whose upstream encoder or
    content changed; b3_psi watches scalar features, THIS watches the
    vector space). Shape: (label, dim) partial+final avg — never a
    per-vector shuffle — then a 16-row-per-label broadcast join and one
    keyed fold. Per-dim means rounded to 6 before differencing (float
    sum order differs per engine); sqrt is IEEE-exact; final round 6."""
    emb = _t(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim", "__v")
    ).select("label", "dim", F.col("__v").cast("double").alias("v"))
    per = ex.groupBy("label", "dim").agg(F.round(F.avg("v"), 6).alias("lv"))
    glob = ex.groupBy("dim").agg(F.round(F.avg("v"), 6).alias("gv"))
    counts = emb.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
    d = F.col("lv") - F.col("gv")
    drift = (
        per.join(F.broadcast(glob), "dim")
        .groupBy("label")
        .agg(F.round(F.sqrt(F.sum(d * d)), 6).alias("drift"))
    )
    return (
        counts.join(drift, "label")
        .select(F.col("label").cast("int").alias("label"), "n_vecs", "drift")
    )


def q_b20_pq(spark, sf_dir):
    """Product-quantization ANN (B20 depth) — the memory-compression
    scale path no other b20 row covers: vectors stored as m=8 subspace
    codes (32× smaller than 64 floats), queries scored via an
    asymmetric-distance table joined to codes on (subspace, code).
    Codebooks are fixed seed-row subvectors (deterministic stand-in
    for per-subspace kmeans_exact training); every distance is an
    integer sum over floor-quantized components, so encode, table and
    ranking replay bit-for-bit and the oracle checks the FULL pipeline
    (similarity.py: ann_topk_pq)."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.ann_topk_pq(emb, emb.filter(F.col("vec_id") < 4), k=10)


def q_b20_dim_truncation(spark, sf_dir):
    """Embedding dim-truncation audit (B20 depth, r8): for each
    truncation budget d ∈ {16, 32, 48}, the retained-norm fraction
    ``‖v[:d]‖ / ‖v‖`` per vector — the Matryoshka-style measurement
    that decides how small stored embeddings can go before retrieval
    quality collapses. Per-row fold arithmetic (identical fold order
    both engines), per-row values floor-quantized to 1e-6 so the
    per-budget mean is an integer sum; one narrow pass + one tiny
    grouped agg."""
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    full = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x * x
    )
    rows = []
    for d in (16, 32, 48):
        part = F.aggregate(
            F.slice(v, 1, d), F.lit(0.0), lambda acc, x: acc + x * x
        )
        r = F.sqrt(part / full)
        rows.append(
            F.struct(
                F.lit(d).cast("int").alias("dim"),
                F.floor(r * 1e6).cast("long").alias("__r6"),
            )
        )
    exploded = emb.select(
        F.explode(F.array(*rows)).alias("s")
    ).select(F.col("s.dim").alias("dim"), F.col("s.__r6").alias("__r6"))
    return exploded.groupBy("dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.round(F.sum("__r6") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_retained"
        ),
        F.round(F.min("__r6") / 1e6, 6).alias("min_retained"),
    )


def q_b20_hubness(spark, sf_dir):
    """Hubness audit (B20 depth, r9): the k-occurrence distribution of
    exact cosine top-10 results for a 64-probe sample — how often each
    corpus vector appears in other vectors' neighbor lists. A heavy
    right tail ("hub" vectors in everyone's top-k) is the classic
    high-dim pathology that silently skews ANN dedup and retrieval.
    Reuses the oracled ``cosine_topk`` kernel; the histogram is two
    keyed aggs + one broadcast join (zero-occurrence vectors counted
    via left join). Scale: cost ∝ probes × corpus like any probe-based
    audit, never corpus²."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 64)
    topk = similarity.cosine_topk(emb, probes, k=10)
    occ = topk.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    allv = emb.select(F.col("vec_id").alias("neighbor_id"))
    per_vec = allv.join(F.broadcast(occ), "neighbor_id", "left").select(
        F.coalesce(F.col("occ"), F.lit(0)).alias("occ")
    )
    return per_vec.groupBy("occ").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


def q_b20_cos_histogram(spark, sf_dir):
    """Pairwise-cosine distribution probe (B20 depth, r9 wave 2): the
    histogram of probe×corpus cosine scores on 0.1-wide buckets — the
    embedding-collapse screen (a healthy space is spread; mass piling
    into one high bucket means the encoder collapsed and every
    similarity threshold downstream is lying). Probes broadcast; one
    narrow scoring pass; bucket = floor(score·10) so the bin decision
    is a floor of identical doubles on both engines. Cost ∝ probes ×
    corpus, never corpus²."""
    emb = _t(spark, sf_dir, "embeddings")
    q = similarity._vectors(
        emb.filter(F.col("vec_id") < 32), "vec_id", "embedding",
        "query_id", "qv", "qn",
    )
    c = similarity._vectors(emb, "vec_id", "embedding", "neighbor_id", "cv", "cn")
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("neighbor_id")
    ).select(similarity._cosine_or_zero("qv", "cv", "qn", "cn").alias("score"))
    per = scored.select(
        F.floor(F.col("score") * 10).cast("int").alias("bucket")
    ).groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    total = per.agg(F.sum("n_pairs").cast("long").alias("__t"))
    return per.crossJoin(F.broadcast(total)).select(
        "bucket",
        "n_pairs",
        F.round(
            F.col("n_pairs").cast("double") / F.col("__t").cast("double"), 6
        ).alias("share"),
    )


def q_b20_recall_curve(spark, sf_dir):
    """Recall@k curve (B20 eval depth, r9 wave 3): recall@{1,5,10} of
    the portable-LSH candidate set against exact cosine ranks — the
    curve (not one point, b20_ann_recall's shape) an ANN config review
    reads. ONE exact top-10 relation serves all three k's (the k-grid
    explodes per rank row, never re-scoring); candidates come from the
    integer-exact LSH so the whole curve is oracle-replayable."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 4)
    cand = similarity.ann_lsh_portable(
        emb, queries_df, dim=64, n_planes=8, quant=1000
    )
    topk = similarity.cosine_topk(emb, queries_df, k=10).select(
        "query_id", "neighbor_id", "rnk"
    )
    hits = topk.join(
        cand.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    grid = hits.select(
        "query_id",
        "rnk",
        "__hit",
        F.explode(F.array(F.lit(1), F.lit(5), F.lit(10))).alias("k"),
    ).filter(F.col("rnk") <= F.col("k"))
    return grid.groupBy("query_id", "k").agg(
        F.count("__hit").cast("long").alias("n_hits"),
        F.round(
            F.count("__hit").cast("double") / F.col("k").cast("double"), 6
        ).alias("recall"),
    )


def q_b20_jl_projection(spark, sf_dir):
    """Johnson–Lindenstrauss sign-projection audit (B20 depth, r9 wave
    5 — the dimensionality-REDUCTION cost/recall trade beside
    b20_dim_truncation's prefix trade): embeddings are floor-quantized
    to int (the portable-LSH rule), projected 64→16 dims through a ±1
    sign matrix (one equi-join on the in-dim + keyed agg — integer
    exact, no float accumulates), then recall@10 of projected-dot
    ranking vs exact cosine top-10 per probe. The projection is the
    100 TB screen: 4× fewer dims per candidate pass, and the recall
    row prices exactly what that compression costs."""
    from pyspark.sql import Window

    emb = _t(spark, sf_dir, "embeddings")
    signs = spark.createDataFrame(_jl_signs(), "j int, k int, s int")
    quant = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "v")
    ).select(
        "vec_id", "j", F.floor(F.col("v").cast("double") * 1000).alias("q")
    )
    proj = (
        quant.join(F.broadcast(signs), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("q")).cast("long").alias("p"))
    )
    probes = proj.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "k", F.col("p").alias("qp")
    )
    scored = (
        proj.join(F.broadcast(probes), "k")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("qp") * F.col("p")).cast("long").alias("pdot"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pdot").desc(), F.col("neighbor_id").asc()
    )
    proj_top = scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= 10
    )
    exact_top = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 4), k=10
    ).select("query_id", "neighbor_id")
    joined = exact_top.join(
        proj_top.withColumn("__hit", F.lit(1)).select(
            "query_id", "neighbor_id", "__hit"
        ),
        ["query_id", "neighbor_id"],
        "left",
    )
    return joined.groupBy("query_id").agg(
        F.count("__hit").cast("long").alias("n_hits"),
        (F.count("__hit") / F.lit(10.0)).alias("recall"),
    )


def q_b20_triplet_mining(spark, sf_dir):
    """Hard-negative triplet mining (B20 depth, r9 wave 11 — the
    contrastive-training data-prep read, and the only B20 operator
    that exploits the fixture's `label` column): per anchor, the
    nearest SAME-label vector (the positive) and the nearest
    OTHER-label vector (the hardest negative) by exact cosine, plus
    the triplet margin and the violation flag (negative closer than
    positive — the triplets a trainer actually wants). One broadcast
    of the 8 anchors, one narrow scoring pass, two keyed top-1
    windows over the same scored relation. Scores/margins are round-6
    of identical doubles (sqrt is correctly-rounded; the subtraction
    happens on RAW scores before rounding, both engines)."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = similarity._vectors(
        emb.filter(F.col("vec_id") < 8), "vec_id", "embedding",
        "anchor_id", "av", "an", "label as anchor_label",
    )
    corpus = similarity._vectors(
        emb, "vec_id", "embedding", "neighbor_id", "cv", "cn",
        "label as neighbor_label",
    )
    scored = corpus.join(
        F.broadcast(anchors), F.col("anchor_id") != F.col("neighbor_id")
    ).select(
        "anchor_id",
        "anchor_label",
        "neighbor_id",
        (F.col("anchor_label") == F.col("neighbor_label")).alias("__same"),
        similarity._cosine_or_zero("av", "cv", "an", "cn").alias("__s"),
    )

    def nearest(same):
        return similarity._top_k(scored.filter(same), 1, by="anchor_id", score="__s")

    pos = nearest(F.col("__same")).select(
        "anchor_id",
        "anchor_label",
        F.col("neighbor_id").alias("positive_id"),
        F.col("__s").alias("__ps"),
    )
    neg = nearest(~F.col("__same")).select(
        "anchor_id",
        F.col("neighbor_id").alias("negative_id"),
        F.col("__s").alias("__ns"),
    )
    return pos.join(neg, "anchor_id").select(
        "anchor_id",
        "anchor_label",
        "positive_id",
        F.round("__ps", 6).alias("pos_score"),
        "negative_id",
        F.round("__ns", 6).alias("neg_score"),
        F.round(F.col("__ps") - F.col("__ns"), 6).alias("margin"),
        (F.col("__ns") > F.col("__ps")).alias("violation"),
    )


def q_b20_triplet_mining_ann(spark, sf_dir):
    """Hard-negative triplet mining at corpus scale (B20 depth, r10 —
    VERDICT r9 item 6): the anchors (every 25th vector — unbounded in
    production, so NOT broadcast) route through the standing portable
    integer-LSH buckets alongside the corpus; candidates are the
    (table, bucket) equi-join (12 tables × 4 planes, anchor-side
    one-bit-flip probes — the measured recall-1.0 config on this
    fixture), and the exact cosine rescore + per-anchor positive/negative
    top-1 run over candidates only (similarity.py: triplet_mining_ann). Bucket
    decisions are integer-exact, so the oracle replays candidates AND
    scores bit-for-bit; scores/margins are round-6 of identical
    doubles."""
    emb = _t(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") % 25 == 0)
    return similarity.triplet_mining_ann(
        emb, anchors, dim=64, n_planes=4, n_tables=12
    ).orderBy("anchor_id")


def q_b20_hubness_ann(spark, sf_dir):
    """Hubness audit at corpus scale (B20 depth, r10 — the
    scaled companion the r9 verdict asked for beside triplet mining):
    every 8th vector probes (unbounded in production — never
    broadcast); probes route through the portable integer-LSH buckets
    (12 tables × 4 planes, probe-side one-bit flips), per-probe top-10
    comes from the exact cosine rescore of bucket equi-join candidates
    only, and the k-occurrence histogram includes the zero-occurrence
    mass (similarity.py: hubness_ann). Bucket decisions are
    integer-exact, so the oracle replays candidates, ranks, and the
    histogram bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") % 8 == 0)
    return similarity.hubness_ann(
        emb, probes, k=10, dim=64, n_planes=4, n_tables=12
    ).orderBy("occ")


def q_b20_int8_quant(spark, sf_dir):
    """Symmetric int8 quantization audit over the embedding table (B20
    depth, r11): per dimension — the max-abs scale, the accumulated
    squared reconstruction error of floor-quantize/dequantize at 127
    levels, and the saturation count. The audit run before shipping a
    vector index in int8 (4× memory, SIMD dot products): dimensions
    with outsized error or saturation need per-dim rescaling. Exactness
    contract: quantize = floor(v·127/scale) clamped at −127 (floor at
    −scale lands on −128), dequantize error squared is quantized to
    1e-12 grid and SUMMED AS INTEGERS, so cross-engine float-sum order
    cannot drift the hash; mul/div are IEEE-correctly-rounded and
    written in the same literal order on both sides. Shape: posexplode
    → (dim) max-agg → broadcast back → (dim) sum-agg; rows ∝ cells."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ex = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim", "v"
        ),
    )
    scales = ex.groupBy("dim").agg(F.max(F.abs("v")).alias("__s"))
    j = ex.join(F.broadcast(scales), "dim")
    q = F.when(F.col("__s") == 0.0, F.lit(0.0)).otherwise(
        F.greatest(
            F.floor(F.col("v") * F.lit(127.0) / F.col("__s")),
            F.lit(-127.0),
        )
    )
    err = F.when(F.col("__s") == 0.0, F.lit(0.0)).otherwise(
        F.col("v") - F.col("__q") * F.col("__s") / F.lit(127.0)
    )
    rows = j.withColumn("__q", q).withColumn("__e", err)
    return (
        rows.groupBy("dim")
        .agg(
            F.round(F.max(F.abs("v")), 6).alias("scale"),
            F.sum(
                F.floor(F.col("__e") * F.col("__e") * F.lit(1e12))
            )
            .cast("long")
            .alias("sse12"),
            F.sum(
                F.when(F.abs(F.col("__q")) == 127.0, 1).otherwise(0)
            )
            .cast("long")
            .alias("n_sat"),
        )
        .select(F.col("dim").cast("int").alias("dim"), "scale", "sse12", "n_sat")
    )


def q_b20_matryoshka_recall(spark, sf_dir):
    """Matryoshka truncation RECALL curve (B20 depth, r11 — the eval
    b20_dim_truncation's energy-retention numbers approximate): for
    every probe (each 50th vector), compare exact cosine top-10 under
    prefix-truncated embeddings (16/32/48 dims) against the full-dim
    top-10 and report recall@10 per dimension — the measurement that
    decides whether MRL-style truncation is safe for a served index
    (energy retention can be high while RANK ORDER scrambles; recall is
    the ground truth). Shape: the deliberate broadcast-probe exact
    scorer (same contract as b20_cosine_topk; the bucketed ANN family
    is the unbounded-probe path), one top-k window per dim, semi-join
    overlap counts; recall = division of exact counts, round 6."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") % 50 == 0)
    full = similarity.cosine_topk(emb, probes, k=10).select(
        "query_id", "neighbor_id"
    )
    npr = probes.agg(F.count(F.lit(1)).cast("long").alias("__np"))
    parts = []
    for d in (16, 32, 48):
        tc = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        tp = probes.select(
            "vec_id", F.slice("embedding", 1, d).alias("embedding")
        )
        t10 = similarity.cosine_topk(tc, tp, k=10).select(
            "query_id", "neighbor_id"
        )
        parts.append(
            t10.join(full, ["query_id", "neighbor_id"], "semi")
            .agg(F.count(F.lit(1)).cast("long").alias("n_overlap"))
            .select(F.lit(d).cast("int").alias("dim"), "n_overlap")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(npr)).select(
        "dim",
        F.col("__np").alias("n_probes"),
        "n_overlap",
        F.round(
            F.col("n_overlap").cast("double") / (F.lit(10.0) * F.col("__np")),
            6,
        ).alias("recall_at_10"),
    )


def q_b20_silhouette(spark, sf_dir):
    """Centroid silhouette score per k-means cluster (B20 depth, r11 —
    the cluster-QUALITY read the family lacked: kmeans gives the
    partition, centroid_drift tracks movement, this says whether the
    partition is any good): for every point, a = squared distance to
    its own cluster's centroid, b = min squared distance to any other
    centroid; s = (b−a)/max(a,b) — the centroid-based silhouette
    (Rousseeuw's simplified form; the O(n²) pairwise version is not a
    corpus-scale object). Per cluster: size and mean s. Exactness:
    components and centroids live in the kernel's floor-quantized
    int64 space, distances are integer sums, each point's s is
    floor-quantized to 1e-6 BEFORE the cluster mean so the sum is
    order-independent. Shape: the oracled kmeans assignment + one
    (cluster,dim) centroid agg + an n·k·d distance join — the
    kernel's own assignment shape."""
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    labels = similarity.kmeans_exact(emb, k=4, iters=3).select(
        "vec_id", "cluster_id"
    )
    q = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda x: F.floor(x.cast("double") * F.lit(1e6)).cast(
                    "long"
                ),
            )
        ).alias("dim", "qv"),
    )
    ql = q.join(labels, "vec_id")
    cent = ql.groupBy("cluster_id", "dim").agg(
        F.expr(
            "CAST((sum(qv) - pmod(sum(qv), count(1))) div count(1) AS BIGINT)"
        ).alias("cv")
    )
    c = cent.select(
        F.col("cluster_id").alias("cid"), "dim", "cv"
    )
    dists = (
        q.join(c, "dim")
        .groupBy("vec_id", "cid")
        .agg(
            F.sum((F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv")))
            .cast("long")
            .alias("d2")
        )
        .join(labels, "vec_id")
    )
    per = dists.groupBy("vec_id").agg(
        F.min(F.col("cluster_id")).alias("cluster_id"),
        F.max(
            F.when(F.col("cid") == F.col("cluster_id"), F.col("d2"))
        ).alias("__a"),
        F.min(
            F.when(F.col("cid") != F.col("cluster_id"), F.col("d2"))
        ).alias("__b"),
    )
    s6 = F.floor(
        (F.col("__b") - F.col("__a")).cast("double")
        / F.greatest(F.col("__a"), F.col("__b"), F.lit(1)).cast("double")
        * F.lit(1e6)
    ).cast("long")
    return (
        per.select("cluster_id", s6.alias("__s6"))
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_points"),
            F.round(F.sum("__s6") / (F.count(F.lit(1)) * F.lit(1e6)), 6)
            .alias("mean_silhouette"),
        )
    )


def q_b28_kcenter_diversity(spark, sf_dir):
    """Greedy k-center diversity selection (B28 × B20, r12 — the
    coverage-driven sampler beside the score-driven knapsack and the
    density-driven k-means: pick the k docs that together COVER the
    embedding space, the standard coreset/diversity pass for training
    subsets and eval-set seeding): farthest-point greedy, k=8, integer
    squared-L2 on floor-quantized components, smallest-id seed,
    (distance desc, id asc) picks — every pick replays in the oracle's
    chained CTEs (similarity.py: kcenter_greedy). Output per center:
    rank, id, cover size, and the k-center objective (max assigned
    distance). Driver-side data is k·d quantized components only."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.kcenter_greedy(emb, k=8)


def q_b20_ivf_probe_sweep(spark, sf_dir):
    """IVF operating-point sweep (B20 eval depth, r12 — the IVF twin of
    b19_lsh_operating_point: that row validates the shipped LSH
    banding, THIS one validates the shipped n_probe by measuring the
    whole recall-vs-cost curve): for n_probe ∈ {1,2,3,4} — candidate
    count per query (the cost axis: cells scanned) and recall@5 against
    exact cosine. Cell assignment (integer-exact quantized dot, ties to
    lowest centroid id — the b20_ann_ivf kernel's rule) is computed
    ONCE; the probe grid filters the ranked query-cell relation, so the
    sweep costs one assignment + one (cell) equi-join, not 4 kernel
    runs. All integers except the round-6 recall."""
    emb = _t(spark, sf_dir, "embeddings")
    quant = 1000
    cids = list(similarity.IVF_SEED_CENTROIDS)
    comp = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(similarity.as_double("embedding")).alias("d", "v"),
    ).select("id", "d", F.floor(F.col("v") * quant).cast("long").alias("q"))
    cents = comp.filter(F.col("id").isin(cids)).select(
        F.col("id").alias("cid"), "d", F.col("q").alias("cq")
    )
    dots = (
        comp.join(F.broadcast(cents), "d")
        .groupBy("id", "cid")
        .agg(F.sum(F.col("q") * F.col("cq")).alias("dp"))
    )
    from pyspark.sql import Window

    wr = Window.partitionBy("id").orderBy(
        F.col("dp").desc(), F.col("cid").asc()
    )
    ranked = dots.withColumn("r", F.row_number().over(wr))
    ccell = ranked.filter(F.col("r") == 1).select(
        F.col("id").alias("neighbor_id"), F.col("cid").alias("cell")
    )
    qcell = (
        ranked.filter((F.col("r") <= 4) & (F.col("id") < 4))
        .select(
            F.col("id").alias("query_id"), F.col("cid").alias("cell"), "r"
        )
    )
    cand = (
        qcell.join(ccell, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.min("r").alias("__first_probe"))
    )
    topk = similarity.cosine_topk(
        emb, emb.filter(F.col("vec_id") < 4), k=5
    ).select("query_id", "neighbor_id")
    grid = cand.select(
        "query_id",
        "neighbor_id",
        "__first_probe",
        F.explode(F.array(*[F.lit(p) for p in (1, 2, 3, 4)])).alias(
            "nprobe"
        ),
    ).filter(F.col("__first_probe") <= F.col("nprobe"))
    hits = grid.join(
        topk.withColumn("__hit", F.lit(1)),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy(
        F.col("nprobe").cast("int").alias("nprobe"), "query_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_cand"),
        F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"),
        F.round(
            F.sum(F.coalesce("__hit", F.lit(0))).cast("double") / 5.0, 6
        ).alias("recall_at_5"),
    )


def q_b20_radius_search(spark, sf_dir):
    """LSH-bucketed radius (range) similarity search (B20 depth, r13 —
    the threshold-membership read beside the top-k ANN rows; see
    pipeline/similarity.py: radius_search_portable): all bucket-mate
    neighbors with cosine ≥ 0.15 for the first 8 vectors, membership
    decided by the pure-integer den²·dot² ≥ num²·|q|²·|c|² test so the
    hit set replays bit-for-bit in SQL."""
    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 8)
    return similarity.radius_search_portable(
        emb, queries_df, theta_num=3, theta_den=20
    )


def q_b20_mmr_rerank(spark, sf_dir):
    """MMR diversified re-ranking of the corpus against query vector 0
    (B20 depth, r13 — the retrieval-side greedy beside the coverage
    greedy b28_kcenter_diversity: λ=2/3 relevance-vs-redundancy, pure
    integer objective over floor-quantized components, every pick
    replayed as a chained MATERIALIZED CTE in the oracle). Kernel:
    similarity.mmr_rerank — per pick ONE new dot-product column folded
    into a materialized running max + a limit(1) argmax; driver
    traffic bounded by k·d."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(emb, query_id=0, k=10)


def q_b20_mmr_topn(spark, sf_dir):
    """MMR re-ranking in its production composition (B20 depth, r14 —
    VERDICT r13 item 3): retrieval first, re-rank second. ONE
    relevance pass over the corpus keeps the rel-top50 candidates
    (TakeOrderedAndProject — per-partition heaps, no global sort
    shuffle), then the k=10 greedy pick/fold rounds — the O(k·|cand|)
    localCheckpoint part — run over 50 rows instead of the corpus.
    Mirrors how hubness/triplet-mining each grew an ``_ann`` twin as
    their scale path; the corpus-wide b20_mmr_rerank row remains as
    the kernel's certification exercise. Same pure-integer objective
    (2·rel − maxsim over floor-quantized components), so the oracle
    replays the prefilter AND every pick as chained MATERIALIZED
    CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    return similarity.mmr_rerank(emb, query_id=0, k=10, topn=50)
