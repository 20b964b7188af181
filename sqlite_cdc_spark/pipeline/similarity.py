"""Vector similarity search (SURVEY.md §2 B20).

Brute-force cosine top-k is the exact baseline: broadcast the (small) query
set against the corpus — the corpus never shuffles for scoring, only the
per-query top-k reduction moves data. The scale path is candidate-then-
refine: corpus and probes hash to LSH buckets (random-hyperplane signs),
candidates come from an equi-join on (table, bucket), every probe also
visits the buckets one bit-flip away, and only candidates are scored
exactly. Recall rises with the number of tables.

Dot products use ``zip_with`` + ``aggregate`` (JVM codegen) in double
precision; no Python in the scoring loop. Every caller-supplied column
name goes through :func:`~sqlite_cdc_spark.sqlident.bq`, so a name with a
dot or a backtick resolves as one column, never as a struct field.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sqlident import bq


def as_double(vec: Column | str) -> Column:
    c = F.col(bq(vec)) if isinstance(vec, str) else vec
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — sequential fold, deterministic."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _dot_sql(a: str, b: str) -> str:
    """:func:`dot` as SQL text: the same transform/zip_with/aggregate
    tree (``0.0D`` parses as DOUBLE like ``F.lit(0.0)``), parsed once in
    the JVM instead of built node by node over py4j."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D,"
        " (acc, x) -> acc + x)"
    )


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, out_id: str, v: str, n: str,
    *extra: str,
) -> DataFrame:
    """``(out_id, *extra, v, n)``: the id, the vector as doubles and its
    L2 norm — the norm computed once per ROW, never per pair, so the
    per-pair work of every scorer is exactly one dot product."""
    vd = f"transform({bq(vec_col)}, x -> cast(x as double))"
    return df.selectExpr(
        f"{bq(id_col)} as {out_id}", *extra, f"{vd} as {v}",
        f"sqrt({_dot_sql(vd, vd)}) as {n}",
    )


def _cosine_or_zero(a: str, b: str, na: str, nb: str) -> Column:
    """Exact cosine of vectors ``a``, ``b`` with precomputed norms.
    Zero-norm convention: a degenerate (all-zero) vector on either side
    scores 0.0 — never NULL — so a flag or rank over the score never
    sees a NULL and degenerate rows surface as dissimilar."""
    n = f"{na} * {nb}"
    return F.expr(
        f"case when {n} > 0 then {_dot_sql(a, b)} / ({n}) else 0.0D end"
    )


def _top_k(
    scored: DataFrame,
    k: int,
    by: str = "query_id",
    tie: str = "neighbor_id",
    score: str = "score",
) -> DataFrame:
    """The ``k`` best rows per ``by``: ``score`` descending, ties to the
    lowest ``tie`` for full determinism, the rank kept as bigint
    ``rnk``."""
    w = Window.partitionBy(by).orderBy(F.col(score).desc(), F.col(tie).asc())
    return scored.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def _score_topk(pairs: DataFrame, k: int) -> DataFrame:
    """Exact cosine of ``(query_id, qv, qn) × (neighbor_id, cv, cn)``
    pairs (see :func:`_vectors`), then the per-query top ``k``."""
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        F.expr(f"{_dot_sql('qv', 'cv')} / (qn * cn)").alias("score"),
    )
    return _top_k(scored, k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (self-matches excluded).

    Output: ``query_id, neighbor_id, score, rnk``. Ties broken by neighbor
    id for full determinism.

    Plan: broadcast nested-loop join (queries are lit-small) → narrow score
    map over the corpus → one shuffle on query_id for the top-k window.
    Corpus norms are computed inline; for a served index they'd be
    precomputed once (see :func:`with_norm`).
    """
    q = _vectors(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _score_topk(
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")), k
    )


def semantic_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC complement to the
    n-gram screens (decontam.py): a corpus item whose embedding sits too
    close to any benchmark item is a paraphrase/translation the exact
    n-gram join can never catch. Per corpus vector: the nearest
    benchmark item, the max cosine (rounded 6), and the contamination
    flag (compared on the ROUNDED score so the decision replays
    identically cross-engine).

    Plan: benchmark (eval sets are thousands of rows, ≪ RAM by
    construction) broadcasts with precomputed norms; the corpus is
    scored in ONE narrow pass (|corpus|·|bench| dot folds) + one
    per-vector window. At billions × thousands scale use
    :func:`semantic_contamination_bucketed`: both sides route through
    the portable LSH buckets and this exact scorer runs on candidate
    pairs only — same contract, the bucketed equi-join replaces the
    broadcast product.

    Output: ``(vec_id, nearest_bench, max_cos, contaminated)``.
    """
    b = _vectors(benchmark, id_col, vec_col, "bench_id", "bv", "bn")
    c = _vectors(corpus, id_col, vec_col, "vec_id", "cv", "cn")
    scored = c.join(F.broadcast(b)).select(
        "vec_id", "bench_id", _cosine_or_zero("cv", "bv", "cn", "bn").alias("score")
    )
    max_cos = F.round("score", 6)
    return _top_k(scored, 1, by="vec_id", tie="bench_id").select(
        "vec_id",
        F.col("bench_id").alias("nearest_bench"),
        max_cos.alias("max_cos"),
        (max_cos >= F.lit(threshold)).alias("contaminated"),
    )


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Attach the L2 norm — precompute once when the corpus is reused."""
    return df.withColumn("__norm", l2_norm(as_double(vec_col)))


# --- LSH-bucketed ANN (the scale path) ---------------------------------------


def _hyperplanes(dim: int, n_planes: int, seed: int = 42):
    """Deterministic random hyperplanes (host-side numpy, shipped as
    literals — tiny: n_planes × dim doubles)."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.standard_normal((n_planes, dim))


def ann_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probe: int = 3,
    n_iters: int = 8,
    sample_size: int = 2048,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index: spherical k-means
    centroids trained on a bounded corpus sample, every corpus vector
    assigned to its nearest centroid cell, queries probe their ``n_probe``
    nearest cells and score only those cells' members exactly.

    The scale story differs from LSH: the index is *learned* (cells follow
    the data distribution, so cell sizes stay balanced under clustering
    that would overload fixed hyperplane buckets). At 100 TB: training
    reads a ~sample_size sample (one cheap pass), the centroid matrix is a
    few KB broadcast to every executor, assignment is a narrow Arrow-batched
    map, and candidate generation is an equi-join on ``cell`` — expected
    n·n_probe/n_centroids pairs scored per query.

    Deterministic end to end: the training sample is the first
    ``sample_size`` vectors by id (swap for ``df.sample(seed=…)`` on a real
    corpus), Lloyd iterations break argmax ties by lowest centroid index,
    and empty cells re-seed from the sample row with the worst fit.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    idc, vc = F.col(bq(id_col)), F.col(bq(vec_col))
    samp = corpus.select(idc, vc).orderBy(idc).limit(sample_size).collect()
    sm = np.array([np.asarray(r[1], dtype=np.float64) for r in samp])
    sm = sm / np.linalg.norm(sm, axis=1, keepdims=True)
    n_centroids = min(n_centroids, len(sm))
    # deterministic init: evenly spaced sample rows (sorted by id)
    cm = sm[np.linspace(0, len(sm) - 1, n_centroids).astype(int)].copy()
    for _ in range(n_iters):
        sims = sm @ cm.T  # (sample, cells)
        assign = sims.argmax(axis=1)  # ties -> lowest index
        for c in range(n_centroids):
            members = sm[assign == c]
            if len(members):
                mu = members.sum(axis=0)
                cm[c] = mu / np.linalg.norm(mu)
            else:  # re-seed an empty cell with the worst-fit sample vector
                cm[c] = sm[sims.max(axis=1).argmin()]
    bcm = corpus.sparkSession.sparkContext.broadcast(cm)

    def _cells(vecs):
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        m = m / np.linalg.norm(m, axis=1, keepdims=True)
        sims = m @ bcm.value.T
        order = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(order.astype(np.int64)))

    _cells.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    cells_udf = pandas_udf(_cells, "array<long>")

    v = as_double(vec_col)
    cb = corpus.select(
        idc.alias("neighbor_id"),
        v.alias("neighbor_v"),
        # corpus rows live in exactly ONE cell (their nearest): element 1
        F.element_at(cells_udf(vc), 1).alias("cell"),
    )
    qb = queries.select(
        idc.alias("query_id"),
        v.alias("query_v"),
        F.explode(cells_udf(vc)).alias("cell"),
    )
    cand = (
        qb.join(cb, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "query_v", "neighbor_v")
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("query_v"), F.col("neighbor_v")).alias("score"),
    )
    return _top_k(scored, k)


#: LCG constants for portable Rademacher hyperplanes (see plane_sign)
PLANE_MIX = 131
PLANE_KNUTH = 2654435761


def plane_sign(p: int, d: int) -> int:
    """Deterministic ±1 hyperplane entry from pure integer arithmetic —
    identical in any engine: ``((p·131 + d) · 2654435761) mod 2^32``,
    sign by which half of the range it lands in."""
    return 1 if ((p * PLANE_MIX + d) * PLANE_KNUTH) % (1 << 32) < (1 << 31) else -1


def _plane_table(spark, dim: int, n_planes: int, n_tables: int) -> DataFrame:
    """The tiny (n_tables·n_planes·dim)-row Rademacher sign relation all
    portable-LSH paths broadcast: entries from :func:`plane_sign`.

    r17: generated JVM-side from ``spark.range`` with the same integer
    arithmetic (the Python form pickled ~3k driver rows through
    ``createDataFrame`` on every build; row values are identical —
    ``plane_sign`` is pure positive-integer arithmetic, so SQL ``pmod``
    ≡ Python ``%``, and the products stay < 2^63)."""
    n = n_tables * n_planes
    return spark.range(n * dim).selectExpr(
        f"cast((id div {dim}) div {n_planes} as int) as t",
        f"cast((id div {dim}) % {n_planes} as int) as p",
        f"cast(id % {dim} as int) as d",
        "cast(case when pmod(((id div %d) * %d + (id %% %d)) * %d, %d) < %d"
        " then 1 else -1 end as bigint) as s"
        % (dim, PLANE_MIX, dim, PLANE_KNUTH, 1 << 32, 1 << 31),
    )


def _quantized_components(
    df: DataFrame, id_col: str, vec_col: str, quant: int
) -> DataFrame:
    """``(id, d, q)``: one row per vector component, ``q = floor(v·quant)``
    as int64 — the integer form every engine-portable index
    (LSH buckets, IVF cells, PQ codes) takes its exact dots over."""
    return df.selectExpr(
        f"{bq(id_col)} as id",
        f"posexplode(transform({bq(vec_col)}, x -> cast(x as double)))"
        " as (d, v)",
    ).selectExpr("id", "d", f"cast(floor(v * {quant}) as bigint) as q")


def _quantize(vec_col: str, quant: int) -> Column:
    """The vector as an array of ``floor(v·quant)`` int64 components."""
    return F.transform(
        as_double(vec_col),
        lambda x: F.floor(x * F.lit(float(quant))).cast("long"),
    )


def portable_lsh_buckets(
    df: DataFrame,
    planes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1000,
) -> DataFrame:
    """Engine-portable hyperplane bucket assignment ``(id, t, bucket)``
    — the integer-exact LSH core of every portable-LSH path
    (:func:`_lsh_candidates`): components floor-quantized to int64
    (:func:`_quantized_components`), sign bits from exact integer dots
    against the broadcast plane relation, bucket = the n_planes-bit code
    per table."""
    dots = (
        _quantized_components(df, id_col, vec_col, quant)
        .join(F.broadcast(planes), "d")
        .groupBy("id", "t", "p")
        .agg(F.expr("sum(s * q) as dp"))
    )
    return dots.groupBy("id", "t").agg(
        F.expr(
            "sum(case when dp >= 0 then shiftleft(cast(1 as bigint), p)"
            " else cast(0 as bigint) end) as bucket"
        )
    )


def _probe_array(bucket: str, n_planes: int) -> str:
    """SQL array of ``bucket`` and its ``n_planes`` one-bit flips — the
    buckets a probe visits. Only the probe side ever explodes it, so the
    corpus is hashed once and never multiplied."""
    flips = ", ".join(f"{bucket} ^ cast({1 << i} as bigint)" for i in range(n_planes))
    return f"array({bucket}, {flips})"


def _lsh_candidates(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    quant: int,
    n_tables: int,
) -> DataFrame:
    """Distinct portable-LSH candidate pairs ``(query_id, neighbor_id)``:
    probe rows whose buckets (each one-bit flip included) meet a corpus
    row's bucket in the same table. Both sides hash through
    :func:`portable_lsh_buckets` against one plane relation; ``n_tables``
    independent tables (table *t* uses plane rows ``t·n_planes …
    (t+1)·n_planes−1`` of the same LCG family) union their matches.
    Self-pairs stay in; a caller whose probes come from the corpus
    drops them."""
    planes = _plane_table(
        corpus.sparkSession, dim=dim, n_planes=n_planes, n_tables=n_tables
    )
    cb = portable_lsh_buckets(corpus, planes, id_col, vec_col, quant).selectExpr(
        "id as neighbor_id", "t", "bucket"
    )
    pb = portable_lsh_buckets(probes, planes, id_col, vec_col, quant).selectExpr(
        "id as query_id", "t", f"explode({_probe_array('bucket', n_planes)}) as bucket"
    )
    return pb.join(cb, ["t", "bucket"]).select("query_id", "neighbor_id").distinct()


def semantic_contamination_bucketed(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    quant: int = 1000,
    n_tables: int = 4,
) -> DataFrame:
    """:func:`semantic_contamination` at corpus scale — the ANN-bucketed
    variant its docstring prescribes for large×large (VERDICT r7 item
    6): both sides route through the portable integer LSH
    (:func:`_lsh_candidates`), candidate pairs come from an EQUI-JOIN on
    ``(table, bucket)`` — never a corpus×benchmark product — and the
    exact cosine scorer runs on candidates only. The benchmark side is
    the probe side (it is the small side: eval sets are thousands of
    rows) and ``n_tables`` independent tables are the recall dial.

    Same output contract as the broadcast variant: one row per corpus
    vector. A vector with NO bucket collision reports ``max_cos 0.0,
    contaminated false, nearest_bench NULL`` — a complete keep/drop
    manifest, with the usual LSH caveat that a sub-threshold bucket
    assignment can miss a paraphrase the exhaustive scorer would flag
    (raise ``n_tables`` to trade compute for recall). Every step is
    integer-exact or rounded-fold arithmetic, so an independent SQL
    engine replays candidates AND scores bit-for-bit.

    Output: ``(vec_id, nearest_bench, max_cos, contaminated)``.
    """
    # the benchmark probes: query_id is the benchmark id, neighbor_id the
    # corpus id, and the best match is kept per corpus vector
    cand = _lsh_candidates(
        corpus, benchmark, id_col, vec_col, dim, n_planes, quant, n_tables
    )
    b = _vectors(benchmark, id_col, vec_col, "query_id", "bv", "bn")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    scored = (
        cand.join(c, "neighbor_id")
        .join(b, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_or_zero("cv", "bv", "cn", "bn").alias("score"),
        )
    )
    best = _top_k(scored, 1, by="neighbor_id", tie="query_id")
    score = F.round(F.coalesce("score", F.lit(0.0)), 6)
    return (
        corpus.selectExpr(f"{bq(id_col)} as vec_id")
        .join(best, F.col("vec_id") == F.col("neighbor_id"), "left")
        .select(
            "vec_id",
            F.col("query_id").alias("nearest_bench"),
            score.alias("max_cos"),
            (score >= F.lit(threshold)).alias("contaminated"),
        )
    )


def triplet_mining_ann(
    corpus: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    quant: int = 1000,
    n_tables: int = 12,
) -> DataFrame:
    """Hard-negative triplet mining at corpus scale (VERDICT r9 item 6):
    the broadcast-anchors variant (``q_b20_triplet_mining``) caps anchor
    count at driver broadcast limits; here BOTH sides route through the
    portable integer LSH (:func:`_lsh_candidates`, anchors probing),
    candidates come from an equi-join on ``(table, bucket)`` — anchor
    count scales to the full corpus, no broadcast, never an
    anchors×corpus product. Per anchor: the top same-label candidate
    (positive) and top other-label candidate (hardest negative) by
    EXACT cosine over candidates only, with the triplet margin and
    violation flag. Anchors whose buckets yield no same-label or no
    other-label candidate drop (inner join) — the standard LSH recall
    trade; ``n_tables`` is the recall dial, and every bucket decision is
    integer-exact so a SQL oracle replays candidates and scores
    bit-for-bit.

    Output: ``(anchor_id, anchor_label, positive_id, pos_score,
    negative_id, neg_score, margin, violation)``.
    """
    cand = _lsh_candidates(
        corpus, anchors, id_col, vec_col, dim, n_planes, quant, n_tables
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    a = _vectors(
        anchors, id_col, vec_col, "query_id", "av", "an",
        f"{bq(label_col)} as anchor_label",
    )
    c = _vectors(
        corpus, id_col, vec_col, "neighbor_id", "cv", "cn",
        f"{bq(label_col)} as __clabel",
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(a, "query_id")
        .select(
            "query_id",
            "anchor_label",
            "neighbor_id",
            (F.col("anchor_label") == F.col("__clabel")).alias("__same"),
            _cosine_or_zero("av", "cv", "an", "cn").alias("score"),
        )
    )
    pos = _top_k(scored.filter(F.col("__same")), 1).select(
        F.col("query_id").alias("anchor_id"),
        "anchor_label",
        F.col("neighbor_id").alias("positive_id"),
        F.col("score").alias("__ps"),
    )
    neg = _top_k(scored.filter(~F.col("__same")), 1).select(
        F.col("query_id").alias("anchor_id"),
        F.col("neighbor_id").alias("negative_id"),
        F.col("score").alias("__ns"),
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


def hubness_ann(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 4,
    quant: int = 1000,
    n_tables: int = 12,
) -> DataFrame:
    """Hubness audit at corpus scale (VERDICT r9 item 6 companion to
    :func:`triplet_mining_ann`): the broadcast variant caps the probe
    sample at driver limits; here probes route through the portable
    integer-LSH buckets (:func:`_lsh_candidates`), per-probe top-``k``
    comes from the exact cosine rescore of (table, bucket) equi-join
    candidates only, and the k-occurrence histogram (how often each
    corpus vector lands in a probe's top-k, zero-occurrence mass
    included) is two keyed aggs. Probe count scales to the full corpus
    — the production form of the audit is "every vector probes", which
    no broadcast survives. LSH recall caveat: a probe with no bucket
    collision contributes no neighbor rows (raise ``n_tables``); bucket
    decisions are integer-exact so a SQL oracle replays candidates,
    ranks, and the histogram bit-for-bit.

    Output: ``(occ, n_vecs)``.
    """
    cand = _lsh_candidates(
        corpus, probes, id_col, vec_col, dim, n_planes, quant, n_tables
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    p = _vectors(probes, id_col, vec_col, "query_id", "pv", "pn")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    scored = (
        cand.join(c, "neighbor_id")
        .join(p, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            _cosine_or_zero("pv", "cv", "pn", "cn").alias("score"),
        )
    )
    topk = _top_k(scored, k).select("neighbor_id")
    occ = topk.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).cast("long").alias("occ")
    )
    allv = corpus.selectExpr(f"{bq(id_col)} as neighbor_id")
    per_vec = allv.join(occ.hint("shuffle_hash"), "neighbor_id", "left").select(
        F.coalesce(F.col("occ"), F.lit(0).cast("long")).alias("occ")
    )
    return per_vec.groupBy("occ").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )


def ann_lsh_portable(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    quant: int = 1000,
    n_tables: int = 1,
) -> DataFrame:
    """Engine-portable hyperplane-LSH candidates ``(query_id, neighbor_id)``
    — the ORACLE-mode ANN: every step is exact integer arithmetic, so a SQL
    engine replays the bucket assignment bit-for-bit (no float summation
    order, no RNG).

    Construction (:func:`_lsh_candidates`): components quantized to
    ``floor(v·quant)`` int64; hyperplanes are Rademacher ±1 entries from
    :func:`plane_sign`; bucket bit *p* = sign of the exact integer dot;
    each query also probes every one-bit flip of its bucket. ``n_tables``
    independent tables are the recall dial: candidates are the union of
    per-table bucket matches, still fully integer-exact. Shape: narrow
    posexplode → broadcast join with the tiny (n_tables·n_planes·dim)
    sign table → two keyed aggs → equi-join on (table, bucket) — scales
    like the production :func:`ann_topk_lsh` (which keeps Arrow matmul
    hashing and float planes; use this variant when cross-engine
    reproducibility of the index matters).
    """
    return _lsh_candidates(
        corpus, queries, id_col, vec_col, dim, n_planes, quant, n_tables
    ).filter(F.col("query_id") != F.col("neighbor_id"))


def _rescore_topk(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine re-rank of an ANN candidate set ``(query_id,
    neighbor_id)``: join the vectors back (query side broadcast), score,
    per-query top-k window with neighbor-id tiebreak. The shared tail of
    both portable ANN paths."""
    q = _vectors(queries, id_col, vec_col, "query_id", "qv", "qn")
    c = _vectors(corpus, id_col, vec_col, "neighbor_id", "cv", "cn")
    return _score_topk(
        cand.join(F.broadcast(q), "query_id").join(c, "neighbor_id"), k
    )


def ann_topk_lsh_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    quant: int = 1000,
    n_tables: int = 4,
) -> DataFrame:
    """Deterministic, oracle-able LSH ANN top-k: :func:`ann_lsh_portable`
    candidates (integer-exact bucket assignment — replayable bit-for-bit
    by any SQL engine) re-ranked by exact cosine (:func:`_rescore_topk`).

    This is the ANN variant registered as a correctness row: approximate
    in WHICH neighbors it considers (bucket-mates only — the whole point
    of ANN), but fully deterministic in WHAT it returns, so a DuckDB
    oracle can replay candidates AND ranking exactly. The float-plane
    :func:`ann_topk_lsh` stays the production recall-tuning path (more
    tables, learned nothing, Arrow matmul hashing).
    """
    cand = ann_lsh_portable(
        corpus, queries, id_col, vec_col, dim, n_planes, quant, n_tables
    )
    return _rescore_topk(cand, corpus, queries, k, id_col, vec_col)


#: default seed-centroid ids for ann_topk_ivf_portable — a fixed stride-61
#: walk of the embeddings fixture id space; all exist at every SF (max id
#: 437 < 500). An explicit literal list (not an expression over max(id))
#: keeps the index definition engine-independent and SF-stable.
IVF_SEED_CENTROIDS = (10, 71, 132, 193, 254, 315, 376, 437)


def ann_topk_ivf_portable(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_ids=IVF_SEED_CENTROIDS,
    n_probe: int = 3,
    quant: int = 1000,
) -> DataFrame:
    """Deterministic, oracle-able IVF ANN top-k: seed-centroid inverted
    file with integer-exact cell assignment.

    Same IVF shape as the learned :func:`ann_topk_ivf` — corpus vectors
    live in exactly one cell (their best centroid), queries probe their
    ``n_probe`` best cells, only cell-mates are scored — but the
    centroids are FIXED corpus rows (``centroid_ids``) and the
    assignment metric is the exact integer dot of floor-quantized
    components, so cells (and therefore the candidate set) replay
    bit-for-bit in any engine: no kmeans float accumulation, no RNG.
    Assignment ties break to the lowest centroid id. At 100 TB the
    centroid component table is a few KB broadcast; assignment is one
    posexplode + keyed agg + per-row top-1 window over |cells| rows per
    vector; candidates come from an equi-join on ``cell``. Production
    recall tuning (data-adaptive cells) stays with :func:`ann_topk_ivf`.
    """
    cents = _quantized_components(
        corpus.filter(F.col(bq(id_col)).isin(list(centroid_ids))),
        id_col, vec_col, quant,
    ).select(F.col("id").alias("cid"), "d", F.col("q").alias("cq"))

    def cells(df: DataFrame, take: int) -> DataFrame:
        dots = (
            _quantized_components(df, id_col, vec_col, quant)
            .join(F.broadcast(cents), "d")
            .groupBy("id", "cid")
            .agg(F.sum(F.col("q") * F.col("cq")).alias("dp"))
        )
        return _top_k(dots, take, by="id", tie="cid", score="dp").select(
            "id", F.col("cid").alias("cell")
        )

    cc = cells(corpus, 1).select(F.col("id").alias("neighbor_id"), "cell")
    qc = cells(queries, n_probe).select(F.col("id").alias("query_id"), "cell")
    cand = (
        qc.join(cc, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    return _rescore_topk(cand, corpus, queries, k, id_col, vec_col)


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: ``n_tables`` independent hyperplane signatures;
    candidates = corpus rows sharing a (table, signature) bucket with the
    query or with one of its one-bit flips; exact cosine + top-k within
    candidates.

    At 100 TB the corpus is hashed once (narrow map), the join is an
    equi-join on (table, bucket) — expected bucket size n/2^planes — and
    only candidates are scored. Recall rises with ``n_tables``; the
    one-bit-flip probes are query-side only, so the corpus never
    re-hashes.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # all tables' hyperplanes stacked: (n_tables*n_planes, dim); one
    # Arrow-batched matmul computes every bucket bit for a whole batch —
    # the interpreted per-plane expression fold is ~50× slower
    planes_mat = np.vstack(
        [_hyperplanes(dim, n_planes, seed + t) for t in range(n_tables)]
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    def _buckets(vecs):
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (m @ planes_mat.T) >= 0  # (batch, n_tables*n_planes)
        bits = bits.reshape(len(m), n_tables, n_planes)
        packed = (bits * weights).sum(axis=2).astype(np.int64)
        return pd.Series(list(packed))

    _buckets.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    buckets_udf = pandas_udf(_buckets, "array<long>")

    def bucketize(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            F.col(bq(id_col)).alias(f"{side}_id"),
            as_double(vec_col).alias(f"{side}_v"),
            F.posexplode(buckets_udf(F.col(bq(vec_col)))).alias("table", "bucket"),
        )

    cb = bucketize(corpus, "neighbor")
    qb = bucketize(queries, "query").select(
        "query_id",
        "query_v",
        "table",
        F.explode(F.expr(_probe_array("bucket", n_planes))).alias("bucket"),
    )
    cand = (
        qb.join(cb, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "query_v", "neighbor_v")
        .distinct()
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        cosine(F.col("query_v"), F.col("neighbor_v")).alias("score"),
    )
    return _top_k(scored, k)


def group_centroids(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Per-group mean-pooled vectors — centroid construction as a fully
    DISTRIBUTED plan (chunk→document pooling, per-label/cluster centroids
    for IVF retraining or class prototypes).

    Shape: posexplode the vector into (group, dim, value) ROWS, one
    partial+final avg keyed by (group, dim), then reassemble the array
    with ``array_sort(collect_list(struct(dim, val)))``. Unlike the
    bounded-sample numpy path in :func:`ann_topk_ivf` (fine for training
    centroids from a sample), this pools EVERY vector and scales with the
    corpus: shuffle volume is |rows|×dim value rows, the reassembly side
    is |groups|×dim. The final ``transform`` lambda is interpreted but
    runs on |groups|×dim elements only — never corpus-sized. Per-dim
    means round to ``round_to`` (float-sum order differs per engine).
    Output: ``(group_col, n_vecs, centroid: array<double>)``.
    """
    g = F.col(bq(group_col))
    ex = df.select(g, F.posexplode(as_double(vec_col)).alias("dim", "v"))
    per_dim = ex.groupBy(g, "dim").agg(
        F.round(F.avg("v"), round_to).alias("val")
    )
    counts = df.groupBy(g).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    pooled = per_dim.groupBy(g).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "val"))),
            lambda s: s.val,
        ).alias("centroid")
    )
    return counts.join(pooled, group_col)


# --- B20 depth: covariance / PCA over the embedding column ------------------


#: quantization step of :func:`covariance_matrix`: components become
#: ``floor(v·COV_QUANT)`` integers (error ~1e-6 of the covariance)
COV_QUANT = 1_000_000


def covariance_matrix(
    df: DataFrame,
    vec_col: str = "embedding",
    ddof: int = 0,
    round_to: int = 8,
) -> DataFrame:
    """Engine-exact covariance of an embedding column as ``(i, j, cov)``
    rows (upper triangle, ``i <= j``) — the statistic behind embedding
    whitening / PCA normalization of a vector corpus.

    Values quantize to ``floor(v·COV_QUANT)`` integers first, making
    every sum exact integer arithmetic, so the result replays
    bit-identically on any engine at any parallelism. The covariance
    returned is of the QUANTIZED variable rescaled back (documented
    deterministic approximation, error ~1/COV_QUANT). Float covariance
    is :func:`covariance_matrix_fast`.

    Plan: posexplode to (row, dim, value), per-row self equi-join on the
    row id restricted to ``i <= j`` (d·(d+1)/2 pair rows per vector, NO
    cross-row pairs — never a cartesian), then one map-side-combinable
    power-sum agg keyed by (i, j): cov = (Σxy − ΣxΣy/n)/(n − ddof). The
    shuffle volume is |rows|·d²/2 narrow rows.
    """
    # the row id must be minted BEFORE the explode (a separate Project):
    # monotonically_increasing_id is nondeterministic, and minting it in
    # the same projection as a generator would not guarantee one id per
    # input row
    ex = df.withColumn("__rid", F.monotonically_increasing_id()).select(
        "__rid", F.posexplode(as_double(vec_col)).alias("dim", "v")
    )
    ex = ex.select(
        "__rid",
        "dim",
        F.floor(F.col("v") * F.lit(float(COV_QUANT))).cast("bigint").alias("q"),
    )
    a = ex.select("__rid", F.col("dim").alias("i"), F.col("q").alias("qi"))
    b = ex.select("__rid", F.col("dim").alias("j"), F.col("q").alias("qj"))
    pairs = a.join(b, "__rid").filter(F.col("i") <= F.col("j"))
    sums = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("qi").cast("double").alias("sx"),
        F.sum("qj").cast("double").alias("sy"),
        F.sum(F.col("qi") * F.col("qj")).cast("double").alias("sxy"),
    )
    scale = float(COV_QUANT) * float(COV_QUANT)
    return sums.select(
        F.col("i").cast("int").alias("i"),
        F.col("j").cast("int").alias("j"),
        F.round(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
            / (F.col("n") - F.lit(float(ddof)))
            / F.lit(scale),
            round_to,
        ).alias("cov"),
    )


def covariance_matrix_fast(
    df: DataFrame,
    vec_col: str = "embedding",
    ddof: int = 0,
) -> DataFrame:
    """Float covariance: per-partition numpy outer-product partials via
    ``mapInPandas`` (Arrow batches), then one final d²-row agg — shuffle
    volume is |partitions|·d² instead of |rows|·d²/2 and the per-row
    work is BLAS. Float sums are partition-order-dependent in the last
    ulp, so this is the pipeline mode; use :func:`covariance_matrix`
    when an engine-exact replay is required. Output: ``(i, j, cov)``, i <= j,
    unrounded doubles.
    """
    import pandas as pd
    from pyspark.sql import types as T

    out = T.StructType(
        [
            T.StructField("i", T.IntegerType()),
            T.StructField("j", T.IntegerType()),
            T.StructField("sx", T.DoubleType()),
            T.StructField("sxy", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )

    def partials(it):
        import numpy as np

        s = None
        ssum = None
        n = 0
        for pdf in it:
            if not len(pdf):
                continue
            m = np.asarray(
                [np.asarray(v, dtype="float64") for v in pdf[vec_col]]
            )
            if s is None:
                d = m.shape[1]
                s = np.zeros((d, d))
                ssum = np.zeros(d)
            s += m.T @ m
            ssum += m.sum(axis=0)
            n += m.shape[0]
        if s is None:
            return
        d = s.shape[0]
        iu = [(i, j) for i in range(d) for j in range(i, d)]
        yield pd.DataFrame(
            {
                "i": [i for i, _ in iu],
                "j": [j for _, j in iu],
                "sx": [ssum[i] for i, _ in iu],
                "sxy": [s[i, j] for i, j in iu],
                "n": [n] * len(iu),
            }
        )

    agg = (
        df.select(F.col(bq(vec_col)))
        .mapInPandas(partials, out)
        .groupBy("i", "j")
        .agg(
            F.sum("sx").alias("sx"),
            F.sum("sxy").alias("sxy"),
            F.sum("n").cast("double").alias("n"),
        )
    )
    # sx is Σ of dim i; Σ of dim j comes from the (j, j) row — join the
    # diagonal partials back rather than shipping a second vector
    sj = agg.filter(F.col("i") == F.col("j")).select(
        F.col("j").alias("__j"), F.col("sx").alias("sy")
    )
    return (
        agg.join(sj, agg["j"] == sj["__j"])
        .select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            (
                (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n"))
                / (F.col("n") - F.lit(float(ddof)))
            ).alias("cov"),
        )
    )


def kmeans_exact(
    df: DataFrame,
    k: int = 4,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**6,
) -> DataFrame:
    """Distributed Lloyd's k-means with bit-exact cross-engine replay
    (the clustering behind corpus bucketing / coreset selection).

    Every arithmetic step is integer: components floor-quantize to
    ``floor(v·quant)`` int64, distances are integer sums of squared
    diffs, and centroid updates use exact floor division
    ``(s - pmod(s, c)) div c`` so the centroid table stays integer at
    the same fixed-point scale. Initial centroids are the ``k``
    smallest-id rows (deterministic); assignment ties break to the
    lowest cluster id; a cluster that empties keeps its previous
    centroid. The result therefore replays bit-for-bit on any engine
    at any parallelism — no RNG, no float accumulation order.

    Scale shape (per iteration): the k·d centroid table (a few KB) is
    collected and re-broadcast as literals — the ONLY driver-side data,
    bounded by k·d, never by |rows|; assignment is a narrow codegen map
    (``zip_with``+``aggregate`` per centroid, argmin via ``array_min``
    over (dist, cid) structs); the update is posexplode → hash agg on
    (cid, dim) with map-side partial aggregation, so the shuffle is
    |tasks|·k·d rows, independent of corpus size. The quantized base
    relation is computed once and reused across iterations (no lineage
    growth: each iteration re-derives from the same base with new
    literals).

    Output: ``(id_col, cluster_id int, cluster_size bigint)``.
    """
    base = df.select(
        F.col(bq(id_col)),
        _quantize(vec_col, quant).alias("__qe"),
    )

    seed_rows = base.orderBy(F.col(bq(id_col)).asc()).limit(k).collect()
    cents = {i: list(r["__qe"]) for i, r in enumerate(seed_rows)}
    d = len(seed_rows[0]["__qe"])

    def assign(b: DataFrame) -> DataFrame:
        # r17 (guide §1.1): the centroid literals + fold lambdas are
        # rendered as ONE SQL string per assignment pass — the Column
        # form built k·(d+~30) expression nodes over py4j (~1,700
        # round-trips per pass, 5 passes per query) and driver-side
        # construction dominated the line. Identical Catalyst tree
        # (integer literals, same zip_with/aggregate lambdas), proven
        # bit-exact by the oracle gate.
        structs = []
        for cid in range(k):
            lits = ", ".join(str(int(x)) for x in cents[cid])
            dist = (
                f"aggregate(zip_with(__qe, array({lits}),"
                " (x, m) -> (x - m) * (x - m)),"
                " cast(0 as bigint), (acc, x) -> acc + x)"
            )
            structs.append(f"struct({dist} as d, {cid} as c)")
        return b.withColumn(
            "cluster_id", F.expr(f"array_min(array({', '.join(structs)})).c")
        )

    for _ in range(iters):
        sums = (
            assign(base)
            .select("cluster_id", F.posexplode("__qe").alias("dim", "q"))
            .groupBy("cluster_id", "dim")
            .agg(F.sum("q").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = {}
        for r in sums:
            # Python // is true floor division — the SQL oracle must use
            # the explicit (s - ((s % n + n) % n)) / n form (DuckDB's //
            # truncates toward zero)
            new.setdefault(r.cluster_id, [0] * d)[r.dim] = r.s // r.n
        for cid in range(k):  # empty cluster keeps its previous centroid
            if cid in new:
                cents[cid] = new[cid]

    w = Window.partitionBy("cluster_id")
    return (
        assign(base)
        .select(F.col(bq(id_col)), "cluster_id")
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
    )


#: fixed corpus rows whose subvectors seed the PQ codebooks (the
#: deterministic stand-in for trained codebooks — same policy as
#: IVF_SEED_CENTROIDS)
PQ_SEED_IDS = (3, 47, 91, 135, 179, 223, 267, 311)


def ann_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    seed_ids=PQ_SEED_IDS,
    quant: int = 1000,
) -> DataFrame:
    """Product-quantization ANN top-k — the memory-compression scale
    path: each vector is stored as ``m`` small codes (one per
    d/m-dim subspace) instead of ``d`` floats, and queries score
    against codes via an asymmetric-distance table (ADC). At 100 TB
    this is what makes the index FIT: 64 floats → 8 codes is a 32×
    shrink, codes live co-partitioned with the corpus, and the scan
    cost per point is m table lookups + an integer sum.

    Deterministic / oracle-able: codebooks are the subvectors of
    ``seed_ids`` corpus rows (fixed rows, the stand-in for trained
    codebooks — swap in :func:`kmeans_exact` per subspace to train for
    real); all distances are integer sums over floor-quantized
    components; encode ties break to the lowest code id, ranking ties
    to the lowest neighbor id. The approximation is WHERE it looks
    (quantized cells), never any float nondeterminism.

    Plan: encode = posexplode → broadcast-join the m·|codebook| seed
    component table → per-(row, subspace) argmin (window over
    |codebook| rows); query ADC table is |queries|·m·|codebook| rows,
    broadcast; scoring joins codes to the table on (subspace, code) —
    an equi-join, map-side only — then sums the m partial distances
    per (query, point) and takes top-k per query.

    Output: ``(query_id, neighbor_id, approx_dist bigint, rnk)``.
    """
    sub = dim // m

    # r17 construction pass 2 (guide §4, driver side): SQL-string forms
    # — identical trees (posexplode/transform/floor/dense_rank/
    # row_number map 1:1, default asc null ordering matches), re-gated
    def comps(df: DataFrame, out_id: str) -> DataFrame:
        """(id, s, d, q): floor-quantized component per subspace."""
        return _quantized_components(df, id_col, vec_col, quant).selectExpr(
            f"id as {out_id}",
            f"cast(d / {sub} as int) as s",
            f"d % {sub} as d",
            "q",
        )

    seeds = comps(
        corpus.filter(F.col(bq(id_col)).isin(list(seed_ids))), "sid"
    ).selectExpr(
        "s",
        "d",
        "dense_rank() over (partition by s order by sid) - 1 as code",
        "q as cq",
    )

    def encode(df: DataFrame, out_id: str) -> DataFrame:
        dists = (
            comps(df, out_id)
            .join(F.broadcast(seeds), ["s", "d"])
            .groupBy(out_id, "s", "code")
            .agg(F.expr("sum((q - cq) * (q - cq)) as dist"))
        )
        return (
            dists.selectExpr(
                out_id,
                "s",
                "code",
                f"row_number() over (partition by {out_id}, s"
                " order by dist asc, code asc) as __r",
            )
            .where("__r = 1")
            .select(out_id, "s", "code")
        )

    codes = encode(corpus, "neighbor_id")
    # ADC table: exact integer distance from each query subvector to
    # every codebook centroid — |queries|·m·|codebook| rows, broadcast
    qtable = (
        comps(queries, "query_id")
        .join(F.broadcast(seeds), ["s", "d"])
        .groupBy("query_id", "s", "code")
        .agg(F.expr("sum((q - cq) * (q - cq)) as td"))
    )
    scored = (
        codes.join(F.broadcast(qtable), ["s", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.expr("sum(td) as approx_dist"))
        .where("query_id != neighbor_id")
    )
    return (
        scored.selectExpr(
            "query_id",
            "neighbor_id",
            "approx_dist",
            "row_number() over (partition by query_id"
            " order by approx_dist asc, neighbor_id asc) as rnk",
        )
        .where(f"rnk <= {k}")
    )


def kcenter_greedy(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**6,
    assignments: bool = False,
) -> DataFrame:
    """Greedy farthest-point k-center selection with bit-exact
    cross-engine replay — the classic 2-approximation coreset /
    diversity sampler (pick the point farthest from everything picked
    so far): the embedding-space "cover the corpus with k balls" read
    that training-data diversity sampling runs where the knapsack
    family maximizes per-doc scores.

    Deterministic end to end: components floor-quantize to
    ``floor(v·quant)`` int64; distances are integer squared L2; the
    seed is the smallest id; each next center is the (min-distance
    desc, id asc) argmax — no RNG, so the oracle replays every pick as
    a chained CTE. Assignment ties break to the earliest-picked center.

    Scale shape (r17, guide §1.2 "remove passes"): per iteration ONE
    narrow codegen pass computes each row's distance to the single
    newly-picked center and folds it into a running (min-dist, rank)
    pair — the argmin is CARRIED through the loop, and each rank's center
    id is read off the data at the end, so the final assignment needs no
    extra k·n·d re-computation pass (the
    pre-r17 form recomputed every row's distance to all k centers at
    the end, doubling total distance work). Each generation is lazily
    localCheckpoint'd and materialized BY the pick's own (dist, id)
    argmax ``limit(1)`` action — one job per pick instead of the
    previous eager-checkpoint-job + collect-job pair (only one
    generation is ever unmaterialized at a time, so the lazy-chain
    failure mode does not apply; a ``persist()`` variant pays a
    columnar CachedBatch build for the d-wide arrays that raw RDD
    checkpoint storage does not). Total work O(k·n·d), k-1 jobs.
    The only driver-side data is k rows of d quantized components (the
    centers themselves — bounded by k·d, never |rows|), re-broadcast
    as literals exactly like the k-means centroid table. Degenerate
    inputs (ADVICE r12): an EMPTY input returns an empty frame of the
    declared schema, and when the input has fewer than k distinct
    points the pick loop short-circuits once the max min-distance hits
    0 (every remaining point IS a picked center) instead of emitting
    duplicate zero-distance centers.

    Output: ``(center_rank int, center_id, n_assigned bigint,
    radius_sq bigint)`` — per center, its cover size and the k-center
    objective (max assigned distance). With ``assignments=True``,
    instead one row per input point: ``(id_col, center_rank int,
    center_id, dist_sq bigint)``.
    """
    base = df.select(
        F.col(bq(id_col)),
        _quantize(vec_col, quant).alias("__qe"),
    ).localCheckpoint()

    def dist_sql(center_vec: list[int]) -> str:
        # r17: SQL-string form — the Column form built d+~30 nodes over
        # py4j PER PICK (k picks per query); one parsed expression is
        # the identical tree (see kmeans_exact.assign)
        lits = ", ".join(str(int(x)) for x in center_vec)
        return (
            f"aggregate(zip_with(__qe, array({lits}),"
            " (x, m) -> (x - m) * (x - m)),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        )

    seed_rows = base.orderBy(F.col(bq(id_col)).asc()).limit(1).collect()
    if not seed_rows:
        # empty input ⇒ empty output of the declared schema (no seed to
        # pick; collect()[0] would IndexError — ADVICE r12)
        if assignments:
            return base.select(
                F.col(bq(id_col)),
                F.lit(0).cast("int").alias("center_rank"),
                F.col(bq(id_col)).alias("center_id"),
                F.lit(0).cast("long").alias("dist_sq"),
            )
        return base.select(
            F.lit(0).cast("int").alias("center_rank"),
            F.col(bq(id_col)).alias("center_id"),
            F.lit(0).cast("long").alias("n_assigned"),
            F.lit(0).cast("long").alias("radius_sq"),
        )
    seed = seed_rows[0]
    # running (min-dist, rank), persisted per pick; each iteration
    # computes exactly one new distance column and CARRIES the argmin,
    # so the final assignment needs no k·n·d re-scan
    cur = base.select(
        F.col(bq(id_col)),
        "__qe",
        F.expr(dist_sql(seed["__qe"])).alias("__d"),
        F.lit(0).cast("int").alias("__r"),
    ).localCheckpoint(eager=False)
    # r17 construction pass 2 (guide §4, driver side): loop-invariant
    # argmax sort keys hoisted (Columns are immutable and reusable
    # across generations) and the per-pick fold rendered as SQL strings
    # parsed once in the JVM instead of ~14 py4j-built when/otherwise
    # nodes — identical trees (CASE WHEN == F.when().otherwise()),
    # identical picks (oracle re-gated).
    by_dist = [F.col("__d").desc(), F.col(bq(id_col)).asc()]
    for i in range(1, k):
        # this argmax action is what materializes cur's checkpoint —
        # one job per pick (the old eager-checkpoint+collect pair was
        # two); only one generation is ever unmaterialized at a time,
        # so the lazy-chain failure mode does not apply
        nxt = cur.orderBy(*by_dist).limit(1).collect()[0]
        if nxt["__d"] == 0:
            # fewer than k distinct points: every remaining point is
            # already a picked center — stop instead of duplicating
            break
        # strict < keeps the earliest-picked center on distance ties —
        # identical to the (d, r, cid) array_min struct tie-break
        cur = (
            cur.selectExpr("*", f"{dist_sql(nxt['__qe'])} as __nd")
            .selectExpr(
                bq(id_col),
                "__qe",
                "case when __nd < __d then __nd else __d end as __d",
                f"case when __nd < __d then cast({i} as int)"
                " else __r end as __r",
            )
            .localCheckpoint(eager=False)
        )
    # rank → center id, read off the data rather than spliced in as a
    # literal, so no id value ever enters SQL text: the row picked at
    # rank r lands on rank r at distance 0, and any other row there at
    # distance 0 is a quantized duplicate that tied it at the pick and
    # lost the id tie-break — the center is the MIN id at distance 0
    centers = cur.groupBy("__r").agg(
        F.expr(f"min(case when __d = 0 then {bq(id_col)} end) as center_id"),
        F.expr("count(1) as n_assigned"),
        F.expr("max(cast(__d as bigint)) as radius_sq"),
    )
    if assignments:
        return cur.join(
            F.broadcast(centers.select("__r", "center_id")), "__r"
        ).selectExpr(
            bq(id_col),
            "__r as center_rank",
            "center_id",
            "cast(__d as bigint) as dist_sq",
        )
    return centers.selectExpr(
        "__r as center_rank", "center_id", "n_assigned", "radius_sq"
    )


def radius_search_portable(
    corpus: DataFrame,
    queries: DataFrame,
    theta_num: int = 3,
    theta_den: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    quant: int = 1000,
    n_tables: int = 4,
) -> DataFrame:
    """Deterministic, oracle-able RADIUS (range) similarity search — the
    "all neighbors within cosine ≥ θ" read beside the top-k ANN rows
    (r13): a recall pipeline asks "give me the k best", a decontam or
    near-dup sweep asks "give me EVERYTHING above the line", and the
    two need different operators because the result size is data-, not
    parameter-, bounded.

    Candidates come from the shared portable LSH index
    (:func:`ann_lsh_portable` — integer-exact buckets, one-bit-flip
    probes);
    membership is then decided by a PURE-INTEGER threshold test on the
    quantized components: with θ = num/den > 0, ``cos ≥ θ`` ⟺
    ``dot > 0 ∧ den²·dot² ≥ num²·|q|²·|c|²`` — no float touches the
    selection, so any SQL engine replays the hit set bit-for-bit
    (the reported cosine itself is one IEEE sqrt+divide, round 6).
    Approximate in which pairs it CONSIDERS (bucket mates), exact in
    the threshold decision. Bounds: int64-safe to |comp| ≤ quant,
    dim·quant² ≤ ~6.8e7 (den²·dot² < 2^63 at den ≤ 20).

    Output: ``(query_id, neighbor_id, dot_q bigint, cos double)`` —
    one row per in-radius candidate pair.
    """
    cand = ann_lsh_portable(
        corpus, queries, id_col, vec_col, dim, n_planes, quant, n_tables
    )
    qcomp = _quantize(vec_col, quant)

    def with_q(df, idname, qname, nname):
        return df.select(
            F.col(bq(id_col)).alias(idname),
            qcomp.alias(qname),
            F.aggregate(
                F.transform(qcomp, lambda v: v * v),
                F.lit(0).cast("long"),
                lambda a, x: a + x,
            ).alias(nname),
        )

    q = with_q(queries, "query_id", "__qq", "__qn2")
    c = with_q(corpus, "neighbor_id", "__cq", "__cn2")
    dot_q = F.aggregate(
        F.zip_with(F.col("__qq"), F.col("__cq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    scored = (
        cand.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", dot_q.alias("dot_q"),
                "__qn2", "__cn2")
    )
    thr = (
        (F.col("dot_q") > 0)
        & (
            F.lit(theta_den * theta_den) * F.col("dot_q") * F.col("dot_q")
            >= F.lit(theta_num * theta_num) * F.col("__qn2") * F.col("__cn2")
        )
    )
    return scored.filter(thr).select(
        "query_id",
        "neighbor_id",
        "dot_q",
        F.round(
            F.col("dot_q").cast("double")
            / (
                F.sqrt(F.col("__qn2").cast("double"))
                * F.sqrt(F.col("__cn2").cast("double"))
            ),
            6,
        ).alias("cos"),
    )


def mmr_rerank(
    df: DataFrame,
    query_id,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**6,
    topn: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (r13 — the RETRIEVAL-side
    greedy beside kcenter_greedy's coverage greedy: instead of "cover
    the corpus", pick the k results that balance relevance to a query
    against redundancy with what's already picked — the classic search
    / RAG-context diversifier). Integer objective with λ = 2/3:
    ``score = 2·rel − maxsim`` (the λ·rel − (1−λ)·sim tradeoff scaled
    by 3 to stay in int64), where rel = dot(query, candidate) and
    maxsim = max dot against the picked set, all over floor-quantized
    components — no RNG, no floats, so the oracle replays every pick
    as a chained CTE.

    Scale shape (the kcenter_greedy rule, r17 form): candidates carry
    a running max-sim column lazily localCheckpoint'd per pick and
    MATERIALIZED by the pick's own ``limit(1)`` argmax action, so each
    pick is one job computing ONE new dot-product column in a narrow
    codegen pass — the pre-r17 eager-checkpoint-job + collect-job pair
    was two jobs and one extra full scan per pick (interleaved sf0.1
    A/B: 3.2 s → 2.6 s median, identical picks; a ``persist()``
    variant lost the same A/B because Dataset caching pays a columnar
    CachedBatch build for the d-wide arrays that raw RDD checkpoint
    storage does not). Only one generation is ever unmaterialized at a
    time, so the lazy-chain failure mode does not apply. Total
    O(k·|candidates|·d), driver traffic bounded by k·d, never |rows|
    (collect sites on the audited allowlist, tests/test_plans.py).
    Raises ``ValueError`` if the query id is absent; stops early when
    candidates run out.

    Bounded-candidate contract (the 100 TB shape): each of the k
    picks MATERIALIZES the full candidate relation, so the per-pick
    checkpoint cost is O(|candidates|) writes — fine for the bounded
    candidate sets a re-ranker consumes by definition, corpus-sized
    only as a certification exercise. MMR's production position is
    AFTER retrieval: feed it a rel-topN / radius-search result, not
    the corpus. ``topn`` applies that contract in-kernel: ONE
    relevance scan over the corpus (a TakeOrderedAndProject — no
    global sort materializes), then the k pick/fold rounds run on the
    N surviving rows; mirrors how hubness/triplet-mining each grew an
    ``_ann`` twin as their scale path.

    Output: ``(mmr_rank int, vec_id, rel bigint, maxsim bigint,
    score bigint)`` — maxsim/score as of the moment of the pick.
    """
    base = df.select(
        F.col(bq(id_col)),
        _quantize(vec_col, quant).alias("__qe"),
    ).localCheckpoint()

    def dot_sql(vec: list[int]) -> str:
        # r17: SQL-string form, one parse per pick instead of d+~30
        # py4j-built nodes (see kmeans_exact.assign)
        lits = ", ".join(str(int(x)) for x in vec)
        return (
            f"aggregate(zip_with(__qe, array({lits}), (x, m) -> x * m),"
            " cast(0 as bigint), (acc, x) -> acc + x)"
        )

    qrows = base.filter(F.col(bq(id_col)) == query_id).limit(1).collect()
    if not qrows:
        raise ValueError(f"mmr_rerank: query id {query_id!r} not found")
    qvec = list(qrows[0]["__qe"])
    cur = base.filter(F.col(bq(id_col)) != query_id).select(
        F.col(bq(id_col)),
        "__qe",
        F.expr(dot_sql(qvec)).alias("__rel"),
        F.lit(0).cast("long").alias("__ms"),
    )
    if topn is not None:
        # bounded-candidate prefilter: rel-topN with a deterministic id
        # tie-break; orderBy+limit plans as TakeOrderedAndProject (per-
        # partition heaps + a driver-side merge of N rows, no shuffle)
        cur = cur.orderBy(F.col("__rel").desc(), F.col(bq(id_col)).asc()).limit(
            topn
        )
    cur = cur.localCheckpoint(eager=False)
    # r17 construction pass 2 (guide §4, driver side): the pick loop
    # re-built the argmax sort keys and the fold projection node-by-node
    # over py4j EVERY pick (~185 round-trips/pick measured). Columns are
    # immutable expression wrappers, so the loop-invariant sort keys are
    # hoisted and reused across generations, and the per-pick fold
    # renders as a SQL string parsed once in the JVM — identical trees,
    # identical picks (oracle re-gated).
    id_c = F.col(bq(id_col))
    by_score = [(2 * F.col("__rel") - F.col("__ms")).desc(), id_c.asc()]
    picks: list[tuple] = []
    for rank in range(k):
        # this argmax action is what materializes cur's checkpoint —
        # one job per pick
        top = cur.orderBy(*by_score).limit(1).collect()
        if not top:
            break
        p = top[0]
        picks.append(
            (
                rank,
                p[id_col],
                int(p["__rel"]),
                int(p["__ms"]),
                2 * int(p["__rel"]) - int(p["__ms"]),
            )
        )
        # the picked id enters as one F.lit literal node, never as SQL
        # text, so no id value can break the parse
        cur = (
            cur.where(id_c != F.lit(p[id_col]))
            .selectExpr(
                bq(id_col),
                "__qe",
                "__rel",
                f"greatest(__ms, {dot_sql(p['__qe'])}) as __ms",
            )
            .localCheckpoint(eager=False)
        )
    id_type = base.schema[id_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        picks,
        f"mmr_rank int, {bq(id_col)} {id_type}, rel long,"
        " maxsim long, score long",
    )
