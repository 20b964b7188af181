"""Deduplication operators (SURVEY.md §2 B18/B19).

Exact dedup is a keyed reduction; near-dedup avoids the O(n²) all-pairs
trap with locality-sensitive bucketing:

- **MinHash + LSH**: shingle → per-seed min-hash signature → band hashes →
  self-join on (band, hash). Only same-bucket pairs are compared, so the
  join is an equi-join Catalyst shuffles on the band key — the standard
  web-scale dedup layout (one shuffle, no cartesian).
- **SimHash**: 64-bit weighted-bit fingerprint; near-dups have small
  Hamming distance. Banding the 64 bits into chunks gives the same
  equi-join candidate generation.

Everything is built-in expressions (xxhash64, transform, aggregate,
zip_with) — no Python UDFs, whole-stage codegen end to end. Determinism:
xxhash64 with fixed per-seed salts, no RNG.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..sqlident import bq

# --- exact dedup (B18) -------------------------------------------------------


def exact_dedup(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Keep exactly one row per duplicate group — deterministically the one
    with the smallest ``id_col`` (``dropDuplicates`` keeps an arbitrary row,
    which is useless for reproducible corpus builds).

    One shuffle on the dup-key. At skew (a viral duplicated doc) AQE splits
    the hot group.
    """
    w = Window.partitionBy(*[F.col(c) for c in cols]).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def duplicate_groups(df: DataFrame, cols: Sequence[str], id_col: str) -> DataFrame:
    """Duplicate-group inventory: key cols + group size + keeper id."""
    return (
        df.groupBy(*[F.col(c) for c in cols])
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(F.col(id_col)).alias("keeper_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


# --- shingling + MinHash (B19) ----------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """Canonical text form: lowercase, non-alphanumerics → space, squeezed."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, "[^a-z0-9]+", " ")
    return F.trim(c)


def char_shingles(col: Column | str, k: int = 5) -> Column:
    """Distinct character k-shingles of the normalized text.

    Pure expression: substring over a generated index sequence — no
    explode, no UDF; the array stays inside the row.
    """
    c = normalize_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams (space-joined) of the normalized text."""
    c = normalize_text(col)
    toks = F.split(c, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )


def shingle_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    unit: str = "word",
    distinct: bool = True,
) -> DataFrame:
    """Distinct shingles as *rows* ``(doc, sh)`` — the scale formulation.

    Array-returning shingle expressions (:func:`char_shingles`) run Spark's
    higher-order functions interpreted (~ms/doc); this path is pure
    codegen: explode tokens/chars with position, then ``lead`` windows
    concatenate k-grams. One shuffle (window by doc); every operator is
    whole-stage-codegen.

    r17 note (measured, guide §1.1 "a fresh implementation of the ideal
    plan is usually slower because of some gotcha"): a shuffle-free
    variant (posexplode positions + in-row ``get(__toks, pos+i)`` array
    reads) was tried and REVERTED — interleaved same-session A/B on the
    b18 fingerprint shape read 2.5 s vs 1.6 s steady in the window
    form's favor, and the full minhash family 1.6–2.3× worse. Two
    reasons: (a) the Generate must carry the whole token array per
    exploded row (O(tokens²) bytes per doc through the stage), and
    (b) the window's (doc, pos) exchange is LOAD-BEARING downstream —
    it pre-partitions by doc, so the per-doc set/signature aggregations
    that follow need no exchange of their own, and AQE's ReusedExchange
    shares the tokenize+explode work across every consumer of the same
    shingle relation (the multi-reference jaccard/index pipelines).

    ``unit``: ``word`` (k-grams over whitespace tokens — discriminative
    for natural text) or ``char`` (classic k-char shingles).
    """
    # r17 construction pass 2 (guide §4, driver side): SQL-string form —
    # the tokenize/lead/concat trees were ~250 py4j round-trips per
    # consumer build (every minhash/LSH line pays this on every bench
    # rebuild). Identical parsed trees (lead(tok, i) over the same spec,
    # concat_ws, is-not-null map 1:1), bit-exact under the oracle gate.
    norm = f"trim(regexp_replace(lower({bq(text_col)}), '[^a-z0-9]+', ' '))"
    sep = " " if unit == "word" else ""
    toks = df.selectExpr(
        f"{bq(id_col)} as doc",
        f"posexplode(split({norm}, '{sep}')) as (pos, tok)",
    )
    over = "over (partition by doc order by pos)"
    gram_sqls = ["tok"] + [
        f"lead(tok, {i}) {over}" for i in range(1, k)
    ]
    grams = toks.selectExpr(
        "doc",
        f"concat_ws('{sep}', {', '.join(gram_sqls)}) as sh",
        f"{gram_sqls[-1]} is not null as __full",
    )
    out = grams.filter(F.col("__full")).select("doc", "sh")
    # distinct costs a shuffle — set semantics matter for Jaccard sizes,
    # but NOT for min-hash signatures (duplicates can't change a min)
    return out.distinct() if distinct else out


#: Mersenne prime 2^31-1: the universal-hash modulus. Multiplier/offset
#: pairs stay < 2^31 so a*h+b < 2^62 — no int64 overflow, ANSI-mode safe.
MINHASH_P = 2147483647

#: polynomial-combine base for portable band buckets (see _band_bucket)
BAND_B = 1000003


def portable_hash60(col: Column | str) -> Column:
    """Engine-portable 60-bit string hash: first 15 hex chars of md5 as an
    int64. md5 is byte-identical everywhere, so DuckDB replays it as
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`` — this is the
    oracle-mode base hash that turns the MinHash/SimHash queries into
    bit-checkable rows. Production default stays ``xxhash64`` (cheaper:
    one 64-bit mix vs a cryptographic digest + hex parse)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash60_sql(expr: str) -> str:
    """DuckDB rendering of :func:`portable_hash60`."""
    return f"CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"


def _hash_family(num_hashes: int, seed: int = 0xCDC) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal family
    ``h_i = (a_i·h + b_i) mod P`` — ONE base xxhash64 per shingle instead
    of ``num_hashes`` re-hashes of the string bytes. Measured: ~3.4× less
    codegen compile time and ~15% less compute than per-seed xxhash64 at
    32 hashes (each a_i·h+b_i is two int ops vs a full byte-stream hash).
    """
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_P), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signature(shingles: Column, num_hashes: int = 64) -> Column:
    """MinHash signature: ``min over shingles of (a_i·h + b_i) mod P``
    per permutation *i*, h = xxhash64(shingle) reduced mod P.

    Single-pass fold: one traversal of the shingle array updating a
    ``num_hashes``-wide running-min accumulator (a naive per-seed
    ``array_min(transform(...))`` inlines the shingle expression
    ``num_hashes`` times and explodes codegen). All JVM-side; 64 hashes ≈
    Jaccard estimator σ≈0.125 — raise for tighter thresholds.
    """
    params = F.array(
        *[F.array(F.lit(a), F.lit(b)) for a, b in _hash_family(num_hashes)]
    )
    base = F.transform(shingles, lambda s: F.pmod(F.xxhash64(s), F.lit(MINHASH_P)))
    return F.aggregate(
        base,
        F.array_repeat(F.lit(MINHASH_P).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                params, lambda p: F.pmod(h * p[0] + p[1], F.lit(MINHASH_P))
            ),
            lambda a, v: F.least(a, v),
        ),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_unit: str = "word",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """LSH candidate pairs ``(id_a, id_b)`` with ``id_a < id_b``.

    Plan shape, all whole-stage-codegen: shingle rows → 64 hash columns →
    map-side-combined min agg (the signature) → band hashes → explode →
    self equi-join on (band_idx, band_hash) → distinct. The join key
    includes the band index so buckets from different bands never collide.
    Shuffle volume: |shingle rows| once (window), then |docs|×64 longs.

    ``base_hash='md5'`` swaps xxhash64 for :func:`portable_hash60` and the
    band combine for exact polynomial arithmetic, making the whole operator
    bit-replayable in DuckDB (the oracle mode).
    """
    banded = build_lsh_index(
        df, id_col, text_col, shingle_k, num_hashes, bands, shingle_unit,
        base_hash=base_hash,
    )
    return lsh_candidates_from_index(banded)


def lsh_candidates_from_index(index: DataFrame) -> DataFrame:
    """Candidate pairs ``(id_a, id_b)``, ``id_a < id_b``, from a prebuilt
    ``(doc, band, bucket)`` index — the self-join half of
    :func:`minhash_candidates`, split out so a pipeline that ALSO keeps a
    standing index (the CDC × dedup composition) hashes the corpus ONCE:
    ``index = build_lsh_index(...).localCheckpoint()`` (or a parquet
    materialization at scale), then BOTH the standing pair set (this
    self-join) and every incremental :func:`query_lsh_index` probe read
    it. Measured on the b19_incremental_clusters capstone: one full
    corpus shingle+minhash pass eliminated."""
    a = index.select(F.col("doc").alias("id_a"), "band", "bucket")
    b = index.select(F.col("doc").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def build_lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_unit: str = "word",
    base_hash: str = "xxhash64",
    rows: DataFrame | None = None,
) -> DataFrame:
    """Materializable LSH index: ``(doc, band, bucket)`` rows for the
    corpus. Persist this once (parquet, partitioned/bucketed by
    ``(band, bucket)``) and incremental dedup never re-hashes the corpus —
    the CDC × dedup composition: bootstrap builds the index, the change
    feed queries and appends to it.

    ``base_hash``: ``'xxhash64'`` (default; band bucket = murmur3 of the
    band slice) or ``'md5'`` — the engine-portable oracle mode where the
    base hash is :func:`portable_hash60` and the band bucket is an exact
    polynomial fold ``((h0·B + h1)·B + ...) mod P`` that DuckDB replays.

    ``rows``: a precomputed ``(doc, sh)`` shingle relation (e.g. a
    checkpointed :func:`shingle_rows` shared with :func:`jaccard_pairs`)
    — duplicates or distinct both fine, a min-signature can't tell. When
    omitted the non-distinct form is built inline (skips a shuffle).
    """
    rows_per_band = num_hashes // bands
    exploded = rows if rows is not None else shingle_rows(
        df, id_col, text_col, k=shingle_k, unit=shingle_unit, distinct=False
    )
    # r17 (guide §1.1 — profile first): every expression below is built
    # as a SQL STRING and parsed once in the JVM instead of node-by-node
    # Column calls over py4j. The board's build-vs-exec split measured
    # the b19/b24 minhash consumers spending seconds per build in py4j
    # round-trips (~0.3–1 ms each; this function alone was ~500+ calls,
    # and bench re-builds the DataFrame every timed run). The parsed
    # trees are identical (integer literals ≤ 2^31 parse as INT exactly
    # like F.lit; md5/conv/pmod/xxhash64/hash/slice map 1:1), so every
    # consumer stays bit-exact — re-gated against the DuckDB oracle.
    if base_hash == "md5":
        base_sql = (
            "pmod(cast(conv(substring(md5(sh), 1, 15), 16, 10) as bigint),"
            f" {MINHASH_P})"
        )
    else:
        base_sql = f"pmod(xxhash64(sh), {MINHASH_P})"
    hashed = exploded.selectExpr(
        "doc",
        *[
            f"pmod({base_sql} * {a} + {b}, {MINHASH_P}) as h{i}"
            for i, (a, b) in enumerate(_hash_family(num_hashes))
        ],
    )
    signed = hashed.groupBy("doc").agg(
        F.expr("min(h0) as h0"),
        *[F.expr(f"min(h{i}) as h{i}") for i in range(1, num_hashes)],
    )
    if base_hash == "md5":
        band_sqls = []
        for b in range(bands):
            acc = f"h{b * rows_per_band}"
            for j in range(1, rows_per_band):
                acc = (
                    f"pmod({acc} * {BAND_B} + h{b * rows_per_band + j},"
                    f" {MINHASH_P})"
                )
            band_sqls.append(acc)
    else:
        all_h = ", ".join(f"h{i}" for i in range(num_hashes))
        band_sqls = [
            f"hash(slice(array({all_h}), {b * rows_per_band + 1},"
            f" {rows_per_band}))"
            for b in range(bands)
        ]
    banded = F.expr(f"array({', '.join(band_sqls)})")
    return signed.select(
        "doc", F.posexplode(banded).alias("band", "bucket")
    )


def query_lsh_index(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_unit: str = "word",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidates of ``new_docs`` against a prebuilt corpus index
    (same hyperparameters as :func:`build_lsh_index` — signatures must
    agree). Output: ``(new_id, corpus_id)``; only the new docs are hashed,
    and the join is an equi-join on (band, bucket) — incremental cost is
    proportional to the batch, not the corpus.
    """
    probe = build_lsh_index(
        new_docs, id_col, text_col, shingle_k, num_hashes, bands, shingle_unit,
        base_hash=base_hash,
    ).select(F.col("doc").alias("new_id"), "band", "bucket")
    hits = probe.join(
        index.select(F.col("doc").alias("corpus_id"), "band", "bucket"),
        ["band", "bucket"],
    )
    return (
        hits.filter(F.col("new_id") != F.col("corpus_id"))
        .select("new_id", "corpus_id")
        .distinct()
    )


def jaccard_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    shingle_unit: str = "word",
    rows: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard similarity for candidate pairs (the verify step after
    LSH): |A∩B| / |A∪B| over distinct shingle sets.

    Set algebra as joins/aggregations over shingle *rows* (no array
    intersects, no interpreted lambdas): per-doc set sizes once, then
    |A∩B| = count of shingles shared by a candidate pair — equi-joins on
    (id, shingle). Every step shuffles on small keys and combines map-side.

    The ``pairs`` plan is referenced exactly ONCE — candidate generation is
    usually the expensive upstream (a full LSH pass), and naming it twice
    in this DAG would recompute it. Consequence: candidate pairs with an
    EMPTY shingle intersection are absent from the output (they have
    jaccard 0, so any ``>= threshold`` consumer is unaffected).

    ``rows``: a precomputed DISTINCT ``(doc, sh)`` relation (set
    semantics are load-bearing for Jaccard — pass ``shingle_rows(...,
    distinct=True)``, ideally checkpointed and shared with
    :func:`build_lsh_index`). The relation is referenced three times
    (sizes, a-side, b-side); Spark's ReusedExchange usually dedups the
    identical subplans, a checkpoint makes it certain.
    """
    if rows is None:
        rows = shingle_rows(df, id_col, text_col, k=shingle_k, unit=shingle_unit)
    sizes = rows.groupBy("doc").agg(F.count(F.lit(1)).alias("n"))
    a = rows.select(F.col("doc").alias("id_a"), "sh")
    b = rows.select(F.col("doc").alias("id_b"), "sh")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    na = sizes.select(F.col("doc").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc").alias("id_b"), F.col("n").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
            ).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_unit: str = "word",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    The complete B19 operator: candidates via banding, then exact Jaccard
    ≥ threshold. Both stages are equi-joins — no cartesian anywhere.

    r17 note (measured): a "shingle once" variant — one checkpointed
    distinct ``(doc, sh)`` relation feeding both the index build and
    the Jaccard verify — was tried and REVERTED: the interleaved
    same-box A/B read the b19 minhash lines 1.9–2.6× SLOWER than this
    composition. The sharing it aimed for already happens without it:
    the index's shingle pass and the verify's three references all end
    at the same (doc, pos) window exchange, and AQE's ReusedExchange
    dedups verbatim subplans — while the checkpoint pays an extra
    materialization of the corpus-sized shingle relation to executor
    storage and severs that reuse (the round-7 rule: checkpoint only
    references AQE can NOT line up).
    """
    cand = minhash_candidates(
        df, id_col, text_col, shingle_k, num_hashes, bands, shingle_unit,
        base_hash=base_hash,
    )
    scored = jaccard_pairs(df, cand, id_col, text_col, shingle_k, shingle_unit)
    return scored.filter(F.col("jaccard") >= threshold)


# --- SimHash (B19 variant) ---------------------------------------------------


def dup_ngram_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document duplicated-n-gram ratio: the fraction of a document's
    DISTINCT word k-grams that also occur in at least one other document
    — the corpus-level memorization-risk metric popularized by the
    "Deduplicating Training Data Makes Language Models Better" line of
    work (public paper; a doc whose text is mostly corpus-repeated
    boilerplate trains memorization, not generalization — gate on
    ``dup_ratio``).

    Plan: one shingle pass (explode + window ``lead``, codegen), a gram
    document-frequency agg keyed by the gram, one equi-join back, one
    per-doc agg — all map-side-combined shuffles on bounded keys, no
    pairs, no cartesian. Integer counts; the only float is the final
    rounded ratio, so the output replays bit-exactly on any engine.
    Documents with fewer than ``k`` tokens have no k-grams and are
    absent from the output (callers treat absent as ratio-0 clean).
    Output: ``(id_col, n_grams, n_dup_grams, dup_ratio)``.
    """
    rows = shingle_rows(df, id_col, text_col, k=k, unit="word", distinct=True)
    gf = rows.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    return (
        rows.join(gf, "sh")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("__df") >= 2, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup_grams"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_grams",
            "n_dup_grams",
            F.round(
                F.col("n_dup_grams").cast("double")
                / F.col("n_grams").cast("double"),
                6,
            ).alias("dup_ratio"),
        )
    )


def simhash64(col: Column | str, base_hash: str = "xxhash64") -> Column:
    """64-bit SimHash of the normalized token stream.

    Classic scheme: each token votes ±1 per bit of its 64-bit hash; the
    fingerprint sets bit *i* iff the summed vote is positive. Expressed as
    a single ``aggregate`` over the token-hash array with a 64-long vote
    accumulator — one pass, no explode, no UDF.

    ``base_hash='md5'`` is the oracle mode: token hashes come from
    :func:`portable_hash60` and the fingerprint is 60 bits wide, so DuckDB
    replays the whole computation with plain ``>>``/``&``/``sum``.
    """
    nbits = 60 if base_hash == "md5" else 64
    toks = F.split(normalize_text(col), " ")
    if base_hash == "md5":
        hashes = F.transform(toks, lambda t: portable_hash60(t))
    else:
        hashes = F.transform(toks, lambda t: F.xxhash64(t))
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0).cast("long"), nbits),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(0), F.lit(nbits - 1)),
                # getbit accepts a column bit position (shiftright doesn't)
                lambda i: F.when(F.getbit(h, i) == 1, F.lit(1))
                .otherwise(F.lit(-1))
                .cast("long"),
            ),
            lambda a, v: a + v,
        ),
    )
    # fold votes back into a fingerprint (python-side loop over literal
    # bit positions so shiftleft gets an int, no long overflow)
    fp = F.lit(0).cast("long")
    for i in range(nbits):
        fp = fp.bitwiseOR(
            F.when(
                F.element_at(votes, i + 1) > 0,
                F.shiftleft(F.lit(1).cast("long"), i),
            ).otherwise(F.lit(0).cast("long"))
        )
    return fp


def hamming64(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two 64-bit fingerprints: popcount(a XOR b)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    exact: bool = False,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (B19 vector variant):
    ``(id_a, id_b, score)`` with ``id_a < id_b`` and cosine ≥ threshold.

    Default (``exact=False``) is the scale path: candidates come from the
    hyperplane-LSH buckets in :mod:`.similarity` (equi-join, no cartesian)
    and only bucket-mates are exact-scored — survives any corpus size,
    with ANN-style recall dials. ``exact=True`` opts into the broadcast
    all-pairs self-join: O(n²) scoring, exact recall — only for corpora
    that fit an executor (≲10⁵ vectors).
    """
    from . import similarity as sim

    v = sim.as_double(vec_col)
    if exact:
        # norms once per row; per-pair cost = one dot product
        idc = F.col(bq(id_col))
        a = df.select(idc.alias("id_a"), v.alias("va"), sim.l2_norm(v).alias("na"))
        b = df.select(idc.alias("id_b"), v.alias("vb"), sim.l2_norm(v).alias("nb"))
        pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        score = sim.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        return pairs.select("id_a", "id_b", score.alias("score")).filter(
            F.col("score") >= threshold
        )
    cand = sim.ann_topk_lsh(
        df, df, k=50, id_col=id_col, vec_col=vec_col, dim=dim
    ).filter(F.col("query_id") < F.col("neighbor_id"))
    return cand.select(
        F.col("query_id").alias("id_a"),
        F.col("neighbor_id").alias("id_b"),
        "score",
    ).filter(F.col("score") >= threshold)


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    base_hash: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup candidates: band the fingerprint bits into
    ``bands`` chunks; any pair within ``max_hamming`` ≤ bands-1 bit flips
    shares ≥1 exact chunk (pigeonhole), so an equi-join on
    (chunk_idx, chunk_value) finds them without all-pairs. Verified by
    exact Hamming ≤ ``max_hamming``. ``base_hash='md5'`` → portable 60-bit
    fingerprints (oracle mode, see :func:`simhash64`).
    """
    width = (60 if base_hash == "md5" else 64) // bands
    fp = df.select(
        F.col(id_col).alias("doc"), simhash64(text_col, base_hash).alias("fp")
    )
    chunks = fp.select(
        "doc",
        "fp",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("fp"), b * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for b in range(bands)
                ]
            )
        ).alias("chunk", "val"),
    )
    a = chunks.select(F.col("doc").alias("id_a"), F.col("fp").alias("fp_a"), "chunk", "val")
    b = chunks.select(F.col("doc").alias("id_b"), F.col("fp").alias("fp_b"), "chunk", "val")
    return (
        a.join(b, ["chunk", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming64("fp_a", "fp_b").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# --- dup-cluster formation (B19 depth: pairs → components) -------------------

#: rounds the last CC call needed to converge — a driver-side diagnostic
#: (read after dup_clusters returns) used by the PERF round-count table and
#: the star-vs-propagate tests; never read by the computation itself.
LAST_CC_ROUNDS: int = 0


def _cc_propagate(
    edges: DataFrame, max_iter: int, verts: DataFrame | None = None
) -> DataFrame | None:
    """Min-label propagation CC over symmetric ``(src, dst)`` edges.

    Labels start as self; each round every vertex takes the min of its own
    and its neighbors' labels; stop when no label moved. O(component
    diameter) rounds — near-dup clusters are short chains, so 2-4 rounds
    in practice. Per round: one equi-join (edges ⋈ labels) + one min-agg —
    both shuffle on the vertex id, no cartesian.

    The convergence probe is FUSED into the step aggregate (r7): the
    round's min-agg also carries each vertex's previous label (min over
    the tagged ``cur`` rows — exactly one per vertex), so "did any label
    move" is a filter+limit over the round's own checkpointed output
    instead of a separate labels⋈labels join. One action per round (the
    probe count materializes the lazy checkpoint), no probe exchanges —
    at small scale per-job scheduler overhead dominates this algorithm,
    and the fuse cut the b19_incremental_clusters capstone's job count
    by ~a third.

    Each round ``localCheckpoint``s its labels: Spark SQL re-plans every
    ACTION from the logical plan, so without the checkpoint each probe
    and the next round would re-execute all prior rounds' shuffles
    (measured: a lazy-rounds variant was ~15% SLOWER end-to-end on the
    b19 capstones — cross-action shuffle reuse does not exist at the SQL
    layer; only a materialization truncates the replay). Returns ``None``
    if ``max_iter`` rounds were not enough: non-converged labels are not
    the component min, which :func:`update_clusters` depends on, so the
    caller restarts on :func:`_cc_star` instead.

    ``verts`` (optional) seeds the label table with the full vertex
    universe — isolated vertices then label themselves through the same
    rounds and the caller skips its coalesce-join entirely. Returns
    ``(v, label)``.
    """
    global LAST_CC_ROUNDS

    # r17 construction pass 2 (guide §4, driver side): per-round
    # projections render as SQL strings parsed once in the JVM (the
    # Column form re-built them every round over py4j); identical trees
    # (false/true literals == F.lit, CASE WHEN == F.when), re-gated.
    def step(cur: DataFrame) -> tuple[DataFrame, int]:
        nbr = edges.join(
            cur.withColumnRenamed("v", "src"), "src"
        ).selectExpr("dst as v", "label", "false as __own")
        new = (
            cur.selectExpr("v", "label", "true as __own")
            .unionByName(nbr)
            .groupBy("v")
            .agg(
                F.expr("min(label) as label"),
                # each vertex has exactly one __own row -> its old label
                F.expr("min(case when __own then label end) as __old"),
            )
            .localCheckpoint(eager=False)
        )
        n_moved = new.where("label != __old").limit(1).count()
        return new.select("v", "label"), n_moved

    if verts is not None:
        labels = verts.select("v", F.col("v").alias("label"))
    else:
        labels = edges.select(F.col("src").alias("v")).distinct().select(
            "v", F.col("v").alias("label")
        )
    for it in range(max_iter):
        labels, n_moved = step(labels)
        LAST_CC_ROUNDS = it + 1
        if n_moved == 0:
            return labels
    return None


def _star_edges_converged(cur: DataFrame, prev: DataFrame) -> bool:
    """True iff the two edge sets are identical (one symmetric-difference
    probe job; both inputs are localCheckpointed so nothing recomputes)."""
    return (
        cur.exceptAll(prev).unionByName(prev.exceptAll(cur)).limit(1).count() == 0
    )


def _cc_star(edges: DataFrame, max_iter: int) -> DataFrame:
    """Large-star/small-star CC (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC 2014 — public algorithm) over symmetric
    ``(src, dst)`` edges. Converges in O(log n) rounds REGARDLESS of
    component diameter — the scale path for adversarially long chains
    where min-label propagation needs O(diameter) rounds.

    Each round rewires the forest with the same primitive as propagation
    (a per-vertex min-agg joined back to the edges — no cartesian, no new
    shuffle shape):

    - **large-star(u)**: ``m = min(Γ(u) ∪ {u})``; every strictly-larger
      neighbor ``v > u`` re-attaches to ``m`` — long chains halve.
    - **small-star(u)** (on edges oriented big→small): ``m = min`` of the
      smaller neighborhood; all of them plus ``u`` attach to ``m`` —
      partial stars flatten.

    At the fixpoint the edge set is a forest of stars centered at each
    component's minimum vertex; labels read straight off the edges.
    Raises ``RuntimeError`` on ``max_iter`` exhaustion: there is no
    further backend to fall back to. Returns ``(v, label)``.
    """
    global LAST_CC_ROUNDS
    # orient big→small: every symmetric pair (a,b)/(b,a) becomes (max,min)
    e = edges.filter(F.col("src") > F.col("dst")).localCheckpoint(eager=False)
    converged = False
    for it in range(max_iter):
        # large-star over the symmetric view of e
        sym = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = sym.groupBy("src").agg(F.min("dst").alias("__mn"))
        lmin = mins.select(
            "src", F.least(F.col("__mn"), F.col("src")).alias("__m")
        )
        large = (
            sym.join(lmin, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .distinct()
        )
        # small-star over the big→small output (dst < src by construction:
        # __m = min(Γ(u) ∪ {u}) <= u < v)
        smin = large.groupBy("src").agg(F.min("dst").alias("__m"))
        joined = large.join(smin, "src")
        new = (
            joined.select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
            .unionByName(joined.select("src", F.col("__m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        LAST_CC_ROUNDS = it + 1
        if _star_edges_converged(new, e):
            e = new
            converged = True
            break
        e = new
    if not converged:
        raise RuntimeError(
            f"large-star/small-star CC did not converge within "
            f"{max_iter} rounds (O(log n) rounds suffice)"
        )
    # fixpoint edges are (member → component-min) stars; centers label self
    return (
        e.select(F.col("src").alias("v"), F.col("dst").alias("label"))
        .unionByName(e.select(F.col("dst").alias("v"), F.col("dst").alias("label")))
        .groupBy("v")
        .agg(F.min("label").alias("label"))
    )


#: edge-count bound for the single-task union-find backend: below this,
#: per-job scheduler latency dominates the distributed rounds (measured:
#: the b19 capstones spend ~3 s of their 6 s wall on ~40 sub-second CC
#: jobs at sf0.1), so a graph this small runs as ONE task. 100k edges ≈
#: a few MB — far below executor memory; the distributed rounds take
#: over beyond it.
CC_LOCAL_EDGE_LIMIT = 100_000

#: min-label propagation rounds tried above :data:`CC_LOCAL_EDGE_LIMIT`:
#: near-dup graphs have diameter 2-4, so real corpora converge within
#: them (the PERF.md round-count table); a graph that has not is
#: pathologically deep and restarts on large-star/small-star.
CC_PROPAGATE_ROUNDS = 4

#: round bound of the large-star/small-star backend, which converges in
#: O(log n) rounds regardless of component diameter.
CC_STAR_ROUNDS = 25


def _cc_local(e: DataFrame) -> DataFrame:
    """Single-task union-find CC over ``(src, dst)`` edges — the
    adaptive fast path :func:`_clusters_from_pairs` takes when the edge
    relation is PROVABLY small (≤ :data:`CC_LOCAL_EDGE_LIMIT`, probed
    with a bounded limit-count): one ``coalesce(1)`` + one Arrow-batched
    ``mapInPandas`` job replaces ~15 sub-second scheduler-bound jobs of
    distributed rounds. Labels are identical to the distributed
    backends (component-min member id, path-compressed union-find —
    order-independent). The data never touches the driver.

    This is exactly the contracted-graph case of
    :func:`update_clusters`: |batch| edges over touched roots — the
    common CDC merge — and the bottom of the recursion for small
    corpora; corpus-scale pair sets exceed the probe and keep the
    distributed rounds. Returns ``(v, label)``.
    """
    def uf(batches):
        import pandas as pd

        parent: dict[int, int] = {}

        def find(x: int) -> int:
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            for s, d in zip(pdf["src"], pdf["dst"]):
                s, d = int(s), int(d)
                parent.setdefault(s, s)
                parent.setdefault(d, d)
                rs, rd = find(s), find(d)
                if rs != rd:
                    # union by label order: smaller id becomes the root,
                    # so the final find() already yields the component min
                    if rs < rd:
                        parent[rd] = rs
                    else:
                        parent[rs] = rd
        verts = list(parent)
        yield pd.DataFrame(
            {
                "v": pd.array(verts, dtype="int64"),
                "label": pd.array([find(v) for v in verts], dtype="int64"),
            }
        )

    return (
        e.selectExpr("cast(src as bigint) as src", "cast(dst as bigint) as dst")
        .coalesce(1)
        .mapInPandas(uf, "v long, label long")
    )


def dup_clusters(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b"
) -> DataFrame:
    """Connected components over near-dup pairs: every doc appearing in a
    pair gets a ``cluster_id`` = the smallest doc id in its component.
    Pair output (A~B, B~C) is not directly actionable for corpus builds —
    the keep/drop decision needs the transitive closure (keep cluster min,
    drop the rest); this is that closure.

    The backend follows from the pair set itself (see
    :func:`_clusters_from_pairs`):

    - up to :data:`CC_LOCAL_EDGE_LIMIT` pairs, one single-task union-find
      (:func:`_cc_local`);
    - above it, min-label propagation for up to
      :data:`CC_PROPAGATE_ROUNDS` rounds (near-dup graphs have diameter
      2-4, so real corpora converge there); a graph that has not
      converged by then is pathologically deep and restarts on
      large-star/small-star (:func:`_cc_star`), whose round count is
      O(log n) regardless of diameter.

    All three backends yield identical labels (property-tested). The
    per-round convergence probe is the one driver-side action every
    distributed iterative algorithm needs; the data itself never leaves
    the executors, and ``localCheckpoint`` keeps the per-round plan flat.
    """
    # Materialize the raw pair list FIRST: both the vertex universe and the
    # symmetric edge set hang off it, and the caller's pair plan is often
    # expensive (a full MinHash-LSH pipeline) — without this checkpoint it
    # recomputes once per derived relation (measured: b19_dup_clusters
    # carried ~2.5s of redundant minhash recompute at sf0.1).
    e = pairs.selectExpr(
        f"cast({bq(id_a)} as bigint) as src", f"cast({bq(id_b)} as bigint) as dst"
    ).localCheckpoint(eager=False)
    return _clusters_from_pairs(e)


def _clusters_from_pairs(e: DataFrame) -> DataFrame:
    """CC + labeling over an already-CHEAP ``(src, dst)`` pair frame (a
    checkpoint, or cheap joins of checkpointed frames — it is re-read
    once for the vertex universe and once for the edge materialization).
    The shared tail of :func:`dup_clusters` and :func:`update_clusters`.
    """
    global LAST_CC_ROUNDS
    # adaptive backend selection (r8, VERDICT r7 item 3): when the edge
    # relation is provably small — one bounded limit-probe against the
    # checkpointed frame — the whole closure runs as a single-task
    # union-find (_cc_local): identical labels, ONE job instead of ~15
    # scheduler-bound sub-second jobs of distributed rounds. The
    # contracted graph of update_clusters is batch-bounded by contract,
    # so the CDC merge path takes this branch at any corpus scale;
    # corpus-scale pair sets exceed the probe and keep the rounds.
    n_probe = e.limit(CC_LOCAL_EDGE_LIMIT + 1).count()
    if n_probe <= CC_LOCAL_EDGE_LIMIT:
        LAST_CC_ROUNDS = 1  # single union-find pass
        labels = _cc_local(e)
    else:
        # vertex universe BEFORE dropping self-loops: a (a,a)-only vertex
        # still deserves a singleton cluster. Propagation is SEEDED with
        # it (isolated vertices ride the rounds labeling themselves); the
        # star backend only sees real edges, so its output is
        # coalesce-joined back over the universe.
        verts = (
            e.selectExpr("src as v")
            .unionByName(e.selectExpr("dst as v"))
            .distinct()
        )
        edges = (
            e.unionByName(e.selectExpr("dst as src", "src as dst"))
            .where("src != dst")
            .distinct()
            .localCheckpoint(eager=False)  # reused every round: compute the pair plan once
        )
        labels = _cc_propagate(edges, CC_PROPAGATE_ROUNDS, verts=verts)
        if labels is None:  # pathological diameter: restart on the
            labels = verts.join(  # O(log n) backend
                _cc_star(edges, CC_STAR_ROUNDS), "v", "left"
            ).selectExpr("v", "coalesce(label, v) as label")
    return labels.selectExpr(
        "v as doc_id",
        "label as cluster_id",
        "cast(count(1) over (partition by label) as bigint)"
        " as cluster_size",
    )


def update_clusters(
    labels: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Incremental dup-cluster maintenance under CDC: merge a batch of NEW
    near-dup pairs into an existing assignment without re-running
    connected components over the corpus pair set.

    ``labels`` is a prior :func:`dup_clusters` output (``doc_id,
    cluster_id, cluster_size`` — ``cluster_id`` is the component min, so
    it is itself a member vertex). The merge CONTRACTS each batch
    endpoint to its existing cluster root (left join through the label
    table), runs connected components on the contracted graph — |batch|
    edges over {touched roots} ∪ {brand-new ids}, NEVER ∝ cluster
    membership — and re-expands with one equi-join (members of touched
    clusters take their root's new label). Untouched clusters pass
    through unchanged. Contraction preserves the canonical min label:
    the old root IS the min member id, so the min over contracted
    vertices is the min over all underlying members. Invariant
    (tested): ``update_clusters(dup_clusters(P1), P2) ==
    dup_clusters(P1 ∪ P2)``. The backend is chosen from the contracted
    graph's size, as in :func:`dup_clusters`.

    The label table is referenced three times (two contraction sides,
    expansion) — when ``labels`` is a live plan (a fresh
    :func:`dup_clusters` output) each reference would replay its
    window-count + join tail, so it is ``localCheckpoint``-ed once
    here. A label table already read from parquet pays one extra
    |labels|-row copy for it.
    """
    labels = labels.select(
        "doc_id", "cluster_id", "cluster_size"
    ).localCheckpoint(eager=False)
    lab = labels.selectExpr(
        "cast(doc_id as bigint) as v",
        "cast(cluster_id as bigint) as label",
    )
    # The batch pair plan (typically a query_lsh_index probe) is
    # referenced exactly ONCE — by the contraction below, whose output
    # `m` carries the shared checkpoint — so the probe computes once
    # inside m's materialization and needs no checkpoint of its own
    # (r8: the separate e-checkpoint was a leftover of the
    # pre-contraction design that read the probe twice; removing it
    # drops one materialization round-trip of |batch| rows).
    e = new_pairs.selectExpr(
        f"cast({bq(id_a)} as bigint) as src", f"cast({bq(id_b)} as bigint) as dst"
    )
    # CLUSTER CONTRACTION: map each batch endpoint through its existing
    # label (cluster_id = the component-min member, itself a vertex), so
    # connected components runs on the CONTRACTED graph — |batch| edges
    # over {touched cluster roots} ∪ {brand-new ids} — instead of the
    # earlier virtual-star subgraph whose size was ∝ touched-cluster
    # MEMBERSHIP. At 100 TB a hot cluster can hold millions of members;
    # contraction keeps the iterative CC strictly batch-bounded and
    # re-expands membership with ONE equi-join afterwards.
    sl = lab.selectExpr("v as src", "label as __sl")
    dl = lab.selectExpr("v as dst", "label as __dl")
    m = (
        e.join(sl, "src", "left")
        .join(dl, "dst", "left")
        .selectExpr(
            "coalesce(__sl, src) as src",
            "coalesce(__dl, dst) as dst",
        )
        # _clusters_from_pairs references its pair frame four times
        # (vertex universe ×2, symmetric edges ×2); the contraction is
        # two joins, so materialize the |batch|-bounded result once
        .localCheckpoint(eager=False)
    )
    sub = _clusters_from_pairs(m)
    roots = sub.selectExpr(
        "doc_id as __cv", "cluster_id as __nl"
    ).localCheckpoint(eager=False)
    # re-expansion: members of touched clusters take their root's new
    # label; contracted vertices that were never an existing label are
    # brand-new docs and label as themselves
    expanded = lab.join(roots, lab["label"] == roots["__cv"]).selectExpr(
        "v", "__nl as label"
    )
    # left_anti only probes existence — no distinct on the right side
    # (it would add a corpus-wide exchange+agg for nothing)
    fresh = roots.join(
        lab.selectExpr("label as __cv"), "__cv", "left_anti"
    ).selectExpr("__cv as v", "__nl as label")
    merged = expanded.unionByName(fresh)
    renewed = merged.selectExpr(
        "v as doc_id",
        "label as cluster_id",
        "cast(count(1) over (partition by label) as bigint)"
        " as cluster_size",
    )
    untouched = labels.select("doc_id", "cluster_id", "cluster_size").join(
        renewed.select("doc_id"), "doc_id", "left_anti"
    )
    return untouched.unionByName(renewed)


def update_lsh_index(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_unit: str = "word",
    base_hash: str = "xxhash64",
) -> DataFrame:
    """Append a batch's signatures to a standing LSH index — the write
    half of the incremental loop (:func:`query_lsh_index` is the read
    half, :func:`update_clusters` the merge). Hyperparameters must match
    the standing index or signatures won't collide. Only the batch is
    hashed; on a persisted parquet index this is an append of
    ``|batch| × bands`` rows, nothing is rewritten.
    """
    return index.unionByName(
        build_lsh_index(
            new_docs, id_col, text_col, shingle_k, num_hashes, bands,
            shingle_unit, base_hash=base_hash,
        )
    )


def fuzzy_self_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    max_dist: int = 1,
    q: int = 3,
) -> DataFrame:
    """Edit-distance similarity self-join — every pair ``(id_a < id_b,
    dist)`` with ``levenshtein ≤ max_dist`` — WITHOUT the O(n²) cross
    join (entity resolution / near-identical-title dedup at corpus
    scale).

    Blocking is q-gram count filtering, and it is provably COMPLETE for
    distinct-gram sets: one edit operation touches at most ``q``
    q-grams, so a pair within ``d`` edits shares at least
    ``max(1, |G_a| − q·d, |G_b| − q·d)`` distinct grams (|G| = the
    string's own distinct-gram count — NOT the length-based bound, which
    overshoots on strings with repeated grams and would drop true
    pairs). Candidates therefore come from one distinct (id, gram)
    explode self-joined on the gram, counted per pair, thresholded, then
    verified with the exact ``levenshtein``. Strings too short to be
    guaranteed a shared gram (len < q·(max_dist+1)) pair exhaustively
    inside a dedicated short block (bounded by the short-string count —
    tiny in practice, and the length-difference ≤ d filter applies
    first).

    Scale: one narrow gram explode + an equi-join on the gram (hot-gram
    skew is the known cost — AQE splits it; the count threshold prunes
    before the expensive verify). The oracle replays the DEFINITION
    (brute-force levenshtein over all pairs), so a bit-exact match
    proves blocking completeness on real data, not just on paper.
    """
    d = max_dist
    L = F.length(F.col(str_col))
    base = df.select(
        F.col(id_col).alias("__id"), F.col(str_col).alias("__s"), L.alias("__len")
    )
    short_cut = q * (d + 1)
    longs = base.filter(F.col("__len") >= short_cut)
    shorts = base.filter(F.col("__len") < short_cut)

    grams = (
        longs.select(
            "__id",
            "__len",
            F.explode(
                F.array_distinct(
                    F.transform(
                        F.sequence(F.lit(1), F.col("__len") - q + 1),
                        lambda i: F.substr(F.col("__s"), i, F.lit(q)),
                    )
                )
            ).alias("__g"),
        )
    )
    gcnt = grams.groupBy("__id").agg(F.count(F.lit(1)).alias("__ng"))
    ga = grams.join(gcnt, "__id").select(
        F.col("__id").alias("id_a"), F.col("__len").alias("len_a"),
        F.col("__ng").alias("ng_a"), "__g",
    )
    gb = grams.join(gcnt, "__id").select(
        F.col("__id").alias("id_b"), F.col("__len").alias("len_b"),
        F.col("__ng").alias("ng_b"), "__g",
    )
    cand = (
        ga.join(gb, "__g")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= d)
        )
        .groupBy("id_a", "id_b", "ng_a", "ng_b")
        .agg(F.count(F.lit(1)).alias("__common"))
        .filter(
            F.col("__common")
            >= F.greatest(
                F.lit(1), F.col("ng_a") - q * d, F.col("ng_b") - q * d
            )
        )
        .select("id_a", "id_b")
    )
    # short×short and short×long pairs: any pair within d edits where one
    # side is short has the other side's length < short_cut + d, so both
    # live in the bounded short-ish band
    shortish = base.filter(F.col("__len") < short_cut + d)
    sa = shortish.select(
        F.col("__id").alias("id_a"), F.col("__len").alias("len_a")
    )
    sb = shortish.select(
        F.col("__id").alias("id_b"), F.col("__len").alias("len_b")
    )
    short_cand = (
        sa.join(
            sb,
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= d),
        )
        # at least one side genuinely short (long×long handled above)
        .filter(
            (F.col("len_a") < short_cut) | (F.col("len_b") < short_cut)
        )
        .select("id_a", "id_b")
    )
    all_cand = cand.unionByName(short_cand).distinct()
    astr = base.select(F.col("__id").alias("id_a"), F.col("__s").alias("__sa"))
    bstr = base.select(F.col("__id").alias("id_b"), F.col("__s").alias("__sb"))
    return (
        all_cand.join(astr, "id_a")
        .join(bstr, "id_b")
        .withColumn(
            "dist", F.levenshtein(F.col("__sa"), F.col("__sb")).cast("bigint")
        )
        .filter(F.col("dist") <= d)
        .select("id_a", "id_b", "dist")
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    window: int = 5,
    block_chars: int = 2,
    max_dist: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood dedup blocking (the classic SNM alternative
    to LSH/q-gram blocking): sort records by a blocking key, slide a
    fixed window, and emit only window-mate pairs — O(n·w) candidates
    instead of O(n²).

    Distributed shape: records first split into prefix blocks
    (``block_chars`` leading chars of the key), the window slides
    WITHIN each block — so the sort is per-block (hash-partitioned by
    block, never a global single-partition window) and scales out with
    executors. The price is the documented SNM recall characteristic:
    a true pair whose keys diverge inside the block prefix is missed
    (exactly the multi-pass/varied-key trade-off from the record-
    linkage literature — run a second pass with a different key to
    recover). Ties sort by id for full determinism.

    ``max_dist`` adds the exact ``levenshtein`` verify on the key, so
    the output is verified matches ``(id_a < id_b, dist)``; without it
    the raw candidate pairs come back unverified (``dist`` NULL).

    Output: ``(id_a, id_b, dist bigint)``.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(key_col).alias("__k"),
        F.substring(F.col(key_col), 1, block_chars).alias("__blk"),
    )
    w = Window.partitionBy("__blk").orderBy(F.col("__k").asc(), F.col("__id").asc())
    leads = base.select(
        "__id",
        "__k",
        F.array(
            *[
                F.struct(
                    F.lead("__id", j).over(w).alias("nid"),
                    F.lead("__k", j).over(w).alias("nk"),
                )
                for j in range(1, window)
            ]
        ).alias("__mates"),
    )
    pairs = (
        leads.select("__id", "__k", F.explode("__mates").alias("m"))
        .filter(F.col("m.nid").isNotNull())
        .select(
            F.least(F.col("__id"), F.col("m.nid")).alias("id_a"),
            F.greatest(F.col("__id"), F.col("m.nid")).alias("id_b"),
            F.col("__k").alias("__ka"),
            F.col("m.nk").alias("__kb"),
        )
    )
    if max_dist is None:
        return pairs.select(
            "id_a", "id_b", F.lit(None).cast("bigint").alias("dist")
        )
    return (
        pairs.withColumn(
            "dist", F.levenshtein(F.col("__ka"), F.col("__kb")).cast("bigint")
        )
        .filter(F.col("dist") <= max_dist)
        # no distinct needed: the forward-only window emits each
        # unordered pair at most once (ids are unique per block)
        .select("id_a", "id_b", "dist")
    )


#: planned input size (Catalyst's ``sizeInBytes`` of the
#: :func:`set_similarity_join` input) up to which its gram-frequency
#: relation is broadcast. That relation holds one row per distinct
#: shingle, so it grows with the text: ``b19_prefix_filter``'s corpus
#: plans at 509,628 bytes at sf0.1 (27,718 distinct grams) and at
#: 5,234,036 bytes on the ``tools/make_sf1.py`` 10× set, whose
#: per-replica token suffixes make the vocabulary 10× as large — both
#: broadcast, with 3× headroom at 10×, as they ran green in the 10×
#: check. Much larger inputs could carry a vocabulary that approaches
#: the r14 driver OOM, so they take the shuffle-hash form. The planned
#: size over-estimates after filters, so a wrong guess lands on the
#: (slower, safe) shuffle form.
PREFIX_BCAST_MAX_BYTES = 16 * 1024 * 1024


def set_similarity_join(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    shingle_k: int = 3,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (PPJoin-lite)
    — every pair with shingle-set Jaccard ≥ ``threshold``, guaranteed
    complete, without the O(n²) cross join. The fourth blocking
    strategy in the family (MinHash-LSH is probabilistic, SNM is
    recall-bounded, q-gram count filtering is edit-distance-specific;
    prefix filtering is the COMPLETE one for Jaccard):

    order every doc's shingles by global rarity (document frequency,
    gram tie-break — a total, deterministic order); a pair with
    ``J ≥ t`` must overlap in ≥ ``ceil(t·|a|)`` shingles, so the first
    ``|a| − ceil(t·|a|) + 1`` rarest shingles of each doc (its PREFIX)
    must share at least one element with any qualifying partner's
    prefix — candidates come from an equi-join on prefix shingles
    only. Rarity ordering makes prefixes maximally selective (the
    rarest shingles have the shortest posting lists).

    Scale shape: shingle rows (codegen) + one vocab-sized df agg
    (broadcast back while the input's planned size is at most
    :data:`PREFIX_BCAST_MAX_BYTES`, shuffle-hash joined above it) + a
    per-doc rank window + the prefix equi-join
    (skew = hot shingles, pruned by rarity ordering, AQE-split) + one
    count-style intersection join for the exact verify. The pytest
    suite proves completeness against the brute-force definition;
    the SQL oracle replays this pipeline (the brute force is O(n²)
    list intersections — minutes at sf0.1).

    Output: ``(id_a, id_b, jaccard)`` — jaccard rounded 6.
    """
    t = threshold
    # DELIBERATELY LAZY (r14 negative result — the exception to the r7
    # N>2-consumers checkpoint rule): the shingle relation has five
    # structurally different consumers, and a localCheckpoint here wins
    # at sf0.1 (median 5.04 s → 3.39 s) but PINS corpus×shingles rows
    # (~30M at 600k docs) in unified memory — the 10× smoke's
    # dedup_manifest composite then dies building its verify-join hash
    # maps (SparkOutOfMemoryError, reproduced in isolation both ways).
    # DISK_ONLY persist survives 10× (4.35 s at sf0.1) but still
    # materializes a corpus-sized intermediate per invocation — the
    # wrong trade at the 100 TB target, where each consumer contracts
    # dg immediately and the re-tokenize is embarrassingly parallel
    # CPU with no shuffle. The b19_prefix_filter box-to-box spread the
    # r13 verdict flagged is this CPU elasticity, not a plan defect.
    dg = shingle_rows(df, id_col, text_col, k=shingle_k).select(
        F.col("doc").alias("__d"), F.col("sh").alias("__g")
    )
    sizes = dg.groupBy("__d").agg(F.count(F.lit(1)).alias("__n"))
    gdf = dg.groupBy("__g").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__d").orderBy(F.col("__df").asc(), F.col("__g").asc())
    # r18 (guide §2.4/§3.1, re-testing the r14 negative result per the
    # r17 verdict): the document-frequency join is the structural pivot
    # of this kernel. BROADCASTING gdf keeps dg on its shingle-window
    # (doc) partitioning straight through the rarity-rank window and
    # the sizes join — the window needs NO exchange and the sizes join
    # lines up __d-vs-__d partitionings — versus the shuffle form's
    # re-exchange of the corpus×grams relation by __g and back by __d.
    # The r14 failure was Catalyst's STATIC post-agg estimate of gdf
    # undershooting the auto-broadcast threshold and OOMing the driver.
    # gdf is VOCABULARY-sized, unbounded at the 100 TB target, so the
    # choice is made explicitly from the INPUT's planned size (see
    # PREFIX_BCAST_MAX_BYTES), which over- rather than under-estimates —
    # a Catalyst statistic, no Spark job; dg stays lazy, so counting gdf
    # would re-run the shingle pass.
    planned = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    if int(planned) <= PREFIX_BCAST_MAX_BYTES:
        gdf_side = F.broadcast(gdf)
    else:
        gdf_side = gdf.hint("shuffle_hash")
    ranked = (
        dg.join(gdf_side, "__g")
        .withColumn("__rn", F.row_number().over(w))
        .join(sizes.hint("shuffle_hash"), "__d")
    )
    pref = ranked.filter(
        F.col("__rn")
        <= F.col("__n") - F.ceil(F.lit(t) * F.col("__n")) + 1
    ).select("__d", "__g", "__rn", "__n")
    # PPJoin positional filter: for a pair matching on a prefix element
    # at rarity ranks (ra, rb), at most min(na−ra, nb−rb)+1 elements can
    # still overlap; J ≥ t needs overlap ≥ ceil(t·(na+nb)/(1+t)), so
    # pairs whose bound can't reach it are pruned BEFORE the distinct +
    # verify joins. Complete: a true pair's FIRST shared prefix element
    # has all α shared elements at ranks ≥ (ra, rb), so its bound
    # passes, and any-match-passes keeps the pair.
    alpha = F.ceil(
        F.lit(t) * (F.col("a.__n") + F.col("b.__n")) / F.lit(1.0 + t)
    )
    # PPJoin length filter: J ≥ t forces i ≥ t(na+nb)/(1+t) and i ≤
    # min(na,nb), so min(na,nb) ≥ t·max(na,nb). Measured at sf0.1/t=0.8:
    # candidate count is UNCHANGED by this bound (16,035 → 16,035) —
    # the positional filter below strictly subsumes it (ra,rb ≥ 1 give
    # min(na−ra,nb−rb)+1 ≤ min(na,nb), so any positional pass already
    # satisfies min ≥ α ≥ t·max). Kept only as the cheap first conjunct:
    # an integer compare that short-circuits size-skewed pairs before
    # the division/ceil in the positional bound is evaluated. The 1e-9
    # slack keeps it conservative against float-product ulp drift.
    length_ok = (
        F.least(F.col("a.__n"), F.col("b.__n")).cast("double")
        >= F.lit(t) * F.greatest(F.col("a.__n"), F.col("b.__n")) - F.lit(1e-9)
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b").hint("shuffle_hash"),
            (F.col("a.__g") == F.col("b.__g"))
            & (F.col("a.__d") < F.col("b.__d"))
            & length_ok
            & (
                F.least(
                    F.col("a.__n") - F.col("a.__rn"),
                    F.col("b.__n") - F.col("b.__rn"),
                )
                + 1
                >= alpha
            ),
        )
        .select(F.col("a.__d").alias("id_a"), F.col("b.__d").alias("id_b"))
        .distinct()
    )
    ga = dg.select(F.col("__d").alias("id_a"), F.col("__g").alias("__ga"))
    gb = dg.select(F.col("__d").alias("__db"), F.col("__g").alias("__gb"))
    inter = (
        cand.join(ga.hint("shuffle_hash"), "id_a")
        .join(
            gb.hint("shuffle_hash"),
            (F.col("id_b") == F.col("__db")) & (F.col("__ga") == F.col("__gb")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    sa = sizes.select(F.col("__d").alias("id_a"), F.col("__n").alias("__na"))
    sb = sizes.select(F.col("__d").alias("id_b"), F.col("__n").alias("__nb"))
    jac = F.col("__i").cast("double") / (
        F.col("__na") + F.col("__nb") - F.col("__i")
    )
    return (
        inter.join(sa.hint("shuffle_hash"), "id_a")
        .join(sb.hint("shuffle_hash"), "id_b")
        .filter(jac >= t)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def golden_records(
    df: DataFrame,
    labels: DataFrame,
    id_col: str,
    rules: dict,
) -> DataFrame:
    """Survivorship: collapse each dup cluster to ONE merged record —
    the final step of entity resolution (pairs → clusters → golden
    record). ``labels`` is a :func:`dup_clusters`-shaped assignment
    (``doc_id, cluster_id``); ``rules`` maps output column → (rule,
    source_col) with rule ∈ {'min', 'max', 'longest', 'mode',
    'keeper'}:

    - ``min``/``max``: extreme value across the cluster.
    - ``longest``: value with the greatest length, ties to the MIN id
      (``max_by`` over one encoded int64 key — deterministic and
      engine-portable).
    - ``mode``: most frequent value, value tie-break.
    - ``keeper``: the value from the cluster's keeper row (the
      ``cluster_id`` member itself — dup_clusters labels are min ids).

    One join (records ⋈ labels) + one keyed agg; ``mode`` adds a
    per-(cluster, value) pre-count. All rules are deterministic, so
    the merged table replays bit-for-bit.

    Output: ``cluster_id, n_members`` + one column per rule key.
    """
    j = df.join(
        labels.select(
            F.col("doc_id").alias(id_col), "cluster_id"
        ),
        id_col,
    )
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_members")]
    mode_cols = []
    for out, (rule, src) in rules.items():
        c = F.col(src)
        if rule == "min":
            aggs.append(F.min(c).alias(out))
        elif rule == "max":
            aggs.append(F.max(c).alias(out))
        elif rule == "longest":
            # (length, -id) encoded as one int64 — engine-portable
            # (DuckDB's max_by only takes scalar keys): length·2^32 +
            # (2^32-1-id): max length wins, ties break to the MIN id
            combo = F.length(c).cast("long") * F.lit(2**32) + (
                F.lit(2**32 - 1) - F.col(id_col)
            )
            aggs.append(F.max_by(c, combo).alias(out))
        elif rule == "keeper":
            aggs.append(
                F.max(
                    F.when(F.col(id_col) == F.col("cluster_id"), c)
                ).alias(out)
            )
        elif rule == "mode":
            mode_cols.append((out, src))
        else:
            raise ValueError(f"unknown survivorship rule {rule!r}")
    base = j.groupBy("cluster_id").agg(*aggs)
    for out, src in mode_cols:
        counted = (
            j.groupBy("cluster_id", F.col(src).alias("__val"))
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.col("__c").desc(), F.col("__val").asc()
        )
        top = (
            counted.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select("cluster_id", F.col("__val").alias(out))
        )
        base = base.join(top, "cluster_id")
    return base


def cdc_chunk_stats(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 8,
    mask: int = 63,
) -> DataFrame:
    """Content-defined chunking dedup audit — the STORAGE-level dedup
    technique (Rabin/Gear-style) complementing the document-level
    family: chunk boundaries fall where a rolling window hash satisfies
    ``h % (mask+1) == 0``, so insertions shift boundaries only locally
    and identical passages produce identical chunks REGARDLESS of
    position — the property fixed-size blocks lack. The audit reports
    corpus-wide chunk dedup: total vs distinct chunks/chars and the
    dedup ratio (what a chunk store would save).

    Plan: positions explode (≤ |chars| rows, same scale as token
    rows) → narrow window-hash + boundary filter → per-doc sentinel
    union → lag() segmentation → substring chunks → one keyed distinct
    agg on the chunk hash. Expected chunk length = mask+1 chars.

    Output: one row ``(n_chunks, n_distinct, total_chars,
    distinct_chars, dedup_ratio, avg_chunk_len)``.
    """
    base = df.select(
        F.col(id_col).alias("__d"), F.col(text_col).alias("__t")
    )
    # Docs shorter than the window have no full window positions; guard
    # with when() because sequence(1, 0) in Spark is the DESCENDING array
    # [1, 0] (step defaults to -1 when start > stop), which would emit two
    # spurious hash positions per short doc. The sentinel path below
    # already covers short docs as a single chunk.
    pos = base.select(
        "__d",
        "__t",
        F.explode(
            F.when(
                F.length("__t") >= F.lit(window),
                F.sequence(
                    F.lit(1), F.length("__t") - F.lit(window - 1)
                ),
            ).otherwise(F.array().cast("array<int>"))
        ).alias("p"),
    )
    h = portable_hash60(F.substring(F.col("__t"), F.col("p"), window))
    bounds = pos.filter(F.pmod(h, F.lit(mask + 1)) == 0).select(
        "__d", (F.col("p") + F.lit(window - 1)).alias("__end")
    )
    sentinel = base.select("__d", F.length("__t").alias("__end"))
    ends = bounds.unionByName(sentinel).distinct()
    w = Window.partitionBy("__d").orderBy(F.col("__end").asc())
    segs = (
        ends.withColumn("__start", F.coalesce(F.lag("__end", 1).over(w), F.lit(0)) + 1)
        .filter(F.col("__end") >= F.col("__start"))
        .join(base, "__d")
        .select(
            "__d",
            F.substring(
                F.col("__t"), F.col("__start"), F.col("__end") - F.col("__start") + 1
            ).alias("__chunk"),
        )
    )
    per_chunk = segs.select(
        F.md5(F.col("__chunk")).alias("__h"), F.length("__chunk").alias("__len")
    )
    tot = per_chunk.agg(
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("__len").cast("long").alias("total_chars"),
    )
    dis = (
        per_chunk.groupBy("__h")
        .agg(F.min("__len").alias("__l"))  # lengths equal per hash; min is engine-neutral
        .agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("__l").cast("long").alias("distinct_chars"),
        )
    )
    return tot.crossJoin(F.broadcast(dis)).select(
        "n_chunks",
        "n_distinct",
        "total_chars",
        "distinct_chars",
        F.round(
            F.lit(1.0) - F.col("distinct_chars") / F.col("total_chars").cast("double"),
            6,
        ).alias("dedup_ratio"),
        F.round(
            F.col("total_chars") / F.col("n_chunks").cast("double"), 6
        ).alias("avg_chunk_len"),
    )
