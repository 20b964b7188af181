"""Benchmark decontamination (training-pipeline hygiene).

Before training, every document sharing verbatim n-grams with an
evaluation/benchmark set must be flagged or dropped — otherwise eval
scores measure memorization. The standard recipe (GPT-3 appendix C,
PaLM §7, The Stack) is exact word-n-gram overlap:

- benchmark side: distinct n-grams of the (small) eval corpus — broadcast;
- corpus side: n-grams as ROWS (the same explode+window shape as MinHash
  shingling — one narrow pass, whole-stage codegen);
- contamination = equi-join on the raw n-gram string + per-doc count.

No hashing anywhere, so ANY engine replays it bit-for-bit (the DuckDB
oracle joins on the same strings). At 100 TB the corpus side stays a
narrow map + one keyed aggregation; the benchmark gram set (≪ RAM by
construction — eval sets are thousands of docs, not billions) broadcasts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import shingle_rows


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame | None,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    n: int = 5,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-corpus-document benchmark overlap: ``(id_col, n_shared_ngrams,
    contaminated)`` — one row per corpus doc, ``contaminated`` iff it
    shares at least one word ``n``-gram with any benchmark doc.

    ``n_shared_ngrams`` counts the corpus doc's DISTINCT n-grams that
    occur anywhere in the benchmark (set semantics on both sides, the
    GPT-3-style definition). Clean docs are kept with 0/false via the
    left join, so the output is a complete keep/drop manifest.

    ``grams``: a precomputed DISTINCT benchmark-gram relation (one
    ``sh`` column) — the STANDING decontamination index of the CDC
    composition: build it once from the eval set (parquet at real
    scale), then screen every incremental batch against it at cost ∝
    batch, never re-shingling the benchmark. When given, ``benchmark``
    is ignored.
    """
    if grams is None and benchmark is None:
        raise ValueError("provide either benchmark or grams")
    bench_grams = (
        grams
        if grams is not None
        else shingle_rows(
            benchmark,
            bench_id_col or id_col,
            bench_text_col or text_col,
            k=n,
            unit="word",
        )
        .select("sh")
        .distinct()
    )
    doc_grams = shingle_rows(corpus, id_col, text_col, k=n, unit="word")
    hits = (
        doc_grams.join(F.broadcast(bench_grams), "sh")
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_shared_ngrams"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_ngrams"),
            (F.coalesce(F.col("n_shared_ngrams"), F.lit(0)) > 0).alias(
                "contaminated"
            ),
        )
    )


def fingerprint_containment(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    window_tokens: int = 16,
    stride: int = 8,
) -> DataFrame:
    """Fuzzy containment decontamination via windowed fingerprints: flag
    corpus docs sharing any ``window_tokens``-token window with a
    benchmark doc — catches long verbatim passages at a fraction of
    the exact-n-gram row volume.

    Asymmetric sampling gives a detection guarantee: the benchmark side
    is DENSE (stride 1 — every window; eval sets are small by
    construction) while the corpus side is SPARSE (every ``stride``-th
    window). Any shared verbatim run of ≥ ``window_tokens + stride - 1``
    tokens must contain a corpus-sampled window entirely, and the dense
    benchmark has every window — so the match cannot be missed. Corpus
    cost: ~|tokens|/stride fingerprint rows (``stride``× fewer than
    per-token n-grams) through the same broadcast equi-join shape as
    :func:`ngram_contamination` — at 100 TB the corpus side stays one
    narrow pass + one keyed agg, benchmark fingerprints broadcast.
    """
    from .text import fingerprint_rows

    bench_fp = (
        fingerprint_rows(
            benchmark, bench_id_col or id_col, bench_text_col or text_col,
            window_tokens, 1,
        )
        .select("fp")
        .distinct()
    )
    corp_fp = fingerprint_rows(
        corpus, id_col, text_col, window_tokens, stride
    ).select(F.col(id_col).alias("doc"), "fp")
    # r17 (guide §2.3 "project/filter before the exchange"): the
    # broadcast bench join is a map-side filter, so running it BEFORE
    # the (doc, fp) distinct means the distinct's exchange carries only
    # MATCHING fingerprint rows (≈0 at scale) instead of the whole
    # ~|tokens|/stride corpus fingerprint relation. distinct∘join ≡
    # join∘distinct for an equi-join on a distinct-key side, so the
    # shared-window count is unchanged.
    hits = (
        corp_fp.join(F.broadcast(bench_fp), "fp")
        .distinct()
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("n_shared_windows"))
    )
    return (
        corpus.select(F.col(id_col).alias("doc"))
        .join(hits, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce(F.col("n_shared_windows"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_windows"),
            (F.coalesce(F.col("n_shared_windows"), F.lit(0)) > 0).alias("contained"),
        )
    )
