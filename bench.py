"""Line timer — registry lines at $SPARK_GRAFT_SF_DIR.

Usage::

    python bench.py [line ...]      # default: the HEADLINE board

Times each line on ``local[$SPARK_GRAFT_CPUS]`` through the noop sink
(full materialization, no driver collect — measures the plan, not result
transfer). Each line gets ``max(WARMUP_RUNS, DEEP_WARMUP[line])`` untimed
warm-ups, then ``TIMED_RUNS`` timed runs, ``SUBSEC_EXTRA`` more when
their median is under ``SUBSEC_S`` and ``ELASTIC_EXTRA`` more for
``ELASTIC_LINES``; median and min are over the timed runs. The first
warm-up also counts py4j round-trips, split into construction
(``fn(spark, sf_dir)``) and execution (the sink write).

Output: the per-line records on stderr as one ``# lines: {json}`` line,
and ONE compact JSON summary as the last stdout line::

    {"metric": "headline_query_wall_total", "value": <sum of medians>,
     "unit": "sec", "n_queries": ..., "sf": ..., "cpus": ...,
     "runs_per_query": ..., "warmup_runs": ...}

Writes no file.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import sys
import time

import __spark_entry__ as entry
from sqlite_cdc_spark.session import get_spark

#: the headline slice: one representative per operator family
HEADLINE = [
    "a6_bootstrap",            # snapshot→change images (A2/A4/A6)
    "a10_drain_batch",         # ordered log drain (A10)
    "b1_snapshot_diff",        # full-outer diff CDC (B1)
    "b2_log_compaction",       # latest-state window (B2)
    "b3_change_stats",         # change-rate agg (B3)
    "b7_join_enrich",          # broadcast dim joins (B7)
    "b7_multi_join_revenue",   # TPC-H Q5-shape star join (B7 depth)
    "b10_agg_pricing",         # hash agg (B10)
    "b11_window_funcs",        # analytic windows (B11)
    "b12_topk",                # per-group top-k (B12)
    "b18_dedup_exact",         # exact dedup (B18)
    "b19_minhash_candidates",  # MinHash-LSH near-dup, md5 oracle mode (B19)
    "b19_minhash_xxh64",       # same plan, xxhash64 production mode (B19)
    "b19_incremental_index",   # CDC-batch probe of a standing LSH index
    "b19_dup_clusters",        # pairs → components (iterative CC) (B19 depth)
    "b20_cosine_topk",         # vector top-k (B20)
    "b21_lang_quality",        # text analysis (B21)
    "b24_corpus_build",        # composed corpus pipeline (B24 capstone)
    "b25_sql_cte_top_supplier",  # SQL surface: CTE + subquery (B25)
    "b28_training_manifest",   # gate→dedup→sample→split manifest (B28)
    "b28_packing",             # two-phase prefix-sum sequence packing (B28)
    "b29_containment",         # fuzzy windowed-fingerprint decontam (B29 depth)
    "b19_incremental_clusters",  # CDC-batch cluster merge (update_clusters)
    "b28_mixture",             # budget mixture sampling (B28 depth)
    "b28_temperature",         # alpha-sampling temperature mixture (B28 depth)
    "b21_tfidf",               # TF-IDF keyword extraction (B21/B30)
    "b21_bm25",                # BM25 top-k search (B21/B30)
    "b21_perplexity",          # unigram-LM cross-entropy filter (B21/B30)
    "b21_bpe_pairs",           # BPE pair counts over the word-freq dict
    "b30_bigram_xent",         # interpolated bigram-LM scoring (B30 depth)
    "b30_pmi",                 # PMI co-occurrence pairs (B30 depth)
    "b7_shipping_priority",    # TPC-H Q3 shape (B7/B12)
    "b15_funnel",              # sequential funnel over the event stream
    "b24_corpus_v3",           # r5 capstone: gates -> mixture -> packs
    # r6 additions — one line per new heavy family
    "b20_kmeans",              # iterative exact k-means (B20 depth)
    "b20_pq",                  # product-quantization ANN (B20 scale path)
    "b19_prefix_filter",       # exact set-similarity join (B19 depth)
    "b30_pagerank",            # integer PageRank, 3 rounds (B30 graph)
    "b7_bloom_join",           # Bloom semi-join reduction (B7 depth)
    "b30_bpe_encode",          # codegen BPE tokenizer application (B30)
    "b10_bootstrap",           # one-pass Poisson bootstrap CI (B10 depth)
    # r7 additions — one line per new family. b24_dedup_manifest is NOT
    # here: its cost is ~entirely the prefix-filter join the
    # b19_prefix_filter line already measures (a second line would
    # double-count the same kernel in the total).
    "b22_image_resize",        # genuine PPM decode + numpy NN resize (B22)
    "b29_semantic_decontam",   # embedding-space benchmark screen (B29/B20)
    "b15_concurrency",         # sweep-line peak concurrency (B15)
    "b30_assoc_rules",         # session-basket support/confidence/lift (B30)
    # r8 additions — one line per new/newly-benched kernel (VERDICT r7
    # item 8). b24_dedup_manifest stays out: its cost is the
    # prefix-filter join the b19_prefix_filter line already measures.
    "b22_audio_stats",         # genuine PCM s16le decode + screening (B22)
    "b9_scd2_pit",             # SCD2 point-in-time keyed range join (B9)
    "b29_semantic_decontam_ann",  # LSH-bucketed decontam (B29 scale path)
    "b21_source_kl",           # full-vocab smoothed KL grid (B21/B28)
    "b30_phrase_search",       # positional adjacency join (B30)
    "b17_join_view",           # delta-rule join-view maintenance (B17)
    # r9 additions — one line per genuinely new kernel. The statistical
    # screens (gini/chi2/benford/ks/welch/acf) are keyed-agg shapes the
    # b10/b3 lines already measure; the scorecard composes the OOV and
    # fingerprint kernels; kwic rides the phrase-search join.
    "b13_block_digests",       # replica reconciliation: xor block digests
    # r11 additions (VERDICT r10 item 5): the r9/r10 operator families
    # previously absent from round-over-round tracking — one line per
    # genuinely new kernel.
    "b21_winnowing",           # MOSS winnowing selection kernel (B21)
    "b19_winnow_pairs",        # winnowed pair screen, df-capped (B19)
    "b19_span_dups",           # linear span-duplication screen (B19)
    "b30_ppr",                 # personalized PageRank (B30 graph)
    "b27_kmv_sketch",          # KMV distinct sketch + in-row merge (B27)
    "b22_image_patches",       # ViT patchify mapInPandas reshape (B22)
    "b9_nearest_event",        # bidirectional nearest-event join (B9)
    "b24_corpus_v7",           # r10 capstone: five-kernel composite (B24)
    # r12 additions — one line per genuinely new kernel. partition_skew /
    # mann_kendall / changepoint / pareto_frontier are keyed-agg + bounded-
    # window shapes the b10/b11 lines already measure; audio_vad rides the
    # audio mapInPandas family benched by b22_audio_stats.
    "b7_semijoin_program",     # Yannakakis two-pass semi-join reducer (B7)
    "b26_global_shuffle",      # hash-rank global sort permutation (B26)
    "b10_permutation_fdr",     # 33-way explode permutation test + BH (B10)
    "b30_label_propagation",   # 3-round synchronous LPA (B30 graph)
    "b28_kcenter_diversity",   # k x (scan + limit-1 collect) greedy picks
    "b24_corpus_v9",           # r12 capstone: frontier+kcenter+shuffle
    # --- round 13 additions (one line per new execution shape) --------
    "b30_kcore",               # r13 iterative peel w/ per-round ckpts
    "b30_bellman_ford",        # r13 4-table reduce + relax iteration
    "b30_symspell",            # r13 delete-expansion equi-join
    "b22_audio_fingerprint",   # r13 decode + landmark pair screen
    "b20_mmr_rerank",          # r13 k-pick greedy w/ running-max fold
    "b23_stateful_udf",        # r13 applyInPandas state-machine mode
    # --- round 14 additions (one line per new execution shape).
    # b2_compaction_cadence stays out (4x the compaction_cost kernel —
    # a second line would quadruple-count it in the total);
    # b12_limit_pushdown_audit and b6_typed_projection are TakeOrdered/
    # keyed-agg/projection shapes the b12_topk and b10/b6-family lines
    # already measure.
    "b2_compaction_cost",      # r14 liveness-carry + double prefix sum
    "b20_mmr_topn",            # r14 production twin: rel-top50 -> MMR
    # --- round 15 additions. Only the fingerprint screen is a NEW
    # execution shape (per-doc sorted-set md5 aggregation); the other
    # three r15 rows are shapes the board already measures —
    # b4_source_audit = keyed lag + agg (b3/b11 lines),
    # b5_pushdown_audit = pushed scans + counts (every scan line),
    # b17_incremental_distinct = distinct + keyed bottom-k window
    # (b17/b27 lines).
    "b18_shingle_fingerprint_dups",  # r15 shingle-set fingerprint screen
    # --- round 16: no new board lines. All four r16 rows are execution
    # shapes the board already measures — b4_gap_repair_manifest /
    # b17_incremental_histogram = keyed agg + 1-row-broadcast or tiny
    # full-outer join (b3/b10/b17 lines), b5_partition_pruning = pruned
    # scans + counts (every scan line), b6_cast_failure_ledger =
    # scan + 4-literal explode + keyed agg (the b6_image_shape_profile
    # shape). A second line per shape would double-count in the total.
    # --- round 17: one new board line. b23_arrow_parity chains a JVM
    # built-in projection, an Arrow scalar pandas_udf, and mapInArrow
    # in ONE plan — the only Python-UDF line to date is the
    # applyInPandas state machine (b23_stateful_udf), so the scalar
    # Arrow-batched modes had no round-over-round throughput tracking.
    # The other four r17 rows are covered shapes: b4_watermark_gap /
    # b17_incremental_minmax = keyed agg + 1-row/64-row broadcast
    # (b3/b10 lines), b1_batch_compaction = 2x the b1_snapshot_diff
    # full-outer diff + a keyed fold, b12_topk_ties = histogram agg +
    # bounded window (b12_topk / b10 lines).
    "b23_arrow_parity",        # r17 built-in + pandas_udf + mapInArrow pass
]


def _minhash_xxh64(spark, sf_dir):
    """Production-hash twin of b19_minhash_candidates: identical plan
    shape with the default xxhash64 base hash instead of the portable-md5
    oracle mode — benched as its own line so the oracle-mode hash cost is
    visible instead of reading as a round-over-round regression."""
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import dedup
    from sqlite_cdc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    mutated = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + F.lit(200000)).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(mutated)
    pairs = dedup.near_dup_pairs(
        corpus, "doc_id", "text", threshold=0.8, num_hashes=32, bands=8,
        base_hash="xxhash64",
    )
    return pairs.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))


#: bench-only variants not in the driver's queries() registry
EXTRA = {"b19_minhash_xxh64": _minhash_xxh64}

#: CPU-elastic lines: their wall time follows transient CPU contention,
#: not code (the r16/r17 interleaved same-box A/Bs read within-sha
#: pass-to-pass medians up to 1.79x apart on 3-run samples; PERF.md
#: Round 17), so they take ``ELASTIC_EXTRA`` more timed runs and their
#: median spans more box states.
ELASTIC_LINES = {
    "b19_prefix_filter",
    "b20_kmeans",
    "b20_cosine_topk",
    "b28_packing",
    "b29_containment",
    "b22_audio_stats",
}

#: Per-line deep-warm-up overrides (r16). b1_snapshot_diff's JIT/codegen
#: tail is 4-5 EXECUTIONS deep, not 1 (measured back-to-back same box,
#: fresh JVM: [3.63 w, 1.181, 0.955, 0.818, 0.803, 0.808] — runs 2-3 are
#: still 18-46% above steady state), so with the global 1-warm-up policy
#: a 3-run median can land entirely inside the tail while never dipping
#: under the 1.0 s extra-runs threshold — the r14 cold-median artifact
#: at smaller amplitude (this round's companion b1 series [1.387, 1.087,
#: 1.104] read 1.69x vs r15 on byte-identical code; steady state on the
#: same box minutes later: 0.81 s).
#:
#: r17: b20_cosine_topk and b28_packing are the same failure class —
#: their A/B series are still descending 4-5 executions deep
#: (b20 fresh-JVM: [9.33 w, 5.14, 4.13, 3.96, 1.74, 2.96] one leg,
#: [2.84 w, 0.97, 0.86, 0.71, 0.67, 0.59] another — steady state
#: ~0.6-0.7 s; b28: [5.63 w, 1.96, 1.87, 1.33, 0.84, 0.80] → ~0.6-0.8
#: s), so a 1-warm-up 3-run median lands inside the tail whenever the
#: box starts them cold — the r16 DRIVER board's 2.31x / 1.76x
#: readings on byte-identical code.
DEEP_WARMUP = {
    "b1_snapshot_diff": 3,
    "b20_cosine_topk": 3,
    "b28_packing": 3,
    # r18: same pattern, caught by the interleaved A/B that cleared the
    # r17 "untouched >1.3x" flags — raw traces b30_bpe_encode
    # [4.87, 1.35, 1.31, 1.10, 1.01, ...] and b30_assoc_rules
    # [3.83, 1.64, 1.43, 1.17, 0.98, ...]: a 3-sample JIT tail that a
    # 1-warm-up 3-run median lands inside whenever the board starts
    # them cold (both lines flapped across r16/r17 driver boards on
    # byte-identical code).
    "b30_bpe_encode": 3,
    "b30_assoc_rules": 3,
}

#: Untimed warm-up runs per line (``DEEP_WARMUP`` raises it per line):
#: run 1 of a line pays JIT/codegen cold start, up to 3x its steady state.
WARMUP_RUNS = 1
#: Timed runs per line; the median pins the signal against scheduling noise.
TIMED_RUNS = 3
#: Sub-second lines flap hardest (r6: b28_mixture's [0.43, 0.88, 0.31]
#: read as a fake 1.6x regression): when the median of the first
#: ``TIMED_RUNS`` is under ``SUBSEC_S``, ``SUBSEC_EXTRA`` runs widen it.
SUBSEC_S = 1.0
SUBSEC_EXTRA = 2
#: Extra timed runs for ``ELASTIC_LINES``.
ELASTIC_EXTRA = 4


def warm_up(spark) -> None:
    """Warm the JVM and the Python worker pool before any timed run: the
    first mapInPandas pays worker fork + numpy/Arrow imports pool-wide,
    which used to land on whichever UDF line ran first (b22_audio_stats
    driver runs spread 0.86-8.71 s)."""
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    def _warm_workers(batches):
        import numpy as np  # noqa: F401 — force the heavy imports

        for b in batches:
            yield b

    (
        spark.range(64, numPartitions=32)
        .mapInPandas(_warm_workers, "id long")
        .write.format("noop").mode("overwrite").save()
    )


@contextlib.contextmanager
def _py4j_counter():
    """Count py4j round-trips (``ClientServerConnection.send_command``
    calls, pinned-thread mode — the PySpark default) inside the block.
    The release commands py4j sends for garbage-collected ``JavaObject``s
    are not counted: they follow the GC's timing, not the line's code.
    The hook is removed on exit, so only the runs inside it carry it."""
    from py4j import protocol
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    calls = [0]
    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME

    def counting(conn, command, *a, **kw):
        if not command.startswith(release):
            calls[0] += 1
        return orig(conn, command, *a, **kw)

    ClientServerConnection.send_command = counting
    try:
        yield calls
    finally:
        ClientServerConnection.send_command = orig


def _run(spark, fn, sf_dir, calls=(0,)) -> tuple[float, float, int, int]:
    """One run of a line through the noop sink: (construction seconds,
    total seconds, construction py4j calls, execution py4j calls). The
    call counts read ``calls``, the counter ``_py4j_counter`` yields."""
    c0, t0 = calls[0], time.perf_counter()
    df = fn(spark, sf_dir)
    c1, t1 = calls[0], time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return t1 - t0, time.perf_counter() - t0, c1 - c0, calls[0] - c1


def _median(xs):
    xs = sorted(xs)
    return xs[len(xs) // 2]


def time_lines(spark, names, sf_dir) -> dict[str, dict]:
    """Time each named line (registry or ``EXTRA``) by the sampling rule
    in the module docstring. Per line: ``runs`` (every total, warm-ups
    included), ``median`` and ``min`` of the timed totals, ``build_s``
    (median construction seconds over the timed runs) and
    ``py4j_build``/``py4j_exec`` (first warm-up run only)."""
    builders = {**entry.queries(), **EXTRA}
    out: dict[str, dict] = {}
    for name in names:
        fn = builders[name]
        warm = max(WARMUP_RUNS, DEEP_WARMUP.get(name, 0))
        with _py4j_counter() as calls:
            first = _run(spark, fn, sf_dir, calls)
        runs = [first] + [
            _run(spark, fn, sf_dir) for _ in range(warm - 1 + TIMED_RUNS)
        ]
        if _median(round(r[1], 3) for r in runs[warm:]) < SUBSEC_S:
            runs += [_run(spark, fn, sf_dir) for _ in range(SUBSEC_EXTRA)]
        if name in ELASTIC_LINES:
            runs += [_run(spark, fn, sf_dir) for _ in range(ELASTIC_EXTRA)]
        totals = [round(r[1], 3) for r in runs]
        timed = totals[warm:]
        out[name] = {
            "runs": totals,
            "median": _median(timed),
            "min": min(timed),
            "build_s": round(_median(r[0] for r in runs[warm:]), 3),
            "py4j_build": first[2],
            "py4j_exec": first[3],
        }
        print(f"# {name}: {out[name]['median']}s {totals}", file=sys.stderr)
    return out


def main(argv: list[str] | None = None) -> None:
    names = (sys.argv[1:] if argv is None else argv) or HEADLINE
    unknown = sorted(set(names) - set(entry.queries()) - set(EXTRA))
    if unknown:
        raise SystemExit(f"unknown line(s): {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    spark = get_spark("bench")
    warm_up(spark)
    lines = time_lines(spark, names, sf_dir)
    print(f"# lines: {json.dumps(lines)}", file=sys.stderr)
    print(json.dumps({
        "metric": "headline_query_wall_total",
        "value": round(sum(r["median"] for r in lines.values()), 3),
        "unit": "sec",
        "n_queries": len(lines),
        "sf": float(m.group(1)) if m else -1.0,
        "cpus": spark.sparkContext.defaultParallelism,
        "runs_per_query": TIMED_RUNS,
        "warmup_runs": WARMUP_RUNS,
    }))


if __name__ == "__main__":
    main()
