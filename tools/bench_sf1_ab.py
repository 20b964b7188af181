"""Same-box back-to-back A/B: bench.py at sf0.1 then at the synthesized
10x set (tools/make_sf1.py), assembled into BENCH_SF1.json (VERDICT r9
item 3; refreshed per VERDICT r11 item 4 when the headline board grows).

The sf0.1 run inside this artifact IS the box normalization — both runs
land within the same session on the same box, so per-line ratios are
box-drift-free. The non-board registry lines of ``SCALE_FAMILIES`` are
timed by ``bench.py <scale lines>`` at both scales, so they follow the
board's sampling rule (deep warm-ups, sub-second and elastic extra runs;
the committed BENCH_SF1.json predates this and timed them with 1 warm-up
+ median of 3), and are judged by the same super-linear criterion.
Timing fixture ONLY — sf0.01 remains the correctness scale and /tmp/sf1
is never oracle-checked.

Usage::

    python tools/make_sf1.py                 # if /tmp/sf1 absent/stale
    python tools/bench_sf1_ab.py             # writes BENCH_SF1.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
SF1_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
SF01_32_DIR = os.environ.get("SPARK_GRAFT_SF01_32_DIR", "/tmp/sf0.1_32")

#: headline lines with a DOCUMENTED designed-linear rationale — a ratio
#: near 10 on these is the expected contract, not a regression (see
#: BENCH_SF1.json "caveats" and PERF.md): semantic_decontam scales BOTH
#: sides of its broadcast-scorer product (corpus x benchmark = 100x
#: pairs by design; the _ann line is the prescribed large-scale path).
DESIGNED_LINEAR = {"b29_semantic_decontam"}

#: every operator family of the retired synthetic 10x smoke, mapped to
#: the registry line whose builder calls the same library function (for
#: inline query shapes: the registry line of that shape). Board lines are
#: timed by the bench.py board run; the rest ("scale lines") by a second
#: bench.py run naming them. None: no registry line carries the family.
SCALE_FAMILIES = {
    "bootstrap_images": "a6_bootstrap",
    "hash_agg": "b10_agg_pricing",
    "window_funcs": "b11_window_funcs",
    "topk_per_group": "b12_topk",
    "snapshot_diff": "b1_snapshot_diff",
    "keyed_sample": "b26_hash_sample",
    "fact_fact_join_agg": "b7_multi_join_revenue",
    "minhash_candidates": "b19_minhash_candidates",
    "decontamination": "b29_decontamination",
    "containment": "b29_containment",
    "repetition_rules": "b21_repetition",
    "mixture_sample": "b28_mixture",
    "dup_clusters": "b19_dup_clusters",
    "tfidf_top_terms": "b21_tfidf",
    "perplexity": "b21_perplexity",
    "bpe_pairs": "b21_bpe_pairs",
    "pmi_pairs": "b30_pmi",
    "temperature_sample": "b28_temperature",
    "kmeans_exact": "b20_kmeans",
    "pq_ann": "b20_pq",
    "prefix_filter_join": "b19_prefix_filter",
    "bpe_encode": "b30_bpe_encode",
    "pagerank": "b30_pagerank",
    "triangles": "b30_triangles",
    "bloom_semi_join": "b7_bloom_join",
    "poisson_bootstrap": "b10_bootstrap",
    "trailing_ewma": "b11_ewma",
    "cdc_chunk_stats": "b18_cdc_chunks",
    "q13_order_distribution": "b8_order_distribution",
    "q17_small_quantity": "b10_small_quantity_revenue",
    "q19_disjunctive": "b5_disjunctive_pushdown",
    "byte_histogram": "b22_byte_histogram",
    "index_compression": "b30_index_compression",
    "linear_counting": "b27_linear_counting",
    "image_resize": "b22_image_resize",
    "image_stats": "b22_image_stats",
    "audio_stats": "b22_audio_stats",
    "frame_extract": "b22_frame_extract",
    "scd2_pit": "b9_scd2_pit",
    "semantic_decontam": "b29_semantic_decontam",
    "semantic_decontam_ann": "b29_semantic_decontam_ann",
    "incremental_decontam": "b29_incremental_decontam",
    "assoc_rules": "b30_assoc_rules",
    "dedup_manifest": "b24_dedup_manifest",
    "rfm_ntile": "b15_rfm",
    "source_kl": "b21_source_kl",
    "phrase_search": "b30_phrase_search",
    "join_view": "b17_join_view",
    "prefix_dup_join": "b19_prefix_dups",
    "cms_build": "b27_cms_heavy_hitters",
    "wedge_link_prediction": "b30_link_prediction",
    "jl_projection": "b20_jl_projection",
    "histogram_sketch": "b24_corpus_v6",
    "span_dups": "b19_span_dups",
    "winnowing": "b21_winnowing",
    "image_patchify": "b22_image_patches",
    "audio_decimate": "b22_audio_decimate",
    "winnow_pair_screen": "b19_winnow_pairs",
    # a selection-density property the smoke asserted, not a timing
    "winnow_density": None,
    "semijoin_program": "b7_semijoin_program",
    "global_shuffle": "b26_global_shuffle",
    "permutation_fdr": "b10_permutation_fdr",
    "label_propagation": "b30_label_propagation",
    "kcenter_greedy": "b28_kcenter_diversity",
    "audio_vad": "b22_audio_vad",
    "kcore": "b30_kcore",
    "bellman_ford": "b30_bellman_ford",
    "symspell": "b30_symspell",
    "audio_fingerprint": "b22_audio_fingerprint",
    "mmr_rerank": "b20_mmr_rerank",
    "stateful_udf": "b23_stateful_udf",
    "map_in_arrow": "b23_map_in_arrow",
    "pps_systematic": "b26_pps_systematic",
    "compaction_cost": "b2_compaction_cost",
    "compaction_cadence": "b2_compaction_cadence",
    "limit_pushdown_audit": "b12_limit_pushdown_audit",
    "mmr_topn": "b20_mmr_topn",
    "source_audit": "b4_source_audit",
    "pushdown_audit": "b5_pushdown_audit",
    "incremental_distinct": "b17_incremental_distinct",
    "shingle_fingerprint": "b18_shingle_fingerprint_dups",
    "gap_repair_manifest": "b4_gap_repair_manifest",
    "partition_pruning": "b5_partition_pruning",
    "incremental_histogram": "b17_incremental_histogram",
    "cast_ledger": "b6_cast_failure_ledger",
    "watermark_gap": "b4_watermark_gap",
    "batch_compaction": "b1_batch_compaction",
    "topk_ties": "b12_topk_ties",
    "incremental_minmax": "b17_incremental_minmax",
    "arrow_parity": "b23_arrow_parity",
    # the unsalted AQE skew-split baseline the salted join was compared to
    "skew_plain_join": None,
    "skew_salted_join": "b7_salted_join",
}


def run_bench(sf_dir: str, *names: str) -> dict:
    """Run ``bench.py [names]`` at ``sf_dir`` in a fresh process: its
    last stdout line (the compact summary), plus the per-line records
    from its ``# lines:`` stderr line under ``lines``."""
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "bench.py"), *names],
        capture_output=True, text=True, cwd=REPO, env=env,
    )
    if proc.returncode != 0:
        raise RuntimeError(
            f"bench.py failed at {sf_dir}: {proc.stderr[-2000:]}"
        )
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    for line in proc.stderr.splitlines():
        if line.startswith("# lines: "):
            summary["lines"] = json.loads(line[len("# lines: "):])
    return summary


def main() -> None:
    if not os.path.isdir(SF1_DIR):
        raise SystemExit(f"{SF1_DIR} missing — run tools/make_sf1.py first")
    # A side: prefer the layout-matched 32-way rewrite of sf0.1 (VERDICT
    # r12 item 6) so both sides share the same file layout; fall back to
    # the shipped single-file fixture if make_sf1.py hasn't produced it
    a_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    layout_matched = False
    if not a_dir:
        if os.path.isdir(SF01_32_DIR):
            a_dir, layout_matched = SF01_32_DIR, True
        else:
            a_dir = "/root/testdata/sf0.1"
    a = run_bench(a_dir)
    print(f"# sf0.1 total {a['value']}s over {len(a['lines'])}", flush=True)
    b = run_bench(SF1_DIR)
    print(f"# sf1 total {b['value']}s over {len(b['lines'])}", flush=True)
    scale_lines = sorted(
        {v for v in SCALE_FAMILIES.values() if v and v not in bench.HEADLINE}
    )
    sa = run_bench(a_dir, *scale_lines)["lines"]
    sb = run_bench(SF1_DIR, *scale_lines)["lines"]
    print(f"# scale lines timed: {len(scale_lines)}", flush=True)
    a_times = {k: v["median"] for k, v in {**a["lines"], **sa}.items()}
    b_times = {k: v["median"] for k, v in {**b["lines"], **sb}.items()}
    ratios = {
        k: round(b_times[k] / max(a_times[k], 1e-6), 3)
        for k in a_times if k in b_times
    }
    super_linear = sorted(
        k for k, r in ratios.items()
        if r > 10 and k not in DESIGNED_LINEAR
    )
    out = {
        "design": (
            "same-box back-to-back A/B: bench.py at sf0.1 then at the "
            "synthesized 10x set (tools/make_sf1.py; key-shifted "
            "replicas, disjoint per-replica doc vocabularies, rotated "
            "embeddings). The sf0.1 run in this artifact IS the box "
            "normalization - both runs back-to-back on the same box "
            "(VERDICT r9 item 3; refreshed for the 60-line board per "
            "VERDICT r11 item 4; A side layout-matched 32-way per "
            "VERDICT r12 item 6)."
        ),
        "a_side_dir": a_dir,
        "layout_matched": layout_matched,
        "caveats": (
            []
            if layout_matched
            else [
                "sf1 fixture is 32-way partitioned parquet vs the A "
                "side's single files, so small-query ratios benefit "
                "from extra scan parallelism; run tools/make_sf1.py to "
                "produce the layout-matched 32-way sf0.1 rewrite "
                "(VERDICT r12 item 6)."
            ]
        )
        + [
            "b29_semantic_decontam is the documented designed-linear "
            "broadcast scorer; BOTH its sides scale 10x here (corpus x "
            "benchmark = 100x pairs) - the ANN-bucketed line "
            "(b29_semantic_decontam_ann) is the prescribed scale path.",
        ],
        "criterion": (
            "no headline query or scale line super-linear (ratio > 10) "
            "vs its sf0.1 time, designed-linear exceptions documented"
        ),
        "families": {
            "board": {f: v for f, v in SCALE_FAMILIES.items()
                      if v in bench.HEADLINE},
            "scale": {f: v for f, v in SCALE_FAMILIES.items()
                      if v in scale_lines},
            "no_registry_line": sorted(
                f for f, v in SCALE_FAMILIES.items() if v is None),
        },
        "super_linear": super_linear,
        "worst_ratio": max(ratios.values()) if ratios else None,
        "worst_line": max(ratios, key=ratios.get) if ratios else None,
        "total_sf01_sec": a["value"],
        "total_sf1_sec": b["value"],
        "total_ratio": round(b["value"] / max(a["value"], 1e-6), 3),
        "ratios": ratios,
        "sf01": a,
        "sf1": b,
        "scale_sf01": sa,
        "scale_sf1": sb,
    }
    with open(os.path.join(REPO, "BENCH_SF1.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps({
        "super_linear": super_linear,
        "worst_ratio": out["worst_ratio"],
        "worst_line": out["worst_line"],
        "total_ratio": out["total_ratio"],
    }))


if __name__ == "__main__":
    main()
