"""Physical-plan regression tests (PERF.md audit, frozen).

The scale properties aren't just measured once — they're asserted, so a
refactor that silently drops a broadcast, un-pushes a filter, or
introduces a cartesian product fails CI.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry


def _plan(spark, sf_dir, name: str) -> str:
    df = entry.queries()[name](spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_snapshot_pages_are_topk_not_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a2_snapshot_first_page")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_keyset_predicate_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a3_keyset_page")
    # the leading-key bound reaches the scan (the struct tuple compare
    # itself is not pushable — see snapshot_next_page docstring)
    assert "GreaterThanOrEqual(l_orderkey" in plan


def test_bootstrap_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "a6_bootstrap")
    assert "Exchange" not in plan


def test_dim_joins_broadcast(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b7_join_enrich")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims must not shuffle the fact side


def test_agg_filter_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_agg_pricing")
    assert "LessThanOrEqual(l_shipdate" in plan
    # column pruning: unused lineitem columns never reach the scan
    assert "l_partkey" not in plan.split("ReadSchema")[1][:400]


def test_near_dup_has_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b19_minhash_candidates")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_lsh_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_ann_lsh")
    assert "CartesianProduct" not in plan


def test_cosine_topk_broadcasts_queries(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_cosine_topk")
    # query side is broadcast by construction; corpus is never shuffled
    # except the final per-query top-k exchange
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_star_join_broadcasts_dims_and_pushes_filters(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b7_multi_join_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # dims never shuffle the fact side
    # both selective predicates reach their parquet scans
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "EqualTo(r_name,ASIA)" in plan


def test_unpivot_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_unpivot")
    # melt is a pure narrow map: Expand node, zero exchanges
    assert "Expand" in plan
    assert "Exchange" not in plan


def test_pivot_is_single_aggregate_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_pivot")
    # explicit pivot values: no eager distinct job, no join, just hash agg
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "HashAggregate" in plan


def test_exists_subquery_is_semi_join_with_pushdown(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b25_sql_exists")
    # Catalyst rewrites EXISTS to a (broadcast) semi join — never a
    # per-row subquery, never a cartesian
    assert "CartesianProduct" not in plan
    assert "GreaterThan(l_quantity,45.0)" in plan


def test_ann_ivf_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_ann_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stats_agg_is_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_stats_agg")
    # power sums: one partial+final hash agg, no join, no window
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_training_manifest_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b28_training_manifest")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_broadcasts_bench_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b29_decontamination")
    # the bench gram set must broadcast; the only BroadcastNestedLoopJoin
    # allowed is the deliberate 1-row bench0 plant replication
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_pii_scrub_is_shuffle_free(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_pii_scrub")
    # pure regexp chain: narrow map, zero exchanges
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_repetition_no_cartesian_two_agg_passes(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_repetition")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_ann_recall_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_ann_recall")
    # candidate generation is an equi-join on bucket; only the exact-topk
    # reference (4 queries) broadcasts
    assert "CartesianProduct" not in plan


def test_mixture_sample_broadcasts_rates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b28_mixture")
    # the per-group rate table joins back via broadcast: the corpus side
    # is never shuffled for the join (its only Exchange feeds the tiny
    # totals agg)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_containment_broadcasts_bench_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b29_containment")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_top_tokens_is_window_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_top_tokens")
    # per-lang top-k = partial+final hash agg then a per-group window;
    # no global range sort of the token counts
    assert "Exchange rangepartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_salted_join_no_shuffle_of_salt_range(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b7_salted_join")
    # the salt range replicates via broadcast nested loop (8 rows), the
    # data join itself is a hash join on (key, salt)
    assert "CartesianProduct" not in plan


def test_perplexity_broadcasts_model_scalars_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_perplexity")
    # model totals (T, V) arrive as a broadcast 1-row aggregate; the model
    # join on tok is a hash join; no cartesian anywhere
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_bm25_filters_terms_before_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_bm25")
    # the literal term filter must reach below the aggregation: the scored
    # relation is |matching docs x terms|, never the whole token relation
    assert "tok#" in plan and " IN (merge,join,batch)" in plan.replace("'", "")
    assert "CartesianProduct" not in plan


def test_bpe_pairs_counts_over_vocab_not_corpus(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b21_bpe_pairs")
    # two agg passes (word count, then pair count over distinct vocab);
    # the char-level Generate must sit ABOVE the first aggregate, i.e.
    # chars explode from the vocab rows, not from the raw corpus
    assert plan.count("HashAggregate") >= 4  # partial+final x 2 passes
    assert "CartesianProduct" not in plan


def test_temperature_rates_broadcast_back(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b28_temperature")
    # same contract as mixture: the rate table broadcast-joins back; the
    # corpus filter is a narrow map over the integer hash bucket
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pmi_no_cartesian_and_window_leads(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b30_pmi")
    # pair emission is posexplode + window leads (codegen), unigram joins
    # are hash joins, P/T broadcast — no cartesian, no HOF lambdas
    assert "CartesianProduct" not in plan
    assert "WindowExec" in plan or "Window" in plan


def test_inverted_index_single_distinct_agg_chain(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b30_inverted_index")
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_incremental_lm_is_batch_bounded_outer_merge(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b30_incremental_lm")
    # the merge is a keyed outer join of (tok,cnt) against batch deltas —
    # no cartesian, no global sort; delta side aggregates before joining
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan or "full_outer" in plan.lower()


def test_shipping_priority_broadcasts_dim_and_pushes_dates(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b7_shipping_priority")
    # customer segment filter broadcasts; both date predicates reach the
    # scans as pushed filters
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters" in plan and "o_orderdate" in plan
    assert "CartesianProduct" not in plan


def test_large_orders_having_prejoin(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_large_orders")
    # the HAVING filter applies to the aggregate BEFORE the join back
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial+final on the fact


def test_funnel_is_keyed_aggs_no_stream_window(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b15_funnel")
    # three sequential keyed aggs; no window over the whole event stream,
    # no cartesian (the three 1-row counts cross-join via broadcast)
    assert "WindowExec" not in plan
    assert "CartesianProduct" not in plan


def test_cohorts_broadcast_assignment(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b15_cohorts")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_corpus_v3_no_cartesian_no_global_sort_of_corpus(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b24_corpus_v3")
    assert "CartesianProduct" not in plan
    # the only single-partition window allowed is the per-bucket totals
    # prefix sum (one row per bucket); the corpus itself is never
    # range-partitioned for a global sort
    assert "Exchange rangepartitioning" not in plan
    # r7 regression pin: the survivor manifest is localCheckpoint-ed
    # before the double-scanning temperature mixture (the r6 bench
    # regression was this checkpoint missing — the whole curation
    # pipeline re-executed per mixture scan). The checkpoint surfaces
    # as an ExistingRDD scan boundary in the plan.
    assert "ExistingRDD" in plan


def test_mean_pool_partial_final_agg(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_mean_pool")
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_sessionize_single_shuffle_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b15_sessionize")
    assert "CartesianProduct" not in plan
    # both window passes (lag + running sum) share one user_id sort
    assert plan.count("Exchange hashpartitioning(user_id") <= 1


def test_range_frame_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b11_range_frame")
    assert "CartesianProduct" not in plan


def test_source_overlap_keyed_by_fingerprint(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b19_source_overlap")
    assert "CartesianProduct" not in plan


def test_pair_dataset_no_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b19_pair_dataset")
    # negatives use bucket-PARTITIONED ranks; no range partitioning of
    # the corpus for a global derangement
    assert "CartesianProduct" not in plan


def test_filtered_agg_single_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b10_filtered_agg")
    assert "Join" not in plan  # one agg pass, no self-joins
    assert plan.count("HashAggregate") >= 2  # partial+final


def test_prefix_filter_broadcast_policy_is_explicit_and_parameterised(
    spark, sf_dir, monkeypatch
):
    """The gram-frequency relation is broadcast while the input's planned
    size is under PREFIX_BCAST_MAX_BYTES — an EXPLICIT decision from a
    size (2 fewer corpus-sized exchanges), unlike the r6 failure where
    Catalyst's static post-agg estimate broadcast it by accident. Above
    the bound (here: a bound of 0) the shuffle form must return with NO
    broadcast of the vocab relations. Accidental nested-loop/cartesian
    shapes stay banned in both forms."""
    from sqlite_cdc_spark.pipeline import dedup

    plan = _plan(spark, sf_dir, "b19_prefix_filter")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    monkeypatch.setattr(dedup, "PREFIX_BCAST_MAX_BYTES", 0)
    plan = _plan(spark, sf_dir, "b19_prefix_filter")
    assert "BroadcastHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_shingle_relation_stays_lazy(spark, sf_dir):
    """The r14 negative result frozen: a localCheckpoint on the shingle
    relation wins at sf0.1 (5.04 s → 3.39 s) but pins corpus×shingles
    rows in unified memory and the 10× smoke's dedup_manifest composite
    OOMs building its verify-join hash maps (reproduced in isolation at
    600k docs; DISK_ONLY persist survives but materializes a
    corpus-sized intermediate per invocation — wrong at the 100 TB
    target). A checkpointed/persisted shingle relation would appear as
    Scan ExistingRDD / InMemoryTableScan in the plan; the lazy design
    re-reads parquet per consumer instead."""
    plan = _plan(spark, sf_dir, "b19_prefix_filter")
    assert "Scan ExistingRDD" not in plan
    assert "InMemoryTableScan" not in plan


def test_bloom_probe_is_pure_narrow_filter(spark, sf_dir):
    # r7: the probe inlines the collected <=1 KB bitmap as a literal word
    # array, so the kept-side plan is a codegen Filter over the scan —
    # NO join, NO shuffle, NO synthetic row id (r6 advice: the old
    # monotonically_increasing_id two-branch join could mis-join under
    # nondeterministic task order)
    from sqlite_cdc_spark import derive
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    dim = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    bloom = derive.bloom_build(dim, "c_custkey")
    kept = derive.bloom_probe(orders, bloom, "o_custkey")
    plan = kept._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "Join" not in plan
    assert "Exchange" not in plan


def test_kmeans_assignment_is_narrow(spark, sf_dir):
    # final assignment = codegen map over the quantized base + one
    # window for cluster sizes; no join anywhere in the returned plan
    plan = _plan(spark, sf_dir, "b20_kmeans")
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_pq_scoring_joins_on_subspace_code(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b20_pq")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ewma_is_single_window_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b11_ewma")
    # one shuffle (the user_id window partitioning), no joins
    assert plan.count("Exchange") <= 2  # hashpartitioning (+AQE shuffle read)
    assert "Join" not in plan


def test_bpe_encode_stays_jvm_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "b30_bpe_encode")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan  # merges are literal replaces — codegen


def test_r7_additions_no_cartesian(spark, sf_dir):
    # round-7 rows: nothing may plan a cartesian product; the only
    # nested-loop join allowed is a BROADCAST one (scalar plumbing or
    # the deliberately-broadcast benchmark product in semantic decontam)
    for name in (
        "b9_scd2_pit",
        "b24_dedup_manifest",
        "b29_semantic_decontam",
        "b3_fk_integrity",
        "b20_centroid_drift",
        "b10_mad_outliers",
        "b7_nation_volume",
        "b10_profit_by_nation_year",
        "b10_promo_share",
        "b8_supplier_part_types",
        "b19_blocking_quality",
        "b19_lsh_quality",
        "b29_incremental_decontam",
        "b22_image_resize",
        "b22_image_stats",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_scd2_pit_range_join_is_keyed_not_nested_loop(spark, sf_dir):
    # the PIT join carries a range condition, but the user_id equality
    # must anchor it as a hash/sort-merge join — a nested-loop over the
    # event stream would be corpus x versions at scale
    plan = _plan(spark, sf_dir, "b9_scd2_pit")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_semantic_decontam_broadcasts_only_benchmark(spark, sf_dir):
    # the corpus side must never shuffle for the scoring product — the
    # benchmark relation broadcasts; the only exchange is the per-vector
    # top-1 window
    plan = _plan(spark, sf_dir, "b29_semantic_decontam")
    # formatted plans mention the node in the tree AND the details
    # section — assert presence + absence of any shuffled join
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


#: Queries whose unpartitioned (global) windows are audited as running
#: over deliberately CONTRACTED relations — bounded not by a limit node
#: but by the algebra upstream. Every entry must name its bound:
_GLOBAL_WINDOW_BOUNDED_OK = {
    # cumulative rank-edge window over the distinct-value histogram
    # (bounded by value cardinality; derive.psi_drift documents the
    # approx_percentile swap when cardinality itself is unbounded) +
    # the B-row bucket relation
    "b3_psi",
    "b10_woe_iv",
    # distributed_ntile phase 2 (r8): the |partitions|-row offsets
    # relation — the per-user ntile itself is range-partitioned now
    "b15_rfm",
    # cumulative/lag windows over the |days|-row daily relation
    "b3_changepoint",
    "b15_concurrency",
    "b3_anomaly",
    "b11_cumulative_distinct",
    # prefix_sum phase 2: the per-bucket offsets relation (n/4096
    # rows; sampling.prefix_sum documents the contraction)
    "b28_packing",
    "b28_curriculum",
    "b24_corpus_v3",
    "b28_pack_efficiency",
    "b24_corpus_v5",
    # share-of-total over the |nations|-row aggregate
    "b10_share_of_total",
    # running sum over the 10-row decile relation
    "b21_heaps_curve",
    # row_number over the |sources|-row distinct relation
    "b26_interleave",
    # r9: distributed_row_number/ntile phase 2 with no partition cols —
    # the offsets window runs over the |partitions|-row count relation
    "b10_gini",
    "b28_length_buckets",
    # r9: lag/cumulative windows over the |days|-row daily relation and
    # the |$1000-buckets|-row price-bucket relation
    "b15_acf",
    "b10_ks_screen",
    # r9 wave 3: remainder-rank window over the |sources|-row aggregate
    "b28_budget_allocation",
    # r9 wave 7: cumulative window over the rank<=10 retrieved relation
    # (bounded by bm25_search's top-k filter, not a limit node)
    "b30_rank_eval",
    # r9 wave 7: descending risk-set cumulative over the per-user stream
    # contracted to the |lifetime-days| relation (the b15_acf rule)
    "b15_hazard",
    # r12: Lorenz rank + prefix windows over the 32-row bucket relation
    "b13_partition_skew_audit",
    # r12: BH rank/max windows over the m-row (|event types|) family
    # table of the permutation test
    "b10_permutation_fdr",
    # r12: distributed_row_number phase 2 with no partition cols — the
    # offsets window runs over the |partitions|-row count relation (the
    # b10_gini rule); the corpus-scale rank itself is range-partitioned
    "b26_global_shuffle",
    "b24_corpus_v9",
    # r13: distributed_prefix_sum phase 2 — the offsets window runs
    # over the |partitions|-row totals relation (the b10_gini rule);
    # the cumulative-weight line itself is range-partitioned
    "b26_pps_systematic",
    # r14: two distributed_prefix_sum passes over the epoch grid — the
    # offsets windows run over the |partitions|-row totals relation,
    # and the grid itself is <= max_id/epoch_size rows by construction
    # (derive.compaction_cost documents the contraction)
    "b2_compaction_cost",
    # r14: the cadence sweep runs the same prefix-sum pair once per
    # operating point — same epoch-grid bound at each cadence
    "b2_compaction_cadence",
}


def test_no_unpartitioned_window_over_unbounded_input(spark, sf_dir):
    """VERDICT r7 item 2 — pin the CLASS, not just the two instances
    (b7_skew_diagnosis / b7_shipping_priority): an unpartitioned
    WindowExec serializes its whole input through ONE task, so every
    such node in every registered query must sit above a limit
    (TakeOrderedAndProject / GlobalLimit / CollectLimit bounds its
    input to k rows) or belong to a query on the audited
    _GLOBAL_WINDOW_BOUNDED_OK list, where the bound is algebraic and
    documented."""
    import __spark_entry__ as se
    from tools.scan_windows import unpartitioned_windows

    bad = []
    for name, fn in se.queries().items():
        if name in _GLOBAL_WINDOW_BOUNDED_OK:
            continue
        df = fn(spark, sf_dir)
        for _node, bounded in unpartitioned_windows(df):
            if not bounded:
                bad.append(name)
    assert not bad, f"unpartitioned WindowExec over unbounded input: {sorted(set(bad))}"


def test_semantic_decontam_ann_no_corpus_benchmark_product(spark, sf_dir):
    # VERDICT r7 item 6: the bucketed variant's candidates must come
    # from the (table, bucket) equi-join — never a corpus x benchmark
    # product (no nested-loop, no cartesian anywhere in the plan)
    plan = _plan(spark, sf_dir, "b29_semantic_decontam_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_dups_candidates_from_equi_join(spark, sf_dir):
    # r9 wave 5: truncation-dup candidates must come from the 24-char
    # block-key equi-join — never an all-pairs product over documents
    plan = _plan(spark, sf_dir, "b19_prefix_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jl_projection_stays_keyed(spark, sf_dir):
    # r9 wave 5: the 64->16 JL projection is an equi-join on the in-dim
    # plus keyed aggs, and the projected-dot scoring is a broadcast
    # HASH join on the out-dim. The ONLY nested-loop is the exact
    # cosine side's deliberate 4-probe broadcast (cosine_topk's
    # documented plan) — the projected side must never add another.
    import re

    plan = _plan(spark, sf_dir, "b20_jl_projection")
    assert "CartesianProduct" not in plan
    # formatted plans name each node in the tree AND a "(n) Node"
    # details header — count the headers to count the NODES
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) == 1


def test_cms_counters_contract_before_explode(spark, sf_dir):
    # r9 wave 5: the CMS query must aggregate the event stream to the
    # |users| relation BEFORE the 4-row stack explode — the generator
    # may never sit directly on the events scan
    import __spark_entry__ as se

    df = se.queries()["b27_cms_heavy_hitters"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the plan has exactly two Generate(stack) nodes (counters + the
    # 10-row candidate read-back); each must consume an aggregate, not
    # the raw scan — assert by checking a HashAggregate appears below
    # every Generate in the tree string
    segments = plan.split("Generate ")
    assert len(segments) >= 3
    for seg in segments[1:]:
        assert "HashAggregate" in seg, "stack explode sits on a raw scan"


def test_link_prediction_wedge_is_equi_join(spark, sf_dir):
    # r9 wave 9: the wedge join must be keyed on the shared part (hash
    # or broadcast-hash — AQE's call), never an all-pairs product; the
    # only unpartitioned window sits above the top-20 limit
    plan = _plan(spark, sf_dir, "b30_link_prediction")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_corpus_v6_composes_without_products(spark, sf_dir):
    # r9 capstone: prefix-dup candidates from the block-key equi-join,
    # sketch/percentile legs keyed — no cartesian or nested-loop
    # anywhere in the composed plan
    plan = _plan(spark, sf_dir, "b24_corpus_v6")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_triplet_mining_ann_no_anchor_broadcast_product(spark, sf_dir):
    # VERDICT r9 item 6: the scaled triplet miner's candidates must come
    # from the (table, bucket) equi-join — anchors are unbounded in
    # production, so no anchors x corpus nested-loop/cartesian anywhere
    # (the broadcast variant b20_triplet_mining keeps its deliberate
    # 8-anchor nested loop; this one must have NONE)
    plan = _plan(spark, sf_dir, "b20_triplet_mining_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hubness_ann_no_probe_broadcast_product(spark, sf_dir):
    # r10 wave 2: probes are unbounded in production — candidates must
    # come from the (table, bucket) equi-join, no nested-loop/cartesian
    plan = _plan(spark, sf_dir, "b20_hubness_ann")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def _subtree(lines: list[str], i: int) -> list[str]:
    """The lines of a tree-string node's subtree (deeper-indented lines
    that follow it)."""

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    out = []
    for ln in lines[i + 1 :]:
        if depth(ln) <= depth(lines[i]):
            break
        out.append(ln)
    return out


@pytest.mark.parametrize(
    "consumer",
    [
        "ann_lsh_portable",
        "semantic_contamination_bucketed",
        "triplet_mining_ann",
        "hubness_ann",
        "ann_topk_lsh",
    ],
)
def test_lsh_flip_probes_explode_once_on_the_probe_side(spark, sf_dir, consumer):
    # the corpus is hashed once and never multiplied: every Generate that
    # explodes the one-bit-flip probe array reads the probe relation
    # (rows from a local list, a LogicalRDD here), never the corpus scan,
    # and a run executes exactly one of them (triplet mining plans its
    # candidates twice, for the positive and the negative leg, and reuses
    # the exchange)
    import re

    from sqlite_cdc_spark.pipeline import similarity
    from sqlite_cdc_spark.sources import load_table

    corpus = load_table(spark, sf_dir, "embeddings")
    probes = spark.createDataFrame(
        corpus.filter("vec_id < 4").collect(), corpus.schema
    )
    df = getattr(similarity, consumer)(corpus, probes)
    lines = df._jdf.queryExecution().optimizedPlan().treeString().splitlines()
    scan = re.compile(r"Relation \[.*\] parquet")
    assert any(scan.search(ln) for ln in lines)
    flip = "Generate explode(array(bucket"
    flips = [i for i, ln in enumerate(lines) if flip in ln]
    assert flips
    for i in flips:
        below = _subtree(lines, i)
        assert any("LogicalRDD" in ln for ln in below)
        assert not any(scan.search(ln) for ln in below)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    final = final.split("== Final Plan ==")[1].split("== Initial Plan ==")[0]
    assert final.count(flip) == 1


def test_span_dups_is_linear_no_pair_join(spark, sf_dir):
    # r10 wave 2: the span-duplication screen must stay linear — one
    # fp-keyed agg joined back (never broadcast: window vocabulary is
    # corpus-sized), no pairwise doc x doc join anywhere
    plan = _plan(spark, sf_dir, "b19_span_dups")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_weighted_sample_is_takeordered_not_sort(spark, sf_dir):
    # r10: the A-ES sample's global top-k must be per-partition heaps +
    # a driver merge, never a whole-corpus range-partitioned sort
    plan = _plan(spark, sf_dir, "b26_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_kmv_global_row_is_bounded(spark, sf_dir):
    # r10 wave 4: the '__ALL__' row's 16-smallest must come from
    # TakeOrdered limits, and nothing in the plan may cartesian beyond
    # the two documented 1-row aggregate cross joins
    plan = _plan(spark, sf_dir, "b27_kmv_sketch")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_modularity_and_v7_no_cartesian(spark, sf_dir):
    for name in ("b30_modularity", "b24_corpus_v7"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_driver_materialization_policy():
    """r10: the 'nothing collects an unbounded relation' policy the r9
    verdict audited by hand is now machine-enforced — every real
    .collect()/.toPandas()/.toLocalIterator() call in the engine and
    registry sources must sit in this allowlist, each entry documenting
    why the collected relation is bounded. A new unaudited call fails
    here until its boundedness is argued and listed."""
    import sys

    sys.path.insert(0, "tools")
    import scan_collect

    ALLOW = {
        # per-batch delivery IS the sink contract (handler receives rows)
        "sqlite_cdc_spark/sinks.py": 4,
        # keyset-pagination parity mode: single-node by definition,
        # each page <= batch_size rows
        "sqlite_cdc_spark/bootstrap.py": 2,
        # CLI --search result print: top-k rows
        "sqlite_cdc_spark/cli.py": 1,
        # bloom bitmap words: <= n_words rows (~1 KB), guarded by m_bits
        "sqlite_cdc_spark/derive.py": 1,
        # ordered drain generator: hands bounded pages to a consumer
        "sqlite_cdc_spark/log.py": 1,
        # similarity: IVF train sample (limit(sample_size)), d x d
        # covariance + d-row means, k seed centroids + k x d centroid
        # readback per k-means round, k-center seed + per-pick limit(1)
        # readback (k x d components, never |rows| — the k-means
        # centroid-literal pattern), and the r13 MMR twin: query-vector
        # readback + per-pick limit(1) argmax (again k x d components,
        # never |rows|)
        "sqlite_cdc_spark/pipeline/similarity.py": 9,
    }
    counts: dict = {}
    for rel, _line in scan_collect.scan():
        counts[rel] = counts.get(rel, 0) + 1
    assert counts == ALLOW, (
        f"driver-materialization sites changed: {counts} != {ALLOW}; "
        "audit the new call's boundedness and update the allowlist"
    )


def test_winnow_pairs_fp_self_join_is_df_capped(spark, sf_dir):
    # VERDICT r10 item 4: the pair screen must never self-join raw
    # postings — the df<=64 filter (winnow_pair_screen's hot-fp cap)
    # has to sit between the per-fp count agg and the pair join, so a
    # refactor that drops the cap re-opens the O(postings²) skew hole
    plan = _plan(spark, sf_dir, "b19_winnow_pairs")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "__df" in plan and "64" in plan, "hot-fp df cap missing from plan"


def test_r11_heavy_additions_no_cartesian(spark, sf_dir):
    # r11 wave queries whose candidate/term/walk joins must stay keyed:
    # DSIR's vocab term join, corpus_v8's composition, the LSH
    # operating-point's two kernels, silhouette's n·k·d distance join,
    # hash walks' per-step adjacency joins, merkle's digest joins.
    # (Deliberate bounded products are NOT here: matryoshka broadcasts
    # probes by contract; ablation_grid / two_proportion cross tiny
    # aggregate relations.)
    for name in (
        "b19_lsh_operating_point",
        "b20_silhouette",
        "b13_merkle_diff",
        "b19_winnow_pairs",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    # bounded-by-construction products stay: DSIR / corpus_v8 carry the
    # documented 1-row totals broadcast (the source_kl idiom) and
    # hash_walks fans 8 seeds x 4 walkers; the unbounded-product check
    # still holds, and every DATA-side join above is keyed
    for name in ("b28_dsir_weights", "b24_corpus_v8", "b30_hash_walks"):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_r12_heavy_additions_no_cartesian(spark, sf_dir):
    # r12 wave queries whose joins must stay keyed: the semi-join
    # reducer chain, LPA's per-round label joins, corpus_v9's
    # frontier/bucket/order composition, the FDR explode-agg, and the
    # Mann-Kendall day-grid pair join (bounded, but must be an
    # equi-join on event_type, not a product).
    for name in (
        "b7_semijoin_program",
        "b30_label_propagation",
        "b24_corpus_v9",
        "b10_permutation_fdr",
        "b10_mann_kendall",
        "b28_pareto_frontier",
        # wave 4: the probe sweep's (cell) equi-join (the only
        # nested-loop allowed is cosine_topk's deliberate 4-probe
        # broadcast), the incremental frontier's keyed sweep, and the
        # delta audit's bucket-partitioned windows
        "b20_ivf_probe_sweep",
        "b17_incremental_frontier",
        "b13_delta_encoding",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


# --- iterative-plan join budgets (VERDICT r12 item 2) ------------------
# The LPA double-reference hazard (42 joins in the 3-round lazy plan vs
# the expected ~9 — fixed by per-round checkpoints, commit de6ad9c) was
# caught by eye; this pins the class by machine. Each budget is the
# operator's documented per-round join shape × its fixed iteration
# count, counted as raw node-name occurrences in the FORMATTED plan
# (each physical node prints twice there: once in the tree, once in the
# details section — the budgets below are therefore 2× the join count).
# A dropped checkpoint or a double-referenced loop frame multiplies the
# count severalfold, so a tight ceiling catches it.
_JOIN_NODES = (
    "SortMergeJoin",
    "BroadcastHashJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)

_ITERATIVE_JOIN_BUDGETS = {
    # INTERMEDIATE rounds' labels checkpointed; r18: the final round
    # pipelines uncheckpointed (single consumer), so its one propagation
    # join survives in the plan
    "b30_label_propagation": 2,
    # 3 rounds × (ranks⋈outdeg + e⋈shares + nodes⋈inflow) = 9 joins
    "b30_pagerank": 18,
    # pagerank shape + seed-teleport joins = 10 joins
    "b30_ppr": 20,
    # frontier legs are lazily checkpointed LogicalRDDs: only the last
    # hop's expand + anti-join survive in the plan = 2 joins
    "b30_bfs_hops": 4,
    # 2 power rounds + the final auth1 re-join = 3 joins
    "b30_hits": 6,
    # r13: INTERMEDIATE rounds' edges checkpointed (stats branch + next
    # round both consume them); r18: the final round is single-consumer
    # and pipelines uncheckpointed, so its 2 survivor semi-joins survive
    # in the plan = 2 joins (a dropped INTERMEDIATE checkpoint still
    # multiplies the count severalfold past this)
    "b30_kcore": 4,
    # r13: per-round distances checkpointed (union leg + join leg both
    # consume them): only the final nation left-join survives = 1 join
    # (r14: tightened from 4 — the 3 joins of slack could have masked a
    # dropped-checkpoint regression, the exact class this pin exists for)
    "b30_bellman_ford": 2,
}


@pytest.mark.parametrize(
    "name,budget", sorted(_ITERATIVE_JOIN_BUDGETS.items())
)
def test_iterative_plan_join_count_within_budget(spark, sf_dir, name, budget):
    import re

    plan = _plan(spark, sf_dir, name)
    counts = {
        n: len(re.findall(r"\b" + n, plan)) for n in _JOIN_NODES
    }
    total = sum(counts.values())
    assert total <= budget, (
        f"{name}: {total} join-node occurrences (budget {budget}) — "
        f"{ {k: v for k, v in counts.items() if v} }; a lazy iterative "
        "chain is probably re-executing prior rounds (the de6ad9c class)"
    )


def test_r13_heavy_additions_no_cartesian(spark, sf_dir):
    # r13 wave queries whose candidate/pair/graph joins must stay
    # keyed: the SymSpell delete-variant equi-join, the audio
    # fingerprint (pos, shingle) pair screen, Bellman-Ford's 4-table
    # edge reduction, the neighborhood-Jaccard shared-part pairs, the
    # radius search's banded probe join, and k-core's per-round
    # survivor semi-joins. (b10_anova's 1-row totals broadcast is the
    # documented source_kl idiom and is exempt like dsir/corpus_v8.)
    for name in (
        "b30_symspell",
        "b22_audio_fingerprint",
        "b30_bellman_ford",
        "b30_neighborhood_jaccard",
        "b20_radius_search",
        "b30_kcore",
        "b13_dict_encoding",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
