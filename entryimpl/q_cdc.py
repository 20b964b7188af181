"""Registry query functions — cdc family (split from
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


def q_b3_change_stats(spark, sf_dir):
    return log.change_stats(_events_changes(spark, sf_dir), "hour").drop("approx_ids")


def q_b1_snapshot_diff(spark, sf_dir):
    old, new = _orders_old_new(spark, sf_dir)
    return derive.snapshot_diff(old, new, ["o_orderkey"])


def q_b1_apply_roundtrip(spark, sf_dir):
    """Replication roundtrip (B1+B2): apply the snapshot diff to the old
    snapshot; the oracle is the mutated snapshot itself — value-hash
    equality IS the replication-correctness proof."""
    old, new = _orders_old_new(spark, sf_dir)
    diff = derive.snapshot_diff(old, new, ["o_orderkey"])
    return derive.apply_changes(old, diff, ["o_orderkey"])


def q_b2_log_compaction(spark, sf_dir):
    ch = _events_changes(spark, sf_dir)
    key = F.get_json_object(F.coalesce("after", "before"), "$.user_id")
    state = derive.compact_log(ch, key, order_cols=["id"])
    return state.select(
        F.get_json_object(F.coalesce("after", "before"), "$.user_id")
        .cast("bigint")
        .alias("user_id"),
        F.col("id").alias("last_id"),
        F.col("operation").alias("last_op"),
        F.get_json_object("after", "$.value").cast("double").alias("last_value"),
    )


def q_b5_filter_json(spark, sf_dir):
    ch = _events_changes(spark, sf_dir)
    return ch.filter(
        (F.col("operation") == "UPDATE")
        & (model.image_field("after", "event_type") == "purchase")
        & (model.image_field("after", "value").cast("double") > 150.0)
    ).select("id", "timestamp", model.image_field("after", "value").cast("double").alias("value"))


def q_b6_projection(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        F.col("p_partkey"),
        F.upper(F.col("p_brand")).alias("brand_uc"),
        (F.col("p_retailprice") * F.lit(0.9)).alias("discounted"),
        F.concat_ws("/", F.col("p_brand"), F.col("p_type")).alias("brand_type"),
        F.length(F.col("p_name")).cast("bigint").alias("name_len"),
    )


def q_b4_event_source(spark, sf_dir):
    """Event-stream CDC source, batch parity (B4): the full append-only
    events table projected to the canonical change schema."""
    return _events_changes(spark, sf_dir)


def q_b2_scd2(spark, sf_dir):
    """SCD type-2 history table from the change feed (B2 depth): one
    version row per non-DELETE change, valid until the key's next change;
    DELETEs close versions without emitting rows."""
    ch = _events_changes(spark, sf_dir)
    key = F.get_json_object(F.coalesce("after", "before"), "$.user_id").cast("bigint")
    versions = derive.scd2(ch.withColumn("user_id", key), "user_id")
    return versions.select(
        "user_id", "id", "after", "valid_from", "valid_to", "is_current"
    )


def q_b1_column_diff(spark, sf_dir):
    """Column-level change tracking (B1 depth): per UPDATE, which fields
    actually differ between before/after images — audit-trail flattening."""
    old, new = _orders_old_new(spark, sf_dir)
    diff = derive.snapshot_diff(old, new, ["o_orderkey"])
    out = derive.column_diff(
        diff, ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    )
    # Stringify the array column: the driver's pandas-based canonicalizer
    # cannot sort/hash list cells (r02 `unhashable type: 'list'`), and a
    # csv rendering is just as checkable. Oracle mirrors via array_to_string.
    return out.select(
        "o_orderkey",
        F.concat_ws(",", "changed_cols").alias("changed_cols"),
        "n_changed",
    )


def q_b3_op_drift(spark, sf_dir):
    """Feed-mix drift detection (B3 ops depth): each event type's share
    of the stream in the first vs second half of the time range, with
    the drift delta — the monitoring read that catches a producer
    change or capture bug (one op type surging/vanishing). Two
    conditional aggregates in one pass + a 1-row totals broadcast."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    per_type = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("ts") < mid, 1).otherwise(0))
        .cast("double")
        .alias("__early"),
        F.sum(F.when(F.col("ts") >= mid, 1).otherwise(0))
        .cast("double")
        .alias("__late"),
    )
    totals = per_type.agg(
        F.sum("__early").alias("__te"), F.sum("__late").alias("__tl")
    )
    return (
        per_type.crossJoin(F.broadcast(totals))
        .select(
            "event_type",
            F.col("__early").cast("bigint").alias("n_early"),
            F.col("__late").cast("bigint").alias("n_late"),
            F.round(F.col("__early") / F.col("__te"), 6).alias("share_early"),
            F.round(F.col("__late") / F.col("__tl"), 6).alias("share_late"),
            F.round(
                F.col("__late") / F.col("__tl")
                - F.col("__early") / F.col("__te"),
                6,
            ).alias("drift"),
        )
    )


def q_b5_time_range(spark, sf_dir):
    """Time-range + JSON predicate scan (B5 depth): changes inside a
    one-week window whose after-image value exceeds a threshold — the
    canonical 'what changed last week for big accounts' slice over the
    change feed."""
    ch = _events_changes(spark, sf_dir)
    v = F.get_json_object("after", "$.value").cast("double")
    return ch.filter(
        (F.col("timestamp") >= F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("timestamp") < F.lit("2024-01-15 00:00:00").cast("timestamp"))
        & (v > 50.0)
    ).select("id", "operation", "timestamp", F.round(v, 6).alias("value"))


def q_b1_incremental_agg(spark, sf_dir):
    """Incremental materialized-view maintenance (B1/B2 depth): a
    count+sum MV over orders, grouped by (status, priority), is
    maintained from a CDC batch — deletes (%13), price updates (%7) —
    via the delta rule (after images +1, before images −1) at cost ∝
    batch + touched groups, never re-aggregating the base. The oracle
    recomputes from scratch over the effective table, so the driver row
    IS the incremental-equals-batch invariant (derive.py:
    incremental_agg). Money sums in exact decimal, rounded after the
    double cast."""
    dec = F.col("o_totalprice").cast("decimal(38,6)")
    old = _t(spark, sf_dir, "orders").withColumn("o_totalprice", dec)
    new = (
        old.filter(F.col("o_orderkey") % 13 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 7 == 0,
                F.col("o_totalprice") + F.lit(10).cast("decimal(38,6)"),
            ).otherwise(F.col("o_totalprice")),
        )
    )
    groups = ["o_orderstatus", "o_orderpriority"]
    state = derive.aggregate_base(old, groups, ["o_totalprice"])
    batch = derive.snapshot_diff(old, new, ["o_orderkey"])
    schema = (
        "o_orderstatus string, o_orderpriority string,"
        " o_totalprice decimal(38,6)"
    )
    mv = derive.incremental_agg(state, batch, groups, ["o_totalprice"], schema)
    return mv.select(
        *groups,
        "cnt",
        F.round(F.col("sum_o_totalprice").cast("double"), 2).alias("sum_price"),
    )


def q_b3_freshness(spark, sf_dir):
    """Feed-freshness audit (B3 monitoring depth, r7): per event type,
    how far its newest event lags the newest event overall — the
    staleness alarm a CDC consumer fires when one producer stops
    (b3_op_drift catches SHARE shifts; this catches SILENCE). The
    global high-water mark is a 1-row broadcast; integer seconds."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.unix_timestamp(F.col("ts").cast("timestamp")).alias("__sec")
    )
    per = ev.groupBy("event_type").agg(
        F.max("__sec").alias("__latest"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    hw = ev.agg(F.max("__sec").alias("__hw"))
    return per.crossJoin(F.broadcast(hw)).select(
        "event_type",
        "n_events",
        (F.col("__hw") - F.col("__latest")).cast("long").alias("lag_seconds"),
    )


def q_b3_fk_integrity(spark, sf_dir):
    """Referential-integrity audit (B3 monitoring depth, r7): orphan
    counts and rates for every FK relation in the star schema — the
    data-quality gate a warehouse runs after every CDC load (an orphan
    spike means the change feed dropped parent rows or applied children
    first). One anti-join count per relation; dims broadcast, facts
    never move twice; four scalar rows unioned."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")

    def audit(name, child, key, parent, pkey):
        n = child.agg(F.count(F.lit(1)).cast("long").alias("n_child"))
        orph = (
            child.join(
                parent.select(F.col(pkey).alias("__p")),
                child[key] == F.col("__p"),
                "left_anti",
            ).agg(F.count(F.lit(1)).cast("long").alias("n_orphans"))
        )
        return n.crossJoin(F.broadcast(orph)).select(
            F.lit(name).alias("relation"),
            "n_child",
            "n_orphans",
            F.round(
                F.col("n_orphans") / F.col("n_child").cast("double"), 6
            ).alias("orphan_rate"),
        )

    return (
        audit("orders.o_custkey->customer", orders, "o_custkey", cust, "c_custkey")
        .unionByName(
            audit("lineitem.l_orderkey->orders", li, "l_orderkey", orders, "o_orderkey")
        )
        .unionByName(
            audit("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey")
        )
        .unionByName(
            audit("lineitem.l_suppkey->supplier", li, "l_suppkey", supp, "s_suppkey")
        )
    )


def q_b3_changepoint(spark, sf_dir):
    """Change-point scan over daily event counts (B3 monitoring depth
    — b3_psi says THAT the distribution moved, this localizes WHEN):
    every interior day boundary scored |mean_left − mean_right| from
    one cumulative window over the bounded daily relation; exact
    integer sums, deterministic best-split tie-break (derive.py:
    changepoint_splits)."""
    ev = _t(spark, sf_dir, "events")
    return derive.changepoint_splits(ev)


def q_b2_collapse_repeats(spark, sf_dir):
    """Consecutive-duplicate collapse (B2 depth): drop events repeating
    the previous event_type for the same user — the feed-compaction
    read that removes redundant heartbeats/idempotent writes while
    keeping every state TRANSITION. One lag() window per user, narrow
    filter; the kept-row relation then summarizes per type."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    kept = ev.withColumn("__prev", F.lag("event_type", 1).over(w)).filter(
        (F.col("__prev").isNull()) | (F.col("__prev") != F.col("event_type"))
    )
    return kept.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_kept")
    ).join(
        ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_raw")),
        "event_type",
    ).select(
        "event_type",
        "n_raw",
        "n_kept",
        (F.col("n_raw") - F.col("n_kept")).alias("n_collapsed"),
    )


def q_b5_disjunctive_pushdown(spark, sf_dir):
    """TPC-H Q19 shape (B5 predicate depth): disjunction of
    conjunctions across the join (brand × type × quantity × size
    bands) — the OR-of-ANDs pattern that tests predicate normalization
    and join-condition pushdown. Decimal-exact revenue per brand."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_type", "p_size")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
    q = F.col("l_quantity").cast("double")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_type") == "SMALL") & (q <= 15) & (F.col("p_size") <= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_type") == "MEDIUM") & (q <= 25) & (F.col("p_size") <= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_type") == "LARGE") & (q <= 35) & (F.col("p_size") <= 30))
    )
    rev = (
        F.col("l_extendedprice").cast("decimal(38,6)")
        * (F.lit(1).cast("decimal(38,6)") - F.col("l_discount").cast("decimal(38,6)"))
    )
    return (
        j.filter(cond)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        )
    )


def q_b3_psi(spark, sf_dir):
    """Population Stability Index over the event-value distribution,
    first half vs second half of the stream (B3 monitoring depth) —
    the numeric-distribution companion to b3_op_drift's categorical
    share check. Bucket edges are the baseline's exact element-rank
    deciles (no interpolation → pure comparison logic, engine-exact);
    shares Laplace-smoothed; terms floor-quantized to 1e-8 so the
    cross-bucket total is an integer sum. No global sort: edges come
    from a distinct-value count + one window over that bounded
    relation (derive.py: psi_drift)."""
    ev = _t(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    return derive.psi_drift(
        ev.filter(F.col("ts") < mid).select("value"),
        ev.filter(F.col("ts") >= mid).select("value"),
        "value",
    )


def q_b3_anomaly(spark, sf_dir):
    """Seasonal-naive anomaly screen (B3 monitoring depth, r8 —
    b3_changepoint localizes a LEVEL shift; this flags individual
    outlier days): daily event counts vs the same weekday one week
    earlier; a day is anomalous when its residual exceeds 3× the MAD
    of all residuals. Day counts contract the stream to a |days|-row
    relation; the lag-7 window and the 1-row MAD broadcast run over
    that bounded relation only (the psi/changepoint rule)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr(
            "cast(floor(unix_timestamp(cast(ts as timestamp))) as bigint)"
            " div 86400"
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    w = Window.orderBy(F.col("day").asc())
    with_prev = daily.withColumn("__prev", F.lag("n", 7).over(w)).withColumn(
        "resid", (F.col("n") - F.col("__prev")).cast("long")
    )
    mad = with_prev.filter(F.col("resid").isNotNull()).agg(
        F.median(F.abs("resid")).alias("__mad")
    )
    return (
        with_prev.crossJoin(F.broadcast(mad))
        .select(
            "day",
            "n",
            F.col("__prev").cast("long").alias("expected"),
            "resid",
            F.when(
                F.col("resid").isNotNull(),
                F.abs("resid") > 3 * F.greatest(F.col("__mad"), F.lit(1.0)),
            ).alias("anomalous"),
        )
    )


def q_b2_vacuum_stats(spark, sf_dir):
    """Log-retention accounting (B2 ops depth, r8): per table-key, how
    many superseded change rows a compaction could reclaim and how many
    image bytes they hold — the sizing number a log-vacuum policy needs
    BEFORE it runs (streaming.prune_log is the executor; this is its
    planner). One keyed agg over the change log; reclaimable = all but
    the key's latest row."""
    ch = _events_changes(spark, sf_dir)
    key = F.get_json_object(
        F.coalesce("after", "before"), "$.user_id"
    ).cast("bigint")
    sized = ch.select(
        key.alias("user_id"),
        "id",
        (
            F.coalesce(F.octet_length("before"), F.lit(0))
            + F.coalesce(F.octet_length("after"), F.lit(0))
        ).cast("long").alias("__bytes"),
    )
    return sized.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (F.count(F.lit(1)) - 1).cast("long").alias("reclaimable_rows"),
        (F.sum("__bytes") - F.max_by("__bytes", "id")).cast("long").alias(
            "reclaimable_bytes"
        ),
        F.sum("__bytes").cast("long").alias("total_bytes"),
    )


def q_b2_write_amplification(spark, sf_dir):
    """CDC capture-overhead report (B2 depth, r9 wave 2): per
    operation, the JSON image bytes the capture triggers write beside
    every base-table change — the cost the reference's design pays for
    before/after images (full-row ``json_object`` per trigger fire,
    /root/reference/triggers.go:457-518) surfaced as an analytics
    read. Byte counts are lengths of the SAME deterministic image
    strings both engines render (the a4/a10 parity), so the report is
    integer-exact; only the per-change average divides."""
    ch = _events_changes(spark, sf_dir)
    agg = ch.groupBy("operation").agg(
        F.count(F.lit(1)).cast("long").alias("n_changes"),
        F.sum(F.coalesce(F.length("before"), F.lit(0)))
        .cast("long")
        .alias("before_bytes"),
        F.sum(F.coalesce(F.length("after"), F.lit(0)))
        .cast("long")
        .alias("after_bytes"),
    )
    return agg.select(
        "operation",
        "n_changes",
        "before_bytes",
        "after_bytes",
        F.round(
            (F.col("before_bytes") + F.col("after_bytes")).cast("double")
            / F.col("n_changes").cast("double"),
            6,
        ).alias("avg_image_bytes"),
    )


def q_b2_idempotency(spark, sf_dir):
    """At-least-once redelivery screen (B2 depth, r9 wave 8): the
    reference's delivery contract is at-least-once (README.md:26-30 —
    a consumer restart between acks replays a slice), so the
    downstream exactly-once consumer needs an idempotency key. This
    screen simulates a replayed slice (id % 13 == 5 redelivered),
    keys every delivery by md5(table|id|op|payload), and reports per
    operation how many logical changes arrived more than once and the
    redundant-delivery volume a dedup sink would absorb. Two keyed
    aggs, integer exact."""
    ch = _events_changes(spark, sf_dir)
    replay = ch.filter(F.col("id") % 13 == 5)
    delivered = ch.unionByName(replay)
    keyed = delivered.select(
        "operation",
        F.md5(
            F.concat_ws(
                "|",
                F.col("tablename"),
                F.col("id").cast("string"),
                F.col("operation"),
                F.coalesce(F.col("before"), F.lit("")),
                F.coalesce(F.col("after"), F.lit("")),
            )
        ).alias("__k"),
    )
    per = keyed.groupBy("operation", "__k").agg(
        F.count(F.lit(1)).cast("long").alias("__n")
    )
    return per.groupBy("operation").agg(
        F.count(F.lit(1)).cast("long").alias("n_logical_changes"),
        F.sum(F.when(F.col("__n") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_duplicated"),
        F.sum(F.col("__n") - 1).cast("long").alias("n_redundant_deliveries"),
    ).select(
        "operation",
        "n_logical_changes",
        "n_duplicated",
        "n_redundant_deliveries",
        F.expr("(n_duplicated * 1000000) div n_logical_changes")
        .cast("long")
        .alias("dup_rate_micros"),
    )


def q_b3_slo_burn(spark, sf_dir):
    """SLO burn-rate monitor (B3 monitoring depth, r9 wave 9): per
    6-hour window, the error-event share against a 1% error budget,
    with the 2×-budget page condition decided on CROSS-MULTIPLIED
    integers (errors·50 > total ⟺ rate > 2%) — the multiwindow
    burn-rate alert shape. One keyed agg over the bucketed stream."""
    ev = _t(spark, sf_dir, "events")
    win = ev.select(
        F.expr(
            "cast(floor(unix_timestamp(cast(ts as timestamp))) as bigint)"
            " div 21600"
        ).alias("win6h"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("__e"),
    )
    return win.groupBy("win6h").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("__e").cast("long").alias("n_errors"),
        F.expr("(sum(__e) * 1000000) div count(1)")
        .cast("long")
        .alias("err_rate_micros"),
        (F.sum("__e") * 50 > F.count(F.lit(1))).alias("page_alert"),
    )


def q_b1_out_of_order(spark, sf_dir):
    """Out-of-order replica convergence (B1 depth, r10 —
    derive.apply_changes_guarded): split the change log by id parity
    and apply the batches in the WRONG order (odd-id batch first, then
    the even-id batch containing many per-key STALE changes); the
    version-guarded, tombstone-retaining merge must still converge to
    the in-order ground truth — which is exactly what the oracle
    computes directly (latest change per user, deletes dropped at
    read). Order-independence is structural: each merge is
    latest-version-wins compaction over state ∪ batch, a max-id
    semilattice."""
    ch = _events_changes(spark, sf_dir)
    odd = ch.filter(F.col("id") % 2 == 1)
    even = ch.filter(F.col("id") % 2 == 0)
    state = derive.empty_guarded_state(
        spark, "user_id bigint, event_type string, value double"
    )
    state = derive.apply_changes_guarded(state, odd, ["user_id"])
    state = derive.apply_changes_guarded(state, even, ["user_id"])
    return state.filter(F.col("_op") != "DELETE").select(
        "user_id",
        F.col("_version").alias("last_id"),
        F.col("_op").alias("last_op"),
        "event_type",
        F.col("value").alias("last_value"),
    )


def q_b3_staleness_trend(spark, sf_dir):
    """Staleness TREND monitor (B3 depth, r10 — b3_freshness reports
    the instantaneous lag; this adds the trajectory): per event
    type — last-change timestamp, integer minutes of lag against the
    fixture's frozen "now" (the max ts in the log: a deterministic
    anchor both engines compute identically), and the day-over-day
    change-rate ratio for the final two days (the stalled-pipeline
    screen: lag jumps and the ratio collapses). One keyed agg over the
    log plus a 1-row max-ts anchor broadcast back; lag in exact
    integer minutes, ratio = one division of exact counts, round 6."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts")
    anchor = ev.agg(F.max("ts").alias("__now"))
    j = ev.crossJoin(F.broadcast(anchor))
    day = F.expr(
        "(unix_micros(cast(__now as timestamp))"
        " - unix_micros(cast(ts as timestamp))) div 86400000000"
    )
    per = j.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"),
        F.expr(
            "CAST(min((unix_micros(cast(__now as timestamp))"
            " - unix_micros(cast(ts as timestamp))) div 60000000) AS BIGINT)"
        ).alias("lag_minutes"),
        F.sum(F.when(day == 0, 1).otherwise(0)).cast("long").alias("n_last_day"),
        F.sum(F.when(day == 1, 1).otherwise(0)).cast("long").alias("n_prev_day"),
    )
    return per.select(
        "event_type",
        "last_ts",
        "lag_minutes",
        "n_last_day",
        "n_prev_day",
        F.round(
            F.col("n_last_day").cast("double")
            / F.greatest(F.col("n_prev_day"), F.lit(1)).cast("double"),
            6,
        ).alias("day_over_day"),
    )


def q_b3_schema_drift(spark, sf_dir):
    """Schema-drift monitor over JSON payloads (B3 depth, r11): per
    (event type, JSON key) — first-seen day, last-seen day, occurrence
    count, and the drift flag for keys that APPEARED after the feed
    started (the silent-producer-upgrade signal; the payload twin of
    the bridge's ALTER-TABLE blindness, which resync() fixes on the
    capture side — this is how the CONSUMER notices). Drift material
    is planted deterministically: events in the second half of the
    time range carry an extra `v2` key. json_object_keys is the
    schema-free probe — no fixed from_json schema to go stale. Shape:
    one explode of the (small) key set + one keyed agg + a 1-row
    anchor broadcast; days in integer epoch-day arithmetic."""
    ev = _t(spark, sf_dir, "events").select("event_type", "ts", "props")
    anchor = ev.agg(
        F.expr("min(unix_micros(cast(ts as timestamp)))").alias("__t0"),
        F.expr("max(unix_micros(cast(ts as timestamp)))").alias("__t1"),
    )
    j = ev.crossJoin(F.broadcast(anchor))
    evolved = j.select(
        "event_type",
        F.expr(
            "(unix_micros(cast(ts as timestamp)) - __t0) div 86400000000"
        ).alias("day"),
        F.when(
            F.expr("unix_micros(cast(ts as timestamp))")
            >= (F.col("__t0") + F.col("__t1")) / 2,
            F.expr(
                "concat(substring(props, 1, length(props) - 1), "
                "', \"v2\": 1}')"
            ),
        )
        .otherwise(F.col("props"))
        .alias("props"),
    )
    keys = evolved.select(
        "event_type",
        "day",
        F.explode(F.json_object_keys("props")).alias("key"),
    )
    return keys.groupBy("event_type", "key").agg(
        F.min("day").cast("long").alias("first_day"),
        F.max("day").cast("long").alias("last_day"),
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.min("day") > 0).alias("drifted"),
    )


def q_b2_retention_policies(spark, sf_dir):
    """Log-retention policy simulator (B2 depth, r11): what fraction of
    the change log survives under the three standard GC policies —
    time-based (keep the last 7 days against the frozen max-ts
    anchor), per-key last-N (keep each user's 3 newest entries), and
    full compaction (latest per user) — the sizing table an operator
    reads before committing a retention config (b2_vacuum_stats
    measures ONE policy's reclaim; this compares the menu). One scan
    feeding three bounded evaluations: a narrow filter, one keyed
    window, one keyed max — integer epoch-µs arithmetic throughout."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    us = F.expr("unix_micros(cast(ts as timestamp))")
    anchor = ev.agg(F.max(us).alias("__now"))
    j = ev.select("event_id", "user_id", us.alias("__us")).crossJoin(
        F.broadcast(anchor)
    )
    tot = j.agg(F.count(F.lit(1)).cast("long").alias("__t"))
    time_kept = j.filter(
        F.col("__us") > F.col("__now") - F.lit(7 * 86400000000)
    ).agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    w = Window.partitionBy("user_id").orderBy(
        F.col("__us").desc(), F.col("event_id").desc()
    )
    lastn_kept = (
        j.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .agg(F.count(F.lit(1)).cast("long").alias("n_kept"))
    )
    compact_kept = j.groupBy("user_id").agg(F.max("__us")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept")
    )
    parts = [
        time_kept.select(F.lit("time_7d").alias("policy"), "n_kept"),
        lastn_kept.select(F.lit("per_key_last_3").alias("policy"), "n_kept"),
        compact_kept.select(F.lit("compact_latest").alias("policy"), "n_kept"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.crossJoin(F.broadcast(tot)).select(
        "policy",
        "n_kept",
        F.round(F.col("n_kept").cast("double") / F.col("__t"), 6).alias(
            "kept_share"
        ),
    )


def q_b2_compaction_cost(spark, sf_dir):
    """Streaming-compaction cost model (B2 depth, r14 — VERDICT r13
    item 5's suggested row): per 1000-change epoch, what a micro-batch
    compactor run reads (carried live state + the epoch's delta),
    writes (keys live after folding), and the cumulative write
    amplification the cadence buys. The per-key liveness carry is ±1
    deltas from a KEYED lag window; the epoch-grid running sums ride
    derive.distributed_prefix_sum, so nothing single-partition touches
    the corpus. Kernel: derive.compaction_cost; all columns integer-
    exact except the round-6 write_amp ratio."""
    ch = _events_changes(spark, sf_dir)
    key = F.get_json_object(
        F.coalesce("after", "before"), "$.user_id"
    ).cast("bigint")
    return derive.compaction_cost(ch, key, epoch_size=1000)


def q_b6_typed_projection(spark, sf_dir):
    """Typed-view materialization from CDC JSON images (B6 depth, r14
    — the projection family's CDC-native row beside the base-table
    b6_projection): the change feed's after-images projected into
    typed columns (the "consume the log as a table" step every
    downstream pipeline starts with) plus computed/renamed columns.
    JSON image text is the deterministic a4 rendering, so extracted
    values parse to identical doubles on both engines; value_band is
    one IEEE divide + floor of the same double."""
    ch = _events_changes(spark, sf_dir)
    val = model.image_field("after", "value").cast("double")
    return ch.filter(F.col("after").isNotNull()).select(
        "id",
        F.col("operation").alias("op"),
        model.image_field("after", "user_id").cast("bigint").alias("user_id"),
        model.image_field("after", "event_type").alias("event_type"),
        val.alias("value"),
        F.floor(val / F.lit(50.0)).cast("long").alias("value_band"),
        (model.image_field("after", "event_type") == "purchase").alias(
            "is_purchase"
        ),
    )


def q_b2_compaction_cadence(spark, sf_dir):
    """Compaction-cadence tuning curve (B2 depth, r14 — the operating-
    point sweep over b2_compaction_cost, the same pattern the dedup
    family uses for its threshold curves): the per-epoch cost model
    summarized to ONE row per candidate cadence (500/1000/2000/4000
    changes per run), so the read-amplification-vs-staleness tradeoff
    is a four-point curve a deployment can pick from. Four independent
    keyed passes over the change log (one per cadence — embarrassingly
    parallel, no cross-cadence shuffle); each summary is a tiny agg
    over its epoch grid. Integer-exact except the round-6 ratios."""
    ch = _events_changes(spark, sf_dir).localCheckpoint()
    key = F.get_json_object(
        F.coalesce("after", "before"), "$.user_id"
    ).cast("bigint")
    legs = []
    for w in (500, 1000, 2000, 4000):
        ep = derive.compaction_cost(ch, key, epoch_size=w)
        legs.append(
            ep.agg(
                F.lit(w).cast("long").alias("epoch_size"),
                F.count(F.lit(1)).cast("long").alias("n_runs"),
                F.sum("n_changes").cast("long").alias("n_changes"),
                F.sum("rows_read").cast("long").alias("total_rows_read"),
                F.sum("rows_written").cast("long").alias("total_rows_written"),
                F.max_by("live_at_end", "epoch").cast("long").alias("final_live"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out.select(
        "epoch_size",
        "n_runs",
        "n_changes",
        "total_rows_read",
        "total_rows_written",
        "final_live",
        F.round(
            F.col("total_rows_read").cast("double")
            / F.col("n_changes").cast("double"),
            6,
        ).alias("read_amp"),
        F.round(
            F.col("total_rows_written").cast("double")
            / F.col("final_live").cast("double"),
            6,
        ).alias("write_amp"),
    )


def q_b6_tolerant_projection(spark, sf_dir):
    """Schema-TOLERANT typed projection over heterogeneous CDC images
    (B6 depth, r14 — the consumer-side complement of the reference's
    ALTER→resync handling, cmd/ + dbmeta.go: the log mixes image
    shapes, DELETE rows carry only the before-image's key fields, and
    a downstream view must still land on ONE typed schema). Missing
    JSON fields extract as NULL on both engines; the projection fills
    declared defaults and reports per-row how many fields needed
    filling — the instrument a consumer uses to detect shape drift in
    a live feed. Narrow single pruned scan, no shuffle."""
    ch = _events_changes(spark, sf_dir)
    img = F.coalesce("after", "before")
    etype = model.image_field(img, "event_type")
    val = model.image_field(img, "value").cast("double")
    return ch.select(
        "id",
        F.col("operation").alias("op"),
        model.image_field(img, "user_id").cast("bigint").alias("user_id"),
        F.coalesce(etype, F.lit("unknown")).alias("event_type"),
        F.coalesce(val, F.lit(-1.0)).alias("value"),
        (
            etype.isNull().cast("int") + val.isNull().cast("int")
        ).cast("long").alias("n_filled"),
    )


def q_b4_source_audit(spark, sf_dir):
    """Source-integrity audit over a degraded CDC replay (B4 depth,
    r15 — the invariants the reference's single serialized log gets
    for FREE (one writer, one AUTOINCREMENT id — cdc.go's ordered
    drain) but a distributed ingest must CHECK: dense ids, no double-
    delivery, per-key time monotonicity). The fixture's event stream
    is pristine, so the audit runs over a deterministically degraded
    replay — ids ≡0 mod 101 dropped (loss), ids ≡5 mod 103 delivered
    twice (at-least-once duplication), ts of ids ≡3 mod 97 shifted
    back an hour (reordering) — and must report each defect class
    exactly. All counts integer-exact; one keyed (per-user) lag
    window is the only corpus shuffle — id-gap math is pure
    aggregation (span − distinct), never a global sort."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % 97 == 3,
            F.col("ts") - F.expr("INTERVAL 1 HOUR"),
        )
        .otherwise(F.col("ts"))
        .alias("ts"),
        "user_id",
    )
    replay = ev.filter(F.col("event_id") % 101 != 0).unionByName(
        ev.filter(F.col("event_id") % 103 == 5)
    )
    w = Window.partitionBy("user_id").orderBy("event_id")
    seq = replay.withColumn("__pts", F.lag("ts", 1).over(w))
    regress = seq.agg(
        F.sum(
            F.when(F.col("ts") < F.col("__pts"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_ts_regressions"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    base = replay.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_distinct_ids"),
        (F.max("event_id") - F.min("event_id") + 1)
        .cast("long")
        .alias("id_span"),
    )
    return base.crossJoin(regress).select(
        "n_rows",
        "n_distinct_ids",
        "id_span",
        (F.col("id_span") - F.col("n_distinct_ids"))
        .cast("long")
        .alias("n_missing_ids"),
        (F.col("n_rows") - F.col("n_distinct_ids"))
        .cast("long")
        .alias("n_dup_rows"),
        "n_ts_regressions",
        "n_users",
    )


def q_b5_pushdown_audit(spark, sf_dir):
    """Predicate-pushdown audit as numbers (B5 depth, r15 — VERDICT
    r14 item 7's suggested row; the selectivity twin of
    b12_limit_pushdown_audit): one scan per predicate CLASS — IN-list,
    string-prefix LIKE, closed range, equality, and their conjunction
    — each expressed so Catalyst pushes it into the parquet scan
    (tests/test_plans.py pins In/StringStartsWith/range in
    PushedFilters), reporting rows matched and round-6 selectivity.
    At 100 TB this ledger is the difference between reading a column
    chunk and skipping it: a predicate class that stops appearing in
    PushedFilters silently turns a skip-scan into a full scan, and
    this row makes that regression a VALUE diff, not a plan diff.
    Per-leg cost: one pruned single-column-ish scan + count; the
    5-row union is bounded; the total joins in as a 1-row broadcast."""
    def _leg(label, pushed, pred):
        p = _t(spark, sf_dir, "part")
        if pred is not None:
            p = p.filter(pred)
        return p.agg(F.count(F.lit(1)).cast("long").alias("n_match")).select(
            F.lit(label).alias("predicate"),
            F.lit(pushed).alias("pushed"),
            "n_match",
        )

    in_list = F.col("p_brand").isin("Brand#1", "Brand#3")
    prefix = F.col("p_name").startswith("s")
    rng = (F.col("p_size") >= 5) & (F.col("p_size") <= 25)
    eq = F.col("p_type") == "SMALL"
    # the conjunction leg is the 3-way (brand ∧ prefix ∧ range): adding
    # type_eq empties it at sf0.001 and a 0-match audit leg proves
    # nothing about scan skipping
    legs = (
        _leg("brand_in", "In", in_list)
        .unionByName(_leg("name_prefix", "StringStartsWith", prefix))
        .unionByName(_leg("size_range", "Range", rng))
        .unionByName(_leg("type_eq", "EqualTo", eq))
        .unionByName(
            _leg("conjunction", "And", in_list & prefix & rng)
        )
    )
    total = _t(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_total")
    )
    return legs.crossJoin(F.broadcast(total)).select(
        "predicate",
        "pushed",
        "n_match",
        "n_total",
        F.round(
            F.col("n_match").cast("double") / F.col("n_total").cast("double"),
            6,
        ).alias("selectivity"),
    )


def q_b6_image_shape_profile(spark, sf_dir):
    """Per-FIELD image-shape profile over the mixed CDC log (B6 depth,
    r15 — the aggregate companion of b6_tolerant_projection's per-row
    fill count): for every (operation, field) pair, how many images
    carry the field vs not — the drift dashboard a consumer of the
    reference's ALTER→resync feed watches (dbmeta.go re-derives the
    schema source-side; this is the consumer-side view of the same
    fact). DELETE rows carry before-only key images, so the profile is
    structurally non-trivial: their non-key fields read 0% present.
    One scan, one explode over a 4-literal field array, one keyed agg
    — 12 output rows regardless of corpus size."""
    ch = _events_changes(spark, sf_dir)
    img = F.coalesce("after", "before")
    fields = ["user_id", "event_type", "value", "props"]
    pairs = F.array(
        *[
            F.struct(
                F.lit(f).alias("field"),
                model.image_field(img, f).isNotNull().alias("present"),
            )
            for f in fields
        ]
    )
    ex = ch.select(
        F.col("operation").alias("op"), F.explode(pairs).alias("p")
    ).select("op", "p.field", "p.present")
    return ex.groupBy("op", "field").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum(F.col("present").cast("int")).cast("long").alias("n_present"),
    ).select(
        "op",
        "field",
        "n_images",
        "n_present",
        (F.col("n_images") - F.col("n_present")).cast("long").alias("n_absent"),
        F.round(
            F.col("n_present").cast("double") / F.col("n_images").cast("double"),
            6,
        ).alias("presence_rate"),
    )


def q_b4_gap_repair_manifest(spark, sf_dir):
    """Gap-REPAIR manifest over the degraded CDC replay (B4 depth, r16
    — VERDICT r15 item 6's suggested row: b4_source_audit's defect
    COUNTS turned into the deterministic consumer-side FIX). The
    consumer cannot re-request individual ids at scale; it re-requests
    whole keyset pages — exactly the reference's snapshot scan unit
    (triggers.go keyset pagination, A3) — so the manifest is
    per-BUCKET (id div 1024): expected ids in the bucket's delivered
    span vs distinct ids got, missing count, duplicate deliveries, and
    the re-request bounds [rerequest_from, rerequest_to] a keyset scan
    needs. Only defective buckets are emitted. The bucket grid is
    GENERATED from the delivered span (r17 ADVICE: a groupBy over the
    replay alone cannot see a bucket whose deliveries were ALL dropped
    — the most defective bucket would be invisible), then the
    per-bucket delivered counts are left-joined on: an all-dropped
    bucket now surfaces as n_got=0 / n_missing=n_expected. Scale: one
    keyed groupBy over the replay + a grid of span/1024 integers built
    by a TWO-LEVEL explode (coarse 4096-bucket chunks first, then
    buckets within a chunk) so no single task materializes more than
    4096 rows however wide the id span; the grid join shuffles
    span/1024 rows, not the corpus; output ∝ defective buckets; gap
    math stays pure integer aggregation (expected − distinct), no
    global sort, no id enumeration."""
    B = 1024
    C = 4096  # buckets per coarse grid chunk (bounds per-task explode)
    ev = _t(spark, sf_dir, "events").select("event_id")
    replay = ev.filter(F.col("event_id") % 101 != 0).unionByName(
        ev.filter(F.col("event_id") % 103 == 5)
    )
    bounds = replay.agg(
        F.min("event_id").cast("long").alias("lo_id"),
        F.max("event_id").cast("long").alias("hi_id"),
    )
    per_bucket = replay.groupBy(
        F.expr(f"event_id div {B}").cast("long").alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("event_id").cast("long").alias("n_got"),
    )
    coarse = bounds.select(
        "lo_id",
        "hi_id",
        F.explode(
            F.sequence(
                F.expr(f"lo_id div {B} div {C}"),
                F.expr(f"hi_id div {B} div {C}"),
            )
        ).alias("chunk"),
    )
    grid = coarse.repartition(32, "chunk").select(
        "lo_id",
        "hi_id",
        F.explode(
            F.sequence(
                F.greatest(F.col("chunk") * C, F.expr(f"lo_id div {B}")),
                F.least(
                    F.col("chunk") * C + (C - 1), F.expr(f"hi_id div {B}")
                ),
            )
        ).alias("bucket"),  # sequence-of-long elements are already long
    )
    joined = grid.join(per_bucket, "bucket", "left").select(
        "bucket",
        "lo_id",
        "hi_id",
        F.coalesce(F.col("n_rows"), F.lit(0)).cast("long").alias("n_rows"),
        F.coalesce(F.col("n_got"), F.lit(0)).cast("long").alias("n_got"),
    )
    lo = F.greatest(F.col("bucket") * B, F.col("lo_id"))
    hi = F.least(F.col("bucket") * B + (B - 1), F.col("hi_id"))
    return (
        joined
        .select(
            "bucket",
            lo.cast("long").alias("rerequest_from"),
            hi.cast("long").alias("rerequest_to"),
            (hi - lo + 1).cast("long").alias("n_expected"),
            "n_got",
            (hi - lo + 1 - F.col("n_got")).cast("long").alias("n_missing"),
            (F.col("n_rows") - F.col("n_got"))
            .cast("long")
            .alias("n_dup_deliveries"),
        )
        .filter((F.col("n_missing") > 0) | (F.col("n_dup_deliveries") > 0))
        .withColumn(
            "action",
            F.when(F.col("n_missing") > 0, F.lit("rerequest")).otherwise(
                F.lit("dedup_ack")
            ),
        )
    )


def q_b5_partition_pruning(spark, sf_dir):
    """Partition-pruning ledger (B5 depth, r16 — VERDICT r15 item 6's
    suggested row: the directory-partition twin of b5_pushdown_audit's
    PushedFilters ledger). Model: orders laid out partitioned by
    year(o_orderdate) — the canonical CDC archive layout (one
    directory per ingest period). Per predicate class the ledger
    reports partitions surviving pruning, rows SCANNED (everything in
    surviving partitions — what the engine must read), and rows
    MATCHED (the full predicate), so prune-vs-residual-filter is a
    VALUE diff: `residual` scans one partition but matches fewer rows;
    `none` (no partition predicate) scans all 7 partitions. The real
    directory layout is pinned by test (partitionBy write →
    PartitionFilters in plan + inputFiles() confined to surviving
    dirs, tests/test_registry.py). Per-leg cost: one pruned scan +
    count; 5 bounded rows out."""
    o = _t(spark, sf_dir, "orders").select(
        F.year("o_orderdate").alias("y"), "o_totalprice"
    )
    total = o.agg(
        F.countDistinct("y").cast("long").alias("n_parts_total"),
        F.count(F.lit(1)).cast("long").alias("n_rows_total"),
    )

    def _leg(label, part_pred, full_pred):
        scanned = o.filter(part_pred) if part_pred is not None else o
        return scanned.agg(
            F.countDistinct("y").cast("long").alias("n_parts_read"),
            F.count(F.lit(1)).cast("long").alias("n_rows_scanned"),
            F.sum(full_pred.cast("int")).cast("long").alias("n_match"),
        ).select(F.lit(label).alias("predicate"), "*")

    y = F.col("y")
    price = F.col("o_totalprice") >= 1000.0
    legs = (
        _leg("year_eq", y == 1998, y == 1998)
        .unionByName(_leg("year_in", y.isin(1995, 2001), y.isin(1995, 2001)))
        .unionByName(
            _leg("year_range", (y >= 1996) & (y <= 1998), (y >= 1996) & (y <= 1998))
        )
        .unionByName(_leg("residual", y == 1998, (y == 1998) & price))
        .unionByName(_leg("none", None, price))
    )
    return legs.crossJoin(F.broadcast(total)).select(
        "predicate",
        "n_parts_read",
        "n_parts_total",
        "n_rows_scanned",
        "n_match",
        F.round(
            F.col("n_rows_scanned").cast("double")
            / F.col("n_rows_total").cast("double"),
            6,
        ).alias("scan_frac"),
    )


def q_b6_cast_failure_ledger(spark, sf_dir):
    """Per-field CAST-failure ledger over a deterministically corrupted
    image feed (B6 depth, r16 — the aggregate data-quality gate beside
    b6_tolerant_projection's per-row fill count: tolerant TRY-casts
    NULL on malformed text, and this row counts exactly WHERE). The
    fixture's images are well-formed, so images of ids ≡0 mod 13 are
    degraded in JSON-string space — the numeric `value` token replaced
    with the non-numeric literal "corrupt" (regexp on the rendered
    image, one occurrence per image so first-vs-all replace semantics
    agree across engines) — and the ledger reports, per field:
    present, cast-to-target OK, cast failures, round-6 failure rate.
    `value` fails exactly on corrupted rows that carry it; string
    targets never fail; DELETE rows carry before-only key images so
    their non-key fields don't reach the cast at all. One scan, one
    4-literal explode, one keyed agg — 4 rows out at any scale."""
    ch = _events_changes(spark, sf_dir)
    img0 = F.coalesce("after", "before")
    img = F.when(
        F.col("id") % 13 == 0,
        F.regexp_replace(
            img0, '"value":[0-9.eE+-]+', '"value":"corrupt"'
        ),
    ).otherwise(img0)
    casts = {
        "user_id": lambda c: c.try_cast("bigint"),
        "event_type": lambda c: c,
        "value": lambda c: c.try_cast("double"),
        "props": lambda c: c,
    }
    pairs = F.array(
        *[
            F.struct(
                F.lit(f).alias("field"),
                model.image_field(img, f).isNotNull().alias("present"),
                cast(model.image_field(img, f)).isNotNull().alias("ok"),
            )
            for f, cast in casts.items()
        ]
    )
    ex = ch.select(F.explode(pairs).alias("p")).select(
        "p.field", "p.present", "p.ok"
    )
    return ex.groupBy("field").agg(
        F.count(F.lit(1)).cast("long").alias("n_images"),
        F.sum(F.col("present").cast("int")).cast("long").alias("n_present"),
        F.sum(F.col("ok").cast("int")).cast("long").alias("n_cast_ok"),
    ).select(
        "field",
        "n_images",
        "n_present",
        "n_cast_ok",
        (F.col("n_present") - F.col("n_cast_ok"))
        .cast("long")
        .alias("n_cast_fail"),
        F.round(
            (F.col("n_present") - F.col("n_cast_ok")).cast("double")
            / F.greatest(F.col("n_present"), F.lit(1)).cast("double"),
            6,
        ).alias("fail_rate"),
    )


def q_b4_watermark_gap(spark, sf_dir):
    """Watermark-vs-gap interaction manifest (B4 depth, r17 — VERDICT
    r16 item 5's suggested row: the gap-repair manifest under
    OUT-OF-ORDER delivery). With in-flight reordering the consumer
    cannot tell "dropped" from "not yet arrived": an id may trail the
    delivery frontier by seconds legitimately. The repair decision
    therefore splits on a high-watermark over the id space — hw =
    max(delivered id) − 1536 (the reference's serialized log makes ids
    dense and monotone, triggers.go AUTOINCREMENT, so an id more than
    a bounded number of keyset pages behind the frontier can no longer
    be in flight; 1.5 buckets of slack guarantees at least one FULLY
    open bucket whenever the span allows, so both action classes are
    non-vacuous).
    Per 1024-id bucket of the degraded replay (drops = ids ≡0 mod
    101): ids at-or-below hw that are missing are DECLARED missing
    (`rerequest` — the watermark has passed them), ids above hw that
    are missing are merely `await_watermark` (re-requesting them
    would double-deliver against in-flight rows). The bucket grid is
    generated from the delivered span and left-joined (the
    all-dropped-bucket rule, r17 ADVICE), so a fully-dropped closed
    bucket still surfaces. Scale: one 1-row broadcast of the
    span+watermark onto the replay, one keyed groupBy with
    conditional distinct counts (closed/open split), the two-level
    grid explode bounded at 4096 rows per task; output ∝ defective
    buckets; pure integer gap math, no global sort, no id
    enumeration."""
    B = 1024
    C = 4096
    SLACK = 1536
    ev = _t(spark, sf_dir, "events").select("event_id")
    replay = ev.filter(F.col("event_id") % 101 != 0)
    bounds = replay.agg(
        F.min("event_id").cast("long").alias("lo_id"),
        F.max("event_id").cast("long").alias("hi_id"),
    ).select(
        "lo_id",
        "hi_id",
        # span shorter than the slack => everything is still open
        F.greatest(F.col("hi_id") - SLACK, F.col("lo_id") - 1)
        .cast("long")
        .alias("hw"),
    )
    rep = replay.crossJoin(F.broadcast(bounds))
    per_bucket = rep.groupBy(
        F.expr(f"event_id div {B}").cast("long").alias("bucket")
    ).agg(
        F.countDistinct(
            F.when(F.col("event_id") <= F.col("hw"), F.col("event_id"))
        )
        .cast("long")
        .alias("n_got_closed"),
        F.countDistinct(
            F.when(F.col("event_id") > F.col("hw"), F.col("event_id"))
        )
        .cast("long")
        .alias("n_got_open"),
    )
    coarse = bounds.select(
        "lo_id",
        "hi_id",
        "hw",
        F.explode(
            F.sequence(
                F.expr(f"lo_id div {B} div {C}"),
                F.expr(f"hi_id div {B} div {C}"),
            )
        ).alias("chunk"),
    )
    grid = coarse.repartition(32, "chunk").select(
        "lo_id",
        "hi_id",
        "hw",
        F.explode(
            F.sequence(
                F.greatest(F.col("chunk") * C, F.expr(f"lo_id div {B}")),
                F.least(
                    F.col("chunk") * C + (C - 1), F.expr(f"hi_id div {B}")
                ),
            )
        ).alias("bucket"),
    )
    j = grid.join(per_bucket, "bucket", "left").select(
        "bucket",
        "lo_id",
        "hi_id",
        "hw",
        F.coalesce(F.col("n_got_closed"), F.lit(0))
        .cast("long")
        .alias("n_got_closed"),
        F.coalesce(F.col("n_got_open"), F.lit(0))
        .cast("long")
        .alias("n_got_open"),
    )
    lo_b = F.greatest(F.col("bucket") * B, F.col("lo_id"))
    hi_b = F.least(F.col("bucket") * B + (B - 1), F.col("hi_id"))
    closed_hi = F.least(hi_b, F.col("hw"))
    n_exp_closed = F.greatest(closed_hi - lo_b + 1, F.lit(0))
    n_exp_open = (hi_b - lo_b + 1) - n_exp_closed
    out = j.select(
        "bucket",
        F.col("hw").alias("watermark_id"),
        n_exp_closed.cast("long").alias("n_expected_closed"),
        "n_got_closed",
        (n_exp_closed - F.col("n_got_closed"))
        .cast("long")
        .alias("n_missing_final"),
        n_exp_open.cast("long").alias("n_expected_open"),
        "n_got_open",
        (n_exp_open - F.col("n_got_open")).cast("long").alias("n_pending"),
    )
    return out.filter(
        (F.col("n_missing_final") > 0) | (F.col("n_pending") > 0)
    ).withColumn(
        "action",
        F.when(F.col("n_missing_final") > 0, F.lit("rerequest")).otherwise(
            F.lit("await_watermark")
        ),
    )


def _orders_second_mutation(s1):
    """Batch-2 snapshot mutation on top of ``_orders_old_new``'s new
    snapshot (FIXTURES.md §2 extension, r17): keys ≡3 mod 89 deleted,
    ≡4 mod 89 price-bumped +2.0, ≡5 mod 89 re-keyed (+200000000) as
    fresh inserts. Applied to S1 — including S1's own batch-1 inserts —
    so every two-batch interaction class (I+U, I+D, U+U, U+D) occurs
    in the fixture at sf ≥ 0.01 (pinned by test)."""
    k = F.col("o_orderkey")
    surviving = s1.filter(k % 89 != 3).withColumn(
        "o_totalprice",
        F.when(k % 89 == 4, F.col("o_totalprice") + F.lit(2.0)).otherwise(
            F.col("o_totalprice")
        ),
    )
    inserts = s1.filter(k % 89 == 5).select(
        (k + F.lit(200000000)).alias("o_orderkey"),
        F.col("o_custkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
        F.col("o_orderpriority"),
    )
    return surviving.unionByName(inserts)


def q_b1_batch_compaction(spark, sf_dir):
    """Multi-batch change compaction == endpoint diff (B1 depth, r17):
    two consecutive CDC batches (S0→S1, S1→S2 snapshot diffs — the
    sets the reference's triggers would have appended across two log
    spans, triggers.go:420-437) compacted into ONE net change set by
    the per-key first-before/last-after rule — INSERT+DELETE cancels,
    INSERT+UPDATE folds to INSERT of the final image, UPDATE+UPDATE
    folds to one UPDATE spanning both edits, UPDATE+DELETE folds to
    DELETE of the original image, and a fold whose before equals its
    after (a perfect revert) drops. The oracle never sees the batches:
    it diffs S0 directly against S2, so value-hash equality proves the
    delta-route compaction law Δ(S0→S2) = compact(Δ(S0→S1) ∪
    Δ(S1→S2)) image-exactly — what a downstream applier needs to
    replay a drained multi-batch log span in one pass (cdc.go ordered
    drain). Scale: each diff is one key-shuffled full-outer join; the
    compaction itself is ONE groupBy on the same key with six
    conditional aggregates (a key appears at most once per batch) —
    no windows, no collects; net set ∝ changed keys."""
    old, s1 = _orders_old_new(spark, sf_dir)
    s2 = _orders_second_mutation(s1)
    d01 = derive.snapshot_diff(old, s1, ["o_orderkey"]).withColumn(
        "batch", F.lit(0)
    )
    d12 = derive.snapshot_diff(s1, s2, ["o_orderkey"]).withColumn(
        "batch", F.lit(1)
    )
    ch = d01.unionByName(d12)
    g = ch.groupBy("o_orderkey").agg(
        F.max(F.when(F.col("batch") == 0, F.col("operation"))).alias("op0"),
        F.max(F.when(F.col("batch") == 0, F.col("before"))).alias("b0"),
        F.max(F.when(F.col("batch") == 0, F.col("after"))).alias("a0"),
        F.max(F.when(F.col("batch") == 1, F.col("operation"))).alias("op1"),
        F.max(F.when(F.col("batch") == 1, F.col("before"))).alias("b1"),
        F.max(F.when(F.col("batch") == 1, F.col("after"))).alias("a1"),
    )
    op0, op1 = F.col("op0"), F.col("op1")
    net_op = (
        F.when(op1.isNull(), op0)
        .when(op0.isNull(), op1)
        .when((op0 == "INSERT") & (op1 == "DELETE"), F.lit(None))
        .when(op0 == "INSERT", F.lit("INSERT"))
        .when(op1 == "DELETE", F.lit("DELETE"))
        .otherwise(F.lit("UPDATE"))
    )
    net = g.select(
        "o_orderkey",
        net_op.alias("operation"),
        F.when(net_op == "INSERT", F.lit(None))
        .otherwise(F.coalesce("b0", "b1"))
        .alias("before"),
        F.when(net_op == "DELETE", F.lit(None))
        .otherwise(F.when(op1.isNotNull(), F.col("a1")).otherwise(F.col("a0")))
        .alias("after"),
    )
    return net.filter(
        F.col("operation").isNotNull()
        & ~(
            (F.col("operation") == "UPDATE")
            & F.col("before").eqNullSafe(F.col("after"))
        )
    )
