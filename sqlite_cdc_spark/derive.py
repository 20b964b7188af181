"""Derived CDC analytics (SURVEY.md §2 B1/B2/B9/B12/B13).

The reference's output — an ordered change stream with before/after images —
exists to feed replication, caches, and warehousing
(``/root/reference/README.md:26-30``). This module is that downstream
surface: derive a change set from two snapshots, collapse a log back to
current state, read state as of a time, and the supporting set/top-k ops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .model import OP_DELETE, OP_INSERT, OP_UPDATE
from .sqlident import bq


def _fdiv_sql(a: str, b: str) -> str:
    """SQL-string twin of the integer graph kernels' floor division
    ``((a - ((a % b + b) % b)) / b) cast bigint`` (r17 construction
    pass 2, guide §4 — one JVM parse instead of per-node py4j calls;
    the parsed tree is identical)."""
    return (
        f"cast((({a}) - ((({a}) % ({b}) + ({b})) % ({b}))) / ({b})"
        " as bigint)"
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Derive INSERT/UPDATE/DELETE changes between two snapshots on a key —
    the set the reference's triggers (``/root/reference/triggers.go:420-437``)
    would have produced had they watched the transition.

    Output columns: key cols, ``operation``, ``before`` (old JSON image),
    ``after`` (new JSON image); unchanged rows are dropped.

    Scale: one full-outer sort-merge join shuffled on the key. Comparison is
    null-safe (``eqNullSafe``) so NULL→value and value→NULL edits classify
    as UPDATE. With AQE on, skewed keys are split automatically.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in keys]
    # r17 construction pass 2 (guide §4, driver side): every projection
    # below renders as SQL strings parsed once in the JVM — the Column
    # form built the rename lists, null-safe compare chains and JSON
    # image structs node-by-node over py4j (~1.3k round-trips per build,
    # re-paid on every bench rebuild and once per micro-batch in the
    # streaming resync path). Identical trees (<=> is eqNullSafe, the
    # and/or chains keep the same left-assoc seed literals), re-gated
    # bit-exact against the oracle.
    # column-rename isolation: old and new may derive from the same source
    # (a snapshot and its mutation), which trips Spark's ambiguous-self-join
    # detection if we join on shared lineage columns
    o = old.selectExpr(*[f"{bq(c)} as {bq('__o_' + c)}" for c in old.columns])
    n = new.selectExpr(*[f"{bq(c)} as {bq('__n_' + c)}" for c in new.columns])
    cond = [
        F.col(bq("__o_" + k)).eqNullSafe(F.col(bq("__n_" + k))) for k in keys
    ]
    joined = o.join(n, cond, "full_outer")

    old_key_null = " and ".join(
        ["true"] + [f"{bq('__o_' + k)} is null" for k in keys]
    )
    new_key_null = " and ".join(
        ["true"] + [f"{bq('__n_' + k)} is null" for k in keys]
    )
    changed = " or ".join(
        ["false"]
        + [f"not ({bq('__o_' + c)} <=> {bq('__n_' + c)})" for c in compare_cols]
    )
    op = (
        f"case when {old_key_null} then '{OP_INSERT}'"
        f" when {new_key_null} then '{OP_DELETE}'"
        f" when {changed} then '{OP_UPDATE}' end"
    )
    before_img = "to_json(struct({}))".format(
        ", ".join(f"{bq('__o_' + c)} as {bq(c)}" for c in old.columns)
    )
    after_img = "to_json(struct({}))".format(
        ", ".join(f"{bq('__n_' + c)} as {bq(c)}" for c in new.columns)
    )
    key_cols = [
        f"coalesce({bq('__n_' + k)}, {bq('__o_' + k)}) as {bq(k)}" for k in keys
    ]
    return (
        joined.selectExpr(
            *key_cols,
            f"{op} as operation",
            f"case when not ({op} = '{OP_INSERT}') then {before_img} end"
            " as before",
            f"case when not ({op} = '{OP_DELETE}') then {after_img} end"
            " as after",
        )
        .filter(F.col("operation").isNotNull())
    )


def compact_log(
    changes: DataFrame,
    key: Column | str,
    order_cols: Sequence[str] = ("id",),
    drop_deletes: bool = True,
) -> DataFrame:
    """Collapse a change log to current state: last image per key wins; keys
    whose final operation is DELETE are dropped — the "read replica" use
    case (``/root/reference/README.md:26-30``).

    Scale: one shuffle on the key; the rank is a per-key top-1 window,
    which AQE handles under skew, and which keeps the log's column order
    and types exactly.
    """
    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(k).orderBy(*[F.col(c).desc() for c in order_cols])
    latest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if drop_deletes:
        latest = latest.filter(F.col("operation") != OP_DELETE)
    return latest


def asof_latest(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    as_of,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Latest row at or before ``as_of`` per key — a temporal read of the
    log (SURVEY §2 B9). ``order_cols`` break timestamp ties (e.g. ``id``).

    The time predicate is pushed to the scan (partition pruning on
    time-partitioned logs); then one shuffle + per-key top-1.
    """
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(
        F.col(ts_col).desc(), *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.filter(F.col(ts_col) <= F.lit(as_of))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of join: for each left row, the latest right row with the same key
    and ``right_ts <= left_ts``.

    Implementation: equi-join on the key (single shuffle, Catalyst picks the
    strategy), range filter, then per-(left row) top-1 by right timestamp.
    For dense right sides, a bucketed/interval-partitioned variant bounds
    the join fan-out; at fixture scales the fan-out is modest.

    ``tolerance_seconds`` adds the feature-store max-staleness bound:
    only right rows within ``[left_ts - tolerance, left_ts]`` qualify;
    left rows whose only matches are too stale keep a NULL enrichment
    (they are not dropped).
    """
    # a synthetic unique row id keys the per-left-row top-1: partitioning
    # the dedup window by the left *columns* would collapse duplicate left
    # rows into one output row
    lpref = left.select(
        [F.col(c).alias(f"l_{c}") for c in left.columns]
    ).withColumn("__lid", F.monotonically_increasing_id())
    rpref = right.select([F.col(c).alias(f"r_{c}") for c in right.columns])
    cond = [F.col(f"l_{k}") == F.col(f"r_{k}") for k in keys]
    cond.append(F.col(f"r_{right_ts}") <= F.col(f"l_{left_ts}"))
    if tolerance_seconds is not None:
        # feature-store max-staleness semantics: a match older than the
        # tolerance is as good as no match (NULL enrichment) — the bound
        # must live IN the join condition so too-stale-only rows still
        # emit their left row, and at scale it also caps the range-join
        # fan-out to the tolerance window
        cond.append(
            F.unix_timestamp(F.col(f"r_{right_ts}").cast("timestamp"))
            >= F.unix_timestamp(F.col(f"l_{left_ts}").cast("timestamp"))
            - F.lit(int(tolerance_seconds))
        )
    joined = lpref.join(rpref, cond, "left")
    w = Window.partitionBy("__lid").orderBy(
        F.col(f"r_{right_ts}").desc_nulls_last()
    )
    return (
        joined.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__lid")
    )


def topk_per_group(
    df: DataFrame,
    group: Sequence[str],
    order: Sequence[Column],
    k: int,
) -> DataFrame:
    """Top-k rows per group via window rank (SURVEY §2 B12).

    One shuffle on the group key; ``row_number`` (not ``rank``) keeps output
    size exactly k·groups. Deterministic iff ``order`` is a total order —
    callers append a unique tiebreaker column.
    """
    w = Window.partitionBy(*[F.col(g) for g in group]).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .withColumnRenamed("__rn", "rnk")
    )


def reconstruct_befores(
    changes: DataFrame,
    key: Column | str,
    order_cols: Sequence[str] = ("id",),
) -> DataFrame:
    """Derive missing before-images: per key in log order, each change's
    ``before`` is the previous change's ``after`` (SURVEY §2 B11's CDC
    use-case — image *n-1* vs *n* per key). Sources that only capture
    after-images (append-only event logs, B4) get full before/after
    semantics back with one window pass.

    An existing non-null ``before`` is preserved; the first change of a
    key keeps before=NULL (INSERT semantics). One shuffle on the key.
    """
    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(k).orderBy(*[F.col(c).asc() for c in order_cols])
    return changes.withColumn(
        "before", F.coalesce(F.col("before"), F.lag("after").over(w))
    )


def apply_changes(
    state: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Apply a change batch to a materialized state — the replica-side
    write path of the reference's replication use case
    (``/root/reference/README.md:26-30``): INSERT/UPDATE upsert the after
    image, DELETE removes the key. Invariant (tested):
    ``apply_changes(old, snapshot_diff(old, new)) ≡ new``.

    Expects at most one change per key (a compacted batch — run
    :func:`compact_log` first on raw logs). Typed rows come from the after
    image via ``from_json`` with the state's schema.

    Scale: one anti-join (state ∖ changed-keys) + a union of parsed
    upserts — both shuffled on the key; the state side streams through.
    This is exactly the merge a ``foreachBatch`` sink runs per micro-batch
    for an idempotent, effectively-once replica (B17).
    """
    schema = state.schema
    img = F.coalesce(F.col("after"), F.col("before"))
    parsed = changes.select(
        F.col("operation"), F.from_json(img, schema).alias("__row")
    )
    keyed = parsed.select(
        "operation", "__row", *[F.col(f"__row.{k}").alias(k) for k in keys]
    )
    changed_keys = keyed.select(*keys).distinct()
    survivors = state.join(changed_keys, list(keys), "left_anti")
    upserts = keyed.filter(F.col("operation") != OP_DELETE).select(
        *[F.col(f"__row.{c}").alias(c) for c in state.columns]
    )
    return survivors.unionByName(upserts)


def nearest_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_id: str,
    left_ts: str,
    right_id: str,
    right_ts: str,
    tolerance_seconds: int,
) -> DataFrame:
    """Bidirectional nearest-event join — the sensor-alignment /
    feature-attach rule as-of joins can't express: each left row takes
    the single right row (same keys) with the SMALLEST |Δt|, looking
    BOTH directions, but only within the tolerance; ties break to the
    earlier right timestamp. The classic uses: aligning two irregular
    measurement streams, attaching the closest log line to an alert.

    Scale shape: both sides bucket their epoch-micros by the tolerance
    and candidates come from an EQUI-join on (keys, bucket) with the
    left side exploding its 3 adjacent buckets — any |Δt| ≤ T pair
    shares or neighbors a bucket, so the join is complete and fan-out
    is bounded by per-bucket density, never a full time-range product.
    All arithmetic in exact integer micros; one per-left top-1 window.

    Output: left columns + ``r_ts``/``dt_us`` (signed right − left) and
    the right's remaining columns prefixed ``r_``. ``right_id`` is the
    final tie-break (same key, same |Δt|, same timestamp), making the
    pick total and the result hash-stable.
    """
    if int(tolerance_seconds) <= 0:
        # T=0 would make the bucket expr `div 0` → NULL in Spark SQL, so
        # the equi-join matches nothing and the call silently returns
        # empty instead of exact-timestamp matches. Fail loudly.
        raise ValueError(
            "tolerance_seconds must be >= 1 "
            f"(got {tolerance_seconds}); for exact-timestamp alignment "
            "use an equi-join on the timestamp column"
        )
    T = int(tolerance_seconds) * 1_000_000
    # NTZ-safe: cast to timestamp first (session tz is UTC in this
    # engine's sessions; DuckDB's epoch_us on a naive timestamp agrees)
    lt = F.unix_micros(F.col(left_ts).cast("timestamp"))
    rt = F.unix_micros(F.col(right_ts).cast("timestamp"))
    l = left.withColumn("__lt", lt).withColumn(
        "__b", F.expr(f"unix_micros(cast({left_ts} as timestamp)) div {T}")
    )
    l = l.withColumn("__probe", F.explode(F.array(
        F.col("__b") - 1, F.col("__b"), F.col("__b") + 1
    )))
    rcols = [c for c in right.columns if c not in keys]
    r = right.withColumn("__rt", rt).withColumn(
        "__rb", F.expr(f"unix_micros(cast({right_ts} as timestamp)) div {T}")
    ).select(
        *keys, "__rt", "__rb",
        *[F.col(c).alias(f"r_{c}") for c in rcols],
    )
    L, R = l.alias("L"), r.alias("R")
    cond = F.col("L.__probe") == F.col("R.__rb")
    for k in keys:
        cond = cond & (F.col(f"L.{k}") == F.col(f"R.{k}"))
    cand = (
        L.join(R, cond)
        .select(
            *[F.col(f"L.{c}") for c in left.columns],
            F.col("L.__lt").alias("__lt"),
            F.col("R.__rt").alias("__rt"),
            *[F.col(f"R.r_{c}") for c in rcols],
        )
        .filter(F.abs(F.col("__rt") - F.col("__lt")) <= T)
    )
    w = Window.partitionBy(left_id).orderBy(
        F.abs(F.col("__rt") - F.col("__lt")).asc(),
        F.col("__rt").asc(),
        F.col(f"r_{right_id}").asc(),
    )
    return (
        cand.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            *left.columns,
            (F.col("__rt") - F.col("__lt")).alias("dt_us"),
            *[f"r_{c}" for c in rcols],
        )
    )


def apply_changes_guarded(
    state: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    id_col: str = "id",
) -> DataFrame:
    """Out-of-order-safe replica merge — :func:`apply_changes` for logs
    whose batches can arrive LATE or be REPLAYED (retries, backfills,
    multi-source logs): the state keeps per-key ``_op``/``_version``
    columns (version = last applied change id), DELETEs persist as
    TOMBSTONE rows rather than physical removals, and each merge is
    simply latest-version-wins compaction over ``state ∪ batch`` — so
    applying batches in ANY order converges to the same state (the
    algebra is a max-id semilattice; order-independence is structural,
    not procedural). Tombstones are what make replay safe: a physical
    delete would let a stale pre-delete INSERT resurrect the key — the
    classic log-compacted-replica rule (tested). Read the replica with
    ``.filter(col('_op') != 'DELETE')``.

    Scale: one union + one keyed window per merge (bounded rows per
    key); batches shuffle on the key, the state side reuses the same
    partitioning across merges.
    """
    data_fields = [
        f for f in state.schema.fields if f.name not in ("_op", "_version")
    ]
    schema = T.StructType(data_fields)
    img = F.coalesce(F.col("after"), F.col("before"))
    parsed = changes.select(
        F.col("operation").alias("_op"),
        F.col(id_col).cast("long").alias("_version"),
        F.from_json(img, schema).alias("__row"),
    ).select(
        *[F.col(f"__row.{f.name}").alias(f.name) for f in data_fields],
        "_op",
        "_version",
    )
    merged = state.unionByName(parsed)
    w = Window.partitionBy(*keys).orderBy(F.col("_version").desc())
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def empty_guarded_state(spark, schema_ddl: str) -> DataFrame:
    """An empty replica for :func:`apply_changes_guarded`: the data
    columns plus the ``_op``/``_version`` bookkeeping pair."""
    return spark.createDataFrame(
        [], schema_ddl + ", _op string, _version long"
    )


def scd2(
    changes: DataFrame,
    key: Column | str,
    order_cols: Sequence[str] = ("id",),
    ts_col: str = "timestamp",
) -> DataFrame:
    """Type-2 slowly-changing-dimension materialization: every non-DELETE
    change becomes a version row valid from its own timestamp until the
    NEXT change of the same key (``valid_to`` NULL = still current); a
    DELETE emits no row but closes the prior version. The standard
    warehouse history table derived from the reference's change feed
    (the "data warehousing" consumer, ``/root/reference/README.md:26-30``).

    One shuffle on the key; the lead() window is computed over ALL
    changes (including DELETEs) so deletions terminate validity, then
    DELETE rows are dropped.
    """
    k = F.col(key) if isinstance(key, str) else key
    w = Window.partitionBy(k).orderBy(*[F.col(c).asc() for c in order_cols])
    nxt = F.lead(ts_col).over(w)
    return (
        changes.withColumn("valid_from", F.col(ts_col))
        .withColumn("valid_to", nxt)
        .withColumn("is_current", nxt.isNull())
        .filter(F.col("operation") != OP_DELETE)
    )


def column_diff(
    changes: DataFrame,
    columns: Sequence[str],
) -> DataFrame:
    """Column-level change tracking: for each UPDATE, which of ``columns``
    actually changed between the before and after JSON images. Audit-trail
    flattening — the per-field view replication/cache consumers diff by
    hand. Narrow map (JSON field extraction + null-safe compare per
    column), no shuffle.

    Adds ``changed_cols`` (array, in ``columns`` order) and ``n_changed``.
    """
    diffs = [
        F.when(
            ~F.get_json_object(F.col("before"), f"$.{c}").eqNullSafe(
                F.get_json_object(F.col("after"), f"$.{c}")
            ),
            F.lit(c),
        )
        for c in columns
    ]
    return changes.filter(F.col("operation") == OP_UPDATE).select(
        "*",
        F.array_compact(F.array(*diffs)).alias("changed_cols"),
    ).withColumn("n_changed", F.size("changed_cols").cast("bigint"))


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: salt the (large, skewed) left side into
    ``salt`` sub-keys and replicate the right side across all salts.

    AQE's skew-join split handles most cases at runtime; explicit salting
    is for the pathological hot-key join where one key exceeds a single
    task even after splitting (e.g. a change log where one table/tenant
    dominates). Cost: right side replicated ``salt``× — use for
    moderate-size right sides only (broadcast beats salting when the right
    side fits in memory).

    Only ``inner`` and ``left`` are supported: the right side is
    replicated across every salt value, so for ``right``/``full`` each
    *unmatched* right row would be emitted ``salt`` times.
    """
    norm = how.strip().lower().replace("_", "")
    if norm != "outer" and norm.endswith("outer"):
        norm = norm[: -len("outer")]  # Spark alias: left_outer/leftouter ≡ left
    if norm not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "replicated right side would duplicate unmatched right rows"
        )
    how = norm
    lsalted = left.withColumn(
        "__salt", F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(salt))
    )
    rsalted = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("__salt"))
        )
    )
    out = lsalted.join(rsalted, [key, "__salt"], how)
    return out.drop("__salt")


def snapshots_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two snapshots via ``exceptAll`` both ways
    (SURVEY §2 B13) — the replication-correctness check."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    id_col: str,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Row-level session-ID assignment (SURVEY §2 B15 depth): each event
    tagged with its user's session ordinal; a new session starts when the
    gap from the previous event exceeds ``gap_seconds``. The row-level
    companion to ``session_window`` aggregation (which only emits
    per-session rollups). Lag-diff start markers + a running sum sharing
    one sort; one shuffle on ``user_col``. Appends ``session_id``."""
    from pyspark.sql import Window as W

    sec = F.unix_timestamp(F.col(ts_col).cast("timestamp"))
    w = W.partitionBy(user_col).orderBy(sec.asc(), F.col(id_col).asc())
    new_flag = (
        F.when(sec - F.lag(sec, 1).over(w) > gap_seconds, F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
    )
    return df.withColumn(
        "session_id",
        (
            F.sum(new_flag).over(w.rowsBetween(W.unboundedPreceding, 0))
            + F.lit(1)
        ).cast("bigint"),
    )


def funnel(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered funnel (SURVEY §2 B15 depth): per step, how many users
    reached it with each step's event strictly AFTER their previous
    step's — the sequential-pattern read of an event stream. One keyed
    min-agg pass per step (partial+final hash agg on the user key), no
    whole-stream window, no cartesian. Returns one row per step:
    ``(step, step_name, n_users)``."""
    spark = df.sparkSession
    prev = None
    rows = []
    for i, step in enumerate(steps):
        cur = df.filter(F.col(type_col) == step)
        if prev is not None:
            cur = cur.join(prev, user_col).filter(
                F.col(ts_col) > F.col("__prev_ts")
            )
        cur = cur.groupBy(user_col).agg(F.min(ts_col).alias("__prev_ts"))
        count_df = cur.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users")
        ).select(
            F.lit(i + 1).cast("bigint").alias("step"),
            F.lit(step).alias("step_name"),
            "n_users",
        )
        rows.append(count_df)
        prev = cur
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Cohort retention triangle (SURVEY §2 B15 depth): users bucketed by
    first-seen period, distinct active users counted per (cohort period,
    period offset). One min-agg for cohort assignment (broadcast back)
    plus one distinct-count agg; `date_trunc` buckets are engine-portable
    (Monday-start weeks). Returns ``(cohort_<period>, period_offset,
    n_users)``."""
    days = {"week": 7, "day": 1}[period]
    first = df.groupBy(user_col).agg(
        F.date_trunc(period, F.min(ts_col)).cast("date").alias("__cohort")
    )
    return (
        df.join(F.broadcast(first), user_col)
        .select(
            user_col,
            "__cohort",
            (
                F.datediff(
                    F.date_trunc(period, F.col(ts_col)).cast("date"),
                    F.col("__cohort"),
                )
                / days
            )
            .cast("bigint")
            .alias("period_offset"),
        )
        .groupBy("__cohort", "period_offset")
        .agg(F.countDistinct(user_col).cast("bigint").alias("n_users"))
        .withColumnRenamed("__cohort", f"cohort_{period}")
    )


def aggregate_base(
    df: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
) -> DataFrame:
    """Build the materialized aggregate state :func:`incremental_agg`
    maintains: per group, ``cnt`` plus ``sum_<c>`` for each measure.
    Run once at bootstrap (A6); afterwards the MV is maintained purely
    from the change log."""
    aggs = [F.count(F.lit(1)).cast("bigint").alias("cnt")] + [
        F.sum(F.col(c)).alias(f"sum_{c}") for c in sum_cols
    ]
    return df.groupBy(*group_cols).agg(*aggs)


def incremental_agg(
    state: DataFrame,
    changes: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    row_schema,
) -> DataFrame:
    """Incremental materialized-view maintenance for keyed count/sum
    aggregates — the classic delta rule (ΔV = V(ΔD)) applied to the
    reference's change-stream output (``/root/reference/README.md:26-30``:
    the CDC log exists to keep downstream warehouses current without
    rescans). INSERTs contribute the after image with weight +1, DELETEs
    the before image with −1, UPDATEs both — so per-group deltas of
    ``cnt`` and each ``sum_<c>`` merge into the standing state with cost
    ∝ batch + touched groups, never re-aggregating the base table.
    Groups whose ``cnt`` reaches 0 are dropped (exact support semantics;
    avg/ratio views derive from cnt+sum at read time).

    Invariant (tested): ``incremental_agg(aggregate_base(old),
    snapshot_diff(old, new)) ≡ aggregate_base(new)``.

    Scale: the batch side collapses to one row per TOUCHED group before
    the merge join, so the full-outer join's streamed side is tiny; with
    the state bucketed on ``group_cols`` (storage.write_bucketed) the
    state side needs no shuffle at all. This is the foreachBatch body of
    a streaming MV (B17): idempotent per micro-batch when keyed by a
    drained, compacted log batch.

    ``row_schema``: StructType or DDL string of the base-table row images
    in ``before``/``after``.
    """
    before = F.from_json(F.col("before"), row_schema).alias("__img")
    after = F.from_json(F.col("after"), row_schema).alias("__img")
    minus = changes.filter(F.col("operation").isin(OP_UPDATE, OP_DELETE)).select(
        before, F.lit(-1).alias("__w")
    )
    plus = changes.filter(F.col("operation").isin(OP_INSERT, OP_UPDATE)).select(
        after, F.lit(1).alias("__w")
    )
    deltas = (
        minus.unionByName(plus)
        .select(
            *[F.col(f"__img.{g}").alias(g) for g in group_cols],
            "__w",
            *[F.col(f"__img.{c}").alias(c) for c in sum_cols],
        )
        .groupBy(*group_cols)
        .agg(
            F.sum("__w").cast("bigint").alias("__d_cnt"),
            *[
                F.sum(F.col(c) * F.col("__w")).alias(f"__d_sum_{c}")
                for c in sum_cols
            ],
        )
    )
    merged = state.join(deltas, list(group_cols), "full_outer")
    zero = F.lit(0)
    out_cols = [
        (
            F.coalesce(F.col("cnt"), zero.cast("bigint"))
            + F.coalesce(F.col("__d_cnt"), zero.cast("bigint"))
        ).alias("cnt")
    ]
    for c in sum_cols:
        out_cols.append(
            (
                F.coalesce(F.col(f"sum_{c}"), zero)
                + F.coalesce(F.col(f"__d_sum_{c}"), zero)
            ).alias(f"sum_{c}")
        )
    return (
        merged.select(*group_cols, *out_cols)
        .filter(F.col("cnt") > 0)
    )


def groupwise_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    quantize: int = 100,
) -> DataFrame:
    """Per-group simple linear regression (y = a·x + b) from exact power
    sums — thousands of independent OLS fits in ONE aggregation pass
    (per-segment price curves, per-source quality-vs-length trends),
    no per-group iteration, no driver loop.

    x and y are quantized to integers (``floor(v·quantize)``) so Σx, Σy,
    Σxy, Σx², Σy² aggregate in DECIMAL(38,0)/HUGEINT — exact and
    order-independent on any engine at any parallelism. The closed-form
    slope/intercept/r² then convert the exact sums to double ONCE
    (deterministic round-to-nearest) and finish in IEEE arithmetic,
    rounded at 6. r² is computed in doubles precisely because squaring
    the exact integer numerator would overflow 38 digits — the sums stay
    exact, only the final ratio is float.

    Returns ``(group_cols…, n, slope, intercept, r2)``; groups with zero
    x-variance get NULL slope (division by zero propagates NULL).
    Scale: one shuffle on the group key, map-side partial aggregation;
    the quantized unscale folds into the closed form (slope is
    scale-free, intercept divides by ``quantize`` once).
    """
    dec = "decimal(38,0)"
    qx = F.floor(F.col(x_col) * quantize).cast("long").cast(dec)
    qy = F.floor(F.col(y_col) * quantize).cast("long").cast(dec)
    sums = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(qx).alias("__sx"),
        F.sum(qy).alias("__sy"),
        F.sum(qx * qy).alias("__sxy"),
        F.sum(qx * qx).alias("__sxx"),
        F.sum(qy * qy).alias("__syy"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    num = nd * sxy - sx * sy
    denx = nd * sxx - sx * sx
    deny = nd * syy - sy * sy
    slope = num / F.when(denx != 0, denx)
    intercept = (sy - slope * sx) / nd / quantize
    r2 = (num * num) / F.when(denx * deny != 0, denx * deny)
    return sums.select(
        *group_cols,
        "n",
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


def psi_drift(
    base: DataFrame,
    cur: DataFrame,
    value_col: str,
    n_buckets: int = 10,
    exact_edges: bool = True,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    numeric distribution — the standard drift monitor run on every
    feature/score column before trusting a new data drop.

    Buckets are the baseline's exact element-rank quantiles (the value
    at sorted position ``floor((n-1)·k/B)`` — no interpolation, so edge
    selection is exact comparison logic, never float arithmetic, and
    replays bit-identically on any engine). Shares are Laplace-smoothed
    ``(n_b + 1)/(N + B)`` so empty buckets stay finite; each PSI term
    ``(p−q)·ln(p/q)`` is ≥ 0 and floor-quantized to 1e-8 before the
    total sum, making the cross-bucket sum integer (order-independent).

    Scale shape: NO global sort of either side — the rank edges come
    from a per-distinct-value count (bounded by value cardinality) +
    one cumulative window over that bounded relation; the 1-row edge
    table broadcasts back and bucketing is a narrow codegen sum of
    comparisons. When value cardinality itself is unbounded pass
    ``exact_edges=False``: edges come from one ``percentile_approx``
    sketch aggregation (no distinct-value relation, no window at all)
    — same output shape, deterministic within Spark, but the edge
    placement is approximate so it is not oracle-replayable
    (the registered queries keep exact mode; a pytest bounds the
    approx-vs-exact share drift).

    Output: one row per bucket ``(bucket, n_base, n_cur, share_base,
    share_cur, psi_term, psi_total)`` — ``psi_total`` repeated on every
    row (> 0.2 = major shift by the usual rule of thumb).
    """
    B = n_buckets
    v = F.col(value_col)

    if exact_edges:
        vh = base.groupBy(v.alias("__v")).agg(F.count(F.lit(1)).alias("__c"))
        wcum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
        cum = vh.withColumn("__cum", F.sum("__c").over(wcum))
        totals = vh.agg(F.sum("__c").alias("__n"))
        edge_aggs = [
            F.min(
                F.when(
                    F.col("__cum")
                    >= F.floor((F.col("__n") - 1) * F.lit(k) / F.lit(B)) + 1,
                    F.col("__v"),
                )
            ).alias(f"__e{k}")
            for k in range(1, B)
        ]
        edges = cum.crossJoin(F.broadcast(totals)).agg(*edge_aggs)
    else:
        # unbounded-cardinality path: one sketch aggregation, no
        # distinct-value relation, no window — the 100 TB default
        edges = base.agg(
            *[
                F.percentile_approx(v, k / B, 10_000).alias(f"__e{k}")
                for k in range(1, B)
            ]
        )

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        b = df.crossJoin(F.broadcast(edges)).select(
            sum(
                [(v > F.col(f"__e{k}")).cast("int") for k in range(1, B)],
                F.lit(0),
            ).alias("bucket")
        )
        return b.groupBy("bucket").agg(F.count(F.lit(1)).alias(out))

    grid = F.broadcast(
        base.sparkSession.range(B).select(F.col("id").cast("int").alias("bucket"))
    )
    nb = bucketed(base, "n_base")
    nc = bucketed(cur, "n_cur")
    joined = (
        grid.join(nb, "bucket", "left")
        .join(nc, "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    tot = joined.agg(
        F.sum("n_base").alias("__tb"), F.sum("n_cur").alias("__tc")
    )
    p = (F.col("n_base") + 1) / (F.col("__tb") + B)
    q = (F.col("n_cur") + 1) / (F.col("__tc") + B)
    term = (p - q) * F.log(p / q)
    out = joined.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_base",
        "n_cur",
        F.round(p, 6).alias("share_base"),
        F.round(q, 6).alias("share_cur"),
        F.round(term, 6).alias("psi_term"),
        F.floor(term * 1e8).cast("long").alias("__t8"),
    )
    wall = Window.partitionBy()
    return out.select(
        "bucket",
        "n_base",
        "n_cur",
        "share_base",
        "share_cur",
        "psi_term",
        F.round(F.sum("__t8").over(wall) / 1e8, 6).alias("psi_total"),
    )


def pagerank(
    edges: DataFrame,
    iters: int = 3,
    damping: tuple[int, int] = (17, 20),
    scale: int = 10**6,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank with bit-exact cross-engine replay —
    link-style authority scoring over any directed edge relation
    (``src``, ``dst`` columns).

    The classic float recurrence is unreplayable (sum order); this
    variant keeps every rank an integer number of ``1/scale`` units:
    damping is the rational ``num/den`` (default 17/20 = 0.85), each
    node's per-edge share is the exact floor division
    ``(r·num) div (den·outdeg)``, and the teleport base is
    ``(scale·(den−num)) div den``. Floor losses mean total mass is not
    exactly conserved (deterministically sub-conserved) and dangling
    nodes leak their mass — both documented properties of this
    deterministic variant, shared by the SQL oracle.

    Scale shape: per iteration one node-keyed join builds the per-src
    share table (both sides node-sized — broadcast/cheap), then one
    equi-join of shares onto edges + one keyed sum on ``dst`` with
    map-side combine. The edge relation and node universe are
    localCheckpoint'd once (multi-referenced bounded inputs — the
    repo's iterative-consumer rule). r17 (guide §2.4):
    ``assume_distinct=True`` skips the defensive edge distinct for
    callers whose edge relation is distinct by construction (e.g. the
    symmetric union of a distinct bipartite relation with disjoint id
    ranges) — a full exchange + agg saved ("a distinct on data that is
    already unique"). An r17 A/B also REJECTED pre-attaching out-degrees
    to the edge relation (share computed per edge row, one join/iter):
    measured 5–13% slower at sf0.1 — the removed join is the cheap
    node-sized one while the attached form pays an edge-sized
    checkpoint materialization up front. Quotients stay exact in the
    double division as long as rank units < 2^53 (≈9e15 — holds to
    ~10^9 nodes at the default scale).

    Output: ``(node_id, rank_units bigint)`` — one row per node that
    appears in any edge.
    """
    return _rank_walk(edges, None, iters, damping, scale, assume_distinct)


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping: tuple[int, int] = (17, 20),
    scale: int = 10**6,
    assume_distinct: bool = False,
) -> DataFrame:
    """Personalized PageRank (random walk with restart) — proximity TO A
    SEED SET rather than global authority: the teleport mass returns to
    the seeds every step, so rank concentrates in the seeds' graph
    neighborhood (the "related entities" / local-relevance read; the
    candidate generator behind graph-based retrieval and
    recommend-similar screens).

    Same bit-exact integer discipline as :func:`pagerank` (rational
    damping, floor-division shares, integer units): initial rank is
    ``scale`` on seeds / 0 elsewhere, and each iteration's teleport
    base lands ONLY on seeds — per-seed (un-normalized) restart mass,
    the deterministic analog of the e_seed teleport vector; PPR is
    linear in the teleport vector so ranks differ from the normalized
    form by the same global factor, and the deterministic floor rules
    are shared with the SQL oracle. Same scale shape as pagerank: per
    iteration one src-keyed equi-join + one dst-keyed sum; bounded
    multi-referenced relations checkpointed once.

    ``seeds``: one column of node ids. Output: ``(node_id,
    rank_units)`` for every node in any edge.

    r17 (guide §2.4, same as :func:`pagerank`): ``assume_distinct``
    skips the defensive edge distinct for by-construction-distinct
    callers; the e_od pre-attach variant was A/B-rejected (see
    :func:`pagerank`). Both run the one walk, :func:`_rank_walk`.
    """
    return _rank_walk(edges, seeds, iters, damping, scale, assume_distinct)


def _rank_walk(
    edges: DataFrame,
    seeds: DataFrame | None,
    iters: int,
    damping: tuple[int, int],
    scale: int,
    assume_distinct: bool,
) -> DataFrame:
    """The integer random walk behind :func:`pagerank` and
    :func:`personalized_pagerank`. Each node carries ``__seed`` (1 on a
    teleport target, 0 elsewhere): rank starts at ``scale`` on seeds and
    0 elsewhere, and every round's teleport base lands on seeds only.
    PageRank is the walk with every node seeded (``seeds=None``: a
    literal ``__seed = 1``, no join)."""
    num, den = damping
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select(F.col("dst").alias("node_id")))
        .distinct()
    )
    if seeds is None:
        nodes = nodes.localCheckpoint().withColumn("__seed", F.lit(1))
    else:
        sd = seeds.select(
            F.col(seeds.columns[0]).alias("node_id"),
            F.lit(1).alias("__seed"),
        ).distinct()
        nodes = nodes.join(sd, "node_id", "left").select(
            "node_id", F.coalesce("__seed", F.lit(0)).alias("__seed")
        ).localCheckpoint()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__od"))
    base = (scale * (den - num)) // den

    # r17 construction pass 2 (guide §4, driver side): the per-round
    # projections render as SQL strings parsed once in the JVM — the
    # Column form re-built the floor-division tree every iteration over
    # py4j. Identical trees (the fdiv chain, coalesce, casts map 1:1),
    # re-gated bit-exact against the oracle.
    share_sql = _fdiv_sql(f"__r * {num}", f"{den} * __od") + " as __share"
    ranks = nodes.withColumn(
        "__r",
        F.when(F.col("__seed") == 1, F.lit(scale)).otherwise(F.lit(0))
        .cast("long"),
    )
    for _ in range(iters):
        shares = ranks.join(
            outdeg, ranks["node_id"] == outdeg["src"]
        ).selectExpr("src", share_sql)
        inflow = (
            e.join(shares, "src")
            .groupBy("dst")
            .agg(F.expr("sum(__share) as __in"))
        )
        ranks = nodes.join(
            inflow, nodes["node_id"] == inflow["dst"], "left"
        ).selectExpr(
            "node_id",
            "__seed",
            f"cast((case when __seed = 1 then {base} else 0 end)"
            " + coalesce(__in, 0) as bigint) as __r",
        )
    return ranks.select("node_id", F.col("__r").alias("rank_units"))


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient over an
    undirected graph given as canonical edges (``src < dst``, distinct)
    — the graph-structure audit (community density, abnormal cliques)
    companion to :func:`pagerank`.

    Algorithm: the standard ordered-wedge join — because every edge is
    stored once with ``src < dst``, each triangle ``a<b<c`` is produced
    exactly once by e₁(a,b) ⋈ e₂(b,c) ⋈ e₃(a,c), so no /6 correction
    and no double counting. Cost is Σ_b deg⁺(b)² wedge rows (the
    ordering bounds it by the FORWARD degree, the classic skew guard:
    a hub's wedges are counted at its low-degree neighbors). Each
    found triangle then credits all three corners via one explode +
    keyed sum; cc(v) = 2·t(v)/(deg(v)·(deg(v)−1)) from exact integers.

    Scale shape: two equi-joins (shuffle on the join key each — AQE
    splits hot vertices) + one keyed count; the edge relation is
    multi-referenced so it is localCheckpoint'd once. Output:
    ``(node_id, degree bigint, triangles bigint, cc double)`` for
    every node with ≥ 1 edge.
    """
    e = edges.select("src", "dst").localCheckpoint()
    deg = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select(F.col("dst").alias("node_id")))
        .groupBy("node_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e1 = e.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = e.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    corner = tris.select(
        F.explode(F.array("a", "b", "c")).alias("node_id")
    ).groupBy("node_id").agg(F.count(F.lit(1)).alias("triangles"))
    d = F.col("degree").cast("double")
    return (
        deg.join(corner, "node_id", "left")
        .select(
            "node_id",
            "degree",
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0 * F.coalesce("triangles", F.lit(0)) / (d * (d - 1.0)), 6
                ),
            ).otherwise(F.lit(0.0)).alias("cc"),
        )
    )


def trailing_ewma(
    df: DataFrame,
    part_col: str,
    order_cols: Sequence[str],
    value_col: str,
    n_terms: int = 8,
    quant: int = 100,
) -> DataFrame:
    """Exponentially-weighted trailing average per key — the smoothed
    per-entity signal (rate limiting, anomaly baselines) usually
    written as the EWMA recurrence ``s_t = α·v_t + (1−α)·s_{t−1}``,
    which is unreplayable in floats and unwindowable in SQL. This is
    the bounded-memory form: α = 1/2 over the last ``n_terms``
    observations, so the weights are exact powers of two and the whole
    statistic is a ratio of two INTEGER window sums:

        ewma_t = Σ_j q(v_{t−j})·2^(n−1−j) / (quant · Σ_j 2^(n−1−j))

    (terms missing at a partition head simply drop out of both sums).
    One window pass, pure codegen — ``n_terms`` lag() calls over the
    same (key, order) window frame, no shuffle beyond the partitioning
    one, replays bit-for-bit on any engine.

    Output: input key/order columns + ``ewma`` (double, rounded 6).
    """
    from pyspark.sql import Window as _W

    qv = F.floor(F.col(value_col) * quant).cast("long")
    w = _W.partitionBy(part_col).orderBy(*[F.col(c).asc() for c in order_cols])
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for j in range(n_terms):
        lagged = F.lag(qv, j).over(w)
        wt = 2 ** (n_terms - 1 - j)
        num = num + F.when(lagged.isNotNull(), lagged * wt).otherwise(0)
        den = den + F.when(lagged.isNotNull(), F.lit(wt)).otherwise(0)
    return df.select(
        part_col,
        *order_cols,
        F.round(num / (den * F.lit(float(quant))), 6).alias("ewma"),
    )


def incremental_join_view(
    view: DataFrame,
    a_old: DataFrame,
    b_old: DataFrame,
    on: str,
    a_inserts: DataFrame | None = None,
    a_deletes: DataFrame | None = None,
    b_inserts: DataFrame | None = None,
    b_deletes: DataFrame | None = None,
) -> DataFrame:
    """Incremental maintenance of a JOIN materialized view — the delta
    rule :func:`incremental_agg` applies to keyed aggregates, extended
    to the two-table equi-join (the classic bag-algebra identity,
    public DBSP/incremental-view-maintenance material):

        Δ(A ⋈ B) = ΔA ⋈ B_old  +  A_old ⋈ ΔB  +  ΔA ⋈ ΔB

    with tuple weights (+1 insert, −1 delete; an UPDATE is both) that
    MULTIPLY through the join. The standing view then bag-merges with
    ΔV keyed by the FULL tuple (weights of identical tuples cancel;
    rows with positive net weight survive) — so a payload change
    cancels its old tuple and lands its new one in the same pass.

    Cost ∝ |batch| ⋈ the standing snapshots — three keyed joins on
    ``on`` plus one keyed merge agg; the base join is never
    recomputed. At scale ``a_old``/``b_old`` are the bucketed base
    tables (storage.write_bucketed ⇒ zero-exchange delta joins) and
    ``view`` the materialized result. Invariant (tested):
    ``incremental_join_view(A_old ⋈ B_old, …) ≡ A_new ⋈ B_new``.

    All inputs carry their natural columns; ``a_*`` frames share A's
    schema, ``b_*`` frames B's. Output columns = A's then B's minus
    the duplicated join key (Spark's ``join(on=str)`` convention).
    Contract: view tuples are SET-unique (e.g. both sides' primary
    keys are selected into the view — true of any PK/FK join that
    keeps its keys); the merge collapses net weight to one row.
    """

    def weighted(ins, dels):
        parts = []
        if ins is not None:
            parts.append(ins.withColumn("__w", F.lit(1)))
        if dels is not None:
            parts.append(dels.withColumn("__w", F.lit(-1)))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    da = weighted(a_inserts, a_deletes)
    db = weighted(b_inserts, b_deletes)
    terms = []
    if da is not None:
        terms.append(da.join(b_old, on).select(*view.columns, "__w"))
    if db is not None:
        terms.append(
            a_old.join(db, on).select(*view.columns, "__w")
        )
    if da is not None and db is not None:
        dbr = db.withColumnRenamed("__w", "__wb")
        terms.append(
            da.join(dbr, on)
            .select(*view.columns, (F.col("__w") * F.col("__wb")).alias("__w"))
        )
    merged = view.withColumn("__w", F.lit(1))
    for t in terms:
        merged = merged.unionByName(t)
    cols = list(view.columns)
    return (
        merged.groupBy(*cols)
        .agg(F.sum("__w").alias("__net"))
        .filter(F.col("__net") > 0)
        .select(*cols)
    )


def distributed_row_number(
    df: DataFrame,
    part_cols: Sequence[str],
    order_cols: Sequence[Column],
    out_col: str = "rn",
) -> DataFrame:
    """Per-group ``row_number`` WITHOUT one-task-per-group: a keyed
    window puts each group's whole order on a single task, so a
    dominant group (one source holding 90% of a corpus, one hot
    entity) becomes the straggler. Here ranks come from the two-phase
    scan instead: ``repartitionByRange`` on (group, order) spreads
    every group across range partitions; ranks are local within
    (partition, group) — parallel across a group's partitions — and
    each (group, partition)'s base offset is an exclusive prefix over
    the tiny |groups × partitions| count relation (keyed window,
    broadcast back). Bit-identical to
    ``row_number().over(partitionBy(group).orderBy(order))`` for any
    total order (parity-tested).

    The ranked relation is checkpointed once — range-boundary
    re-sampling across plan branches would desync
    ``spark_partition_id`` between the ranks and the offsets (same
    rule as :func:`distributed_ntile`).
    """
    pc = [F.col(c) for c in part_cols]
    d = df.repartitionByRange(*pc, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid", *pc).orderBy(*order_cols)
    ranked = d.withColumn("__lr", F.row_number().over(w_local)).localCheckpoint(
        eager=False
    )
    # r17 construction pass 2 (guide §4, driver side): the offsets
    # projection renders as SQL strings (identical window — "rows
    # between unbounded preceding and 1 preceding" == rowsBetween(
    # unboundedPreceding, -1)); re-gated bit-exact
    counts = ranked.groupBy("__pid", *pc).agg(F.expr("count(1) as __c"))
    part_sql = (
        "partition by " + ", ".join(bq(c) for c in part_cols) + " "
        if part_cols
        else ""
    )
    offsets = counts.selectExpr(
        "__pid",
        *[bq(c) for c in part_cols],
        f"coalesce(sum(__c) over ({part_sql}order by __pid asc"
        " rows between unbounded preceding and 1 preceding), 0)"
        " as __off",
    )
    return (
        ranked.join(F.broadcast(offsets), ["__pid", *part_cols])
        .withColumn(out_col, F.expr("cast(__off + __lr as bigint)"))
        .drop("__pid", "__lr", "__off")
    )


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[Column],
    weight_col: str,
    out_col: str = "cum_before",
) -> DataFrame:
    """EXCLUSIVE global running sum of ``weight_col`` in ``order_cols``
    order WITHOUT a single-partition window — the weighted sibling of
    :func:`distributed_row_number` (r13; built for PPS systematic
    sampling, where every row needs the total weight BEFORE it).

    Two-phase scan: (1) ``repartitionByRange`` on the ordering, then an
    exclusive cumulative sum windowed by the physical partition id —
    every partition sums in parallel; (2) per-partition weight totals
    (one row per partition) prefix-summed into base offsets and
    broadcast back, so ``global prefix = offset + local prefix``
    exactly. Bit-identical to the one-task
    ``sum().over(orderBy(...).rowsBetween(unboundedPreceding, -1))``
    for any total order (parity-tested). The offsets window is the
    |partitions|-row relation (the b10_gini rule). Ranked relation
    checkpointed once — range-boundary re-sampling across plan
    branches would desync ``spark_partition_id`` (same rule as
    :func:`distributed_ntile`).

    ``order_cols`` must be a total order (include an id tie-break);
    weights must be integral for exactness (sum order is immaterial
    for int64).
    """
    d = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    summed = d.withColumn(
        "__lc", F.coalesce(F.sum(weight_col).over(w_local), F.lit(0))
    ).localCheckpoint()
    # r17 construction pass 2: SQL-string offsets (see
    # :func:`distributed_row_number`), re-gated bit-exact
    totals = summed.groupBy("__pid").agg(
        F.expr(f"cast(sum({bq(weight_col)}) as bigint) as __t")
    )
    offsets = totals.selectExpr(
        "__pid",
        "coalesce(sum(__t) over (order by __pid asc"
        " rows between unbounded preceding and 1 preceding), 0)"
        " as __off",
    )
    return (
        summed.join(F.broadcast(offsets), "__pid")
        .withColumn(out_col, F.expr("cast(__off + __lc as bigint)"))
        .drop("__pid", "__lc", "__off")
    )


def distributed_ntile(
    df: DataFrame,
    order_cols: Sequence[Column],
    n: int,
    out_col: str = "tile",
) -> DataFrame:
    """Exact global ``ntile(n)`` WITHOUT a single-partition window — the
    scale path for quantile scoring over an unbounded relation (an
    unpartitioned ``ntile`` serializes every row through one task).

    Two-phase scan, the :func:`pipeline.sampling.prefix_sum` pattern
    with RANGE buckets: (1) ``repartitionByRange`` on the ordering, then
    a row_number window partitioned by the physical partition id — all
    partitions rank in parallel; (2) per-partition counts (one row per
    partition, tiny) prefix-summed into base offsets and broadcast
    back, so ``global rank = offset + local rank`` exactly. The tile is
    then CLOSED-FORM from the rank: with ``N`` rows, the first
    ``N mod n`` buckets take ``N div n + 1`` rows and the rest
    ``N div n`` — the equal-buckets / remainder-to-front definition
    Spark and DuckDB share, so results are bit-identical to the
    built-in ``ntile`` (parity-tested). Partition boundaries don't
    affect the result: any range split yields the same global ranks.

    ``order_cols`` must be a total order (include an id tie-break).
    """
    d = df.repartitionByRange(*order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy(*order_cols)
    # materialize ONCE: the counts/offsets branch below must see the
    # exact same range boundaries (and therefore __pid values) as the
    # ranked rows — a re-executed range exchange may re-sample different
    # boundaries, so both branches read this checkpoint instead
    ranked = d.withColumn("__lr", F.row_number().over(w_local)).localCheckpoint(
        eager=False
    )
    counts = ranked.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    # one row per partition — the only unpartitioned window runs over
    # this |partitions|-row relation, then broadcasts back
    offsets = counts.select(
        "__pid",
        F.coalesce(
            F.sum("__c").over(
                Window.orderBy(F.col("__pid").asc()).rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).alias("__off"),
    )
    totals = counts.agg(F.sum("__c").alias("__N"))
    g = (
        ranked.join(F.broadcast(offsets), "__pid")
        .crossJoin(F.broadcast(totals))
        .withColumn("__gr", F.col("__off") + F.col("__lr"))
    )
    nn = int(n)
    g = g.withColumn("__base", F.expr(f"__N div {nn}")).withColumn(
        "__head", (F.col("__N") % nn) * (F.col("__base") + 1)
    )
    # pure integer arithmetic end-to-end (div, never a float path) so
    # the tile replays bit-identically on any engine
    tile = (
        F.when(
            F.col("__gr") <= F.col("__head"),
            F.expr("(__gr - 1) div (__base + 1)") + 1,
        )
        .otherwise(
            F.col("__N") % nn
            + F.expr("(__gr - 1 - __head) div greatest(__base, 1)")
            + 1
        )
        .cast("int")
    )
    return g.withColumn(out_col, tile).drop(
        "__pid", "__lr", "__c", "__off", "__N", "__gr", "__base", "__head"
    )


def rfm_segments(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    n_tiles: int = 5,
) -> DataFrame:
    """RFM (recency / frequency / monetary) user segmentation — the
    classic behavioral scoring read off an event stream.

    Per user: days since last activity (calendar datediff against the
    stream's max timestamp — a 1-row broadcast), event count, and
    monetary total in exact integer cents (per-event floor
    quantization, then an integer sum — never a float sum). Scores are
    exact global ``ntile(n_tiles)`` with id tie-breaks via
    :func:`distributed_ntile` (r8: two-phase range-partitioned rank +
    closed-form tile — the per-user relation is contracted from the
    stream but still unbounded, so a single-partition ntile window
    would be the one non-scaling step in the pipeline; both engines
    share the equal-buckets/remainder-to-front definition, so results
    are bit-identical to the built-in). r=1 meaning most recent,
    f=1/m=1 meaning most active/valuable.

    Output: ``(user_id, rec_days, n_events, m_cents, r, f, m,
    segment)`` with segment the concatenated "rfm" digit string.
    """
    ref = events.agg(F.max(F.col(ts_col)).alias("__ref"))
    per = (
        events.groupBy(F.col(user_col).alias("user_id"))
        .agg(
            F.max(F.col(ts_col)).alias("__last"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.floor(F.col(value_col) * 100).cast("long")).alias("m_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "user_id",
            F.datediff(F.to_date("__ref"), F.to_date("__last")).alias("rec_days"),
            "n_events",
            "m_cents",
        )
        # three tile orderings read the same relation — one materialization
        .localCheckpoint()
    )
    r_t = distributed_ntile(
        per, [F.col("rec_days").asc(), F.col("user_id").asc()], n_tiles, "r"
    ).select("user_id", "r")
    f_t = distributed_ntile(
        per, [F.col("n_events").desc(), F.col("user_id").asc()], n_tiles, "f"
    ).select("user_id", "f")
    m_t = distributed_ntile(
        per, [F.col("m_cents").desc(), F.col("user_id").asc()], n_tiles, "m"
    ).select("user_id", "m")
    return (
        per.join(r_t, "user_id")
        .join(f_t, "user_id")
        .join(m_t, "user_id")
        .withColumn(
            "segment",
            F.concat(
                F.col("r").cast("string"),
                F.col("f").cast("string"),
                F.col("m").cast("string"),
            ),
        )
    )


def bloom_build(
    keys: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Build an engine-portable Bloom filter over a key column — the
    semi-join reduction that makes selective joins cheap at 100 TB: the
    filter (m_bits/8 bytes, here 512 B) broadcasts to every executor
    and prunes the fact side BEFORE its shuffle, so only probable
    matches move. Spark's built-in runtime filters do this opaquely;
    this one is explicit AND deterministic — bit positions come from
    the universal family ``(a_i·h + b_i) mod P mod m`` over the
    portable md5-based 60-bit key hash, so the bitmap (and therefore
    exactly WHICH rows pass) replays bit-for-bit on any engine.

    The bitmap is a relation ``(word, bits)``: 63-bit words (bit 63
    stays clear — DuckDB rejects a shift into the int64 sign bit)
    built with one ``bit_or`` aggregation (map-side combinable).
    Output: ``(word int, bits long)``.
    """
    from .pipeline.dedup import MINHASH_P, _hash_family

    # r17 construction pass 2 (guide §4, driver side): SQL-string form —
    # identical trees (the pmod/conv/md5 chain matches portable_hash60;
    # int literals parse like F.lit), re-gated bit-exact
    fam = _hash_family(k_hashes, seed=0xB100)
    base = (
        f"pmod(cast(conv(substring(md5(cast({bq(key_col)} as string)),"
        f" 1, 15), 16, 10) as bigint), {MINHASH_P})"
    )
    pos = ", ".join(
        f"pmod({base} * {a} + {b}, {MINHASH_P}) % {m_bits}" for a, b in fam
    )
    rows = keys.selectExpr(f"explode(array({pos})) as pos")
    return (
        rows.selectExpr(
            "cast(pos / 63 as int) as word",
            "shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT)) as __bit",
        )
        .groupBy("word")
        .agg(F.expr("bit_or(__bit)").alias("bits"))
    )


def bloom_probe(
    facts: DataFrame,
    bloom: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Probe a :func:`bloom_build` filter: keep fact rows whose key has
    ALL ``k_hashes`` bits set — false positives possible (the point:
    they are bounded and cheap to re-verify downstream), false
    negatives impossible. Returns the input rows that pass.

    A Bloom filter is by definition driver-sized (that is WHY it beats
    a semi-join: m_bits/8 bytes total, 512 B at the default), so the
    normal path collects the bitmap once — bounded by contract, like
    the ANN query sets — and inlines it as a literal word array: the
    probe is then a PURE-CODEGEN narrow filter (element_at + bitwise
    AND per hash), zero joins, zero shuffles, applied before the fact
    table ever moves. For oversized bitmaps (> 2^16 bits, where a plan
    literal would strain codegen) it falls back to probing the DISTINCT
    keys against the broadcast bitmap relation and semi-joining facts
    back BY KEY — never by a synthetic row id, whose per-branch
    recomputation under nondeterministic task order could mis-join
    (round-6 advice)."""
    from .pipeline.dedup import MINHASH_P, _hash_family, portable_hash60

    # r17 construction pass 2: the whole probe predicate renders as ONE
    # parsed SQL string (the Column form was ~450 py4j round-trips per
    # probe build — literal arrays, four hash chains, the AND fold);
    # identical tree, re-gated bit-exact
    fam = _hash_family(k_hashes, seed=0xB100)
    base_sql = (
        f"pmod(cast(conv(substring(md5(cast({bq(key_col)} as string)),"
        f" 1, 15), 16, 10) as bigint), {MINHASH_P})"
    )
    pos_sqls = [
        f"pmod({base_sql} * {a} + {b}, {MINHASH_P}) % {m_bits}"
        for a, b in fam
    ]
    n_words = (m_bits + 62) // 63
    if m_bits <= (1 << 16):
        words = [0] * n_words
        for r in bloom.collect():  # bounded: <= n_words rows (~1 KB)
            if 0 <= r["word"] < n_words:
                words[r["word"]] = r["bits"] or 0
        bitmap = (
            "array(" + ", ".join(f"cast({w} as bigint)" for w in words) + ")"
        )
        # F.shiftleft needs a literal shift amount, so single bits come
        # from a 63-entry literal lookup instead (element_at is 1-based)
        bitvals = (
            "array("
            + ", ".join(f"cast({1 << i} as bigint)" for i in range(63))
            + ")"
        )
        conds = ["true"]
        for p in pos_sqls:
            word_ix = f"cast(({p}) / 63 as int) + 1"
            bit = f"element_at({bitvals}, cast(({p}) % 63 as int) + 1)"
            conds.append(
                f"(element_at({bitmap}, {word_ix}) & {bit}) != 0"
            )
        return facts.where(" and ".join(conds))
    keys = facts.select(F.col(key_col).alias("__k")).distinct()
    kbase = F.pmod(portable_hash60(F.col("__k").cast("string")), F.lit(MINHASH_P))
    pos = keys.select(
        "__k",
        F.explode(
            F.array(
                *[F.pmod(kbase * a + b, F.lit(MINHASH_P)) % m_bits for a, b in fam]
            )
        ).alias("pos"),
    ).select(
        "__k",
        (F.col("pos") / 63).cast("int").alias("word"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 63 AS INT))").alias("__bit"),
    )
    hits = (
        pos.join(F.broadcast(bloom), "word")
        .filter((F.col("bits").bitwiseAND(F.col("__bit"))) != 0)
        .groupBy("__k")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .filter(F.col("__hits") == k_hashes)
        .select("__k")
    )
    return facts.join(hits, facts[key_col] == hits["__k"], "left_semi")


def zorder_key(
    df: DataFrame,
    col_x: str,
    col_y: str,
    bits: int = 16,
) -> DataFrame:
    """Attach a Z-order (Morton) key interleaving two numeric columns —
    the data-LAYOUT operator behind multi-dimensional clustering: write
    a 100 TB table ``repartitionByRange("zorder")`` + sorted-within-
    partitions and every file covers a tight rectangle in BOTH
    dimensions, so min/max file statistics prune scans filtered on
    either column (the optimization Delta/Iceberg expose as
    ``OPTIMIZE ... ZORDER BY``).

    Each column min-max-scales to ``bits``-bit integers (the 1-row
    min/max agg broadcasts; the scale division is the same IEEE
    expression on both engines, then floor → exact), and the key is a
    pure-codegen bit interleave ``Σ_i x_i·4^i + 2·y_i·4^i`` — integer
    shifts/masks only, bit-exact everywhere. Degenerate columns
    (min = max) map to 0.

    Output: the input plus ``zorder`` (long).
    """
    mm = df.agg(
        F.min(F.col(col_x).cast("double")).alias("__nx"),
        F.max(F.col(col_x).cast("double")).alias("__xx"),
        F.min(F.col(col_y).cast("double")).alias("__ny"),
        F.max(F.col(col_y).cast("double")).alias("__xy"),
    )
    top = float(2**bits - 1)

    def q(col, lo, hi):
        c = F.col(col).cast("double")
        return F.when(
            F.col(hi) > F.col(lo),
            F.floor((c - F.col(lo)) / (F.col(hi) - F.col(lo)) * top),
        ).otherwise(F.lit(0)).cast("long")

    scaled = df.crossJoin(F.broadcast(mm)).withColumns(
        {"__qx": q(col_x, "__nx", "__xx"), "__qy": q(col_y, "__ny", "__xy")}
    )
    # bits are disjoint, so arithmetic + == bitwise or (Column `|` is
    # logical OR in Spark)
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.expr(f"shiftleft(shiftright(__qx, {i}) & 1, {2 * i})")
            + F.expr(f"shiftleft(shiftright(__qy, {i}) & 1, {2 * i + 1})")
        )
    return scaled.withColumn("zorder", z).drop("__nx", "__xx", "__ny", "__xy", "__qx", "__qy")


def markov_transitions(
    events: DataFrame,
    key_col: str = "user_id",
    order_cols: Sequence[str] = ("ts", "event_id"),
    state_col: str = "event_type",
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences — the behavioral sequence model (what follows what)
    behind next-action prediction and anomaly scoring on a stream.

    One lead() window per key (codegen, shuffle only on the key) emits
    (state, next_state) rows; a keyed count + a from-state total gives
    the transition probability. Integer counts; the probability is one
    division, rounded 6. |states|² output rows — bounded by the state
    vocabulary, never the stream.

    Output: ``(from_state, to_state, n, p)``.
    """
    w = Window.partitionBy(key_col).orderBy(*[F.col(c).asc() for c in order_cols])
    pairs = (
        events.select(
            F.col(state_col).alias("from_state"),
            F.lead(state_col, 1).over(w).alias("to_state"),
        )
        .filter(F.col("to_state").isNotNull())
        .groupBy("from_state", "to_state")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("from_state").agg(F.sum("n").alias("__t"))
    return pairs.join(totals, "from_state").select(
        "from_state",
        "to_state",
        "n",
        F.round(F.col("n") / F.col("__t").cast("double"), 6).alias("p"),
    )


def bloom_merge(bloom_a: DataFrame, bloom_b: DataFrame) -> DataFrame:
    """Merge two :func:`bloom_build` bitmaps — the CDC-incremental
    write path: a standing filter absorbs a batch's bitmap with one
    full-outer join + bit_or, cost ∝ bitmap words (constant), never
    re-hashing the base keys. Invariant (oracled):
    ``bloom_merge(bloom_build(A), bloom_build(B)) ==
    bloom_build(A ∪ B)`` — bit_or is associative/commutative, so the
    merged filter is indistinguishable from a rebuild."""
    a = bloom_a.select("word", F.col("bits").alias("__ba"))
    b = bloom_b.select("word", F.col("bits").alias("__bb"))
    return (
        a.join(b, "word", "full")
        .select(
            "word",
            (
                F.coalesce(F.col("__ba"), F.lit(0)).bitwiseOR(
                    F.coalesce(F.col("__bb"), F.lit(0))
                )
            ).alias("bits"),
        )
    )


def histogram_sketch(
    df: DataFrame,
    scope_col: str,
    value_col: str,
    lo: int,
    r: int,
    buckets: int = 128,
) -> DataFrame:
    """Per-scope equi-width histogram sketch over an INTEGER value
    domain ``[lo, lo + r)`` — the mergeable quantile summary behind
    ``b27_quantile_sketch`` (there the bounds come from a data scan;
    here they are a fixed contract, the production/streaming form —
    a standing sketch can't re-bucket when a new batch widens the
    domain). Output ``(scope, bkt, cnt)``; bucketing is pure integer
    ``div`` arithmetic, values outside the domain clamp into the edge
    buckets. Counts are plain sums → map-side combinable and
    :func:`merge_histogram_sketches`-mergeable."""
    raw = (
        (F.col(value_col).cast("long") - F.lit(lo)) * F.lit(buckets)
    ).alias("__num")
    return (
        df.select(F.col(scope_col).alias("scope"), raw)
        .select(
            "scope",
            F.least(
                F.greatest(F.expr(f"__num div {int(r)}"), F.lit(0)),
                F.lit(buckets - 1),
            )
            .cast("int")
            .alias("bkt"),
        )
        .groupBy("scope", "bkt")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def merge_histogram_sketches(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two :func:`histogram_sketch` relations — the
    CDC-incremental write path for quantile telemetry: a standing
    sketch absorbs a batch's sketch with one full-outer join + add,
    cost ∝ occupied buckets (≤ scopes × buckets, constant), never
    re-scanning base values. Invariant (stream-parity tested):
    ``merge(sketch(A), sketch(B)) == sketch(A ∪ B)`` — counts are
    sums, so the merged sketch is indistinguishable from a rebuild."""
    left = a.select("scope", "bkt", F.col("cnt").alias("__ca"))
    right = b.select("scope", "bkt", F.col("cnt").alias("__cb"))
    return left.join(right, ["scope", "bkt"], "full").select(
        "scope",
        "bkt",
        (
            F.coalesce(F.col("__ca"), F.lit(0))
            + F.coalesce(F.col("__cb"), F.lit(0))
        )
        .cast("long")
        .alias("cnt"),
    )


def changepoint_splits(
    events: DataFrame,
    ts_col: str = "ts",
    bucket: str = "day",
) -> DataFrame:
    """Level-shift change-point scan over a bucketed event-count series
    — the monitoring read that localizes WHEN a feed broke (b3_psi says
    THAT the distribution moved; this says where in time).

    The series is bucketed counts (bounded: one row per bucket). Every
    interior bucket boundary is a candidate split; its score is
    |mean_left − mean_right| with both means exact integer-sum /
    integer-count divisions (identical IEEE doubles on any engine —
    same rule as :func:`groupwise_ols`). The best split is the max
    score with bucket tie-break. All pairwise prefix stats come from
    ONE cumulative window over the bounded bucket relation — O(buckets)
    rows, never a scan of the raw stream per candidate.

    Output: one row per candidate split ``(split_bucket, n_left,
    n_right, mean_left, mean_right, delta, is_best)``.
    """
    daily = (
        events.groupBy(F.date_trunc(bucket, F.col(ts_col)).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wcum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    tot = daily.agg(
        F.sum("c").alias("__tc"), F.count(F.lit(1)).alias("__tn")
    )
    cum = (
        daily.withColumn("__cs", F.sum("c").over(wcum))
        .withColumn("__cn", F.count(F.lit(1)).over(wcum))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("__cn") < F.col("__tn"))  # interior splits only
    )
    ml = F.col("__cs").cast("double") / F.col("__cn").cast("double")
    mr = (F.col("__tc") - F.col("__cs")).cast("double") / (
        F.col("__tn") - F.col("__cn")
    ).cast("double")
    delta = F.abs(ml - mr)
    scored = cum.select(
        F.col("b").alias("split_bucket"),
        F.col("__cn").alias("n_left"),
        (F.col("__tn") - F.col("__cn")).alias("n_right"),
        F.round(ml, 6).alias("mean_left"),
        F.round(mr, 6).alias("mean_right"),
        F.round(delta, 6).alias("delta"),
        delta.alias("__raw"),
    )
    wbest = Window.orderBy(F.col("__raw").desc(), F.col("split_bucket").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(wbest))
        .select(
            "split_bucket",
            "n_left",
            "n_right",
            "mean_left",
            "mean_right",
            "delta",
            (F.col("__rk") == 1).alias("is_best"),
        )
    )


def woe_iv(
    df: DataFrame,
    value_col: str,
    label_col,
    n_buckets: int = 10,
    exact_edges: bool = True,
) -> DataFrame:
    """Weight-of-Evidence / Information-Value feature screening — the
    standard credit-scoring-style measure of how well a numeric
    feature separates a binary label, run before training to rank
    candidate features.

    Buckets are the feature's exact element-rank quantiles (same
    engine-exact rule as :func:`psi_drift`); per bucket the
    positive/negative shares are Laplace-smoothed, WoE = ln(p_pos /
    p_neg) rounded 6, and the IV contribution (p_pos − p_neg)·WoE is
    floor-quantized to 1e-8 so ``iv_total`` is an order-independent
    integer sum. Same bounded-relation scale shape as psi_drift,
    including the ``exact_edges=False`` sketch path for unbounded
    value cardinality.

    ``label_col``: a boolean Column (or column name).

    Output: ``(bucket, n_pos, n_neg, woe, iv_term, iv_total)``.
    """
    B = n_buckets
    lab = F.col(label_col) if isinstance(label_col, str) else label_col
    v = F.col(value_col)
    base = df.select(v.alias("__v"), lab.cast("int").alias("__y"))

    if exact_edges:
        vh = base.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
        wcum = Window.orderBy("__v").rowsBetween(Window.unboundedPreceding, 0)
        cum = vh.withColumn("__cum", F.sum("__c").over(wcum))
        totals = vh.agg(F.sum("__c").alias("__n"))
        edges = cum.crossJoin(F.broadcast(totals)).agg(
            *[
                F.min(
                    F.when(
                        F.col("__cum")
                        >= F.floor((F.col("__n") - 1) * F.lit(k) / F.lit(B)) + 1,
                        F.col("__v"),
                    )
                ).alias(f"__e{k}")
                for k in range(1, B)
            ]
        )
    else:
        # unbounded-cardinality path (see psi_drift): one sketch agg,
        # no distinct-value relation, no window
        edges = base.agg(
            *[
                F.percentile_approx("__v", k / B, 10_000).alias(f"__e{k}")
                for k in range(1, B)
            ]
        )
    bucketed = base.crossJoin(F.broadcast(edges)).select(
        sum(
            [(F.col("__v") > F.col(f"__e{k}")).cast("int") for k in range(1, B)],
            F.lit(0),
        ).alias("bucket"),
        "__y",
    )
    per = bucketed.groupBy("bucket").agg(
        F.sum("__y").cast("long").alias("n_pos"),
        F.sum(1 - F.col("__y")).cast("long").alias("n_neg"),
    )
    tot = per.agg(
        F.sum("n_pos").alias("__tp"), F.sum("n_neg").alias("__tn")
    )
    p = (F.col("n_pos") + 1) / (F.col("__tp") + B)
    q = (F.col("n_neg") + 1) / (F.col("__tn") + B)
    woe = F.log(p / q)
    term = (p - q) * woe
    out = per.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_pos",
        "n_neg",
        F.round(woe, 6).alias("woe"),
        F.round(term, 6).alias("iv_term"),
        F.floor(term * 1e8).cast("long").alias("__t8"),
    )
    wall = Window.partitionBy()
    return out.select(
        "bucket",
        "n_pos",
        "n_neg",
        "woe",
        "iv_term",
        F.round(F.sum("__t8").over(wall) / 1e8, 6).alias("iv_total"),
    )


def label_propagation(
    edges: DataFrame, iters: int = 3, assume_distinct: bool = False
) -> DataFrame:
    """Synchronous label propagation (community detection) with
    bit-exact cross-engine replay — the cheap communities-from-edges
    pass run before a costlier modularity read (``src``/``dst`` edge
    relation, treated as directed adjacency; pass both directions for
    an undirected graph).

    Every node starts labeled with its own id; per round, each node
    adopts the most frequent label among its in-neighbors, ties to the
    SMALLEST label — integer counts and a total (count desc, label asc)
    order, so rounds replay identically on any engine at any
    parallelism (no RNG, no float). A node with no in-edges keeps its
    label. Fixed ``iters`` (asynchronous/converged LPA is
    order-dependent by construction and therefore unreplayable).

    Scale shape (r17/r18, guide §2.3–2.4): per round one equi-join of
    the label table onto edges (keyed by ``src``) + one (dst, label)
    count with map-side combine + one per-node argmax AGGREGATE
    (``min(struct(-count, label))`` — max count, ties to smallest
    label; partial-aggregates map-side, no sort — replacing the r16/r17
    row_number window over the same rows). The keep-old rule ("a node
    with no in-edges keeps its label") rides the SAME argmax: each
    node's current label enters the aggregate as a zero-count self-vote
    row (union, no shuffle) — any real in-neighbor count ≥ 1 beats it,
    and a no-in-edge node has only its self-vote, so the result is
    label-identical to the r16 left-join + coalesce form, which paid
    TWO extra per-round joins (nodes ⨝ best ⨝ old labels). The edge
    relation is localCheckpoint'd once, and INTERMEDIATE rounds'
    label tables are checkpointed: each round references the prior
    labels twice (the propagation join AND the self-vote union), so an
    uncheckpointed chain re-executes prior rounds exponentially
    (measured: 42 joins in the 3-round plan vs the expected ~9 — the
    repo's iterative-consumer rule); the FINAL round has exactly one
    consumer (the return) and pipelines into the caller's plan
    uncheckpointed (r18). Checkpoint cost ∝ nodes per round.

    Output: ``(node_id, label bigint)`` — one row per node.
    """
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()
    nodes = (
        e.select(F.col("src").alias("node_id"))
        .union(e.select(F.col("dst").alias("node_id")))
        .distinct()
        .localCheckpoint()
    )
    labels = nodes.withColumn("label", F.col("node_id").cast("long"))
    # r18: the per-round argmax is a two-level AGGREGATE, not a window —
    # min(struct(-__n, label)) is lexicographically (max count, then min
    # label), exactly the row_number-over-(__n desc, label asc) pick of
    # the r16/r17 forms, but it partial-aggregates map-side and never
    # sorts the (node, label, count) rows (guide §2.3 "aggregate before
    # you shuffle"; integer-only, so bit-exact — re-gated). ``-__n`` is
    # negated rather than ``label`` so arbitrary bigint labels need no
    # overflow care (counts are ≥ 0).
    for it in range(iters):
        prop = (
            e.join(labels, e["src"] == labels["node_id"])
            .groupBy(F.col("dst").alias("node_id"), "label")
            .agg(F.expr("count(1) as __n"))
        )
        labels = (
            prop.unionByName(
                labels.selectExpr(
                    "node_id", "label", "cast(0 as bigint) as __n"
                )
            )
            .groupBy("node_id")
            .agg(F.expr("min(named_struct('nn', -__n, 'l', label)) as __m"))
            .selectExpr("node_id", "cast(__m.l as bigint) as label")
        )
        # the final round's labels have exactly ONE consumer (the
        # return), so only INTERMEDIATE rounds checkpoint — the last
        # round pipelines straight into the caller's plan (r18; one
        # fewer eager job + materialization per call, same results)
        if it < iters - 1:
            labels = labels.localCheckpoint()
    return labels


def kcore_peel(
    edges: DataFrame, k: int = 3, rounds: int = 3,
    assume_distinct: bool = False,
) -> DataFrame:
    """Fixed-round k-core peeling (r13 — the DENSITY read completing
    the graph family: PageRank/HITS rank authority, LPA finds
    communities, BFS measures reachability, neighborhood-Jaccard
    scores node similarity, THIS strips the sparse fringe): per round,
    every node with degree < ``k`` in the CURRENT subgraph is removed,
    along with its edges. Fixed ``rounds`` (full peeling to the core
    fixpoint is data-dependent in depth; a bounded peel is the
    deterministic, replayable form — and in practice the fringe decays
    geometrically, so a few rounds carry the signal).

    ``edges`` is a directed (src, dst) relation; pass both directions
    for an undirected graph (degrees then count each undirected edge
    once per endpoint). All counts are integers; rounds replay
    bit-for-bit in chained SQL CTEs.

    Scale shape: per round one src-keyed degree agg (map-side combine)
    + TWO keyed semi-joins (src-survivors, dst-survivors) — no
    cartesian, no global window. INTERMEDIATE rounds' edges are
    localCheckpoint'd: each round's stats branch AND the next round both
    consume them (the LPA double-reference rule — a lazy chain would
    re-peel prior rounds per consumer; join budget pinned in
    tests/test_plans.py). The FINAL round's subgraph feeds only its own
    stats leg and pipelines into the output job uncheckpointed: one
    fewer eager job, and the line was faster that way in 5 of 6
    interleaved same-box pairs against the checkpoint-every-round form.

    Output: one row per round 0..rounds — ``(round, n_nodes, n_edges,
    min_deg, max_deg)`` of the surviving subgraph (round 0 = input;
    a 0-row subgraph reports 0/0/NULL/NULL).

    r17: ``assume_distinct=True`` skips the defensive edge distinct
    for by-construction-distinct callers (guide §2.4). Checkpoints
    stay EAGER: a lazily-checkpointed round chain materializes only
    inside the final heavy job, and once storage pressure evicts a
    lazily-persisted block its truncated lineage cannot recompute it
    (measured: task failures + escalating reruns on the bench box).
    """
    e = edges.select("src", "dst")
    if not assume_distinct:
        e = e.distinct()
    e = e.localCheckpoint()

    # r17 construction pass 2: the per-round stats/peel projections as
    # SQL strings parsed once in the JVM — identical trees (count(1),
    # coalesce, casts map 1:1), re-gated bit-exact
    def stats(ed, rnd):
        deg = ed.groupBy("src").agg(F.expr("count(1) as __d"))
        return deg.agg(
            F.expr(f"cast({rnd} as bigint) as round"),
            F.expr("cast(count(1) as bigint) as n_nodes"),
            F.expr("cast(coalesce(sum(__d), 0) as bigint) as n_edges"),
            F.expr("cast(min(__d) as bigint) as min_deg"),
            F.expr("cast(max(__d) as bigint) as max_deg"),
        )

    out = stats(e, 0)
    cur = e
    for r in range(1, rounds + 1):
        deg = cur.groupBy("src").agg(F.expr("count(1) as __d"))
        keep = deg.where(f"__d >= {k}").select("src")
        cur = cur.join(keep, "src", "left_semi").join(
            keep.selectExpr("src as dst"), "dst", "left_semi"
        )
        # intermediate rounds are double-referenced (their stats leg AND
        # the next round) and stay eagerly checkpointed; the FINAL
        # round's subgraph feeds only its own stats leg, so it pipelines
        # into the output job uncheckpointed (r18 — one fewer eager job
        # + materialization per call, same results)
        if r < rounds:
            cur = cur.localCheckpoint()
        out = out.unionByName(stats(cur, r))
    return out


def bellman_ford(
    edges: DataFrame, source, rounds: int = 4
) -> DataFrame:
    """Fixed-round Bellman–Ford single-source shortest paths (r13 — the
    WEIGHTED reachability read beside the unweighted bfs_hops: after
    ``rounds`` relaxations the distance is exact for every node whose
    shortest path uses ≤ ``rounds`` edges, the classic bounded-hop
    form a distributed engine runs — Dijkstra's priority queue is
    inherently sequential, synchronous relaxation is one keyed join +
    one keyed min-agg per round).

    ``edges`` is a directed ``(src, dst, w)`` relation with integer
    non-negative weights. Per round: the current distance frontier
    (≤ |nodes| rows, broadcast-sized for any bounded node universe)
    equi-joins edges on ``src``, candidate ``dist + w`` values union
    with the standing distances, and a keyed min contracts back to one
    row per node. Distances are localCheckpoint'd EVERY round. An
    intermediate round is double-referenced (the next round's union leg
    + join leg), so an uncheckpointed chain re-executes prior rounds
    exponentially (the LPA/de6ad9c rule; join budget pinned in
    tests/test_plans.py). The final round has one consumer and is
    checkpointed too, so every round follows one policy: pipelining it
    uncheckpointed read slower on both r18 board legs, 32 and 8 cores
    (1.29 → 1.54/1.64 s), and won only 3 of 6 interleaved same-box
    pairs.

    Output: ``(node, dist)`` — nodes never reached within ``rounds``
    relaxations are absent (callers left-join their node universe to
    surface NULLs). Integer-exact; rounds replay as chained SQL CTEs.
    """
    e = edges.select("src", "dst", "w").localCheckpoint()
    dist = (
        e.sparkSession.range(1)
        .select(
            F.lit(source).alias("node"),
            F.lit(0).cast("long").alias("dist"),
        )
        .localCheckpoint()
    )
    # r17 construction pass 2: per-round relax/contract as SQL strings —
    # identical trees, re-gated bit-exact
    for _ in range(rounds):
        relax = dist.join(e, dist["node"] == e["src"]).selectExpr(
            "dst as node", "cast(dist + w as bigint) as dist"
        )
        dist = (
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.expr("cast(min(dist) as bigint) as dist"))
            .localCheckpoint()
        )
    return dist


def compaction_cost(
    changes: DataFrame,
    key_col: Column,
    epoch_size: int = 1000,
    id_col: str = "id",
    op_col: str = "operation",
) -> DataFrame:
    """Streaming-compaction cost model (r14, B2 depth — VERDICT r13
    item 5's suggested row): if the change log is compacted to
    latest-state every ``epoch_size`` changes (the micro-batch cadence
    a Structured Streaming compactor would run at), what does each run
    read, write, and carry? b2_vacuum_stats prices ONE compaction of
    the whole log; this prices the SCHEDULE — the carried-state ×
    cadence tradeoff a streaming deployment actually tunes
    (reference scope: the read-replica use case, README.md:26-30).

    Per epoch ``e = id div epoch_size``:

    - ``n_changes``/``n_keys_touched`` — the epoch's delta volume;
    - ``carried_in`` — keys live entering the epoch (prior state the
      run must re-read);
    - ``live_at_end`` — keys live after folding the epoch (rows the
      run writes out);
    - ``rows_read = carried_in + n_changes``,
      ``rows_written = live_at_end`` — the run's I/O;
    - ``write_amp`` — cumulative rows written across runs so far per
      currently-live row (the steady-state amplification the cadence
      buys).

    ``id_col`` must be non-negative (change-log ids are): Spark's
    integral ``div`` truncates toward zero while DuckDB's ``//``
    floors, so negative ids would bucket differently across engines.

    Scale shape: one keyed (key, epoch) agg with map-side combine
    (``max_by`` picks each key-epoch's last op), one per-key lag
    window (keyed — never single-partition) turning liveness into ±1
    deltas, then EVERYTHING lives on the ≤ max_id/epoch_size-row
    epoch relation: the global running sums ride
    :func:`distributed_prefix_sum` (exclusive prefix = carried_in /
    prior cumulative writes), so no unpartitioned window touches a
    corpus-sized relation at any step. Integer-exact except the final
    ``write_amp`` ratio (round-6 of a ratio of exact int64).
    """
    if int(epoch_size) < 1:
        # div-by-zero yields NULL epochs under non-ANSI mode, silently
        # collapsing the epoch grid to one NULL row (ADVICE r14)
        raise ValueError(f"epoch_size must be >= 1, got {epoch_size}")
    ke = (
        changes.select(
            key_col.alias("__k"),
            # integral `div`, not float `/`+cast: exact at any id scale
            F.expr(f"{id_col} div {int(epoch_size)}")
            .cast("long")
            .alias("epoch"),
            F.col(id_col).alias("__id"),
            F.col(op_col).alias("__op"),
        )
        .groupBy("__k", "epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("__n"),
            F.max_by("__op", "__id").alias("__op_last"),
        )
        .withColumn(
            "__live",
            F.when(F.col("__op_last") != "DELETE", F.lit(1))
            .otherwise(F.lit(0))
            .cast("long"),
        )
    )
    w_key = Window.partitionBy("__k").orderBy("epoch")
    deltas = ke.withColumn(
        "__delta",
        F.col("__live") - F.coalesce(F.lag("__live").over(w_key), F.lit(0)),
    )
    ep = deltas.groupBy("epoch").agg(
        F.sum("__n").cast("long").alias("n_changes"),
        F.count(F.lit(1)).cast("long").alias("n_keys_touched"),
        F.sum("__delta").cast("long").alias("__ds"),
    )
    # exclusive prefix of liveness deltas = keys live ENTERING the epoch
    ep = distributed_prefix_sum(
        ep, [F.col("epoch")], "__ds", out_col="carried_in"
    ).withColumn("live_at_end", F.col("carried_in") + F.col("__ds"))
    ep = ep.withColumn("rows_written", F.col("live_at_end")).withColumn(
        "rows_read", F.col("carried_in") + F.col("n_changes")
    )
    # second exclusive prefix: cumulative writes of all PRIOR runs
    ep = distributed_prefix_sum(
        ep, [F.col("epoch")], "rows_written", out_col="__cw"
    )
    return ep.select(
        "epoch",
        "n_changes",
        "n_keys_touched",
        F.col("carried_in").cast("long").alias("carried_in"),
        "live_at_end",
        "rows_read",
        "rows_written",
        F.when(
            F.col("live_at_end") > 0,
            F.round(
                (F.col("__cw") + F.col("rows_written")).cast("double")
                / F.col("live_at_end").cast("double"),
                6,
            ),
        ).alias("write_amp"),
    )
