"""Structured Streaming wiring (SURVEY.md §2 A13-A17, B15-B17).

The reference's CDC loop — fsnotify wakeup → ordered drain → serialized
handler delivery → ack-by-delete (``/root/reference/triggers.go:122-223``)
— maps onto Structured Streaming one-to-one:

================================  =========================================
reference                         Spark
================================  =========================================
fsnotify watch (triggers.go:122)  file-source discovery / trigger cadence
ORDER BY id LIMIT n (:167)        ``maxFilesPerTrigger`` admission + explicit
                                  per-batch sort on ``id``
handler.HandleChanges (:205)      ``foreachBatch`` (serialized, in order)
handler error stops engine        exception in foreachBatch fails the query
DELETE WHERE id<=max (ack, :215)  checkpointed offsets (non-destructive)
Setup/Teardown DDL (:334-395)     checkpoint/log dir lifecycle
================================  =========================================

Ordering note (SURVEY §4): micro-batch *sequence* is guaranteed by Spark;
*intra-batch* row order is not — :meth:`StreamEngine.deliver` sorts each
batch by ``id``. A global ``orderBy`` is not cheap even on a bounded batch:
its range partitioning costs a sampling job and a shuffle, three Spark
jobs per micro-batch where the write alone is one. A batch that arrives as
one partition (one ``poll_log`` page under ``maxFilesPerTrigger=1``, the
default) is therefore sorted in place within its single task.
"""

from __future__ import annotations

import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .model import LOG_SCHEMA

#: Spark's on-executor-disk state backend — the 100 TB story for stateful
#: streaming (PERF.md "state scale"): the HDFSBackedStateStoreProvider
#: keeps every key's state on the JVM HEAP (state ∝ live keys → OOM at
#: billions of keys); RocksDB spills to local disk with a bounded block
#: cache, and changelog checkpointing ships per-batch deltas instead of
#: re-uploading full SST files.
ROCKSDB_STATE_STORE = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def configure_state_store(spark: SparkSession) -> dict[str, str | None]:
    """Put subsequent streaming queries on the RocksDB state store with
    changelog checkpointing.

    The provider is a SESSION conf read at query START (each query pins
    the provider for its checkpoint lifetime — never flip it on an
    existing checkpoint). Returns the previous values so callers/tests
    can restore: ``{conf_key: old_value_or_None}``.
    """
    confs = {
        "spark.sql.streaming.stateStore.providerClass": ROCKSDB_STATE_STORE,
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled":
            "true",
    }
    prev: dict[str, str | None] = {}
    for k, v in confs.items():
        try:
            prev[k] = spark.conf.get(k)
        except Exception:
            prev[k] = None
        spark.conf.set(k, v)
    return prev


class StreamEngine:
    """Lifecycle owner for a streaming CDC pipeline over an append-only
    change-log directory (parquet files with :data:`model.LOG_SCHEMA`).

    Parity with the reference's engine surface (``cdc.go:10-31``):
    ``setup``/``teardown`` manage durable locations (A17), ``cdc`` starts
    the ordered delivery loop (A14/A15), ``bootstrap_and_cdc`` composes a
    snapshot with the live feed (A16), checkpoints replace ack-by-delete
    (A13).
    """

    def __init__(self, spark: SparkSession, log_dir: str, checkpoint_dir: str):
        self.spark = spark
        self.log_dir = log_dir
        self.checkpoint_dir = checkpoint_dir

    # --- A17: setup / teardown ------------------------------------------

    def setup(self) -> None:
        """Create the log + checkpoint locations (idempotent, like the
        reference's ``IF NOT EXISTS`` DDL, triggers.go:334-364)."""
        import os

        os.makedirs(self.log_dir, exist_ok=True)
        os.makedirs(self.checkpoint_dir, exist_ok=True)

    def teardown(self) -> None:
        """Drop engine state (log + checkpoints), parity with Teardown's
        transactional drops (triggers.go:365-395)."""
        shutil.rmtree(self.checkpoint_dir, ignore_errors=True)
        shutil.rmtree(self.log_dir, ignore_errors=True)

    # --- sources ----------------------------------------------------------

    def read_log_stream(self, max_files_per_trigger: int = 1) -> DataFrame:
        """The change log as a stream; admission bounded per micro-batch
        (parity with LIMIT maxBatchSize, triggers.go:167)."""
        return (
            self.spark.readStream.schema(LOG_SCHEMA)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(self.log_dir)
        )

    # --- A15: ordered at-least-once delivery ------------------------------

    def deliver(
        self,
        changes: DataFrame,
        handler: Callable[[DataFrame, int], None],
        ordered: bool = True,
        available_now: bool = True,
    ):
        """Serialized batch delivery via ``foreachBatch``.

        The handler receives each micro-batch exactly like the reference's
        ``ChangesHandler`` (handler.go:8-17): one batch at a time, in
        order; raising inside the handler fails the query (fault-stop
        parity). Offsets commit to the checkpoint only after the handler
        returns — at-least-once, like the reference's post-success
        ack-delete (triggers.go:209-221).

        Ordering caveat: *cross-batch* order equals the source's admission
        order — for the file source that is (modTime, path), so a log
        writer must produce files whose mtime/path order matches id order
        (``sqlite_bridge.poll_log`` does: time_ns-named file per page).
        If the log can arrive out of order, make the sink id-aware (e.g.
        :func:`sqlite_cdc_spark.derive.apply_changes` after a per-key
        max-id guard) rather than assuming sequence.

        Intra-batch order (``ordered=True``): a batch planned as at most one
        partition is sorted with ``sortWithinPartitions`` — total order in
        the handler's own job, no exchange. A batch with more partitions
        (several files admitted at once, or a stateful stream such as
        ``bootstrap_and_cdc``'s dedup) keeps ``orderBy``, a parallel range
        sort. The partition count is read without planning anything:
        ``foreachBatch`` hands a Python handler a batch whose logical plan
        is a ``LogicalRDD`` over the micro-batch's already planned RDD, and
        that RDD's partition count is the one the planned batch would have
        (``tests/test_streaming.py`` pins both facts).
        """

        def run(batch: DataFrame, batch_id: int) -> None:
            if ordered:
                key = F.col("id").asc()
                # the LogicalRDD's own RDD: no analysis, no planning, no job
                rdd = batch._jdf.logicalPlan().rdd()
                if rdd.getNumPartitions() <= 1:
                    batch = batch.sortWithinPartitions(key)
                else:
                    batch = batch.orderBy(key)
            handler(batch, batch_id)

        writer = (
            changes.writeStream.foreachBatch(run)
            .queryName("cdc-deliver")
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    # --- A16/B17: bootstrap + CDC composition -----------------------------

    def bootstrap_and_cdc(
        self,
        snapshot_changes: DataFrame,
        handler: Callable[[DataFrame, int], None],
        dedup_key: list[str] | None = None,
        watermark: str = "1 hour",
    ):
        """Snapshot-then-stream composition (parity: triggers.go:323-333).

        The reference double-delivers rows changed during bootstrap and
        leaves dedup to the consumer (cdc.go:19-22). Here the stream side
        can deduplicate within a watermark (B17): pass ``dedup_key`` (e.g.
        ``['tablename','id']``) to upgrade toward effectively-once.

        Batch bootstrap runs to completion first (driver-blocking, like
        the reference's sequential composition), then the stream starts
        from offset zero.
        """
        handler(snapshot_changes, -1)  # bootstrap is "batch -1"
        stream = self.read_log_stream()
        if dedup_key:
            stream = stream.withWatermark("timestamp", watermark)
            stream = stream.dropDuplicatesWithinWatermark(dedup_key)
        return self.deliver(stream, handler)


class StandingState:
    """Durable, replay-idempotent standing state for ``foreachBatch``
    handlers — the piece that makes checkpoint offsets a FULL replacement
    for the reference's ack-by-delete (``triggers.go:209-221``) across
    process death.

    Structured Streaming re-delivers a failed batch with the SAME batch id
    on restart (at-least-once). A handler that maintains several standing
    states ("legs") can crash after folding a batch into some legs but not
    others; on replay every leg sees the batch again. ``fold`` turns that
    into exactly-once PER LEG: each leg durably records the last batch id
    it committed, a replayed batch is skipped by legs that already hold it
    and applied by legs that do not.

    Layout under ``root`` (driver-visible shared storage)::

        <leg>/v<bid>/     parquet snapshot of the leg after batch <bid>
        <leg>/_COMMITTED  text file holding the last committed batch id

    Commit protocol per (leg, bid): write the new snapshot to its own
    versioned directory, then atomically repoint ``_COMMITTED`` (tmp file
    + ``os.replace`` — atomic on POSIX). A crash between the two leaves
    the marker on the prior version; the replay overwrites ``v<bid>`` and
    re-commits. Versions older than the previous commit are pruned (the
    prior version is kept so DataFrames handed out pre-fold stay
    readable). On an object store without atomic rename, point ``root``
    at a posix-rename filesystem (or a table format with transactional
    commit) — same requirement Spark's own checkpoint dir carries.
    """

    def __init__(self, spark: SparkSession, root: str):
        import os

        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _leg_dir(self, leg: str) -> str:
        import os

        return os.path.join(self.root, leg)

    def committed(self, leg: str) -> int | None:
        """Last batch id durably folded into ``leg`` (None if never)."""
        import os

        try:
            with open(os.path.join(self._leg_dir(leg), "_COMMITTED")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def get(self, leg: str) -> DataFrame | None:
        """The committed state of ``leg`` (lazy parquet read), or None."""
        import os

        b = self.committed(leg)
        if b is None:
            return None
        return self.spark.read.parquet(
            os.path.join(self._leg_dir(leg), f"v{b}")
        )

    def fold(
        self,
        leg: str,
        batch_id: int,
        fn: Callable[[DataFrame | None], DataFrame],
    ) -> DataFrame:
        """Fold one micro-batch into ``leg`` exactly once.

        ``fn(prev)`` receives the durably committed previous state (None
        on the first batch) and returns the new state. If ``batch_id`` is
        already committed for this leg (a crash-replay), ``fn`` is NOT
        invoked and the committed state is returned unchanged — the
        skip happens before ``fn`` evaluates, so replay-unsafe inputs
        (e.g. candidate pairs computed against an index that already
        absorbed this batch) are never touched.
        """
        import os

        last = self.committed(leg)
        if last is not None and batch_id <= last:
            return self.get(leg)
        new = fn(self.get(leg))
        ldir = self._leg_dir(leg)
        vdir = os.path.join(ldir, f"v{batch_id}")
        # overwrite: a crash mid-write leaves a partial dir the replay
        # replaces wholesale before the marker ever points at it
        new.write.mode("overwrite").parquet(vdir)
        tmp = os.path.join(ldir, "_COMMITTED.tmp")
        with open(tmp, "w") as f:
            f.write(str(batch_id))
        os.replace(tmp, os.path.join(ldir, "_COMMITTED"))
        for name in os.listdir(ldir):
            if not name.startswith("v"):
                continue
            try:
                v = int(name[1:])
            except ValueError:
                continue
            if v != batch_id and (last is None or v != last):
                shutil.rmtree(os.path.join(ldir, name), ignore_errors=True)
        return self.spark.read.parquet(vdir)


def prune_log(spark: SparkSession, log_dir: str, up_to_id: int) -> list[str]:
    """Retention GC for the parquet change log — the distributed analog of
    the reference's ack-by-delete (``triggers.go:209-221``: "log size ≈
    unacked backlog").

    File-granular: a file is removed only when its **max** ``id`` is ≤ the
    committed watermark, so partially-consumed files survive (at-least-once
    preserved). Metadata-only decision — reads parquet footer statistics,
    never row data. Returns the deleted paths.

    SMALL-LOG ONLY: the footer walk is a driver-side loop over every file —
    fine for the bounded unacked backlog it mirrors, wrong for a
    100 TB/multi-million-file log. The PRIMARY retention path at scale is
    the date-partitioned layout (:func:`sqlite_cdc_spark.log.write_log_partitioned`):
    retention there is dropping whole ``date=`` partition directories — a
    metadata operation on the partition listing, no per-file footers.
    """
    import glob
    import os

    import pyarrow.parquet as pq

    doomed: list[str] = []
    for path in glob.glob(os.path.join(log_dir, "**", "*.parquet"), recursive=True):
        md = pq.ParquetFile(path).metadata
        max_id = None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "id" and col.statistics is not None:
                    m = col.statistics.max
                    max_id = m if max_id is None else max(max_id, m)
        if max_id is not None and max_id <= up_to_id:
            doomed.append(path)
    for path in doomed:
        os.remove(path)
    return doomed


def streaming_compaction(
    changes: DataFrame,
    key_json_path: str = "$.user_id",
    ttl_s: int = 0,
    watermark: str = "0 seconds",
) -> DataFrame:
    """Streaming latest-state materialization (B2's streaming form) via
    ``applyInPandasWithState``: per key, keep the highest-``id`` change
    seen so far; emit the new current state whenever it advances, with
    ``is_delete`` marking tombstones.

    **State footprint**: one ``(last_id, operation, after)`` triple per
    key — a long, a short string, and one row image. Without a TTL the
    state grows with the LIVE KEY COUNT (the same asymptotics as any
    materialized replica — correct, but at 100 TB a table with billions
    of once-touched keys pins billions of images in the state store
    forever). ``ttl_s`` bounds it: a key idle while the stream's EVENT
    TIME advances ``ttl_s`` past its last change is evicted
    (``EventTimeTimeout`` — watermark-driven, so eviction is
    deterministic under replay, unlike a wall-clock timeout). State then
    holds only keys touched within the TTL horizon.

    TTL tradeoff (documented, tested): after eviction, a LATE replay of
    an already-applied change re-creates the key's state and re-emits —
    the emit-on-advance stale-replay suppression only spans the TTL
    horizon. Pick ``ttl_s`` larger than the source's maximum redelivery
    lag; sinks must stay idempotent (they must anyway, at-least-once).
    ``watermark`` is the late-data allowance used for the event-time
    clock when ``ttl_s`` is set.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    if ttl_s > 0 and changes.isStreaming:
        changes = changes.withWatermark("timestamp", watermark)
    keyed = changes.withColumn(
        "__key",
        F.get_json_object(F.coalesce("after", "before"), key_json_path),
    ).filter(F.col("__key").isNotNull())

    out_schema = T.StructType(
        [
            T.StructField("key", T.StringType()),
            T.StructField("last_id", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("after", T.StringType()),
            T.StructField("is_delete", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_id", T.LongType()),
            T.StructField("operation", T.StringType()),
            T.StructField("after", T.StringType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        if ttl_s > 0 and state.hasTimedOut:
            # idle past the TTL horizon: drop the key's state entirely —
            # this is the eviction that keeps state ∝ recently-live keys
            state.remove()
            return
        last_id, op, after = state.get if state.exists else (-1, None, None)
        advanced = False
        max_ts_ms = None
        for pdf in pdf_iter:
            if ttl_s > 0 and len(pdf):
                m = pdf["timestamp"].max().value // 1_000_000
                max_ts_ms = m if max_ts_ms is None else max(max_ts_ms, m)
            pdf = pdf.sort_values("id")
            tail = pdf.iloc[-1]
            if int(tail["id"]) > last_id:
                last_id = int(tail["id"])
                op = tail["operation"]
                after = tail["after"] if tail["after"] is not None else None
                advanced = True
        state.update((last_id, op, after))
        if ttl_s > 0:
            # evict when the watermark passes last-seen event time + TTL;
            # the timestamp must sit above the current watermark or Spark
            # rejects it (late batches), hence the max()
            wm = state.getCurrentWatermarkMs()
            target = (wm if max_ts_ms is None else max_ts_ms) + ttl_s * 1000
            state.setTimeoutTimestamp(max(target, wm + 1000))
        # emit only when the id actually advanced this batch: stale replays
        # (at-least-once redelivery of already-applied changes) would
        # otherwise re-emit the unchanged state every time they arrive
        if advanced:
            yield pd.DataFrame(
                {
                    "key": [key[0]],
                    "last_id": [last_id],
                    "operation": [op],
                    "after": [after],
                    "is_delete": [op == "DELETE"],
                }
            )

    return keyed.groupBy("__key").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout
            if ttl_s > 0
            else GroupStateTimeout.NoTimeout
        ),
    )


# --- B15: windowed change-rate analytics (streaming form of B3) -------------


def windowed_change_counts(
    changes: DataFrame,
    window: str = "10 minutes",
    slide: str | None = None,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Tumbling/sliding change counts with late-data tolerance (B15/B16).

    Works on both batch and streaming DataFrames (same expression); on a
    stream the watermark bounds state so the aggregation runs forever at
    bounded memory.
    """
    if changes.isStreaming:
        changes = changes.withWatermark("timestamp", watermark)
    win = (
        F.window("timestamp", window, slide)
        if slide
        else F.window("timestamp", window)
    )
    return changes.groupBy(
        F.col("tablename"), F.col("operation"), win.alias("win")
    ).agg(F.count(F.lit(1)).alias("n_changes"))


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key_left: str,
    key_right: str,
    ts_left: str,
    ts_right: str,
    within: str = "10 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join on a key within a time interval: each left
    row matches right rows with ``ts_left <= ts_right <= ts_left + within``
    (B15/B16 composition — e.g. purchases within N minutes of a signup).

    Watermarks on BOTH sides plus the two-sided time condition are what
    make the join runnable forever: Spark derives the state-retention
    bound from them and evicts buffered rows once they can no longer
    match (unbounded state otherwise). Works identically on batch frames
    (watermark is a no-op there), so batch parity is testable — and the
    batch form IS the oracle-checkable operator.

    Column names must be disjoint between the two sides (rename before
    joining) — the standard Spark stream-stream join contract.
    """
    if left.isStreaming:
        left = left.withWatermark(ts_left, watermark)
    if right.isStreaming:
        right = right.withWatermark(ts_right, watermark)
    cond = (
        (F.col(key_left) == F.col(key_right))
        & (F.col(ts_right) >= F.col(ts_left))
        & (F.col(ts_right) <= F.col(ts_left) + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "inner")
