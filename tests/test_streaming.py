"""Streaming lifecycle tests (SURVEY §2 A13-A17, B15-B17).

Mirror of the reference's CDC tests (trigger_test.go:56-244): write rows to
the log, run the engine, assert batch math, ordering, and composition —
against real temp-dir parquet logs, no mocks.
"""

from __future__ import annotations

import datetime as dt

import pytest
from helpers import collecting_handler, snapshots_equal
from pyspark.sql import functions as F

from sqlite_cdc_spark import sinks, streaming
from sqlite_cdc_spark.bootstrap import snapshot_as_inserts
from sqlite_cdc_spark.log import events_as_changes
from sqlite_cdc_spark.model import LOG_SCHEMA
from sqlite_cdc_spark.sources import load_table


@pytest.fixture()
def log_dir(tmp_path, spark, sf_dir):
    """A change-log directory: events→changes written as FOUR parquet files
    so maxFilesPerTrigger=1 yields four ordered micro-batches.

    Files are written sequentially with distinct mtimes: the file source
    admits in (modTime, path) order, and four files from one job share an
    mtime — making cross-batch arrival order ambiguous."""
    import glob
    import os
    import time

    d = str(tmp_path / "log")
    os.makedirs(d)
    ch = events_as_changes(load_table(spark, sf_dir, "events"))
    for b in range(4):
        part = ch.filter(
            (F.col("id") >= b * 250) & (F.col("id") < (b + 1) * 250)
        ).coalesce(1)
        part.write.parquet(d + f"/tmp{b}")
        src = glob.glob(d + f"/tmp{b}/*.parquet")[0]
        os.rename(src, d + f"/batch-{b}.parquet")
        import shutil

        shutil.rmtree(d + f"/tmp{b}")
        now = time.time() + b  # strictly increasing mtimes
        os.utime(d + f"/batch-{b}.parquet", (now, now))
    return d


def test_stream_delivers_all_changes_in_order(spark, sf_dir, log_dir, tmp_path):
    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.setup()
    store: list = []
    q = eng.deliver(eng.read_log_stream(), collecting_handler(store))
    q.awaitTermination(120)
    total = sum(len(rows) for _, rows in store)
    assert total == 1000
    assert len(store) > 1  # bounded admission → multiple micro-batches
    for _, rows in store:  # intra-batch ordering (explicit sort in deliver)
        ids = [r.id for r in rows]
        assert ids == sorted(ids)


def _write_pages(spark, d, n_pages, rows_per_page, files_per_page):
    """``n_pages`` log pages of consecutive ids, each page's rows in
    descending id order and split over ``files_per_page`` files; pages get
    strictly increasing mtimes so the file source admits them in id order."""
    import glob
    import os
    import shutil
    import time

    os.makedirs(d)
    for p in range(n_pages):
        ids = reversed(range(p * rows_per_page, (p + 1) * rows_per_page))
        rows = [(i, "t", dt.datetime(2024, 1, 1), "INSERT", None, "{}") for i in ids]
        tmp = f"{d}/_tmp{p}"
        page = spark.createDataFrame(rows, LOG_SCHEMA)
        page.coalesce(files_per_page).write.parquet(tmp)
        now = time.time() + p
        for j, src in enumerate(sorted(glob.glob(tmp + "/*.parquet"))):
            dst = f"{d}/page-{p}-{j}.parquet"
            os.rename(src, dst)
            os.utime(dst, (now, now))
        shutil.rmtree(tmp)


def test_single_partition_batch_sorts_in_one_job(spark, tmp_path):
    # one page per batch arrives as one partition: deliver sorts it inside
    # the handler's own job — no range-bounds sample, no exchange
    import glob

    import pyarrow.parquet as pq

    d, out = str(tmp_path / "log"), str(tmp_path / "out")
    _write_pages(spark, d, n_pages=3, rows_per_page=200, files_per_page=1)
    eng = streaming.StreamEngine(spark, d, str(tmp_path / "ckpt"))
    sink = sinks.parquet_sink_handler(out)
    plans: list = []

    def handler(batch, batch_id):
        plans.append(batch._jdf.queryExecution().executedPlan().toString())
        sink(batch, batch_id)

    q = eng.deliver(eng.read_log_stream(), handler)
    q.awaitTermination(120)
    assert len(plans) == 3
    assert not any("Exchange" in p for p in plans)
    # Structured Streaming runs every job of a query in the job group
    # named by its run id: one job per batch, the sink's write
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == len(plans)
    # one task per batch wrote one file, rows in the order it received them
    written = sorted(
        pq.read_table(f).column("id").to_pylist()
        for f in glob.glob(out + "/*.parquet")
    )
    assert written == [list(range(p * 200, (p + 1) * 200)) for p in range(3)]


def test_multi_partition_batch_keeps_total_order(spark, tmp_path):
    # a batch of several files (each page split in two) takes the parallel
    # range sort; every batch is still strictly id-ordered
    d = str(tmp_path / "log")
    _write_pages(spark, d, n_pages=4, rows_per_page=150, files_per_page=2)
    eng = streaming.StreamEngine(spark, d, str(tmp_path / "ckpt"))
    plans: list = []
    store: list = []
    collect = collecting_handler(store)

    def handler(batch, batch_id):
        plans.append(batch._jdf.queryExecution().executedPlan().toString())
        collect(batch, batch_id)

    eng.deliver(
        eng.read_log_stream(max_files_per_trigger=2), handler
    ).awaitTermination(120)
    assert len(plans) == 4 and all("Exchange" in p for p in plans)
    assert [[r.id for r in rows] for _, rows in store] == [
        list(range(p * 150, (p + 1) * 150)) for p in range(4)
    ]


def test_deliver_probe_reads_the_logical_rdd_partition_count(spark, tmp_path):
    # deliver counts a batch's partitions from its LogicalRDD without
    # planning it; a Spark upgrade that hands foreachBatch another node, or
    # an RDD with another partition count, must fail here
    d = str(tmp_path / "log")
    _write_pages(spark, d, n_pages=3, rows_per_page=50, files_per_page=1)
    eng = streaming.StreamEngine(spark, d, str(tmp_path / "ckpt"))
    seen: list = []

    def handler(batch, batch_id):
        plan = batch._jdf.logicalPlan()
        seen.append((
            plan.getClass().getName(),
            plan.rdd().getNumPartitions(),
            batch._jdf.queryExecution().toRdd().getNumPartitions(),
        ))

    # ordered=False hands the handler the very batch deliver's run probes
    eng.deliver(
        eng.read_log_stream(max_files_per_trigger=2), handler, ordered=False
    ).awaitTermination(120)
    # pages 0+1 arrive as two partitions, page 2 as one
    assert seen == [
        ("org.apache.spark.sql.execution.LogicalRDD", 2, 2),
        ("org.apache.spark.sql.execution.LogicalRDD", 1, 1),
    ]


def _sink_files(out):
    """Sink file name → (inode, mtime): a rewritten file changes both."""
    import os

    out_files = {}
    for n in os.listdir(out):
        st = os.stat(os.path.join(out, n))
        out_files[n] = (st.st_ino, st.st_mtime_ns)
    return out_files


def _sink_ids(out):
    import pyarrow.parquet as pq

    return sorted(pq.read_table(out, columns=["id"]).column("id").to_pylist())


def test_parquet_sink_is_exactly_once_across_kill_restart(spark, tmp_path):
    """A crash after the sink wrote batch 1 but before its offsets
    committed replays batch 1 on restart; the replay rewrites the same
    file, so the sink holds every captured id once."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    d, out, ckpt = (str(tmp_path / n) for n in ("log", "out", "ckpt"))
    _write_pages(spark, d, n_pages=3, rows_per_page=100, files_per_page=1)
    eng = streaming.StreamEngine(spark, d, ckpt)
    sink = sinks.parquet_sink_handler(out)
    calls: list = []
    at_crash: dict = {}

    def handler(batch, batch_id):
        sink(batch, batch_id)
        calls.append(batch_id)
        if batch_id == 1 and not at_crash:
            at_crash.update(_sink_files(out))
            raise RuntimeError("injected crash: sink written, offsets not committed")

    q = eng.deliver(eng.read_log_stream(), handler)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    q2 = eng.deliver(eng.read_log_stream(), handler)
    q2.awaitTermination(120)
    assert q2.id == q.id  # one checkpoint, one query id
    assert calls == [0, 1, 1, 2]  # batch 1 replayed
    files = _sink_files(out)
    assert sorted(files) == [f"batch-{q.id}-{b}.parquet" for b in range(3)]
    # the replay replaced batch 1's file under its own name
    assert set(at_crash) == {f"batch-{q.id}-{b}.parquet" for b in (0, 1)}
    assert files[f"batch-{q.id}-0.parquet"] == at_crash[f"batch-{q.id}-0.parquet"]
    assert files[f"batch-{q.id}-1.parquet"] != at_crash[f"batch-{q.id}-1.parquet"]
    assert _sink_ids(out) == list(range(300))

    # a fresh checkpoint over the same sink delivers everything again
    # under its own query id and leaves the earlier files as they were
    eng2 = streaming.StreamEngine(spark, d, str(tmp_path / "ckpt2"))
    q3 = eng2.deliver(eng2.read_log_stream(), sink)
    q3.awaitTermination(120)
    assert q3.id != q.id
    after = _sink_files(out)
    assert {n: after[n] for n in files} == files
    assert sorted(set(after) - set(files)) == [
        f"batch-{q3.id}-{b}.parquet" for b in range(3)
    ]
    assert _sink_ids(out) == sorted(list(range(300)) * 2)


def test_parquet_sink_failed_publish_leaves_no_visible_file(spark, tmp_path, monkeypatch):
    import os

    from sqlite_cdc_spark import storage

    out = str(tmp_path / "out")
    batch = spark.createDataFrame(
        [(i, "t", dt.datetime(2024, 1, 1), "INSERT", None, "{}") for i in range(10)],
        LOG_SCHEMA,
    ).coalesce(1)
    sink = sinks.parquet_sink_handler(out)

    def boom(src, dst):
        raise OSError("injected rename failure")

    monkeypatch.setattr(storage.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        sink(batch, 4)
    assert os.listdir(out) == []  # no visible file, no leftover temp file
    monkeypatch.undo()
    sink(batch, 4)  # outside a stream the name is the batch id alone
    assert os.listdir(out) == ["batch-4.parquet"]
    assert _sink_ids(out) == list(range(10))


def test_parquet_sink_multi_partition_batch_lands_once_under_replay(spark, tmp_path):
    """A batch of more than one partition is written by Spark and lands
    as one part file per partition; the replay rewrites the same parts.
    Both readers read the set of one-file and multi-file batches."""
    import pyarrow.parquet as pq
    from pyspark.errors.exceptions.captured import StreamingQueryException

    d, out, ckpt = (str(tmp_path / n) for n in ("log", "out", "ckpt"))
    _write_pages(spark, d, n_pages=3, rows_per_page=100, files_per_page=1)
    eng = streaming.StreamEngine(spark, d, ckpt)
    sink = sinks.parquet_sink_handler(out)
    crashed: list = []

    def handler(batch, batch_id):
        sink(batch, batch_id)
        if batch_id == 0 and not crashed:
            crashed.append(_sink_files(out))
            raise RuntimeError("injected crash: sink written, offsets not committed")

    def start():
        # unordered, so the two-file batch reaches the sink as two partitions
        return eng.deliver(
            eng.read_log_stream(max_files_per_trigger=2), handler, ordered=False
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    start().awaitTermination(120)
    files = _sink_files(out)
    assert sorted(crashed[0]) == [f"batch-{q.id}-0-{k}.parquet" for k in (0, 1)]
    assert sorted(files) == sorted(crashed[0]) + [f"batch-{q.id}-1.parquet"]
    assert all(files[n] != ino for n, ino in crashed[0].items())  # rewritten
    assert _sink_ids(out) == list(range(300))
    want = sorted(spark.read.parquet(d).collect())
    got = spark.read.parquet(out)
    assert got.dtypes == spark.read.parquet(d).dtypes
    assert sorted(got.collect()) == want
    t = pq.read_table(out).sort_by("id")
    assert t.column_names == LOG_SCHEMA.fieldNames()
    assert t.column("id").to_pylist() == [r.id for r in want]
    assert t.column("timestamp").to_pylist() == [r.timestamp for r in want]


def test_checkpoint_resume_no_redelivery(spark, sf_dir, log_dir, tmp_path):
    # A13: offsets replace ack-by-delete — a restarted query delivers nothing new
    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.setup()
    first: list = []
    eng.deliver(eng.read_log_stream(), collecting_handler(first)).awaitTermination(120)
    second: list = []
    eng.deliver(eng.read_log_stream(), collecting_handler(second)).awaitTermination(120)
    assert sum(len(r) for _, r in first) == 1000
    assert sum(len(r) for _, r in second) == 0


def test_handler_error_fault_stops(spark, sf_dir, log_dir, tmp_path):
    # A15: handler error ⇒ engine fault-stop (handler.go:8-17 contract)
    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.setup()

    def bad_handler(batch, batch_id):
        raise RuntimeError("sink exploded")

    q = eng.deliver(eng.read_log_stream(), bad_handler)
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
        raise AssertionError("query should have failed")


def test_bootstrap_and_cdc_counts(spark, sf_dir, log_dir, tmp_path):
    # A16 parity with TestBootstrapAndCDC (trigger_test.go:168-244):
    # snapshot rows + live rows all arrive, snapshot first
    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.setup()
    nation = load_table(spark, sf_dir, "nation")
    snap = snapshot_as_inserts(nation, "nation").withColumn(
        "id", F.lit(None).cast("long")
    ).select([f.name for f in LOG_SCHEMA.fields])
    store: list = []
    q = eng.bootstrap_and_cdc(snap, collecting_handler(store))
    q.awaitTermination(120)
    assert store[0][0] == -1 and len(store[0][1]) == 25  # snapshot batch first
    assert sum(len(rows) for _, rows in store) == 25 + 1000


def test_teardown_removes_state(spark, log_dir, tmp_path):
    import os

    ckpt = str(tmp_path / "ckpt2")
    eng = streaming.StreamEngine(spark, log_dir, ckpt)
    eng.setup()
    assert os.path.isdir(ckpt)
    eng.teardown()
    assert not os.path.isdir(ckpt) and not os.path.isdir(log_dir)


def test_windowed_change_counts_stream_matches_batch(spark, sf_dir, log_dir, tmp_path):
    # B15/B16: the same expression aggregates a stream (with watermark) and
    # a batch; totals agree
    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.setup()
    stream_out: list = []

    def collect_agg(batch, batch_id):
        stream_out.extend(batch.collect())

    agg = streaming.windowed_change_counts(eng.read_log_stream(), "6 hours")
    q = (
        agg.writeStream.foreachBatch(collect_agg)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    batch_df = streaming.windowed_change_counts(
        spark.read.schema(LOG_SCHEMA).parquet(log_dir), "6 hours"
    )
    batch_counts = {
        (r.tablename, r.operation, r.win.start): r.n_changes for r in batch_df.collect()
    }
    # complete-mode emits cumulative state per trigger; final state is last
    final = {}
    for r in stream_out:
        final[(r.tablename, r.operation, r.win.start)] = r.n_changes
    assert final == batch_counts


def test_stateful_dedup_within_watermark(spark, tmp_path):
    # B17: duplicated log entries collapse via dropDuplicatesWithinWatermark
    rows = [
        (i, "t", dt.datetime(2024, 1, 1, 0, 0, i % 60), "INSERT", None, "{}")
        for i in range(100)
    ]
    dup_dir = str(tmp_path / "duplog")
    df = spark.createDataFrame(rows + rows[:50], LOG_SCHEMA)  # 50 dupes
    df.repartition(2).write.parquet(dup_dir)
    eng = streaming.StreamEngine(spark, dup_dir, str(tmp_path / "ckpt"))
    stream = (
        eng.read_log_stream(max_files_per_trigger=10)
        .withWatermark("timestamp", "1 hour")
        .dropDuplicatesWithinWatermark(["id"])
    )
    store: list = []
    eng.deliver(stream, collecting_handler(store)).awaitTermination(120)
    ids = [r.id for _, rows_ in store for r in rows_]
    assert len(ids) == 100
    assert sorted(set(ids)) == list(range(100))


def test_streaming_compaction_matches_batch(spark, sf_dir, log_dir, tmp_path):
    # B2 streaming form: the applyInPandasWithState materialization must
    # converge to the same final state as the batch compaction
    from sqlite_cdc_spark import derive
    from sqlite_cdc_spark.log import events_as_changes
    from sqlite_cdc_spark.sources import load_table

    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    compacted = streaming.streaming_compaction(
        eng.read_log_stream(max_files_per_trigger=2)
    )
    emitted: list = []

    def collect(batch, batch_id):
        emitted.extend(batch.collect())

    q = (
        compacted.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # last emission per key = streaming final state
    final: dict = {}
    for r in emitted:
        if r.last_id >= final.get(r.key, (None, -1))[1]:
            final[r.key] = (r, r.last_id)
    stream_state = {
        k: (v[0].last_id, v[0].operation)
        for k, v in final.items()
        if not v[0].is_delete
    }
    batch_changes = events_as_changes(load_table(spark, sf_dir, "events"))
    key = F.get_json_object(F.coalesce("after", "before"), "$.user_id")
    batch_state = {
        r.k: (r.id, r.operation)
        for r in derive.compact_log(batch_changes, key, order_cols=["id"])
        .withColumn("k", key)
        .collect()
    }
    assert stream_state == batch_state


def test_watermark_drops_late_data(spark, tmp_path):
    # B16: watermark semantics. Spark's watermark is a may-drop lower
    # bound: a late row is only guaranteed-dropped once its window's state
    # has been EVICTED, which happens at the end of the first batch after
    # the watermark advances past the window end. Three batches:
    #   1. on-time rows (watermark still epoch)
    #   2. an advancer row → watermark 9:30, hour-1/2/5 windows evicted+emitted
    #   3. the late row → its window is gone → dropped by watermark
    import os
    import time

    log = str(tmp_path / "latelog")
    os.makedirs(log)
    on_time = [
        (i, "t", dt.datetime(2024, 1, 1, h, 0, 0), "INSERT", None, "{}")
        for i, h in enumerate([1, 1, 2, 5, 9, 10])
    ]
    advancer = [(50, "t", dt.datetime(2024, 1, 1, 10, 30, 0), "INSERT", None, "{}")]
    late = [(99, "t", dt.datetime(2024, 1, 1, 1, 30, 0), "INSERT", None, "{}")]
    for i, rows in enumerate((on_time, advancer, late)):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1).write.parquet(
            log + f"/f{i}"
        )
        time.sleep(1.2)  # the file source orders by mtime; disambiguate
    stream = (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log + "/f*")
        .withWatermark("timestamp", "30 minutes")
        .groupBy(F.window("timestamp", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out: list = []
    q = (
        stream.writeStream.foreachBatch(lambda b, i: out.extend(b.collect()))
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    while q.isActive:
        time.sleep(0.5)
    counts = {r.win.start.hour: r.n for r in out}
    # hour-1 window closed with exactly its on-time rows; late row dropped
    assert counts.get(1) == 2
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for op in p.get("stateOperators", [])
    )
    assert dropped == 1


def test_prune_log_file_granular(spark, sf_dir, log_dir):
    # A13 retention: files wholly below the watermark go; a
    # partially-consumed file stays (at-least-once preserved)
    import glob

    files_before = len(glob.glob(log_dir + "/*.parquet"))
    assert files_before == 4
    # watermark 500: files covering ids 0-249 and 250-499 are prunable
    gone = streaming.prune_log(spark, log_dir, up_to_id=499)
    assert len(gone) == 2
    assert len(glob.glob(log_dir + "/*.parquet")) == 2
    remaining = spark.read.schema(LOG_SCHEMA).parquet(log_dir)
    assert remaining.agg(F.min("id")).first()[0] == 500
    assert remaining.count() == 500


def test_streamed_replica_via_apply_changes(spark, sf_dir, log_dir, tmp_path):
    # the flagship CDC story end to end: micro-batches maintain a parquet
    # replica via compact-then-apply in foreachBatch; the final replica
    # equals the batch compaction of the whole log
    import os

    from sqlite_cdc_spark import derive
    from sqlite_cdc_spark.log import events_as_changes
    from sqlite_cdc_spark.sources import load_table

    replica_dir = str(tmp_path / "replica")
    state_schema = "user_id bigint, value double"

    def apply_batch(batch, batch_id):
        key = F.get_json_object(F.coalesce("after", "before"), "$.user_id")
        compacted = derive.compact_log(batch, key, order_cols=["id"],
                                       drop_deletes=False)
        if os.path.isdir(replica_dir):
            state = spark.read.schema(state_schema).parquet(replica_dir)
        else:
            state = spark.createDataFrame([], state_schema)
        # project images to the replica schema before applying
        typed = compacted.select(
            "operation",
            F.to_json(
                F.struct(
                    key.cast("bigint").alias("user_id"),
                    F.get_json_object("after", "$.value").cast("double").alias("value"),
                )
            ).alias("after"),
            F.lit(None).cast("string").alias("before"),
        )
        new_state = derive.apply_changes(state, typed, ["user_id"])
        new_state.write.mode("overwrite").parquet(replica_dir + "_next")
        # atomic-ish swap for the test (a real sink would MERGE / use a
        # transactional table format)
        import shutil

        if os.path.isdir(replica_dir):
            shutil.rmtree(replica_dir)
        os.rename(replica_dir + "_next", replica_dir)

    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    eng.deliver(
        eng.read_log_stream(max_files_per_trigger=1), apply_batch, ordered=False
    ).awaitTermination(180)

    # expected: batch compaction of the full log (DELETE keys dropped)
    all_changes = events_as_changes(load_table(spark, sf_dir, "events"))
    key = F.get_json_object(F.coalesce("after", "before"), "$.user_id")
    expected = derive.compact_log(all_changes, key, order_cols=["id"]).select(
        key.cast("bigint").alias("user_id"),
        F.get_json_object("after", "$.value").cast("double").alias("value"),
    )
    got = spark.read.schema(state_schema).parquet(replica_dir)
    assert snapshots_equal(got, expected)


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join (watermarked both sides) returns exactly
    the batch join's rows once all input is processed."""
    base = dt.datetime(2024, 1, 1, 12, 0)
    signups = [(1, base), (2, base + dt.timedelta(minutes=5)),
               (3, base + dt.timedelta(hours=2))]
    purchases = [
        (1, base + dt.timedelta(minutes=3), 10.0),   # within 10 min
        (1, base + dt.timedelta(minutes=20), 20.0),  # too late
        (2, base + dt.timedelta(minutes=6), 30.0),   # within
        (3, base + dt.timedelta(hours=1), 40.0),     # BEFORE signup: no match
    ]
    ldf = spark.createDataFrame(signups, "s_user bigint, s_ts timestamp")
    rdf = spark.createDataFrame(
        purchases, "p_user bigint, p_ts timestamp, amount double"
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    ldf.write.parquet(ldir)
    rdf.write.parquet(rdir)
    ls = spark.readStream.schema(ldf.schema).parquet(ldir)
    rs = spark.readStream.schema(rdf.schema).parquet(rdir)
    joined = streaming.interval_join_streams(
        ls, rs, "s_user", "p_user", "s_ts", "p_ts", within="10 minutes"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("ivj")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.awaitTermination(120)
    got = {(r.s_user, r.amount) for r in spark.sql("SELECT * FROM ivj").collect()}
    batch = streaming.interval_join_streams(
        ldf, rdf, "s_user", "p_user", "s_ts", "p_ts", within="10 minutes"
    )
    expect = {(r.s_user, r.amount) for r in batch.collect()}
    assert got == expect == {(1, 10.0), (2, 30.0)}


def test_streaming_compaction_silent_on_stale_replay(spark, tmp_path):
    # round-2 fix (ADVICE r1): a micro-batch that only redelivers already-
    # applied ids (at-least-once replay) must NOT re-emit the unchanged
    # state; a batch that advances the id must emit exactly once
    import json

    from sqlite_cdc_spark.model import LOG_SCHEMA

    import time

    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")

    ts = dt.datetime(2024, 1, 1)
    # LOG_SCHEMA order: id, tablename, timestamp, operation, before, after
    row = lambda i, uid: (  # noqa: E731
        i, "t", ts, "UPDATE", None, json.dumps({"user_id": uid, "v": i})
    )
    # batch 1: ids 1,2 for user a; batch 2: REPLAY of id 2 (stale);
    # batch 3: id 3 (advances)
    batches = [
        [row(1, "a"), row(2, "a")],
        [row(2, "a")],
        [row(3, "a")],
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1).write.parquet(
            f"{log_dir}/f{i}"
        )
        time.sleep(1.2)  # the file source orders by mtime; disambiguate

    stream = (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir + "/f*")
    )
    compacted = streaming.streaming_compaction(stream)
    emitted: list = []

    def collect(batch, batch_id):
        emitted.extend(batch.collect())

    q = (
        compacted.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # one emission per ADVANCING batch only (file order within the
    # directory listing is lexicographic: f1, f2, f3)
    ids = [r.last_id for r in emitted]
    assert sorted(ids) == [2, 3]  # nothing emitted for the stale replay


def test_streaming_compaction_out_of_order_replay(spark, tmp_path):
    # VERDICT r2 item 7: emit-only-on-advance must also hold when a replay
    # arrives OUT OF ORDER — a batch whose ids all sit below the applied
    # high-water mark (not merely equal to it) stays silent, and a batch
    # that is internally unsorted applies its max id, not its last row
    import json
    import time

    from sqlite_cdc_spark.model import LOG_SCHEMA

    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    ts = dt.datetime(2024, 1, 1)
    row = lambda i, uid: (  # noqa: E731
        i, "t", ts, "UPDATE", None, json.dumps({"user_id": uid, "v": i})
    )
    batches = [
        [row(5, "a"), row(2, "a")],  # internally unsorted: max wins
        [row(1, "a"), row(4, "a")],  # regression replay below hwm 5: silent
        [row(7, "a")],               # advances: emit
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1).write.parquet(
            f"{log_dir}/f{i}"
        )
        time.sleep(1.2)  # the file source orders by mtime; disambiguate

    stream = (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir + "/f*")
    )
    compacted = streaming.streaming_compaction(stream)
    emitted: list = []

    def collect(batch, batch_id):
        emitted.extend(batch.collect())

    q = (
        compacted.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    ids = sorted(r.last_id for r in emitted)
    assert ids == [5, 7], ids  # nothing for the out-of-order replay batch
    for r in emitted:  # the emitted state is the max-id row's payload
        assert json.loads(r.after)["v"] == r.last_id


def test_streaming_compaction_ttl_evicts_idle_state(spark, tmp_path):
    # VERDICT r3 item 5: the 100-TB compaction story needs BOUNDED state.
    # With ttl_s set, a key idle while event time advances past the TTL is
    # evicted (EventTimeTimeout — watermark-driven, deterministic under
    # replay). Observable from outside: after eviction, a stale replay for
    # that key RE-EMITS (state was reset), whereas without TTL the same
    # replay is provably silent (test_streaming_compaction_out_of_order_
    # replay). That re-emission is the documented TTL tradeoff AND the
    # proof the state is gone.
    import json
    import time

    from sqlite_cdc_spark.model import LOG_SCHEMA

    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    ts = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    row = lambda i, uid, m: (  # noqa: E731
        i, "t", ts(m), "UPDATE", None, json.dumps({"user_id": uid, "v": i})
    )
    batches = [
        [row(5, "a", 0)],   # a @ 00:00 -> emit 5; timeout at 00:01
        [row(6, "b", 10)],  # watermark -> 00:10 after this batch
        [row(7, "b", 11)],  # watermark 00:10 > 00:01 -> 'a' evicted here
        [row(2, "a", 12)],  # stale id 2 < 5, but state is gone -> EMITS
    ]
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, LOG_SCHEMA).coalesce(1).write.parquet(
            f"{log_dir}/f{i}"
        )
        time.sleep(1.2)  # the file source orders by mtime; disambiguate

    stream = (
        spark.readStream.schema(LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(log_dir + "/f*")
    )
    compacted = streaming.streaming_compaction(stream, ttl_s=60)
    emitted: list = []

    def collect(batch, batch_id):
        emitted.extend(batch.collect())

    q = (
        compacted.writeStream.foreachBatch(collect)
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    ids = sorted(r.last_id for r in emitted)
    # without TTL this would be [5, 6, 7] (id 2 silent); the 2 proves the
    # idle key's state was evicted and rebuilt
    assert ids == [2, 5, 6, 7], ids


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    # the live corpus-hygiene loop, end to end: each micro-batch of new
    # docs probes the standing LSH index (cost ∝ batch), appends its own
    # signatures, and merges candidate pairs into the cluster assignment
    # via update_clusters. After the stream drains, the assignment must
    # equal a from-scratch clustering of the full corpus — regardless of
    # how the file source happened to slice the batches (candidate sets
    # are per-doc deterministic, so incremental ∪ == global).
    import random
    import time

    from sqlite_cdc_spark.pipeline import dedup

    def text(seed):
        r = random.Random(seed)
        return " ".join(f"t{r.randint(0, 400)}" for _ in range(25))

    base = {i: text(i) for i in range(3)}
    waves = [
        [(0, base[0]), (1, base[1]), (2, base[2]), (3, text(50))],
        [(100, base[0] + " x"), (101, text(51)), (102, base[1] + " y")],
        [(200, base[0] + " z"), (201, base[2] + " w"), (202, text(52)),
         (203, text(52) + " q")],
    ]
    src = str(tmp_path / "src")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, "doc_id long, text string").coalesce(1)\
            .write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    K = dict(num_hashes=32, bands=8)
    state = {
        "index": None,
        "labels": spark.createDataFrame(
            [], "doc_id long, cluster_id long, cluster_size bigint"
        ),
    }

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        pairs = dedup.minhash_candidates(batch, "doc_id", "text", **K)
        if state["index"] is not None:
            cross = dedup.query_lsh_index(
                state["index"], batch, "doc_id", "text", **K
            ).select(
                F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b")
            )
            pairs = pairs.select("id_a", "id_b").unionByName(cross)
        else:
            pairs = pairs.select("id_a", "id_b")
        state["labels"] = dedup.update_clusters(
            state["labels"], pairs
        ).localCheckpoint()
        if state["index"] is None:
            state["index"] = dedup.build_lsh_index(
                batch, "doc_id", "text", **K
            ).localCheckpoint()
        else:
            state["index"] = dedup.update_lsh_index(
                state["index"], batch, "doc_id", "text", **K
            ).localCheckpoint()

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    all_docs = spark.createDataFrame(
        [d for w in waves for d in w], "doc_id long, text string"
    )
    want = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dup_clusters(
            dedup.minhash_candidates(all_docs, "doc_id", "text", **K)
        ).collect()
    )
    got = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in state["labels"].collect()
    )
    assert len(got) >= 8  # the planted cross/within-wave dups collided
    assert got == want


def test_streaming_lm_maintenance_matches_batch(spark, tmp_path):
    # the LM leg of the corpus-hygiene loop: each micro-batch of new docs
    # folds into the standing unigram model via update_unigram_counts;
    # after the stream drains, the model must equal a from-scratch count
    # of the full corpus regardless of how the file source sliced batches
    import time

    from sqlite_cdc_spark.pipeline import lm

    waves = [
        [(0, "aa bb cc"), (1, "bb cc dd")],
        [(100, "cc dd ee"), (101, "aa aa")],
        [(200, "ff"), (201, "aa ff ff")],
    ]
    src = str(tmp_path / "lmsrc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, "doc_id long, text string").coalesce(1)\
            .write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    state = {"model": None}

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        if state["model"] is None:
            state["model"] = lm.unigram_counts(batch).localCheckpoint()
        else:
            state["model"] = lm.update_unigram_counts(
                state["model"], inserts=batch
            ).localCheckpoint()

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "lmckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(
        [d for w in waves for d in w], "doc_id long, text string"
    )
    got = {r.tok: r.cnt for r in state["model"].collect()}
    want = {r.tok: r.cnt for r in lm.unigram_counts(all_docs).collect()}
    assert got == want


def test_streaming_compaction_rocksdb_state_backend(spark, sf_dir, log_dir, tmp_path):
    """The 100 TB state story (PERF.md): compaction state must run on the
    DISK-BACKED RocksDB provider, not the heap-backed default — heap
    state is ∝ live keys and OOMs at billions of keys. Proves (a) the
    provider actually engaged (rocksdb custom metrics in the query
    progress), (b) results are identical to the heap-backed run (same
    final state as batch compaction), (c) the session conf is restored."""
    from sqlite_cdc_spark import derive
    from sqlite_cdc_spark.log import events_as_changes
    from sqlite_cdc_spark.sources import load_table

    prev = streaming.configure_state_store(spark)
    try:
        eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
        compacted = streaming.streaming_compaction(
            eng.read_log_stream(max_files_per_trigger=2)
        )
        emitted: list = []

        def collect(batch, batch_id):
            emitted.extend(batch.collect())

        q = (
            compacted.writeStream.foreachBatch(collect)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
        progress = q.recentProgress
        state_ops = [
            so for p in progress for so in (p.get("stateOperators") or [])
        ]
        assert state_ops, "no stateful operator progress recorded"
        rocks_metrics = [
            so for so in state_ops
            if any(k.startswith("rocksdb") for k in (so.get("customMetrics") or {}))
        ]
        assert rocks_metrics, (
            "RocksDB custom metrics absent — provider did not engage: "
            f"{state_ops[-1].get('customMetrics')}"
        )
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)

    final: dict = {}
    for r in emitted:
        if r.last_id >= final.get(r.key, (None, -1))[1]:
            final[r.key] = (r, r.last_id)
    stream_state = {
        k: (v[0].last_id, v[0].operation)
        for k, v in final.items()
        if not v[0].is_delete
    }
    batch_changes = events_as_changes(load_table(spark, sf_dir, "events"))
    key = F.get_json_object(F.coalesce("after", "before"), "$.user_id")
    batch_state = {
        r.k: (r.id, r.operation)
        for r in derive.compact_log(batch_changes, key, order_cols=["id"])
        .withColumn("k", key)
        .collect()
    }
    assert stream_state == batch_state


def test_streaming_mv_maintenance_matches_batch(spark, tmp_path):
    # the materialized-view leg (B1/B17): each micro-batch of CDC changes
    # folds into a standing count/sum aggregate via incremental_agg; after
    # the stream drains, the MV must equal a from-scratch aggregation of
    # the final table state, however the file source sliced the batches
    import json
    import time

    from sqlite_cdc_spark import derive

    def chg(op, before, after):
        return (
            op,
            json.dumps(before) if before else None,
            json.dumps(after) if after else None,
        )

    waves = [
        [
            chg("INSERT", None, {"id": 1, "grp": "a", "val": 10.0}),
            chg("INSERT", None, {"id": 2, "grp": "a", "val": 5.0}),
            chg("INSERT", None, {"id": 3, "grp": "b", "val": 7.0}),
        ],
        [
            chg(
                "UPDATE",
                {"id": 2, "grp": "a", "val": 5.0},
                {"id": 2, "grp": "b", "val": 6.0},
            ),
            chg("DELETE", {"id": 3, "grp": "b", "val": 7.0}, None),
        ],
        [
            chg("INSERT", None, {"id": 4, "grp": "c", "val": 1.5}),
        ],
    ]
    schema = "operation string, before string, after string"
    src = str(tmp_path / "mvsrc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    empty = spark.createDataFrame([], "grp string, cnt long, sum_val double")
    state = {"mv": empty}

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        state["mv"] = derive.incremental_agg(
            state["mv"], batch, ["grp"], ["val"], "grp string, val double"
        ).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "mvckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final_table = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 6.0), (4, "c", 1.5)],
        "id long, grp string, val double",
    )
    want = derive.aggregate_base(final_table, ["grp"], ["val"])
    assert snapshots_equal(state["mv"], want)


def test_streaming_incremental_decontam_equals_batch(spark, tmp_path):
    # r7: the CDC x B29 composition as a STREAM — documents arrive in
    # micro-batches, each screened against the STANDING benchmark-gram
    # index built once up front; the union of per-batch manifests must
    # equal the one-shot batch screening of all docs.
    from sqlite_cdc_spark.pipeline import decontam, dedup

    bench_rows = [
        (100, "the quick brown fox jumps over the lazy dog every day"),
        (101, "pack my box with five dozen liquor jugs tonight ok"),
    ]
    waves = [
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
         (2, "the quick brown fox jumps over the lazy dog every day extra")],
        [(3, "pack my box with five dozen liquor jugs tonight ok trailing"),
         (4, "unrelated words entirely clean text with no benchmark overlap")],
    ]
    bench = spark.createDataFrame(bench_rows, "doc_id long, text string")
    standing = (
        dedup.shingle_rows(bench, "doc_id", "text", k=5, unit="word")
        .select("sh")
        .distinct()
        .localCheckpoint()
    )
    src = str(tmp_path / "docs")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/w{i}")

    results = []

    def handle(batch, _bid):
        if batch.isEmpty():
            return
        results.extend(
            decontam.ngram_contamination(batch, None, grams=standing).collect()
        )

    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_docs = spark.createDataFrame(
        [d for w in waves for d in w], "doc_id long, text string"
    )
    want = sorted(
        (r.doc_id, r.n_shared_ngrams, r.contaminated)
        for r in decontam.ngram_contamination(
            all_docs, None, grams=standing
        ).collect()
    )
    got = sorted((r.doc_id, r.n_shared_ngrams, r.contaminated) for r in results)
    assert got == want
    by_id = dict((d, (n, c)) for d, n, c in got)
    assert by_id[2][1] is True and by_id[3][1] is True  # planted overlaps
    assert by_id[1][1] is False and by_id[4][1] is False


def test_incremental_clusters_from_parquet_state(spark, tmp_path):
    # the REAL-SCALE incremental flow: standing labels + LSH index live
    # as parquet between batches (not as live plans), and the merged
    # result must still equal the from-scratch recompute
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import dedup

    K = dict(num_hashes=32, bands=8)
    base = [
        (i, f"alpha beta gamma delta epsilon zeta eta theta doc {i}")
        for i in range(30)
    ]
    twins = [
        (100 + i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} x")
        for i in range(0, 30, 5)
    ]
    docs = spark.createDataFrame(base + twins, "doc_id long, text string")
    pairs1 = dedup.minhash_candidates(docs, "doc_id", "text", **K)
    labels_path = str(tmp_path / "labels")
    index_path = str(tmp_path / "index")
    dedup.dup_clusters(pairs1).write.parquet(labels_path)
    dedup.build_lsh_index(docs, "doc_id", "text", **K).write.parquet(index_path)

    batch = spark.createDataFrame(
        [(200 + i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} y")
         for i in range(0, 30, 10)],
        "doc_id long, text string",
    )
    standing_index = spark.read.parquet(index_path)
    standing_labels = spark.read.parquet(labels_path)
    hits = dedup.query_lsh_index(standing_index, batch, "doc_id", "text", **K)
    merged = dedup.update_clusters(standing_labels, hits, "new_id", "corpus_id")
    scratch = dedup.dup_clusters(
        dedup.minhash_candidates(
            docs.unionByName(batch), "doc_id", "text", **K
        )
    )
    got = sorted((r.doc_id, r.cluster_id, r.cluster_size) for r in merged.collect())
    want = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size) for r in scratch.collect()
    )
    assert got == want


def test_streaming_lm_cdc_updates_deletes_match_batch(spark, tmp_path):
    # VERDICT r7 item 7: the LM incremental leg under FULL CDC semantics
    # (not insert-only) — each micro-batch carries I/U/D change rows; an
    # UPDATE folds as before-image delete + after-image insert via the
    # same update_unigram_counts merge the b30_incremental_lm row uses.
    # After the stream drains, the standing model must equal a
    # from-scratch count of the effective corpus, however the file
    # source sliced the batches.
    import time

    from sqlite_cdc_spark.pipeline import lm

    waves = [
        [
            ("INSERT", None, "aa bb cc"),
            ("INSERT", None, "bb cc dd"),
            ("INSERT", None, "ee ff"),
        ],
        [
            ("UPDATE", "bb cc dd", "bb cc dd zzz"),
            ("DELETE", "ee ff", None),
        ],
        [
            ("INSERT", None, "aa zzz"),
            ("UPDATE", "aa bb cc", "aa bb"),
        ],
    ]
    schema = "operation string, before string, after string"
    src = str(tmp_path / "lmcdc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    state = {"model": None}

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        ins = batch.filter(
            F.col("operation").isin("INSERT", "UPDATE")
        ).select(F.col("after").alias("text"))
        dels = batch.filter(
            F.col("operation").isin("UPDATE", "DELETE")
        ).select(F.col("before").alias("text"))
        if state["model"] is None:
            state["model"] = lm.unigram_counts(ins).localCheckpoint()
        else:
            state["model"] = lm.update_unigram_counts(
                state["model"], inserts=ins, deletes=dels
            ).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "lmcdcckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    effective = spark.createDataFrame(
        [("bb cc dd zzz",), ("aa zzz",), ("aa bb",)], "text string"
    )
    got = {r.tok: r.cnt for r in state["model"].collect()}
    want = {r.tok: r.cnt for r in lm.unigram_counts(effective).collect()}
    assert got == want


def test_streaming_corpus_counters_match_batch(spark, tmp_path):
    # VERDICT r7 item 7: the B24 counter leg under CDC — per-(source,
    # lang) doc/token counters maintained by update_corpus_counters
    # across micro-batches must equal corpus_counters of the final
    # table state (groups whose count reaches 0 drop out entirely).
    import time

    from sqlite_cdc_spark.pipeline import text as textops

    waves = [
        [
            ("INSERT", None, None, None, "web", "en", "one two three"),
            ("INSERT", None, None, None, "web", "de", "eins zwei"),
            ("INSERT", None, None, None, "books", "en", "four five"),
        ],
        [
            # update moves a doc between groups: -web/en, +books/en
            ("UPDATE", "web", "en", "one two three", "books", "en", "one two"),
            ("DELETE", "web", "de", "eins zwei", None, None, None),
        ],
        [
            ("INSERT", None, None, None, "web", "fr", "un deux trois"),
        ],
    ]
    schema = (
        "operation string, b_source string, b_lang string, b_text string,"
        " a_source string, a_lang string, a_text string"
    )
    src = str(tmp_path / "cardcdc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    empty = spark.createDataFrame(
        [], "source string, lang string, n_docs long, sum_tok long"
    )
    state = {"c": empty}

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        ins = batch.filter(
            F.col("operation").isin("INSERT", "UPDATE")
        ).select(
            F.col("a_source").alias("source"),
            F.col("a_lang").alias("lang"),
            F.col("a_text").alias("text"),
        )
        dels = batch.filter(
            F.col("operation").isin("UPDATE", "DELETE")
        ).select(
            F.col("b_source").alias("source"),
            F.col("b_lang").alias("lang"),
            F.col("b_text").alias("text"),
        )
        state["c"] = textops.update_corpus_counters(
            state["c"], inserts=ins, deletes=dels
        ).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "cardcdcckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    final_table = spark.createDataFrame(
        [
            ("books", "en", "four five"),
            ("books", "en", "one two"),
            ("web", "fr", "un deux trois"),
        ],
        "source string, lang string, text string",
    )
    got = {(r.source, r.lang): (r.n_docs, r.sum_tok) for r in state["c"].collect()}
    want = {
        (r.source, r.lang): (r.n_docs, r.sum_tok)
        for r in textops.corpus_counters(final_table).collect()
    }
    assert got == want
    assert ("web", "de") not in got  # zero-count group fully evicted


def test_streaming_join_view_maintenance_matches_batch(spark, tmp_path):
    # the JOIN-view leg of the MV family: micro-batches carrying CDC
    # deltas for BOTH sides of a standing A(k) x B(k) join view fold in
    # via incremental_join_view; after the stream drains the view must
    # equal a from-scratch join of the final table states
    import time

    from sqlite_cdc_spark import derive

    # waves: (side, op, pk, k, v)
    waves = [
        [
            ("a", "INSERT", 1, 10, "a1"), ("a", "INSERT", 2, 20, "a2"),
            ("b", "INSERT", 100, 10, "b1"), ("b", "INSERT", 200, 20, "b2"),
        ],
        [
            ("a", "UPDATE", 1, 10, "a1x"),  # payload change, same key
            ("b", "DELETE", 200, 20, "b2"),
        ],
        [
            ("a", "INSERT", 3, 10, "a3"),
            ("b", "INSERT", 300, 10, "b3"),
        ],
    ]
    schema = "side string, operation string, pk long, k long, v string"
    src = str(tmp_path / "jvsrc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    a_schema = "apk long, k long, av string"
    b_schema = "bpk long, k long, bv string"
    empty_view = spark.createDataFrame([], "k long, apk long, av string, bpk long, bv string")
    state = {
        "a": spark.createDataFrame([], a_schema),
        "b": spark.createDataFrame([], b_schema),
        "v": empty_view,
    }

    def handle(batch, bid):
        batch = batch.localCheckpoint()

        def side(s, pk_name, v_name):
            rows = batch.filter(F.col("side") == s)
            ins = rows.filter(F.col("operation").isin("INSERT", "UPDATE")).select(
                F.col("pk").alias(pk_name), "k", F.col("v").alias(v_name)
            )
            # UPDATE deletes its before-image: reconstruct from the
            # standing snapshot by pk (the CDC before image at scale)
            upd_del = rows.filter(F.col("operation") == "UPDATE").select(
                F.col("pk").alias(pk_name)
            )
            del_keys = rows.filter(F.col("operation") == "DELETE").select(
                F.col("pk").alias(pk_name)
            )
            old = state[s[0]]
            dels = old.join(
                upd_del.unionByName(del_keys).distinct(), pk_name
            ).select(*old.columns)
            return ins, dels

        a_ins, a_del = side("a", "apk", "av")
        b_ins, b_del = side("b", "bpk", "bv")
        state["v"] = derive.incremental_join_view(
            state["v"], state["a"], state["b"], "k",
            a_inserts=a_ins, a_deletes=a_del,
            b_inserts=b_ins, b_deletes=b_del,
        ).localCheckpoint()
        # roll the base snapshots forward (apply the same deltas)
        for s, ins, dels, pk in (
            ("a", a_ins, a_del, "apk"), ("b", b_ins, b_del, "bpk"),
        ):
            kept = state[s].join(
                dels.select(pk).unionByName(ins.select(pk)).distinct(),
                pk,
                "left_anti",
            )
            state[s] = kept.unionByName(ins).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "jvckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    want = state["a"].join(state["b"], "k")
    got, exp = state["v"], want
    gs = sorted(tuple(r) for r in got.select(sorted(got.columns)).collect())
    ws = sorted(tuple(r) for r in exp.select(sorted(exp.columns)).collect())
    assert gs == ws
    # and the final tables are what the waves imply
    assert sorted(r.av for r in state["a"].collect()) == ["a1x", "a2", "a3"]


def test_streaming_corpus_capstone_composes_legs(spark, tmp_path):
    """VERDICT r8 item 7 — the reference's end-to-end story (ordered log
    → handler → derived state, README.md:26-30) at the engine's full
    depth: ONE CDC ingest stream feeds ONE foreachBatch handler that
    maintains FOUR standing states together from the SAME batch —
    (1) the LSH signature index, (2) the dup-cluster assignment fed by
    batch-internal + index-cross candidate pairs, (3) the unigram LM,
    (4) the per-(source, lang) corpus counters. After the stream drains,
    EVERY leg must equal its from-scratch batch rebuild over the union
    of all waves (the b24_corpus_v2-style recompute). Insert-only
    stream: dedup clusters are monotone under CDC merge by design;
    the update/delete semantics of the LM and counter legs each have
    their own dedicated parity test above."""
    import random
    import time

    from sqlite_cdc_spark.pipeline import dedup, lm
    from sqlite_cdc_spark.pipeline import text as textops

    def text(seed):
        r = random.Random(seed)
        return " ".join(f"t{r.randint(0, 400)}" for _ in range(25))

    base = {i: text(i) for i in range(3)}
    waves = [
        [(0, "web", "en", base[0]), (1, "web", "de", base[1]),
         (2, "books", "en", base[2]), (3, "web", "en", text(50))],
        [(100, "books", "en", base[0] + " x"), (101, "web", "fr", text(51)),
         (102, "web", "de", base[1] + " y")],
        [(200, "web", "en", base[0] + " z"), (201, "books", "en", base[2] + " w"),
         (202, "web", "fr", text(52)), (203, "web", "fr", text(52) + " q")],
    ]
    schema = "doc_id long, source string, lang string, text string"
    src = str(tmp_path / "capstone")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    K = dict(num_hashes=32, bands=8)
    state = {
        "index": None,
        "labels": spark.createDataFrame(
            [], "doc_id long, cluster_id long, cluster_size bigint"
        ),
        "model": None,
        "counters": spark.createDataFrame(
            [], "source string, lang string, n_docs long, sum_tok long"
        ),
    }

    def handle(batch, bid):
        # one checkpoint per batch: all four legs consume the SAME
        # materialized batch relation (the iterative-consumer rule)
        batch = batch.localCheckpoint()
        # dedup leg: batch-internal pairs + cross pairs vs the standing
        # index, folded into the cluster assignment at cost ∝ batch
        pairs = dedup.minhash_candidates(batch, "doc_id", "text", **K)
        if state["index"] is not None:
            cross = dedup.query_lsh_index(
                state["index"], batch, "doc_id", "text", **K
            ).select(
                F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b")
            )
            pairs = pairs.select("id_a", "id_b").unionByName(cross)
        else:
            pairs = pairs.select("id_a", "id_b")
        state["labels"] = dedup.update_clusters(
            state["labels"], pairs
        ).localCheckpoint()
        if state["index"] is None:
            state["index"] = dedup.build_lsh_index(
                batch, "doc_id", "text", **K
            ).localCheckpoint()
        else:
            state["index"] = dedup.update_lsh_index(
                state["index"], batch, "doc_id", "text", **K
            ).localCheckpoint()
        # LM leg
        if state["model"] is None:
            state["model"] = lm.unigram_counts(batch).localCheckpoint()
        else:
            state["model"] = lm.update_unigram_counts(
                state["model"], inserts=batch
            ).localCheckpoint()
        # counter leg
        state["counters"] = textops.update_corpus_counters(
            state["counters"], inserts=batch
        ).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "capstoneckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    all_docs = spark.createDataFrame(
        [d for w in waves for d in w], schema
    )
    # leg 2: clusters ≡ from-scratch clustering of the full corpus
    want_labels = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dup_clusters(
            dedup.minhash_candidates(all_docs, "doc_id", "text", **K)
        ).collect()
    )
    got_labels = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in state["labels"].collect()
    )
    assert len(got_labels) >= 8  # the planted dups actually collided
    assert got_labels == want_labels
    # leg 1: the standing index holds every doc's signatures exactly once
    n_sig_docs = state["index"].select("doc").distinct().count()
    assert n_sig_docs == sum(len(w) for w in waves)
    # leg 3: LM ≡ from-scratch unigram counts
    got_lm = {r.tok: r.cnt for r in state["model"].collect()}
    want_lm = {r.tok: r.cnt for r in lm.unigram_counts(all_docs).collect()}
    assert got_lm == want_lm
    # leg 4: counters ≡ from-scratch corpus counters
    got_c = {
        (r.source, r.lang): (r.n_docs, r.sum_tok)
        for r in state["counters"].collect()
    }
    want_c = {
        (r.source, r.lang): (r.n_docs, r.sum_tok)
        for r in textops.corpus_counters(all_docs).collect()
    }
    assert got_c == want_c


def test_streaming_quantile_sketch_maintenance_matches_batch(spark, tmp_path):
    """The quantile-telemetry leg of the corpus-hygiene loop (r9): each
    micro-batch's histogram sketch folds into the standing sketch via
    merge_histogram_sketches (one full-outer join + add over occupied
    buckets — never re-scanning base values); after the stream drains
    the state must equal the from-scratch sketch of the full stream,
    however the file source sliced batches. Bounds are a FIXED contract
    (the production form — a standing sketch can't re-bucket when a new
    batch widens the domain)."""
    import time

    from sqlite_cdc_spark import derive

    LO, R = 0, 1000
    waves = [
        [("a", 10), ("a", 995), ("b", 500)],
        [("a", 10), ("b", 0), ("b", 999)],
        [("c", 123), ("a", 456), ("b", 789), ("c", 1)],
    ]
    src = str(tmp_path / "qsrc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, "event_type string, vm long").coalesce(1)\
            .write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    state = {"sk": None}

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        sk = derive.histogram_sketch(batch, "event_type", "vm", LO, R)
        if state["sk"] is None:
            state["sk"] = sk.localCheckpoint()
        else:
            state["sk"] = derive.merge_histogram_sketches(
                state["sk"], sk
            ).localCheckpoint()

    q = (
        spark.readStream.schema("event_type string, vm long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "qckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    all_rows = spark.createDataFrame(
        [r for w in waves for r in w], "event_type string, vm long"
    )
    got = sorted(
        (r.scope, r.bkt, r.cnt) for r in state["sk"].collect()
    )
    want = sorted(
        (r.scope, r.bkt, r.cnt)
        for r in derive.histogram_sketch(
            all_rows, "event_type", "vm", LO, R
        ).collect()
    )
    assert got == want
    # merged counts must cover every input row exactly once
    assert sum(c for _, _, c in got) == sum(len(w) for w in waves)


def test_standing_state_fold_is_exactly_once_per_leg(spark, tmp_path):
    """StandingState unit semantics: a replayed batch id is skipped
    WITHOUT evaluating the fold function; distinct legs gate
    independently; state survives a fresh StandingState over the same
    root (process-restart shape)."""
    st = streaming.StandingState(spark, str(tmp_path / "st"))
    calls = []

    def inc(prev):
        calls.append(1)
        base = prev if prev is not None else spark.createDataFrame(
            [], "k string, n long"
        )
        batch = spark.createDataFrame([("a", 1)], "k string, n long")
        return (
            base.unionByName(batch)
            .groupBy("k")
            .agg(F.sum("n").alias("n"))
        )

    st.fold("c", 0, inc)
    assert st.committed("c") == 0 and len(calls) == 1
    # replay of batch 0: fn NOT invoked, state unchanged
    st.fold("c", 0, inc)
    assert len(calls) == 1
    assert [(r.k, r.n) for r in st.get("c").collect()] == [("a", 1)]
    st.fold("c", 1, inc)
    assert st.committed("c") == 1 and len(calls) == 2
    # a second leg gates independently
    assert st.committed("other") is None
    # restart shape: a NEW StandingState over the same root sees the
    # committed state and still skips the replay
    st2 = streaming.StandingState(spark, str(tmp_path / "st"))
    assert st2.committed("c") == 1
    st2.fold("c", 1, inc)
    assert len(calls) == 2
    assert [(r.k, r.n) for r in st2.get("c").collect()] == [("a", 2)]


def test_streaming_capstone_recovers_across_kill_restart(spark, tmp_path):
    """VERDICT r9 item 2 — checkpoint recovery proof for the four-leg
    composite. The reference survives process death trivially (unacked
    log rows are simply re-read, ack-by-delete triggers.go:209-221);
    the engine's claim is that checkpoint offsets + StandingState give
    the same guarantee. This test KILLS the query mid-batch — after
    batch 1 folded into two of the four legs but before the other two —
    then restarts a fresh query from the same checkpoint and asserts
    every leg equals its from-scratch batch rebuild: nothing lost
    (model/counters must still absorb batch 1 on replay) and nothing
    double-applied (labels/index must skip it)."""
    import os
    import random
    import time

    from pyspark.errors.exceptions.captured import StreamingQueryException

    from sqlite_cdc_spark.pipeline import dedup, lm
    from sqlite_cdc_spark.pipeline import text as textops

    def text(seed):
        r = random.Random(seed)
        return " ".join(f"t{r.randint(0, 400)}" for _ in range(25))

    base = {i: text(i) for i in range(3)}
    waves = [
        [(0, "web", "en", base[0]), (1, "web", "de", base[1]),
         (2, "books", "en", base[2]), (3, "web", "en", text(50))],
        [(100, "books", "en", base[0] + " x"), (101, "web", "fr", text(51)),
         (102, "web", "de", base[1] + " y")],
        [(200, "web", "en", base[0] + " z"), (201, "books", "en", base[2] + " w"),
         (202, "web", "fr", text(52)), (203, "web", "fr", text(52) + " q")],
    ]
    schema = "doc_id long, source string, lang string, text string"
    src = str(tmp_path / "recsrc")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    K = dict(num_hashes=32, bands=8)
    st = streaming.StandingState(spark, str(tmp_path / "standing"))
    crash_flag = tmp_path / "crash_once"
    crash_flag.touch()

    def handle(batch, bid):
        batch = batch.localCheckpoint()
        # cross-pairs against the COMMITTED (pre-batch) index; lazily
        # built, never evaluated when the labels fold replay-skips
        pairs = dedup.minhash_candidates(
            batch, "doc_id", "text", **K
        ).select("id_a", "id_b")
        idx = st.get("index")
        if idx is not None:
            cross = dedup.query_lsh_index(
                idx, batch, "doc_id", "text", **K
            ).select(
                F.col("new_id").alias("id_a"),
                F.col("corpus_id").alias("id_b"),
            )
            pairs = pairs.unionByName(cross)
        st.fold(
            "labels", bid,
            lambda prev: dedup.update_clusters(
                prev if prev is not None else spark.createDataFrame(
                    [], "doc_id long, cluster_id long, cluster_size bigint"
                ),
                pairs,
            ),
        )
        st.fold(
            "index", bid,
            lambda prev: dedup.build_lsh_index(batch, "doc_id", "text", **K)
            if prev is None
            else dedup.update_lsh_index(prev, batch, "doc_id", "text", **K),
        )
        # crash point: two legs hold batch 1, two do not
        if bid == 1 and crash_flag.exists():
            os.remove(crash_flag)
            raise RuntimeError("injected crash: 2 of 4 legs folded batch 1")
        st.fold(
            "model", bid,
            lambda prev: lm.unigram_counts(batch)
            if prev is None
            else lm.update_unigram_counts(prev, inserts=batch),
        )
        st.fold(
            "counters", bid,
            lambda prev: textops.update_corpus_counters(
                prev if prev is not None else spark.createDataFrame(
                    [], "source string, lang string, n_docs long, sum_tok long"
                ),
                inserts=batch,
            ),
        )

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/w*")
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", str(tmp_path / "recckpt"))
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(180)
    # mid-crash invariant: the partial application the replay must heal
    assert st.committed("labels") == 1 and st.committed("index") == 1
    assert st.committed("model") == 0 and st.committed("counters") == 0

    # restart from the SAME checkpoint: batch 1 is re-delivered (its
    # offsets never committed), then batch 2 streams normally
    q2 = start()
    q2.awaitTermination(180)
    assert all(
        st.committed(leg) == 2
        for leg in ("labels", "index", "model", "counters")
    )

    all_docs = spark.createDataFrame([d for w in waves for d in w], schema)
    # labels ≡ from-scratch clustering (loss OR double-apply of the
    # cross-pairs would shift cluster ids/sizes)
    want_labels = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in dedup.dup_clusters(
            dedup.minhash_candidates(all_docs, "doc_id", "text", **K)
        ).collect()
    )
    got_labels = sorted(
        (r.doc_id, r.cluster_id, r.cluster_size)
        for r in st.get("labels").collect()
    )
    assert len(got_labels) >= 8
    assert got_labels == want_labels
    # index: every doc's signatures exactly once (a double-applied
    # update_lsh_index would duplicate batch 1's signature rows)
    idx = st.get("index")
    assert idx.count() == idx.distinct().count()
    assert idx.select("doc").distinct().count() == sum(len(w) for w in waves)
    # model / counters: additive legs — replay loss undercounts,
    # double-apply overcounts; bit-equality catches both
    got_lm = {r.tok: r.cnt for r in st.get("model").collect()}
    want_lm = {r.tok: r.cnt for r in lm.unigram_counts(all_docs).collect()}
    assert got_lm == want_lm
    got_c = {
        (r.source, r.lang): (r.n_docs, r.sum_tok)
        for r in st.get("counters").collect()
    }
    want_c = {
        (r.source, r.lang): (r.n_docs, r.sum_tok)
        for r in textops.corpus_counters(all_docs).collect()
    }
    assert got_c == want_c


def test_streaming_incremental_topk_matches_batch(spark, tmp_path):
    """b17_incremental_topk's streaming leg (VERDICT r11 item 6): a
    standing per-group top-k view folded one micro-batch at a time —
    state = topk(state ∪ batch), the monotone-view shortcut that is
    exact on INSERT-only deltas (a row outside the standing top-k can
    never enter it later) — must equal the from-scratch top-k of the
    full feed, regardless of how the file source slices the batches.
    State is bounded at k·groups rows, so each fold costs ∝ batch."""
    import random
    import time

    from sqlite_cdc_spark import derive

    r = random.Random(17)
    rows = [
        (f"f{r.randint(0, 2)}", i, float(r.randint(1, 10_000)))
        for i in range(240)
    ]
    src = str(tmp_path / "src")
    for i in range(3):
        spark.createDataFrame(
            rows[i * 80:(i + 1) * 80], "flag string, id long, price double"
        ).coalesce(1).write.parquet(f"{src}/w{i}")
        time.sleep(1.2)

    order = [F.col("price").desc(), F.col("id").asc()]
    cols = ["flag", "id", "price"]
    state = {
        "topk": spark.createDataFrame(
            [], "flag string, id long, price double"
        )
    }

    def handle(batch, bid):
        merged = state["topk"].unionByName(batch.select(*cols))
        state["topk"] = (
            derive.topk_per_group(merged, ["flag"], order, 10)
            .select(*cols)
            .localCheckpoint()  # sever the per-batch plan chain
        )

    q = (
        spark.readStream.schema("flag string, id long, price double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    full = spark.createDataFrame(rows, "flag string, id long, price double")
    want = sorted(
        (x.flag, x.rnk, x.id, x.price)
        for x in derive.topk_per_group(full, ["flag"], order, 10).collect()
    )
    got = sorted(
        (x.flag, x.rnk, x.id, x.price)
        for x in derive.topk_per_group(
            state["topk"], ["flag"], order, 10
        ).collect()
    )
    assert len(got) == 30  # 3 groups x k=10, fed 240 rows
    assert got == want


def test_streaming_schema_drift_monitor_matches_batch(spark, tmp_path):
    """b3_schema_drift's streaming leg (VERDICT r11 item 6): the
    (event_type, json key) -> (first_day, last_day, n) monitor is a
    mergeable min/max/sum fold, so maintaining it per micro-batch and
    merging into standing state must equal recomputing over the full
    feed — including the consumer-side drift read (first_day after the
    feed's start) derived FROM the merged state. State is bounded at
    the live (type, key) universe, never the event count."""
    import time

    def agg_keys(df):
        keys = df.select(
            "etype", "day", F.explode(F.json_object_keys("props")).alias("key")
        )
        return keys.groupBy("etype", "key").agg(
            F.min("day").cast("long").alias("first_day"),
            F.max("day").cast("long").alias("last_day"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )

    waves = [
        [("click", 0, '{"a": 1, "b": 2}'), ("view", 0, '{"a": 5}'),
         ("click", 1, '{"a": 3, "b": 4}')],
        [("click", 2, '{"a": 1, "b": 2, "v2": 9}'), ("view", 2, '{"a": 6}'),
         ("view", 3, '{"a": 7, "v2": 1}')],
        [("click", 4, '{"v2": 8}'), ("view", 4, '{"a": 2, "v2": 3}')],
    ]
    src = str(tmp_path / "src")
    schema = "etype string, day long, props string"
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(
            f"{src}/w{i}"
        )
        time.sleep(1.2)

    state = {"mon": None}

    def handle(batch, bid):
        delta = agg_keys(batch)
        if state["mon"] is None:
            state["mon"] = delta.localCheckpoint()
            return
        state["mon"] = (
            state["mon"]
            .unionByName(delta)
            .groupBy("etype", "key")
            .agg(
                F.min("first_day").cast("long").alias("first_day"),
                F.max("last_day").cast("long").alias("last_day"),
                F.sum("n").cast("long").alias("n"),
            )
            .localCheckpoint()
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    full = spark.createDataFrame([r for w in waves for r in w], schema)
    want = sorted(
        (x.etype, x.key, x.first_day, x.last_day, x.n)
        for x in agg_keys(full).collect()
    )
    got_rows = state["mon"].collect()
    got = sorted(
        (x.etype, x.key, x.first_day, x.last_day, x.n) for x in got_rows
    )
    assert got == want
    # the consumer-side drift read works on MERGED state: v2 appeared
    # mid-feed on both types, a/b were there from day 0
    start = min(x.first_day for x in got_rows)
    drifted = sorted(
        (x.etype, x.key) for x in got_rows if x.first_day > start
    )
    assert drifted == [("click", "v2"), ("view", "v2")]


def test_streaming_incremental_frontier_matches_batch(spark, tmp_path):
    """b17_incremental_frontier's streaming leg: the 2-D Pareto skyline
    is a sublattice — frontier(frontier(A) ∪ B) == frontier(A ∪ B) —
    so folding the standing frontier with each micro-batch must equal
    the from-scratch frontier of the full feed, including batches that
    EVICT standing frontier rows (a new cheaper-and-better doc)."""
    import time

    from sqlite_cdc_spark.pipeline import sampling

    waves = [
        [(1, "en", 0.5, 100), (2, "en", 0.8, 200), (3, "de", 0.4, 50)],
        # doc 10 dominates doc 1 (better score, cheaper) -> evicts it
        [(10, "en", 0.6, 80), (11, "de", 0.4, 50)],  # 11 ties 3 exactly
        [(20, "en", 0.9, 90), (21, "de", 0.2, 10)],
    ]
    schema = "doc_id long, lang string, score double, cost long"
    src = str(tmp_path / "src")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(
            f"{src}/w{i}"
        )
        time.sleep(1.2)

    state = {
        "front": spark.createDataFrame([], schema)
    }

    def handle(batch, bid):
        state["front"] = sampling.pareto_frontier(
            state["front"].unionByName(batch.select("doc_id", "lang",
                                                    "score", "cost")),
            "lang", "score", "cost",
        ).localCheckpoint()

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    full = spark.createDataFrame([r for w in waves for r in w], schema)
    want = sorted(
        (x.doc_id, x.lang, x.score, x.cost)
        for x in sampling.pareto_frontier(
            full, "lang", "score", "cost"
        ).collect()
    )
    got = sorted(
        (x.doc_id, x.lang, x.score, x.cost) for x in state["front"].collect()
    )
    assert got == want
    ids = {x[0] for x in got}
    assert 1 not in ids, "dominated standing row must be evicted"
    assert {3, 11} <= ids, "equal twins must both survive"


def test_streaming_stateful_udf_matches_batch(spark, tmp_path):
    """b23_stateful_udf's streaming leg (VERDICT r12 item 4): the SAME
    transition kernel (pipeline/stateful.py: fold_chunk) runs through
    a genuine ``applyInPandasWithState`` query — per-user GroupState
    carrying the O(1) browse-funnel tuple — over a time-sliced file
    feed, and the final per-user summaries must equal the batch
    ``applyInPandas`` row over the full feed. This is the
    chunking-invariance proof: the micro-batch boundaries land mid-
    streak and mid-conversion-adjacency, and the boundary facts carried
    in the state (open streak, last-was-browse) must reconstruct the
    unchunked fold exactly."""
    import time

    from pyspark.sql.streaming.state import GroupStateTimeout

    from sqlite_cdc_spark.pipeline import stateful

    # deterministic event feed engineered so slices cut through streaks:
    # user 1 ends wave 0 mid-browse-run and converts at the START of
    # wave 1; user 2's longest streak spans the wave 1/2 boundary
    waves = [
        [
            (1, "click", 0, 0), (1, "view", 1, 1), (1, "click", 2, 2),
            (2, "view", 0, 3), (2, "error", 1, 4),
            (3, "purchase", 0, 5),
        ],
        [
            (1, "purchase", 3, 6), (1, "click", 4, 7),
            (2, "click", 2, 8), (2, "view", 3, 9),
        ],
        [
            (2, "view", 4, 10), (2, "purchase", 5, 11),
            (1, "error", 5, 12), (1, "purchase", 6, 13),
            (3, "signup", 1, 14),
        ],
    ]
    schema = "user_id long, event_type string, ts long, event_id long"
    src = str(tmp_path / "src")
    for i, w in enumerate(waves):
        spark.createDataFrame(w, schema).coalesce(1).write.parquet(
            f"{src}/w{i}"
        )
        time.sleep(1.2)

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/w*")
        .groupBy("user_id")
        .applyInPandasWithState(
            stateful.browse_funnel_stateful_update,
            outputStructType=stateful.BROWSE_FUNNEL_SCHEMA,
            stateStructType=stateful.BROWSE_FUNNEL_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
        .writeStream.format("memory")
        .queryName("stateful_udf_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # update mode appends one summary per (user, touching batch); the
    # final state per user is the row with the highest n_events
    emitted = spark.sql(
        "SELECT * FROM stateful_udf_out"
    ).collect()
    final = {}
    for r in emitted:
        if (
            r.user_id not in final
            or r.n_events > final[r.user_id].n_events
        ):
            final[r.user_id] = r

    full = spark.createDataFrame([r for w in waves for r in w], schema)
    want = {
        r.user_id: r
        for r in stateful.browse_funnel_batch(full).collect()
    }
    assert set(final) == set(want)
    for uid in want:
        g, w = final[uid], want[uid]
        assert (
            g.n_events, g.n_purchases, g.n_conversions,
            g.max_browse_streak, g.open_streak,
        ) == (
            w.n_events, w.n_purchases, w.n_conversions,
            w.max_browse_streak, w.open_streak,
        ), uid
    # spot the engineered boundary facts: user 1 converted across the
    # wave 0/1 cut (streak of 3 then purchase); user 2's max streak 3
    # spans waves 1/2
    assert want[1].n_conversions == 1 and want[1].max_browse_streak == 3
    assert want[2].max_browse_streak == 3
    assert want[3].max_browse_streak == 0 and want[3].open_streak == 0
