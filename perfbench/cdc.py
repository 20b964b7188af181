"""The ``cdc`` workload: SQLite commit → capture triggers → ``poll_log`` →
parquet log → ``StreamEngine.deliver`` → ``parquet_sink_handler``.

Phase 1 (catch-up) commits a batch of changes while no consumer runs,
then drains them once with ``poll_log(batch_size=256)`` and delivers them
with an ``availableNow`` query, as the CLI's drain-once mode does. Phase 2
(live) runs ``follow_log`` in a thread and a continuous ``deliver``
query while an open-loop writer commits on a fixed schedule. Each live
commit stamps its scheduled time into the rows it writes, so
commit-to-sink latency is measured from the schedule, not from SQLite's
whole-second log timestamps.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import sqlite3
import threading
import time
from datetime import datetime

from common import median, pct

SCHEMAS = {
    "accounts": "id INTEGER PRIMARY KEY, owner TEXT NOT NULL, "
                "balance INTEGER NOT NULL, txn INTEGER NOT NULL, "
                "stamp INTEGER NOT NULL",
    "orders": "id INTEGER PRIMARY KEY, account INTEGER NOT NULL, "
              "amount INTEGER NOT NULL, status TEXT NOT NULL, "
              "txn INTEGER NOT NULL, stamp INTEGER NOT NULL",
    "notes": "id INTEGER PRIMARY KEY, body TEXT NOT NULL, "
             "txn INTEGER NOT NULL, stamp INTEGER NOT NULL",
}
TABLES = list(SCHEMAS)

BATCH_SIZE = 256  # poll_log page size: the drain-once and follow setting
CHANGES_PER_COMMIT = 10
CATCHUP_CHANGES = 1280  # five full pages per catch-up round
# the untimed warm-up round: on the run's fresh JVM, round times fall by
# about a third over the first rounds as the JIT warms
WARM_CHANGES = CATCHUP_CHANGES
LIVE_RATE = 1.0  # commits per second, about a third of the seed capacity
LIVE_WARM_COMMITS = 3
# Counts, not deadlines, bound each phase, so every run does the same work:
# one catch-up round per SECONDS_PER_ROUND of --seconds (at least
# MIN_CATCHUP_ROUNDS), and one live commit per second of --seconds (at
# least MIN_LIVE_COMMITS).
SECONDS_PER_ROUND = 3
MIN_CATCHUP_ROUNDS = 2
MIN_LIVE_COMMITS = 10
DRAIN_TIMEOUT_S = 60.0
#: The commit-to-sink percentile reported as latency_ms: at --seconds 20
#: the fifth fastest of 20 live commits. On a quiet host it spreads over
#: runs no more than the median does (p10 spreads more).
LATENCY_PCT = 25


class Writer:
    """The application: seeded inserts, updates and deletes over the three
    tracked tables, in commits of ``CHANGES_PER_COMMIT`` row changes."""

    def __init__(self, db_path: str, seed: int):
        self.conn = sqlite3.connect(db_path, isolation_level=None)
        self.rng = random.Random(seed)
        self.live: dict[str, list[int]] = {t: [] for t in TABLES}
        self.next_id = {t: 1 for t in TABLES}
        self.txn = 0
        self.changes = 0
        self.commit_ms: list[float] = []

    def close(self) -> None:
        self.conn.close()

    def _values(self, table: str) -> dict:
        r = self.rng
        if table == "accounts":
            return {"owner": f"o{r.randrange(10_000)}",
                    "balance": r.randrange(-10**6, 10**6)}
        if table == "orders":
            return {"account": r.randrange(1, 5000), "amount": r.randrange(10**5),
                    "status": r.choice(["new", "paid", "shipped", "void"])}
        return {"body": "n" * r.randrange(1, 200)}

    def commit(self, stamp_us: int) -> None:
        """One transaction of row changes. Its last change is an insert or
        update, so the commit's highest log id carries ``txn``/``stamp``."""
        r = self.rng
        self.txn += 1
        cur = self.conn.cursor()
        t0 = time.perf_counter()
        cur.execute("BEGIN")
        for i in range(CHANGES_PER_COMMIT):
            table = r.choice(TABLES)
            keys = self.live[table]
            roll = r.random()
            if i == CHANGES_PER_COMMIT - 1:
                roll = min(roll, 0.84)
            vals = self._values(table)
            vals.update(txn=self.txn, stamp=stamp_us)
            if roll < 0.5 or not keys:
                key = self.next_id[table]
                self.next_id[table] += 1
                cols = ["id", *vals]
                cur.execute(
                    f"INSERT INTO {table} ({', '.join(cols)}) VALUES "
                    f"({', '.join('?' for _ in cols)})",
                    [key, *vals.values()],
                )
                keys.append(key)
            elif roll < 0.85:
                key = r.choice(keys)
                cur.execute(
                    f"UPDATE {table} SET {', '.join(f'{c} = ?' for c in vals)} "
                    "WHERE id = ?",
                    [*vals.values(), key],
                )
            else:
                j = r.randrange(len(keys))
                keys[j], keys[-1] = keys[-1], keys[j]
                cur.execute(f"DELETE FROM {table} WHERE id = ?", [keys.pop()])
        cur.execute("COMMIT")
        self.commit_ms.append((time.perf_counter() - t0) * 1000)
        self.changes += CHANGES_PER_COMMIT


def prepare(workload: str, seed: int, work: str) -> dict:
    """A fresh database with the three tables and the capture triggers."""
    from sqlite_cdc_spark import sqlite_bridge

    db = os.path.join(work, "app.db")
    for p in glob.glob(db + "*"):
        os.remove(p)
    conn = sqlite3.connect(db)
    try:
        for t, cols in SCHEMAS.items():
            conn.execute(f"CREATE TABLE {t} ({cols})")
        conn.commit()
        sqlite_bridge.setup(conn, TABLES)
    finally:
        conn.close()
    return {"seed": seed, "work": work, "db": db}


# --- instrumentation of the bridge and the sink ------------------------------


class PollProbe:
    """Wraps ``sqlite_bridge.poll_log`` (the attribute ``follow_log``
    resolves on every call) to time each drain and count its pages."""

    def __init__(self, bridge, tracer, log_dir: str):
        self.bridge = bridge
        self.orig = bridge.poll_log
        self.tracer = tracer
        self.log_dir = log_dir
        self.calls: list[tuple[float, float, int, int]] = []  # start, end, rows, pages

    def __enter__(self):
        def timed(*a, **kw):
            if not self.tracer.enabled:
                return self.orig(*a, **kw)
            before = len(os.listdir(self.log_dir)) if os.path.isdir(self.log_dir) else 0
            t0 = time.time()
            n = self.orig(*a, **kw)
            t1 = time.time()
            pages = len(os.listdir(self.log_dir)) - before
            self.calls.append((t0, t1, n, pages))
            self.tracer.add("poll_log", t0, t1, rows=n, pages=pages)
            return n

        if self.tracer.traced:
            self.bridge.poll_log = timed
        return self

    def __exit__(self, *exc):
        self.bridge.poll_log = self.orig
        return False


class TimedSink:
    """``parquet_sink_handler`` with the return time of every batch."""

    def __init__(self, path: str, tracer):
        from sqlite_cdc_spark.sinks import parquet_sink_handler

        self.handler = parquet_sink_handler(path)
        self.tracer = tracer
        self.done: dict[int, tuple[float, float]] = {}
        self.replays = 0
        self.py4j_calls = 0

    def __call__(self, batch, batch_id: int) -> None:
        c0 = self.tracer.py4j_calls
        t0 = time.time()
        self.handler(batch, batch_id)
        t1 = time.time()
        # the main thread waits in one py4j call meanwhile, so the count
        # is this handler's own
        self.py4j_calls += self.tracer.py4j_calls - c0
        if batch_id in self.done:
            self.replays += 1
        self.done[batch_id] = (t0, t1)
        self.tracer.add("sink", t0, t1, batch_id=batch_id)


class ProgressLog:
    """A PySpark ``StreamingQueryListener`` keeping every progress event
    (traced run only). Events arrive asynchronously on the listener bus."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                log.progress.append({
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "start": _iso_s(p.timestamp),
                    "ms": dict(p.durationMs),
                })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                log.terminated += 1

        self.listener = _Listener()
        self.progress: list[dict] = []
        self.terminated = 0


def _iso_s(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# --- the run -------------------------------------------------------------------


def _wait_drained(db: str, timeout: float) -> None:
    """Until ``follow_log`` has emptied the SQLite change log."""
    conn = sqlite3.connect(db)
    try:
        end = time.monotonic() + timeout
        while conn.execute("SELECT count(*) FROM __cdc_log").fetchone()[0]:
            if time.monotonic() > end:
                raise TimeoutError("follow_log did not drain the change log")
            time.sleep(0.01)
    finally:
        conn.close()


def run(spark, inputs: dict, seconds: float, tracer, log) -> dict:
    from sqlite_cdc_spark import sqlite_bridge, streaming

    work, db = inputs["work"], inputs["db"]
    log_dir = os.path.join(work, "log")
    ckpt = os.path.join(work, "checkpoint")
    sink_dir = os.path.join(work, "sink")
    for d in (log_dir, ckpt, sink_dir):
        shutil.rmtree(d, ignore_errors=True)
    writer = Writer(db, inputs["seed"])
    sink = TimedSink(sink_dir, tracer)
    eng = streaming.StreamEngine(spark, log_dir, ckpt)
    eng.setup()
    progress = ProgressLog() if tracer.traced else None
    if progress:
        spark.streams.addListener(progress.listener)
    queries = 0
    poll_conn = sqlite3.connect(db)

    def catchup(n_changes: int) -> dict:
        nonlocal queries
        target = writer.changes + n_changes
        t0 = time.perf_counter()
        while writer.changes < target:
            writer.commit(int(time.time() * 1e6))
        t1 = time.perf_counter()
        with tracer.span("catchup"):
            with tracer.span("catchup.poll"):
                drained = sqlite_bridge.poll_log(
                    poll_conn, log_dir, batch_size=BATCH_SIZE
                )
            t2 = time.perf_counter()
            with tracer.span("catchup.deliver"):
                q = eng.deliver(eng.read_log_stream(), sink, available_now=True)
                queries += 1
                q.awaitTermination()
            t3 = time.perf_counter()
        return {"preload_s": t1 - t0, "poll_s": t2 - t1, "deliver_s": t3 - t2,
                "rows": drained}

    with PollProbe(sqlite_bridge, tracer, log_dir) as probe:
        catchup(WARM_CHANGES)  # untimed: warms the stream and sink paths
        rounds = []
        n_rounds = max(MIN_CATCHUP_ROUNDS, int(seconds // SECONDS_PER_ROUND))
        while len(rounds) < n_rounds:
            # a traced run alternates traced and untraced rounds so that
            # the difference is the tracing overhead
            tracer.enabled = tracer.traced and len(rounds) % 2 == 0
            rounds.append({**catchup(CATCHUP_CHANGES), "traced": tracer.enabled})
        tracer.enabled = tracer.traced

        # phase 2: open-loop writer against follow_log + a continuous query
        stop = threading.Event()
        follow_err: list[BaseException] = []

        def follow():
            conn = sqlite3.connect(db)
            try:
                sqlite_bridge.follow_log(
                    conn, log_dir, batch_size=BATCH_SIZE, stop=stop.is_set
                )
            except BaseException as e:  # noqa: BLE001 — reported below
                follow_err.append(e)
            finally:
                conn.close()

        thread = threading.Thread(target=follow, name="follow_log")
        thread.start()
        q = eng.deliver(eng.read_log_stream(), sink, available_now=False)
        queries += 1
        try:
            for _ in range(LIVE_WARM_COMMITS):
                writer.commit(int(time.time() * 1e6))
                time.sleep(1 / LIVE_RATE / 2)
            _wait_drained(db, DRAIN_TIMEOUT_S)
            q.processAllAvailable()
            n_live = max(MIN_LIVE_COMMITS, int(seconds * LIVE_RATE))
            first_txn = writer.txn + 1
            due0 = time.time() + 0.2
            late_ms = []
            live_stamps: dict[int, float] = {}
            for i in range(n_live):
                due = due0 + i / LIVE_RATE
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                late_ms.append((time.time() - due) * 1000)
                writer.commit(int(due * 1e6))
                live_stamps[writer.txn] = due
                tracer.add("capture_commit", due, due + writer.commit_ms[-1] / 1000)
            _wait_drained(db, DRAIN_TIMEOUT_S)
            q.processAllAvailable()
        finally:
            stop.set()
            thread.join(30)
            q.stop()
        poll_conn.close()
        writer.close()
        if follow_err:
            raise RuntimeError(f"follow_log failed: {follow_err[0]!r}")
    if progress:  # the listener bus delivers after the queries stop
        end = time.monotonic() + 10
        while progress.terminated < queries and time.monotonic() < end:
            time.sleep(0.05)
        spark.streams.removeListener(progress.listener)

    # --- outside the timed window: where did each commit land? ---------------
    pages = page_rows(log_dir)
    file_batch = _file_batches(ckpt)
    txn_batch: dict[int, int] = {}
    for path, rows in pages.items():
        b = file_batch.get(path)
        for _id, _table, _op, after in rows:
            if after is not None:
                t = json.loads(after)["txn"]
                if b is not None and t >= first_txn:
                    txn_batch[t] = max(txn_batch.get(t, -1), b)
    latency_ms = []
    for txn, due in live_stamps.items():
        b = txn_batch.get(txn)
        if b is not None and b in sink.done:
            latency_ms.append((sink.done[b][1] - due) * 1000)

    failed, attempted, check = check_outputs(db, sink_dir, pages, writer.changes, log)
    failed += len(live_stamps) - len(latency_ms)
    untraced = [r for r in rounds if not r["traced"]] or rounds
    traced = [r for r in rounds if r["traced"]]

    # the fastest round: rounds are still warming, and a busy host only
    # ever slows a round (ten busy-host runs spread 0.16 on min, 0.24 on
    # median)
    def wall(rs):
        return min(r["poll_s"] + r["deliver_s"] for r in rs)

    rates = [r["rows"] / (r["poll_s"] + r["deliver_s"]) for r in untraced]
    out = {
        "attempted": attempted,
        "failed": failed,
        "wall_s": wall(untraced),
        # the low tail, for the reason wall_s takes the fastest round: a
        # busy host only ever delays a commit. Over ten runs on a busy
        # host the median of the samples spread 0.31 and 0.39.
        "latency_ms": pct(latency_ms, LATENCY_PCT),
        "report": {"latency_p50_ms": median(latency_ms),
                   "latency_p90_ms": pct(latency_ms, 90), "latency_n": len(latency_ms),
                   "catchup_rows_per_s": max(rates)},
        "detail": {"rounds": rounds, "check": check, "live_commits": n_live,
                   "latency_ms": latency_ms},
        "layers": {
            "capture.commit_ms_p50": median(writer.commit_ms),
            "capture.commit_ms_p90": pct(writer.commit_ms, 90),
            "capture.rows_per_s": median(
                [r["rows"] / r["preload_s"] for r in rounds]
            ),
            "sink.write_ms_p50": median(
                [(e - s) * 1000 for s, e in sink.done.values()]
            ),
            "sink.batches": len(sink.done),
            "sink.replays": sink.replays,
            "gen.late_p99_ms": pct(late_ms, 99),
        },
    }
    if tracer.traced:
        out["layers"].update({
            "exec.s": sum(e - s for s, e in sink.done.values()),
            "exec.py4j_calls": sink.py4j_calls,
            "trace.overhead_s": wall(traced) - wall(untraced),
        })
        out["layers"].update(_poll_layers(probe.calls))
        out["layers"].update(
            _stream_layers(progress.progress, pages, file_batch)
        )
    return out


def _poll_layers(calls) -> dict:
    rows = sum(c[2] for c in calls)
    pages = sum(c[3] for c in calls)
    return {
        "poll.s": sum(c[1] - c[0] for c in calls),
        "poll.calls": len(calls),
        "poll.call_ms_p50": median([(c[1] - c[0]) * 1000 for c in calls]),
        "poll.pages": pages,
        "poll.rows_per_page": rows / pages if pages else 0.0,
        "poll.backlog_rows_max": max((c[2] for c in calls), default=0),
    }


def _stream_layers(progress, pages, file_batch) -> dict:
    data = [p for p in progress if p["rows"] > 0]

    def p50(key):
        return median([p["ms"].get(key, 0) for p in data])

    start_of = {p["batch"]: p["start"] for p in data}
    landed = {path: os.path.getmtime(path) for path in pages}
    admit_wait = []
    backlog = []
    for b, start in start_of.items():
        waiting = [
            path for path, t in landed.items()
            if t <= start and file_batch.get(path, -1) >= b
        ]
        backlog.append(len(waiting))
    for path, t in landed.items():
        b = file_batch.get(path)
        if b in start_of and start_of[b] >= t:
            admit_wait.append((start_of[b] - t) * 1000)
    trig = [p["ms"].get("triggerExecution", 0) for p in data]
    return {
        "stream.batches": len(data),
        "stream.rows_per_batch_p50": median([p["rows"] for p in data]),
        "stream.trigger_ms_p50": median(trig),
        "stream.trigger_ms_p90": pct(trig, 90),
        "stream.latest_offset_ms_p50": p50("latestOffset"),
        "stream.query_planning_ms_p50": p50("queryPlanning"),
        "stream.add_batch_ms_p50": p50("addBatch"),
        "stream.wal_commit_ms_p50": p50("walCommit"),
        "stream.admit_wait_ms_p50": median(admit_wait),
        "stream.file_backlog_max": max(backlog, default=0),
    }


def page_rows(log_dir: str) -> dict[str, list[tuple]]:
    """Every page ``poll_log`` wrote: path → (id, table, op, after) rows."""
    import pyarrow.parquet as pq

    out = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*.parquet"))):
        t = pq.read_table(path, columns=["id", "tablename", "operation", "after"])
        out[path] = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    return out


def _file_batches(ckpt: str) -> dict[str, int]:
    """Page path → the micro-batch that admitted it, from the file
    source's own log in the checkpoint."""
    out = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if path.endswith((".crc", ".tmp")) or os.path.basename(path).startswith("."):
            continue
        with open(path) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[e["path"].removeprefix("file://")] = e["batchId"]
    return out


def check_outputs(db: str, sink_dir: str, pages, committed: int, log) -> tuple:
    """The sink holds exactly the captured log ids, the capture holds every
    committed change, and each key's final image equals the table."""
    import pyarrow.parquet as pq

    captured = sorted(r[0] for rows in pages.values() for r in rows)
    t = pq.read_table(sink_dir, columns=["id", "tablename", "operation", "before", "after"])
    sink_rows = list(zip(*(t.column(c).to_pylist() for c in t.column_names)))
    sink_ids = sorted(r[0] for r in sink_rows)
    missing = len(set(captured) - set(sink_ids))
    extra = len(set(sink_ids) - set(captured))
    dups = len(sink_ids) - len(set(sink_ids))
    uncaptured = committed - len(captured)
    last: dict[tuple[str, int], tuple] = {}
    for row in sorted(sink_rows):
        _id, table, op, before, after = row
        key = json.loads(after if after is not None else before)["id"]
        last[(table, key)] = (op, after)
    conn = sqlite3.connect(db)
    wrong = 0
    try:
        for table in TABLES:
            cols = [r[1] for r in conn.execute(f"PRAGMA table_info({table})")]
            img = "json_object(" + ", ".join(f"'{c}', {c}" for c in cols) + ")"
            current = {
                k: json.loads(v)
                for k, v in conn.execute(f"SELECT id, {img} FROM {table}")
            }
            keys = {k for (tb, k) in last if tb == table} | set(current)
            for k in keys:
                op, after = last.get((table, k), (None, None))
                want = current.get(k)
                got = None if op in (None, "DELETE") else json.loads(after)
                if got != want:
                    wrong += 1
    finally:
        conn.close()
    check = {"captured": len(captured), "committed": committed,
             "sink_rows": len(sink_ids), "missing": missing, "extra": extra,
             "duplicates": dups, "wrong_final_images": wrong}
    failed = missing + extra + dups + max(0, uncaptured) + wrong
    if failed:
        log(f"cdc check failed: {check}")
    return failed, committed, check
