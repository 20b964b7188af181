"""End-to-end SQLite → triggers → log poll → Spark streaming parity tests.

Replicates the reference's integration suite shape (trigger_test.go:56-244):
a real SQLite database in WAL mode, the 27-column all-affinities fixture
(FIXTURES.md §1.1), live inserts/updates/deletes, batch math assertions.
"""

from __future__ import annotations

import math
import sqlite3

import pytest
from helpers import collecting_handler, validate_change_invariants
from pyspark.sql import functions as F

from sqlite_cdc_spark import sqlite_bridge, streaming
from sqlite_cdc_spark.model import LOG_SCHEMA

#: the reference's canonical fixture: every SQLite type-affinity family,
#: composite PK (a,b,c) — trigger_test.go:483-517
AFFINITY_DDL = """
CREATE TABLE affinity_test (
  a INT, b INTEGER, c TINYINT, d SMALLINT, e MEDIUMINT, f BIGINT,
  g UNSIGNED BIG INT, h INT2, i INT8,
  j CHARACTER(20), k VARCHAR(255), l VARYING CHARACTER(255), m NCHAR(55),
  n NATIVE CHARACTER(70), o NVARCHAR(100), p TEXT, q CLOB,
  r BLOB,
  s REAL, t DOUBLE, u DOUBLE PRECISION, v FLOAT,
  w NUMERIC, x DECIMAL(10,5), y BOOLEAN, z DATE, aa DATETIME,
  PRIMARY KEY (a, b, c)
)
"""


def _insert_rows(conn: sqlite3.Connection, n: int, offset: int = 0) -> None:
    # deterministic value pattern mirroring generateRecords
    # (trigger_test.go:439-468): ints=seq, text='foo', blob=0xDEADBEAF,
    # real=3.14, numeric=1
    rows = [
        (
            i + offset, i + offset, i + offset, i, i, i, i, i, i,
            "foo", "foo", "foo", "foo", "foo", "foo", "foo", "foo",
            b"\xde\xad\xbe\xaf",
            3.14, 3.14, 3.14, 3.14,
            1, 1, 1, "2024-01-02", "2024-01-02 03:04:05",
        )
        for i in range(n)
    ]
    conn.executemany(
        f"INSERT INTO affinity_test VALUES ({','.join('?' * 27)})", rows
    )
    conn.commit()


@pytest.fixture()
def db(tmp_path):
    path = str(tmp_path / "test.db")
    conn = sqlite3.connect(path)
    conn.execute("PRAGMA journal_mode=WAL")  # reference prerequisite
    conn.execute(AFFINITY_DDL)
    conn.commit()
    yield conn
    conn.close()


def test_setup_is_idempotent_and_captures_ops(db):
    sqlite_bridge.setup(db, ["affinity_test"])
    sqlite_bridge.setup(db, ["affinity_test"])  # IF NOT EXISTS parity
    _insert_rows(db, 10)
    db.execute("UPDATE affinity_test SET p = 'bar' WHERE a = 3")
    db.execute("DELETE FROM affinity_test WHERE a = 5")
    db.commit()
    rows = db.execute(
        "SELECT operation, before, after FROM __cdc_log ORDER BY id"
    ).fetchall()
    assert len(rows) == 12
    ops = [r[0] for r in rows]
    assert ops == ["INSERT"] * 10 + ["UPDATE", "DELETE"]
    import json

    ins = json.loads(rows[0][2])
    assert ins["p"] == "foo" and ins["a"] == 0
    assert "r" not in ins  # BLOB skipped without blob_support
    upd_before, upd_after = json.loads(rows[10][1]), json.loads(rows[10][2])
    assert upd_before["p"] == "foo" and upd_after["p"] == "bar"
    assert rows[11][2] is None  # DELETE has no after


def test_blob_support_hex(db):
    sqlite_bridge.teardown(db, ["affinity_test"])
    sqlite_bridge.setup(db, ["affinity_test"], blob_support=True)
    _insert_rows(db, 1)
    import json

    after = json.loads(db.execute("SELECT after FROM __cdc_log").fetchone()[0])
    assert after["r"] == "DEADBEAF"  # upper-case hex, triggers.go:464-469


def test_setup_missing_table_raises_cleanly(db):
    with pytest.raises(ValueError, match="does not exist"):
        sqlite_bridge.setup(db, ["no_such_table"])
    # failed setup must roll back: no triggers half-installed
    n = db.execute(
        "SELECT count(*) FROM sqlite_master WHERE type = 'trigger'"
    ).fetchone()[0]
    assert n == 0


def test_setup_all_blob_table_without_blob_support_raises(db):
    db.execute("CREATE TABLE blobs_only (x BLOB, y BLOB)")
    db.commit()
    with pytest.raises(ValueError, match="no JSON-encodable columns"):
        sqlite_bridge.setup(db, ["blobs_only"])
    sqlite_bridge.setup(db, ["blobs_only"], blob_support=True)  # ok with blobs


def test_wide_table_json_patch_chunking(db):
    # parity with TestWideTables (trigger_test.go:246-296): 200 columns
    # (>63 → chunked json_object + json_patch) survive intact
    n = 200
    cols = ", ".join(f"col{i} INT" for i in range(n))
    db.execute(f"CREATE TABLE wide ({cols})")
    sqlite_bridge.setup(db, ["wide"], log_table="__wide_log")
    db.execute(
        f"INSERT INTO wide VALUES ({', '.join(str(i) for i in range(n))})"
    )
    db.commit()
    import json

    after = json.loads(
        db.execute("SELECT after FROM __wide_log").fetchone()[0]
    )
    assert len(after) == n
    assert after["col199"] == 199


def test_poll_to_spark_batch_math(db, tmp_path, spark):
    # reference batch math (trigger_test.go:22-54): 1024 rows, batch 50 →
    # ceil(1024/50)=21 parquet files, 1024 changes total
    sqlite_bridge.setup(db, ["affinity_test"])
    _insert_rows(db, 1024)
    out = str(tmp_path / "log")
    drained = sqlite_bridge.poll_log(db, out, batch_size=50)
    assert drained == 1024
    import glob

    files = glob.glob(out + "/*.parquet")
    assert len(files) == math.ceil(1024 / 50)
    # ack-by-delete emptied the log
    assert db.execute("SELECT count(*) FROM __cdc_log").fetchone()[0] == 0

    df = spark.read.schema(LOG_SCHEMA).parquet(out)
    assert df.count() == 1024
    assert validate_change_invariants(df).isEmpty()
    assert df.filter(F.col("timestamp").isNull()).isEmpty()
    # typed access through the dynamic-JSON path
    a_vals = df.select(
        F.get_json_object("after", "$.a").cast("long").alias("a")
    )
    assert a_vals.agg(F.max("a")).first()[0] == 1023


def test_end_to_end_sqlite_to_streaming_engine(db, tmp_path, spark):
    # the full pipe: live SQLite writes → triggers → poll → parquet log →
    # StreamEngine ordered delivery (the Spark rendition of CDC mode,
    # trigger_test.go:56-93)
    sqlite_bridge.setup(db, ["affinity_test"])
    _insert_rows(db, 300)
    log_dir = str(tmp_path / "log")
    sqlite_bridge.poll_log(db, log_dir, batch_size=100)
    # second wave of writes between polls (the fsnotify-wakeup analog)
    _insert_rows(db, 44, offset=1000)
    db.execute("DELETE FROM affinity_test WHERE a = 1001")
    db.commit()
    sqlite_bridge.poll_log(db, log_dir, batch_size=100)

    eng = streaming.StreamEngine(spark, log_dir, str(tmp_path / "ckpt"))
    store: list = []
    eng.deliver(
        eng.read_log_stream(max_files_per_trigger=1),
        collecting_handler(store),
    ).awaitTermination(120)
    total = sum(len(rows) for _, rows in store)
    assert total == 300 + 44 + 1
    flat = [r for _, rows in store for r in rows]
    assert [r.operation for r in flat].count("DELETE") == 1
    # ordered delivery across the whole feed (ids strictly increase)
    ids = [r.id for r in flat]
    assert ids == sorted(ids)


# --- round 2: direct bootstrap, continuous follow, cursor/quoting fixes ------


def test_bootstrap_scan_page_math_and_pk_order(db, tmp_path):
    # parity: TestBootstrap page loop (trigger_test.go:225-321 impl) —
    # 1024 rows at batch 50 → ceil(1024/50) = 21 pages, every row emitted
    # exactly once as a synthetic INSERT, scanned in PK order
    import glob
    import json

    _insert_rows(db, 1024)
    out = str(tmp_path / "boot")
    n = sqlite_bridge.bootstrap_scan(db, ["affinity_test"], out, batch_size=50)
    assert n == 1024
    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) == math.ceil(1024 / 50)

    import pyarrow.parquet as pq

    seen = []
    for f in files:
        t = pq.read_table(f)
        assert set(t.column_names) == {
            "tablename", "timestamp", "operation", "before", "after"
        }
        assert t.column("operation").to_pylist() == ["INSERT"] * t.num_rows
        assert t.column("before").to_pylist() == [None] * t.num_rows
        seen += [json.loads(a)["a"] for a in t.column("after").to_pylist()]
    # keyset pages in composite-PK order → globally sorted, no dups/gaps
    assert seen == list(range(1024))


def test_bootstrap_scan_without_rowid(db, tmp_path):
    # parity: TestBootstrapWithoutRowID (trigger_test.go:95-127) — a
    # WITHOUT ROWID table with a composite TEXT+INT key must paginate in
    # declared-PK ordinal order, not column order
    import glob
    import json

    db.execute(
        """CREATE TABLE wr (v TEXT, k2 INTEGER, k1 TEXT,
           PRIMARY KEY (k1, k2)) WITHOUT ROWID"""
    )
    rows = [(f"val{i}", i % 7, f"key{i:04d}") for i in range(257)]
    db.executemany("INSERT INTO wr VALUES (?,?,?)", rows)
    db.commit()
    assert sqlite_bridge.primary_key(db, "wr") == ["k1", "k2"]

    out = str(tmp_path / "wr")
    n = sqlite_bridge.bootstrap_scan(db, ["wr"], out, batch_size=50)
    assert n == 257
    assert len(glob.glob(f"{out}/*.parquet")) == math.ceil(257 / 50)

    import pyarrow.parquet as pq

    ks = []
    for f in sorted(glob.glob(f"{out}/*.parquet")):
        t = pq.read_table(f)
        ks += [
            (json.loads(a)["k1"], json.loads(a)["k2"])
            for a in t.column("after").to_pylist()
        ]
    assert ks == sorted(ks)
    assert len(set(ks)) == 257


def test_bootstrap_scan_rowid_fallback(db, tmp_path):
    # table with no declared PK pages on rowid
    import glob

    db.execute("CREATE TABLE nopk (x TEXT)")
    db.executemany("INSERT INTO nopk VALUES (?)", [(f"r{i}",) for i in range(120)])
    db.commit()
    assert sqlite_bridge.primary_key(db, "nopk") == []
    out = str(tmp_path / "nopk")
    assert sqlite_bridge.bootstrap_scan(db, ["nopk"], out, batch_size=50) == 120
    assert len(glob.glob(f"{out}/*.parquet")) == 3


def test_bootstrap_scan_crash_mid_page_leaves_no_visible_page(
    db, tmp_path, monkeypatch
):
    # a writer that dies part-way through page 2 leaves neither a truncated
    # page nor a temp file behind: a listing sees whole pages only
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    _insert_rows(db, 120)
    out = str(tmp_path / "boot")
    real_write = pq.write_table
    pages = []

    def write_table(table, where, **kw):
        pages.append(table.num_rows)
        if len(pages) == 1:
            return real_write(table, where, **kw)
        buf = pa.BufferOutputStream()
        real_write(table, buf, **kw)
        partial = buf.getvalue().to_pybytes()[:100]
        if isinstance(where, str):
            with open(where, "wb") as f:
                f.write(partial)
        else:
            where.write(partial)
        raise OSError("injected crash mid-page")

    monkeypatch.setattr(pq, "write_table", write_table)
    with pytest.raises(OSError, match="injected"):
        sqlite_bridge.bootstrap_scan(db, ["affinity_test"], out, batch_size=50)
    monkeypatch.undo()
    assert os.listdir(out) == ["bootstrap-affinity_test-00000000.parquet"]
    assert pq.read_table(os.path.join(out, os.listdir(out)[0])).num_rows == 50


def test_poll_log_publishes_page_atomically(db, tmp_path, monkeypatch):
    # the page is written under a hidden temp name and renamed into place:
    # a listing of the watched directory never sees it half-written
    import os

    import pyarrow.parquet as pq

    sqlite_bridge.setup(db, ["affinity_test"])
    _insert_rows(db, 120)
    out = str(tmp_path / "log")
    real_write = pq.write_table
    during_write = []

    def write_table(table, where, **kw):
        names = os.listdir(out)
        during_write.append(
            (sum(not n.startswith(".") for n in names), [n for n in names if n.startswith(".")])
        )
        real_write(table, where, **kw)

    monkeypatch.setattr(pq, "write_table", write_table)
    assert sqlite_bridge.poll_log(db, out, batch_size=50) == 120
    # while page k is written, only the k-1 earlier pages are visible and
    # page k exists under its hidden temp name alone
    assert [v for v, _ in during_write] == [0, 1, 2]
    assert all(len(h) == 1 and h[0].endswith(".parquet") for _, h in during_write)
    assert all(not n.startswith(".") for n in os.listdir(out))
    assert len(os.listdir(out)) == 3


def test_poll_log_failed_publish_leaves_rows_unacked(db, tmp_path, monkeypatch):
    import os

    sqlite_bridge.setup(db, ["affinity_test"])
    _insert_rows(db, 120)
    out = str(tmp_path / "log")

    def boom(src, dst):
        raise OSError("injected rename failure")

    monkeypatch.setattr(sqlite_bridge.os, "replace", boom)
    with pytest.raises(OSError, match="injected"):
        sqlite_bridge.poll_log(db, out, batch_size=50)
    assert os.listdir(out) == []  # no visible page, no leftover temp file
    assert db.execute("SELECT count(*) FROM __cdc_log").fetchone()[0] == 120
    monkeypatch.undo()
    assert sqlite_bridge.poll_log(db, out, batch_size=50) == 120
    assert db.execute("SELECT count(*) FROM __cdc_log").fetchone()[0] == 0


def test_follow_log_delivers_post_start_writes(db, tmp_path):
    # parity: the reference event loop keeps following the live DB
    # (triggers.go:122-162) — writes that happen AFTER the loop starts are
    # drained without re-invoking anything
    import glob
    import threading

    import pyarrow.parquet as pq

    sqlite_bridge.setup(db, ["affinity_test"])
    _insert_rows(db, 10)
    out = str(tmp_path / "follow")
    path = db.execute("PRAGMA database_list").fetchone()[2]

    done = threading.Event()

    def run():
        conn = sqlite3.connect(path)  # own conn: sqlite3 check_same_thread
        try:
            sqlite_bridge.follow_log(conn, out, batch_size=50, stop=done.is_set)
        finally:
            conn.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    import time as _time

    _time.sleep(0.3)  # first wave drained
    _insert_rows(db, 25, offset=5000)  # live writes AFTER the loop started
    deadline = _time.time() + 10
    while _time.time() < deadline:
        total = sum(
            pq.read_table(f).num_rows for f in glob.glob(f"{out}/*.parquet")
        )
        if total >= 35:
            break
        _time.sleep(0.1)
    done.set()
    t.join(timeout=5)
    assert total == 35


def test_trigger_name_literal_escaping(tmp_path):
    # a table whose name contains a single quote must not break the
    # generated trigger body (name is embedded as a SQL string literal)
    conn = sqlite3.connect(str(tmp_path / "q.db"))
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("CREATE TABLE \"it's\" (id INTEGER PRIMARY KEY, \"va'l\" TEXT)")
    conn.commit()
    sqlite_bridge.setup(conn, ["it's"])
    conn.execute("INSERT INTO \"it's\" VALUES (1, ?)", ("x",))
    conn.commit()
    row = conn.execute(
        "SELECT tablename, operation, after FROM __cdc_log"
    ).fetchone()
    assert row[0] == "it's"
    assert row[1] == "INSERT"
    assert '"va\'l"' in row[2] or "va'l" in row[2]
    conn.close()


def test_follow_log_wakes_on_write_before_poll_interval(db, tmp_path):
    # fsnotify parity (triggers.go:122-162): a write landing while the loop
    # is idle must trigger a drain at check latency (~20ms); the loop has
    # no re-drain deadline, so the test only passes via the data_version
    # wakeup
    import glob
    import threading

    import pyarrow.parquet as pq

    sqlite_bridge.setup(db, ["affinity_test"])
    out = str(tmp_path / "wake")
    path = db.execute("PRAGMA database_list").fetchone()[2]
    done = threading.Event()

    def run():
        conn = sqlite3.connect(path)  # own conn: sqlite3 check_same_thread
        try:
            sqlite_bridge.follow_log(conn, out, batch_size=50, stop=done.is_set)
        finally:
            conn.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    import time as _time

    _time.sleep(0.5)  # loop has drained tick 1 and sits in its idle wait
    t0 = _time.time()
    _insert_rows(db, 7, offset=9000)
    total = 0
    while _time.time() - t0 < 5:
        total = sum(
            pq.read_table(f).num_rows for f in glob.glob(f"{out}/*.parquet")
        )
        if total >= 7:
            break
        _time.sleep(0.05)
    elapsed = _time.time() - t0
    done.set()
    t.join(timeout=5)
    assert total == 7, "write was not drained"
    assert elapsed < 5, f"drain took {elapsed:.1f}s — wakeup did not fire"


def test_follow_log_drains_commit_made_during_a_drain_then_idles(
    db, tmp_path, monkeypatch
):
    # the race window: another connection commits while the loop's first
    # drain is still running (after its SELECT found nothing). The wake
    # signal read before that drain has moved, so the row must be drained
    # at once; afterwards nothing commits, so the loop must not drain
    # again — its own ack DELETE does not wake it
    import threading
    import time as _time

    sqlite_bridge.setup(db, ["affinity_test"])
    out = str(tmp_path / "race")
    path = db.execute("PRAGMA database_list").fetchone()[2]
    real_poll = sqlite_bridge.poll_log
    calls: list[tuple[float, int]] = []  # (end time, rows drained)
    committed_at: list[float] = []
    drained = threading.Event()

    def poll_log(conn, *args, **kwargs):
        n = real_poll(conn, *args, **kwargs)
        if not calls:
            writer = sqlite3.connect(path)
            try:
                _insert_rows(writer, 1, offset=7000)
            finally:
                writer.close()
            committed_at.append(_time.monotonic())
        calls.append((_time.monotonic(), n))
        if sum(c[1] for c in calls) >= 1:
            drained.set()
        return n

    monkeypatch.setattr(sqlite_bridge, "poll_log", poll_log)
    done = threading.Event()
    errors: list[BaseException] = []

    def run():
        conn = sqlite3.connect(path)  # own conn: sqlite3 check_same_thread
        try:
            sqlite_bridge.follow_log(conn, out, batch_size=50, stop=done.is_set)
        except BaseException as e:  # pragma: no cover - failure diagnostics
            errors.append(e)
        finally:
            conn.close()

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        assert drained.wait(10), f"the row was never drained: {calls}"
        # (a) the commit made inside the first drain is drained promptly
        lag = calls[-1][0] - committed_at[0]
        assert lag < 2, f"drained {lag:.2f}s after the commit"
        # (b) an idle loop makes no further drain
        n_calls = len(calls)
        _time.sleep(0.5)
        assert len(calls) == n_calls, f"idle loop drained again: {calls}"
    finally:
        done.set()
        t.join(timeout=5)
    assert not errors, errors
    assert [n for _, n in calls] == [0, 1]
    assert db.execute("SELECT count(*) FROM __cdc_log").fetchone()[0] == 0


def test_library_setup_ensures_wal_and_busy_timeout(tmp_path):
    # VERDICT r6 item 5: a LIBRARY user calling setup() directly (no CLI,
    # no pragmas of their own — note this db deliberately starts in the
    # default rollback-journal mode) must still get the reference's
    # operating prerequisites (README.md:205-209 requires WAL;
    # main.go:57 sets busy_timeout)
    conn = sqlite3.connect(str(tmp_path / "plain.db"))
    try:
        conn.execute(AFFINITY_DDL)
        conn.commit()
        assert conn.execute("PRAGMA journal_mode").fetchone()[0] == "delete"
        sqlite_bridge.setup(conn, ["affinity_test"])
        assert conn.execute("PRAGMA journal_mode").fetchone()[0] == "wal"
        assert conn.execute("PRAGMA busy_timeout").fetchone()[0] == 5000
    finally:
        conn.close()


def test_poll_log_drains_while_writer_holds_transactions(db, tmp_path):
    # concurrent-writer parity: WAL lets the drain read (and ack) while an
    # application writer keeps inserting; without WAL + busy_timeout the
    # reader hits 'database is locked' the reference's defaults avoid
    import glob
    import threading

    import pyarrow.parquet as pq

    sqlite_bridge.setup(db, ["affinity_test"])
    path = db.execute("PRAGMA database_list").fetchone()[2]
    out = str(tmp_path / "concurrent")
    stop = threading.Event()
    wrote = []
    errors = []

    def writer():
        conn = sqlite3.connect(path)
        try:
            # the bridge pragmas apply per-connection for busy_timeout;
            # a real app writer sets its own (or relies on WAL being a
            # file property, which setup() above already flipped)
            conn.execute("PRAGMA busy_timeout=5000")
            i = 0
            while not stop.is_set() and i < 40:
                with conn:  # one tx per insert burst
                    _insert_rows(conn, 5, offset=20000 + i * 10)
                wrote.append(5)
                i += 1
        except Exception as e:  # pragma: no cover - failure diagnostics
            errors.append(e)
        finally:
            conn.close()

    t = threading.Thread(target=writer, daemon=True)
    t.start()
    import time as _time

    drained = 0
    t0 = _time.time()
    # drain concurrently with the live writer until the writer finishes
    while t.is_alive() and _time.time() - t0 < 30:
        drained += sqlite_bridge.poll_log(db, out, batch_size=37)
        _time.sleep(0.01)
    stop.set()
    t.join(timeout=10)
    drained += sqlite_bridge.poll_log(db, out, batch_size=37)  # final sweep
    assert not errors, errors
    expected = sum(wrote)
    assert expected > 0
    assert drained == expected
    on_disk = sum(
        pq.read_table(f).num_rows for f in glob.glob(f"{out}/*.parquet")
    )
    assert on_disk == expected
    # the log is fully acked
    assert db.execute(
        f"SELECT count(*) FROM {sqlite_bridge.DEFAULT_LOG_TABLE}"
    ).fetchone()[0] == 0


def test_ensure_wal_raises_inside_open_transaction(tmp_path):
    # inside an open transaction SQLite refuses the journal-mode change
    # but reports it SILENTLY (the PRAGMA returns the old mode with no
    # error) — ensure_wal must check the returned mode and raise rather
    # than let the WAL guarantee silently not hold (ADVICE r7)
    import sqlite3

    from sqlite_cdc_spark import sqlite_bridge as sb

    path = str(tmp_path / "wal_guard.db")
    conn = sqlite3.connect(path)
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY)")
    conn.commit()
    conn.execute("BEGIN")
    conn.execute("INSERT INTO t VALUES (1)")  # open write transaction
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="WAL"):
        sb.ensure_wal(conn)
    conn.rollback()
    sb.ensure_wal(conn)  # outside a transaction it succeeds
    assert (
        conn.execute("PRAGMA journal_mode").fetchone()[0].lower() == "wal"
    )
    conn.close()


def test_alter_table_capture_blindness_and_resync(tmp_path):
    """VERDICT r9 item 7 — schema-evolution parity. The reference reads
    column metadata ONCE (triggers.go:69 -> dbmeta.go:18) and its
    trigger bodies bake in the json_object column list, so a column
    added AFTER setup is silently absent from captured images. The
    bridge has the same documented behavior; resync() re-installs the
    triggers from fresh metadata and is idempotent."""
    import json

    path = str(tmp_path / "evolve.db")
    conn = sqlite3.connect(path)
    conn.execute("PRAGMA journal_mode=WAL")
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    sqlite_bridge.setup(conn, ["t"])

    conn.execute("INSERT INTO t (id, v) VALUES (1, 'a')")
    conn.commit()
    # schema evolves after setup: stale trigger keeps firing
    conn.execute("ALTER TABLE t ADD COLUMN extra TEXT DEFAULT 'x'")
    conn.execute("INSERT INTO t (id, v, extra) VALUES (2, 'b', 'y')")
    conn.commit()
    rows = conn.execute(
        "SELECT after FROM __cdc_log ORDER BY id"
    ).fetchall()
    assert len(rows) == 2
    # documented limitation: the new column is SILENTLY missing (no
    # error, no null key — the key just isn't there)
    img2 = json.loads(rows[1][0])
    assert img2["id"] == 2 and img2["v"] == "b"
    assert "extra" not in img2

    # resync: fresh metadata, new column captured from here on
    sqlite_bridge.resync(conn, ["t"])
    sqlite_bridge.resync(conn, ["t"])  # idempotent
    conn.execute("INSERT INTO t (id, v, extra) VALUES (3, 'c', 'z')")
    conn.execute("UPDATE t SET extra = 'w' WHERE id = 1")
    conn.commit()
    rows = conn.execute(
        "SELECT operation, before, after FROM __cdc_log ORDER BY id"
    ).fetchall()
    assert len(rows) == 4  # backlog untouched, new ops appended
    ins3 = json.loads(rows[2][2])
    assert ins3 == {"id": 3, "v": "c", "extra": "z"}
    upd = rows[3]
    assert upd[0] == "UPDATE"
    # the pre-resync row's image now includes the column (OLD is read
    # live at fire time; the DEFAULT backfilled it)
    assert json.loads(upd[1])["extra"] == "x"
    assert json.loads(upd[2])["extra"] == "w"
    # setup stays idempotent AFTER a resync (IF NOT EXISTS: does not
    # clobber the freshly-synced triggers back to a stale list)
    sqlite_bridge.setup(conn, ["t"])
    conn.execute("INSERT INTO t (id, v, extra) VALUES (4, 'd', 'q')")
    conn.commit()
    last = conn.execute(
        "SELECT after FROM __cdc_log ORDER BY id DESC LIMIT 1"
    ).fetchone()[0]
    assert json.loads(last)["extra"] == "q"
    conn.close()


def test_resync_before_setup_raises(tmp_path):
    """ADVICE r10: resync() run before --setup used to install triggers
    referencing the missing log table; SQLite only errors at fire time,
    so every subsequent application write failed with 'no such table'.
    Now resync() refuses up front and installs nothing."""
    conn = sqlite3.connect(str(tmp_path / "nolog.db"))
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    with pytest.raises(ValueError, match="run --setup first"):
        sqlite_bridge.resync(conn, ["t"])
    # no triggers were left behind; application writes still work
    n = conn.execute(
        "SELECT COUNT(*) FROM sqlite_master WHERE type='trigger'"
    ).fetchone()[0]
    assert n == 0
    conn.execute("INSERT INTO t (id, v) VALUES (1, 'a')")
    conn.commit()
    conn.close()
