"""SQLite ingest edge: trigger install + log polling (SURVEY.md §2 A7-A9,
A13, A17 at the storage boundary).

The reference captures changes *inside* SQLite with three triggers per
table appending JSON row images to ``__cdc_log``
(``/root/reference/triggers.go:410-437``). That part of the system is
inherently single-node — it runs inside every writer's transaction — so
this module is the one deliberately non-distributed edge of the engine:

- :func:`setup` / :func:`teardown` — generate and install the equivalent
  DDL (log table + INSERT/UPDATE/DELETE triggers built from discovered
  columns), idempotent like the reference's ``IF [NOT] EXISTS``.
- :func:`poll_log` — drain ``ORDER BY id LIMIT batch`` pages into parquet
  files in a Spark log directory (each page = one file, so the streaming
  engine's ``maxFilesPerTrigger`` admission mirrors the reference's batch
  bound), then ack-by-delete in its own transaction
  (``triggers.go:209-221``).
- :func:`follow_log` — the live loop: drain, then wait for one wake
  signal, ``PRAGMA data_version``, to move before draining again. It moves
  only for commits of OTHER connections, so application writes must come
  from a connection other than the one the loop owns.

Downstream of the parquet hand-off everything is distributed Spark
(:mod:`sqlite_cdc_spark.streaming`). Differences from the reference, by
design: no 63-column ``json_object`` chunking (we emit one ``json_object``
per ≤63-column chunk and merge with ``json_patch`` exactly when needed —
same behavior, same cap), and BLOBs hex-encode only when ``blob_support``.
"""

from __future__ import annotations

import os
import sqlite3
import time
from dataclasses import dataclass

DEFAULT_LOG_TABLE = "__cdc_log"  # parity: triggers.go:18-21
DEFAULT_BATCH = 50
MAX_COLUMNS = 1000  # parity: triggers.go:457-518 hard cap
JSON_CHUNK = 63  # 127-arg json_object limit → 63 k/v pairs
BUSY_TIMEOUT_MS = 5000  # parity: cmd/sqlite-cdc/main.go:57
FOLLOW_CHECK_INTERVAL = 0.02  # follow_log's data_version check period, seconds


@dataclass
class TableInfo:
    name: str
    columns: list[str]
    types: list[str]


def _table_info(conn: sqlite3.Connection, table: str) -> TableInfo:
    rows = conn.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    return TableInfo(
        name=table,
        columns=[r[1] for r in rows],
        types=[(r[2] or "").upper() for r in rows],
    )


def _q(ident: str) -> str:
    return '"' + ident.replace('"', '""') + '"'


def _lit(text: str) -> str:
    """SQL single-quoted string literal with embedded quotes doubled."""
    return "'" + text.replace("'", "''") + "'"


def _json_object_sql(info: TableInfo, rowref: str, blob_support: bool) -> str:
    """Row→JSON projection SQL (parity: sqlJsonObject, triggers.go:457-518):
    ≤63 pairs per ``json_object`` call, chunks merged with ``json_patch``;
    BLOB columns skipped unless ``blob_support`` (then upper-hex)."""
    if len(info.columns) > MAX_COLUMNS:
        raise ValueError(f"{info.name}: more than {MAX_COLUMNS} columns unsupported")
    pairs: list[str] = []
    for col, typ in zip(info.columns, info.types):
        if typ == "BLOB":
            if not blob_support:
                continue
            pairs.append(f"{_lit(col)}, hex({rowref}.{_q(col)})")
        else:
            pairs.append(f"{_lit(col)}, {rowref}.{_q(col)}")
    chunks = [
        "json_object(" + ", ".join(pairs[i : i + JSON_CHUNK]) + ")"
        for i in range(0, len(pairs), JSON_CHUNK)
    ]
    if not chunks:  # every column was a skipped BLOB
        raise ValueError(
            f"{info.name}: no JSON-encodable columns (all BLOB and blob "
            "support is off — pass --blobs / blob_support=True)"
        )
    out = chunks[0]
    for c in chunks[1:]:
        out = f"json_patch({out}, {c})"
    return out


def _now_expr(conn: sqlite3.Connection) -> str:
    """Parity: triggers.go:438-443 — subsecond timestamps need SQLite
    ≥3.42 (WithoutSubsecondTime is the reference's fallback knob); probe
    the runtime instead of trusting the caller."""
    try:
        if conn.execute("SELECT datetime('now','subsec')").fetchone()[0]:
            return "datetime('now','subsec')"
    except sqlite3.Error:
        pass
    return "datetime('now')"


def _iso_ts(text: str) -> str:
    """SQLite's UTC timestamp text ``'YYYY-MM-DD HH:MM:SS[.SSS]'`` as the
    ISO form arrow casts to ``timestamp('us')``, always with milliseconds."""
    return (text + ".000" if "." not in text else text).replace(" ", "T")


def ensure_wal(conn: sqlite3.Connection) -> None:
    """Apply the reference's stated operating prerequisites at the LIBRARY
    level (r7, VERDICT r6 item 5 — previously only the CLI path did this,
    `cli.py`): WAL journal mode so the CDC reader never blocks the
    application writer (``/root/reference/README.md:205-209`` requires
    it), and a busy_timeout matching the reference CLI default
    (``cmd/sqlite-cdc/main.go:57``) so a briefly-locked database retries
    instead of raising SQLITE_BUSY.

    ``journal_mode=WAL`` is a persistent property of the database FILE;
    ``busy_timeout`` is per-connection — which is why every bridge entry
    point calls this rather than trusting the connection's creator.
    Idempotent and cheap (two PRAGMAs). Must run OUTSIDE a transaction
    (SQLite rejects journal-mode changes mid-transaction).
    """
    conn.execute(f"PRAGMA busy_timeout={BUSY_TIMEOUT_MS}")
    # inside an open transaction SQLite REFUSES the mode change but
    # reports it silently (the PRAGMA returns the old mode, no error) —
    # so check the returned mode instead of trusting the call
    mode = conn.execute("PRAGMA journal_mode=WAL").fetchone()[0]
    if str(mode).lower() != "wal":
        raise RuntimeError(
            "could not enable WAL journal mode (PRAGMA returned "
            f"{mode!r}); is the connection inside an open transaction?"
        )


def setup(
    conn: sqlite3.Connection,
    tables: list[str],
    log_table: str = DEFAULT_LOG_TABLE,
    blob_support: bool = False,
) -> None:
    """Create the log table + 3 capture triggers per table, in one
    transaction (parity: Setup, triggers.go:334-364). Ensures WAL +
    busy_timeout first (:func:`ensure_wal`) — a library user on a busy
    DB would otherwise hit the SQLITE_BUSY the reference's CLI defaults
    avoid."""
    ensure_wal(conn)
    cur = conn.cursor()
    cur.execute("BEGIN")
    try:
        # AUTOINCREMENT deliberately strengthens the reference's plain
        # INTEGER PRIMARY KEY (triggers.go:411): after ack-by-delete empties
        # the log, plain rowids would restart and collide, breaking global
        # id order in the parquet log the streaming engine sorts/dedups on.
        cur.execute(
            f"""CREATE TABLE IF NOT EXISTS {_q(log_table)} (
                id INTEGER PRIMARY KEY AUTOINCREMENT,
                timestamp TEXT NOT NULL,
                tablename TEXT NOT NULL,
                operation TEXT NOT NULL,
                before TEXT,
                after TEXT
            )"""
        )
        now = _now_expr(conn)
        for t in tables:
            _install_triggers(cur, conn, t, log_table, now, blob_support)
        conn.commit()
    except Exception:
        conn.rollback()
        raise


def _install_triggers(
    cur: sqlite3.Cursor,
    conn: sqlite3.Connection,
    table: str,
    log_table: str,
    now: str,
    blob_support: bool,
    replace: bool = False,
) -> None:
    """Create the 3 capture triggers for ``table`` from its CURRENT
    column metadata. ``replace=True`` drops any existing triggers first
    (the :func:`resync` path); the default ``IF NOT EXISTS`` keeps
    :func:`setup` idempotent without rewriting live triggers."""
    info = _table_info(conn, table)
    if not info.columns:
        raise ValueError(
            f"table {table!r} does not exist (or has no columns); "
            "create it before --setup"
        )
    new_img = _json_object_sql(info, "NEW", blob_support)
    old_img = _json_object_sql(info, "OLD", blob_support)
    specs = [
        ("insert", "INSERT", "NULL", new_img),
        ("update", "UPDATE", old_img, new_img),
        ("delete", "DELETE", old_img, "NULL"),
    ]
    for suffix, op, before, after in specs:
        name = _q(f"{table}__cdc_{suffix}")
        if replace:
            cur.execute(f"DROP TRIGGER IF EXISTS {name}")
        cur.execute(
            f"""CREATE TRIGGER IF NOT EXISTS {name}
                AFTER {op} ON {_q(table)} BEGIN
                  INSERT INTO {_q(log_table)}
                    (timestamp, tablename, operation, before, after)
                  VALUES ({now}, {_lit(table)}, '{op}', {before}, {after});
                END"""
        )


def resync(
    conn: sqlite3.Connection,
    tables: list[str],
    log_table: str = DEFAULT_LOG_TABLE,
    blob_support: bool = False,
) -> None:
    """Re-install capture triggers from CURRENT table metadata.

    Both this bridge and the reference read column metadata ONCE at
    setup (``triggers.go:69`` → ``dbmeta.go:18``): the trigger bodies
    bake in a ``json_object`` column list, so a later ``ALTER TABLE ..
    ADD COLUMN`` fires the stale trigger and the new column is SILENTLY
    absent from before/after images (no error — documented limitation,
    pinned by ``tests/test_sqlite_bridge.py``). After a schema change,
    call ``resync`` to atomically drop + recreate the triggers with the
    fresh column list. Idempotent; the log table and its backlog are
    untouched, so rows logged before the resync simply lack the new
    column — consumers treat absent JSON keys as NULL, same as the
    reference's consumers must.

    Requires :func:`setup` to have run: installing triggers that
    reference a missing log table would succeed here but make every
    later INSERT/UPDATE/DELETE on the tracked tables fail with "no such
    table" at trigger-fire time — breaking application writes instead
    of this call.
    """
    exists = conn.execute(
        "SELECT 1 FROM sqlite_master WHERE type='table' AND name=?",
        (log_table,),
    ).fetchone()
    if exists is None:
        raise ValueError(
            f"log table {log_table!r} does not exist — run --setup first"
        )
    cur = conn.cursor()
    cur.execute("BEGIN")
    try:
        now = _now_expr(conn)
        for t in tables:
            _install_triggers(
                cur, conn, t, log_table, now, blob_support, replace=True
            )
        conn.commit()
    except Exception:
        conn.rollback()
        raise


def teardown(
    conn: sqlite3.Connection,
    tables: list[str],
    log_table: str = DEFAULT_LOG_TABLE,
) -> None:
    """Drop triggers + log table (parity: Teardown, triggers.go:365-395)."""
    cur = conn.cursor()
    cur.execute("BEGIN")
    try:
        for t in tables:
            for suffix in ("insert", "update", "delete"):
                cur.execute(f"DROP TRIGGER IF EXISTS {_q(f'{t}__cdc_{suffix}')}")
        cur.execute(f"DROP TABLE IF EXISTS {_q(log_table)}")
        conn.commit()
    except Exception:
        conn.rollback()
        raise


def poll_log(
    conn: sqlite3.Connection,
    out_dir: str,
    log_table: str = DEFAULT_LOG_TABLE,
    batch_size: int = DEFAULT_BATCH,
) -> int:
    """Drain the SQLite log into parquet files under ``out_dir``.

    Each page (``ORDER BY id ASC LIMIT batch``, parity triggers.go:167) is
    written as ONE parquet file so Spark's ``maxFilesPerTrigger=1``
    reproduces the reference's one-batch-at-a-time delivery, and published
    atomically and durably (:func:`~sqlite_cdc_spark.storage.publish_parquet`):
    a listing never sees a partial page, and the ack never deletes rows
    whose page a crash could still lose.
    After a page lands durably, ack-by-delete runs in its own transaction
    (``DELETE ... WHERE id <= max``, triggers.go:209-221) — at-least-once,
    exactly the reference's contract. The ack is what moves the drain past
    a page: the next query reads from the first unacked id. It is a commit
    of ``conn`` itself, so it does not move the ``PRAGMA data_version``
    that :func:`follow_log` waits on. Returns number of changes drained.
    """
    import pyarrow as pa

    from .storage import publish_parquet

    ensure_wal(conn)  # library-level parity: drain must not block writers
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    while True:
        rows = conn.execute(
            f"SELECT id, timestamp, tablename, operation, before, after "
            f"FROM {_q(log_table)} ORDER BY id ASC LIMIT ?",
            (batch_size,),
        ).fetchall()
        if not rows:
            break
        ids = [r[0] for r in rows]
        ts = [_iso_ts(r[1]) for r in rows]
        table = pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "timestamp": pa.array(ts, pa.string()).cast(pa.timestamp("us")),
                "tablename": pa.array([r[2] for r in rows], pa.string()),
                "operation": pa.array([r[3] for r in rows], pa.string()),
                # explicit string type: an all-NULL page (e.g. pure-INSERT
                # before images) must not infer a null/int parquet column
                "before": pa.array([r[4] for r in rows], pa.string()),
                "after": pa.array([r[5] for r in rows], pa.string()),
            }
        )
        publish_parquet(table, out_dir, f"batch-{time.time_ns()}-{ids[-1]}.parquet")
        conn.execute("BEGIN")
        conn.execute(f"DELETE FROM {_q(log_table)} WHERE id <= ?", (ids[-1],))
        conn.commit()
        total += len(rows)
        if len(rows) < batch_size:
            # short page: the log is drained; don't issue one more empty query
            break
    return total


def primary_key(conn: sqlite3.Connection, table: str) -> list[str]:
    """Declared primary-key columns in PK ordinal order.

    Parity: ``/root/reference/dbmeta.go:31-45`` — ``PRAGMA table_info``'s
    ``pk`` column gives the 1-based position of each column inside the
    primary key (0 = not part of it), which is what makes WITHOUT-ROWID
    composite keys paginate in true PK order. Empty list ⇒ no declared PK
    (ordinary rowid table): callers fall back to ``rowid``.
    """
    rows = conn.execute(f"PRAGMA table_info({_q(table)})").fetchall()
    pk = sorted((r[5], r[1]) for r in rows if r[5] > 0)
    return [name for _, name in pk]


def bootstrap_scan(
    conn: sqlite3.Connection,
    tables: list[str],
    out_dir: str,
    batch_size: int = DEFAULT_BATCH,
    blob_support: bool = False,
) -> int:
    """Keyset-scan LIVE tables into synthetic-INSERT parquet pages.

    Parity: ``bootstrapTable`` (``/root/reference/triggers.go:225-321``) —
    first page ``ORDER BY pk LIMIT n`` (``sqlSelectFirst``,
    ``triggers.go:520-537``), subsequent pages
    ``WHERE (pk...) > (last...) ORDER BY pk LIMIT n`` (``sqlSelectNext``,
    ``triggers.go:539-568``; SQLite row-value comparison), every row emitted
    as ``Change{op=INSERT, before=NULL, after=row image}``. Honors declared
    (incl. WITHOUT-ROWID composite) primary keys via :func:`primary_key`;
    plain rowid tables page on ``rowid``.

    Output schema matches :func:`sqlite_cdc_spark.bootstrap.snapshot_as_inserts`
    (tablename/timestamp/operation/before/after) so the pages union directly
    with the trigger log downstream. Returns total rows emitted.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    ts = _iso_ts(conn.execute("SELECT datetime('now')").fetchone()[0])
    total = 0
    for t in tables:
        info = _table_info(conn, t)
        if not info.columns:
            raise ValueError(
                f"table {t!r} does not exist (or has no columns); "
                "cannot bootstrap"
            )
        keys = primary_key(conn, t) or ["rowid"]
        key_sel = ", ".join(f"t.{_q(k)}" for k in keys)
        order = ", ".join(f"t.{_q(k)} ASC" for k in keys)
        img = _json_object_sql(info, "t", blob_support)
        last: tuple | None = None
        page_no = 0
        while True:
            if last is None:
                rows = conn.execute(
                    f"SELECT {key_sel}, {img} FROM {_q(t)} t "
                    f"ORDER BY {order} LIMIT ?",
                    (batch_size,),
                ).fetchall()
            else:
                ph = ", ".join("?" for _ in keys)
                rows = conn.execute(
                    f"SELECT {key_sel}, {img} FROM {_q(t)} t "
                    f"WHERE ({key_sel}) > ({ph}) "
                    f"ORDER BY {order} LIMIT ?",
                    (*last, batch_size),
                ).fetchall()
            if not rows:
                break
            n = len(rows)
            page = pa.table(
                {
                    "tablename": pa.array([t] * n, pa.string()),
                    "timestamp": pa.array([ts] * n, pa.string()).cast(
                        pa.timestamp("us")
                    ),
                    "operation": pa.array(["INSERT"] * n, pa.string()),
                    "before": pa.array([None] * n, pa.string()),
                    "after": pa.array([r[-1] for r in rows], pa.string()),
                }
            )
            pq.write_table(
                page, os.path.join(out_dir, f"bootstrap-{t}-{page_no:08d}.parquet")
            )
            last = tuple(rows[-1][:-1])
            total += n
            page_no += 1
            if n < batch_size:
                break
    return total


def _data_version(conn: sqlite3.Connection) -> int:
    return conn.execute("PRAGMA data_version").fetchone()[0]


def follow_log(
    conn: sqlite3.Connection,
    out_dir: str,
    log_table: str = DEFAULT_LOG_TABLE,
    batch_size: int = DEFAULT_BATCH,
    stop=None,
) -> int:
    """Continuously drain the SQLite log into the parquet stream source.

    The reference's loop wakes on filesystem notifications for the db/WAL
    files and re-drains until quiet (reference ``triggers.go:122-162``).
    The wake signal here is ``PRAGMA data_version`` on ``conn``: SQLite
    moves it exactly when ANOTHER connection commits to the database, and
    never for ``conn``'s own ack ``DELETE`` or reads. It is read before
    each :func:`poll_log` drain (ack-by-delete, at-least-once) and then
    every :data:`FOLLOW_CHECK_INTERVAL` seconds; once it has moved, the
    loop drains again. A commit that lands during a drain therefore wakes
    the next one at once, and an idle loop issues no drain at all.

    ``conn`` must be the loop's own connection: writes made through it
    (or through an in-memory database no other connection reaches) never
    wake the loop. The CLI's ``--follow`` thread opens its own.
    ``stop`` is an optional zero-arg callable (e.g.
    ``threading.Event().is_set``) checked on every check.
    Returns total changes drained.
    """
    total = 0
    while stop is None or not stop():
        version = _data_version(conn)
        # module-level lookup on every drain: instrumentation may wrap it
        total += poll_log(conn, out_dir, log_table, batch_size)
        while _data_version(conn) == version:
            if stop is not None and stop():
                return total
            time.sleep(FOLLOW_CHECK_INTERVAL)
    return total
