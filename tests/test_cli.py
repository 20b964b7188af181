"""CLI mode-dispatch tests (SURVEY §2 A21)."""

from __future__ import annotations

import sqlite3

import pytest

from sqlite_cdc_spark import cli


def test_cli_setup_cdc_roundtrip(tmp_path, spark, capsys):
    db = str(tmp_path / "app.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE widgets (id INTEGER PRIMARY KEY, name TEXT)")
    conn.commit()
    conn.close()

    assert cli.main(["--db", db, "--tables", "widgets", "--setup"]) == 0
    conn = sqlite3.connect(db)
    conn.executemany(
        "INSERT INTO widgets VALUES (?,?)", [(i, f"w{i}") for i in range(25)]
    )
    conn.execute("DELETE FROM widgets WHERE id = 3")
    conn.commit()
    conn.close()

    assert (
        cli.main(
            [
                "--db", db, "--tables", "widgets",
                "--log-dir", str(tmp_path / "log"),
                "--checkpoint-dir", str(tmp_path / "ckpt"),
                "--batch-size", "10",
                "--cdc", "-",
            ]
        )
        == 0
    )
    # substring count, not line count: print() writes text and newline
    # separately, so another thread's output can merge lines mid-stream
    out = capsys.readouterr().out
    assert out.count(": widgets ") == 26
    assert out.count("widgets DELETE") == 1

    assert cli.main(["--db", db, "--tables", "widgets", "--teardown"]) == 0
    conn = sqlite3.connect(db)
    assert (
        conn.execute(
            "SELECT count(*) FROM sqlite_master WHERE name = '__cdc_log'"
        ).fetchone()[0]
        == 0
    )


def test_cli_cdc_follow_keeps_delivering_until_stopped(tmp_path, spark, capsys):
    # --follow is a daemon: the query must outlive the initial backlog and
    # deliver commits made after it started, until someone stops it
    import threading
    import time

    db = str(tmp_path / "follow.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE widgets (id INTEGER PRIMARY KEY, name TEXT)")
    conn.commit()
    conn.close()
    assert cli.main(["--db", db, "--tables", "widgets", "--setup"]) == 0
    conn = sqlite3.connect(db)
    conn.executemany("INSERT INTO widgets VALUES (?,?)", [(1, "a"), (2, "b")])
    conn.commit()

    out: list[str] = []

    def wait_for(n_inserts: int, timeout: float = 60.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            out.append(capsys.readouterr().out)
            if "".join(out).count("widgets INSERT") >= n_inserts:
                return
            time.sleep(0.1)
        got = "".join(out)
        raise AssertionError(f"{n_inserts} inserts expected, got {got!r}")

    result: list[int] = []
    argv = [
        "--db", db, "--tables", "widgets",
        "--log-dir", str(tmp_path / "log"),
        "--checkpoint-dir", str(tmp_path / "ckpt"),
        "--follow", "--cdc", "-",
    ]
    t = threading.Thread(target=lambda: result.append(cli.main(argv)))
    t.start()
    try:
        wait_for(2)  # the backlog
        conn.execute("INSERT INTO widgets VALUES (3, 'c')")
        conn.commit()
        wait_for(3)  # a commit made after the query started
        (q,) = [q for q in spark.streams.active if q.name == "cdc-deliver"]
        assert q.isActive and t.is_alive()
    finally:
        for q in spark.streams.active:
            if q.name == "cdc-deliver":
                q.stop()
        t.join(60)
        conn.close()
    assert not t.is_alive() and result == [0]
    assert "".join(out).count("widgets INSERT") == 3


def test_cli_bootstrap_json(tmp_path, sf_dir, spark, capsys):
    assert (
        cli.main(
            ["--data-dir", sf_dir, "--tables", "region,nation", "--bootstrap", "json"]
        )
        == 0
    )
    import json

    lines = capsys.readouterr().out.strip().splitlines()
    parsed = [json.loads(l) for l in lines if l.startswith("{")]
    assert len(parsed) == 30  # 5 regions + 25 nations
    assert all(p["operation"] == "INSERT" for p in parsed)


def test_cli_bad_handler(tmp_path):
    with pytest.raises(SystemExit):
        cli.main(["--log-dir", str(tmp_path), "--checkpoint-dir", str(tmp_path), "--cdc", "bogus"])


def test_cli_both_mode(tmp_path, sf_dir, spark, capsys):
    # --both: bootstrap first, then stream the log (A16 via the CLI)
    db = str(tmp_path / "b.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    conn.close()
    assert cli.main(["--db", db, "--tables", "t", "--setup"]) == 0
    conn = sqlite3.connect(db)
    conn.executemany("INSERT INTO t VALUES (?,?)", [(i, "x") for i in range(7)])
    conn.commit()
    conn.close()
    assert (
        cli.main(
            [
                "--db", db, "--tables", "region",
                "--data-dir", sf_dir,
                "--log-dir", str(tmp_path / "log"),
                "--checkpoint-dir", str(tmp_path / "ckpt"),
                "--both", "-",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert out.count(": region INSERT") == 5   # bootstrap side
    assert out.count(": t INSERT") == 7        # live log side


def test_cli_bootstrap_direct_from_sqlite(tmp_path, spark, capsys):
    # --db + --bootstrap without --data-dir: keyset-scan the LIVE database
    # (reference bootstrap mode, triggers.go:225-321)
    db = str(tmp_path / "direct.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT)")
    conn.executemany(
        "INSERT INTO items VALUES (?,?)", [(i, f"n{i}") for i in range(123)]
    )
    conn.commit()
    conn.close()

    assert (
        cli.main(
            [
                "--db", db, "--tables", "items",
                "--log-dir", str(tmp_path / "log"),
                "--batch-size", "50",
                "--bootstrap", "json",
            ]
        )
        == 0
    )
    import json

    lines = capsys.readouterr().out.strip().splitlines()
    parsed = [json.loads(l) for l in lines if l.startswith("{")]
    assert len(parsed) == 123
    assert all(p["operation"] == "INSERT" for p in parsed)
    ids = sorted(json.loads(p["after"])["id"] for p in parsed)
    assert ids == list(range(123))


def test_cli_bootstrap_rerun_clears_stale_pages(tmp_path, spark, capsys):
    # re-running a direct bootstrap after rows were deleted must not re-read
    # stale page files from the previous (larger) run
    db = str(tmp_path / "rerun.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT)")
    conn.executemany(
        "INSERT INTO items VALUES (?,?)", [(i, f"n{i}") for i in range(40)]
    )
    conn.commit()
    conn.close()
    argv = [
        "--db", db, "--tables", "items",
        "--log-dir", str(tmp_path / "log"),
        "--batch-size", "16",
        "--bootstrap", "json",
    ]
    assert cli.main(argv) == 0
    capsys.readouterr()

    conn = sqlite3.connect(db)
    conn.execute("DELETE FROM items WHERE id >= 10")
    conn.commit()
    conn.close()
    assert cli.main(argv) == 0
    import json

    lines = capsys.readouterr().out.strip().splitlines()
    parsed = [json.loads(l) for l in lines if l.startswith("{")]
    assert len(parsed) == 10  # not 40-from-stale-pages + 10


def test_cli_bootstrap_empty_table(tmp_path, spark, capsys):
    # all-empty bootstrap: no page files are written; the CLI must not die
    # on parquet schema inference over an empty dir
    db = str(tmp_path / "empty.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE items (id INTEGER PRIMARY KEY, name TEXT)")
    conn.commit()
    conn.close()
    assert (
        cli.main(
            [
                "--db", db, "--tables", "items",
                "--log-dir", str(tmp_path / "log"),
                "--bootstrap", "json",
            ]
        )
        == 0
    )
    out = capsys.readouterr().out
    assert "scanned 0 rows" in out
    assert not [l for l in out.splitlines() if l.startswith("{")]


def test_cli_pipeline_modes_roundtrip(tmp_path, sf_dir, spark, capsys):
    # VERDICT r3 item 8: the corpus-pipeline operators are drivable from
    # the CLI and write parquet matching the library defaults
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.pipeline import dedup, text as textops
    from sqlite_cdc_spark.sources import load_table

    clusters = str(tmp_path / "clusters")
    chunks = str(tmp_path / "chunks")
    mixed = str(tmp_path / "mixed")
    assert cli.main(["--data-dir", sf_dir, "--dedup-clusters", clusters]) == 0
    assert cli.main(
        ["--data-dir", sf_dir, "--chunk", chunks, "--chunk-tokens", "16",
         "--overlap", "4"]
    ) == 0
    assert cli.main(
        ["--data-dir", sf_dir, "--mixture", mixed,
         "--budgets", "en=4000,de=1500", "--default-budget", "2000"]
    ) == 0
    out = capsys.readouterr().out
    assert "dedup-clusters:" in out and "chunk:" in out and "mixture:" in out

    docs = load_table(spark, sf_dir, "documents")
    lib = dedup.dup_clusters(
        dedup.near_dup_pairs(docs.select("doc_id", "text"), "doc_id", "text",
                             threshold=0.7)
    )
    got = spark.read.parquet(clusters)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, lib.collect()))
    lib_chunks = textops.chunk_rows(docs, "doc_id", "text",
                                    chunk_tokens=16, overlap=4)
    assert spark.read.parquet(chunks).count() == lib_chunks.count()
    got_mixed = spark.read.parquet(mixed)
    assert 0 < got_mixed.count() <= docs.count()
    assert "text" in got_mixed.columns


def test_cli_dedup_clusters_takes_the_single_pass_path(tmp_path, sf_dir, spark):
    # the CLI calls dup_clusters with its size-selected default: a pair
    # set under the local edge limit closes in ONE union-find pass, where
    # a pinned distributed backend needs >= 2 rounds for any real pair
    from sqlite_cdc_spark.pipeline import dedup
    from sqlite_cdc_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.7)
    assert pairs.count() > 0
    dedup.LAST_CC_ROUNDS = 0
    out = str(tmp_path / "clusters")
    assert cli.main(["--data-dir", sf_dir, "--dedup-clusters", out]) == 0
    assert dedup.LAST_CC_ROUNDS == 1
    assert spark.read.parquet(out).filter("cluster_size > 1").count() > 0


def test_cli_lm_modes(tmp_path, sf_dir, spark, capsys):
    # round-5 pipeline modes: BM25 search, perplexity scoring, temperature
    # sampling — drivable from the CLI, matching library defaults
    from sqlite_cdc_spark.pipeline import lm
    from sqlite_cdc_spark.sources import load_table

    scored = str(tmp_path / "scored")
    sampled = str(tmp_path / "sampled")
    assert cli.main(
        ["--data-dir", sf_dir, "--search", "merge,join", "--top-k", "3"]
    ) == 0
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 3 and out[0].lstrip().startswith("1  doc ")

    assert cli.main(["--data-dir", sf_dir, "--score", scored]) == 0
    docs = load_table(spark, sf_dir, "documents")
    got = spark.read.parquet(scored)
    assert got.count() == docs.count()
    assert {"doc_id", "n_tok", "xent"} <= set(got.columns)
    lib = {r.doc_id: r.xent for r in lm.doc_cross_entropy(docs, "doc_id").collect()}
    assert {r.doc_id: r.xent for r in got.collect()} == lib

    assert cli.main(
        ["--data-dir", sf_dir, "--temperature", sampled,
         "--budget", "20000", "--alpha", "0.5"]
    ) == 0
    got2 = spark.read.parquet(sampled)
    assert 0 < got2.count() < docs.count()


def test_cli_resync_after_alter(tmp_path, capsys):
    """--resync refreshes capture triggers from current metadata (the
    post-ALTER repair; see test_sqlite_bridge for the full semantics)."""
    import json
    import sqlite3

    db = str(tmp_path / "r.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    assert cli.main(["--db", db, "--tables", "t", "--setup"]) == 0
    conn.execute("ALTER TABLE t ADD COLUMN extra TEXT")
    conn.commit()
    assert cli.main(["--db", db, "--tables", "t", "--resync"]) == 0
    out = capsys.readouterr().out
    assert "resync complete" in out
    conn.execute("INSERT INTO t (id, v, extra) VALUES (1, 'a', 'b')")
    conn.commit()
    after = conn.execute("SELECT after FROM __cdc_log").fetchone()[0]
    assert json.loads(after) == {"id": 1, "v": "a", "extra": "b"}
    conn.close()


def test_cli_alter_resync_end_to_end_through_streaming(tmp_path, spark):
    """VERDICT r10 item 8 — the full operational ALTER story the README
    promises, end to end: --setup, live writes, ALTER TABLE ADD COLUMN,
    a blind write captured by the stale trigger, --resync via the CLI,
    a post-resync write, then poll_log -> parquet -> StreamEngine
    delivery, asserting the new column appears in captured images only
    AFTER the resync (and that the backlog is replayed untouched)."""
    import json
    import sqlite3

    from sqlite_cdc_spark import sqlite_bridge, streaming

    db = str(tmp_path / "evolve.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE t (id INTEGER PRIMARY KEY, v TEXT)")
    conn.commit()
    assert cli.main(["--db", db, "--tables", "t", "--setup"]) == 0

    conn.execute("INSERT INTO t (id, v) VALUES (1, 'pre')")
    conn.commit()
    conn.execute("ALTER TABLE t ADD COLUMN extra TEXT DEFAULT 'd'")
    conn.execute("INSERT INTO t (id, v, extra) VALUES (2, 'blind', 'x')")
    conn.commit()
    assert cli.main(["--db", db, "--tables", "t", "--resync"]) == 0
    conn.execute("INSERT INTO t (id, v, extra) VALUES (3, 'post', 'y')")
    conn.commit()

    # drain SQLite -> parquet log pages, then deliver through the
    # streaming bridge exactly like the CDC loop does
    log_dir = str(tmp_path / "log")
    ckpt = str(tmp_path / "ckpt")
    n = sqlite_bridge.poll_log(conn, log_dir, batch_size=100)
    assert n == 3
    eng = streaming.StreamEngine(spark, log_dir, ckpt)
    seen: list[tuple] = []

    def handler(batch, batch_id):
        for r in batch.orderBy("timestamp", "after").collect():
            seen.append((r.operation, r.after))

    eng.deliver(eng.read_log_stream(), handler).awaitTermination(120)
    assert len(seen) == 3
    imgs = [json.loads(a) for _, a in seen]
    by_id = {img["id"]: img for img in imgs}
    # pre-ALTER write: no such column existed
    assert "extra" not in by_id[1]
    # post-ALTER but pre-resync: stale trigger — column SILENTLY absent
    assert by_id[2] == {"id": 2, "v": "blind"}
    # post-resync: fresh trigger captures the evolved schema
    assert by_id[3] == {"id": 3, "v": "post", "extra": "y"}
    conn.close()
