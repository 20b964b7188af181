"""CLI entry point (SURVEY.md §2 A21).

Parity with ``/root/reference/cmd/sqlite-cdc/main.go:49-142``: flags select
a handler (``-`` simplified stdout / ``json`` / an HTTP URL) and a mode —
``setup``, ``teardown``, ``bootstrap``, ``cdc``, or ``bootstrap-and-cdc``
— over either a SQLite database (via the trigger bridge) or a parquet
change-log directory (the Spark-native path).

Usage examples::

    python -m sqlite_cdc_spark.cli --db app.db --tables t1,t2 --setup
    python -m sqlite_cdc_spark.cli --db app.db --tables t1 --log-dir /tmp/log --cdc -
    python -m sqlite_cdc_spark.cli --log-dir /tmp/log --cdc json
    python -m sqlite_cdc_spark.cli --data-dir /root/testdata/sf0.001 \\
        --tables lineitem --bootstrap http://sink:8080/changes
"""

from __future__ import annotations

import argparse
import sys
import threading

from . import sinks, sqlite_bridge, streaming
from .bootstrap import bootstrap_tables
from .session import get_spark
from .sources import load_table


def _handler(spec: str):
    # parity: main.go handler dispatch — '-' stdout, 'json', else URL
    if spec == "-":
        return sinks.stdout_handler
    if spec == "json":
        return sinks.json_handler
    if spec.startswith(("http://", "https://")):
        return sinks.http_handler(spec)
    raise SystemExit(f"unknown handler {spec!r}: use '-', 'json', or an http(s) URL")


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="sqlite-cdc-spark", description=__doc__)
    p.add_argument("--db", help="SQLite database file (trigger-bridge mode)")
    p.add_argument("--data-dir", help="parquet tables dir (bootstrap source)")
    p.add_argument("--log-dir", help="parquet change-log dir (stream source/target)")
    p.add_argument("--checkpoint-dir", help="stream checkpoint location")
    p.add_argument("--tables", default="", help="comma-separated table names")
    p.add_argument("--log-table", default=sqlite_bridge.DEFAULT_LOG_TABLE)
    p.add_argument("--batch-size", type=int, default=256)  # CLI default, main.go:65
    p.add_argument("--blobs", action="store_true", help="hex-encode BLOBs in images")
    p.add_argument("--cpus", type=int, default=None)
    p.add_argument(
        "--follow", action="store_true",
        help="cdc mode: keep polling the SQLite log (continuous daemon) "
             "instead of draining once",
    )
    # corpus-pipeline mode options (see the pipeline modes below)
    p.add_argument("--threshold", type=float, default=0.7,
                   help="dedup-clusters: near-dup Jaccard threshold")
    p.add_argument("--budgets", default="",
                   help="mixture: per-group token budgets, e.g. en=4000,de=1500")
    p.add_argument("--default-budget", type=int, default=None)
    p.add_argument("--group-col", default="lang")
    p.add_argument("--chunk-tokens", type=int, default=16)
    p.add_argument("--overlap", type=int, default=4)
    p.add_argument("--top-k", type=int, default=10, help="--search result count")
    p.add_argument("--budget", type=int, default=1_000_000,
                   help="--temperature total size budget")
    p.add_argument("--alpha", type=float, default=0.5,
                   help="--temperature exponent (1=natural, 0=uniform)")
    mode = p.add_mutually_exclusive_group(required=True)
    mode.add_argument("--setup", action="store_true")
    mode.add_argument("--teardown", action="store_true")
    mode.add_argument("--resync", action="store_true",
                      help="re-install capture triggers from CURRENT table "
                           "metadata (run after ALTER TABLE; log untouched)")
    mode.add_argument("--bootstrap", metavar="HANDLER")
    mode.add_argument("--cdc", metavar="HANDLER")
    mode.add_argument("--both", metavar="HANDLER", help="bootstrap then cdc")
    # corpus-pipeline modes (VERDICT r3 item 8): the r3 library operators,
    # drivable end-to-end like bootstrap/cdc — each reads documents.parquet
    # from --data-dir and writes a parquet result to its OUT argument,
    # mirroring the library defaults
    mode.add_argument("--dedup-clusters", metavar="OUT",
                      help="near-dup pairs -> connected components; writes "
                           "(doc_id, cluster_id, cluster_size)")
    mode.add_argument("--mixture", metavar="OUT",
                      help="budget mixture sampling of documents by --budgets")
    mode.add_argument("--search", metavar="TERMS",
                      help="BM25 top-k doc search over documents "
                           "(comma-separated terms); prints ranked hits")
    mode.add_argument("--score", metavar="OUT",
                      help="write per-doc LM cross-entropy + token counts "
                           "(the perplexity-filter signal) to OUT parquet")
    mode.add_argument("--temperature", metavar="OUT",
                      help="alpha-sampled mixture of documents under "
                           "--budget/--alpha, written to OUT parquet")
    mode.add_argument("--chunk", metavar="OUT",
                      help="split documents into --chunk-tokens token chunks")
    args = p.parse_args(argv)
    tables = [t for t in args.tables.split(",") if t]

    def sqlite_conn():
        import sqlite3

        if not args.db:
            raise SystemExit("--db required for this mode")
        conn = sqlite3.connect(args.db)
        sqlite_bridge.ensure_wal(conn)
        return conn

    if args.setup:
        try:
            sqlite_bridge.setup(sqlite_conn(), tables, args.log_table, args.blobs)
        except ValueError as e:  # e.g. monitored table missing — clean exit
            raise SystemExit(str(e)) from e
        print(f"setup complete: log table {args.log_table!r}, {len(tables)} tables")
        return 0
    if args.teardown:
        sqlite_bridge.teardown(sqlite_conn(), tables, args.log_table)
        print("teardown complete")
        return 0
    if args.resync:
        try:
            sqlite_bridge.resync(sqlite_conn(), tables, args.log_table, args.blobs)
        except ValueError as e:
            raise SystemExit(str(e)) from e
        print(f"resync complete: triggers refreshed on {len(tables)} tables")
        return 0

    spark = get_spark("sqlite-cdc-spark-cli", cpus=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    if (args.dedup_clusters or args.mixture or args.chunk or args.search
            or args.score or args.temperature):
        if not args.data_dir:
            raise SystemExit("--data-dir required for pipeline modes")
        from .pipeline import dedup as dedup_mod
        from .pipeline import lm as lm_mod
        from .pipeline import sampling as sampling_mod
        from .pipeline import text as text_mod

        docs = load_table(spark, args.data_dir, "documents")
        if args.search:
            terms = [t for t in args.search.split(",") if t]
            hits = lm_mod.bm25_search(
                docs, "doc_id", terms, top_k=args.top_k
            ).orderBy("rank")
            for r in hits.collect():
                print(f"{r.rank:3d}  doc {r.doc_id}  score {r.score}")
            return 0
        if args.score:
            out = lm_mod.doc_cross_entropy(docs, "doc_id")
            out.write.mode("overwrite").parquet(args.score)
            print(f"score: {out.count()} docs -> {args.score}")
            return 0
        if args.temperature:
            sized = docs.withColumn("__n_tok", text_mod.token_count("text"))
            out = sampling_mod.temperature_sample(
                sized, args.group_col, "doc_id", "__n_tok",
                total_budget=args.budget, alpha=args.alpha,
            ).drop("__n_tok")
            out.write.mode("overwrite").parquet(args.temperature)
            print(f"temperature: {out.count()} of {docs.count()} docs kept "
                  f"-> {args.temperature}")
            return 0
        if args.dedup_clusters:
            pairs = dedup_mod.near_dup_pairs(
                docs.select("doc_id", "text"), "doc_id", "text",
                threshold=args.threshold,
            )
            out = dedup_mod.dup_clusters(pairs)
            out.write.mode("overwrite").parquet(args.dedup_clusters)
            n = out.count()
            print(f"dedup-clusters: {n} clustered docs -> {args.dedup_clusters}")
        elif args.mixture:
            budgets = {}
            for part in (s for s in args.budgets.split(",") if s):
                g, _, amount = part.partition("=")
                if not amount:
                    raise SystemExit(f"bad --budgets entry {part!r}: want g=N")
                budgets[g] = int(amount)
            sized = docs.withColumn("__n_tok", text_mod.token_count("text"))
            out = sampling_mod.mixture_sample(
                sized, args.group_col, "doc_id", "__n_tok",
                budgets=budgets, default_budget=args.default_budget,
            ).drop("__n_tok")
            out.write.mode("overwrite").parquet(args.mixture)
            print(f"mixture: {out.count()} of {docs.count()} docs kept "
                  f"-> {args.mixture}")
        else:
            out = text_mod.chunk_rows(
                docs, "doc_id", "text",
                chunk_tokens=args.chunk_tokens, overlap=args.overlap,
            )
            out.write.mode("overwrite").parquet(args.chunk)
            print(f"chunk: {out.count()} chunks -> {args.chunk}")
        return 0

    if args.bootstrap or args.both:
        handler = _handler(args.bootstrap or args.both)
        if args.data_dir:
            loaded = {t: load_table(spark, args.data_dir, t) for t in tables}
            changes = bootstrap_tables(loaded, blob_support=args.blobs)
        elif args.db:
            # bootstrap straight off the live SQLite database: keyset-scan
            # each monitored table in PK order into synthetic-INSERT parquet
            # pages (parity: triggers.go:225-321), then hand the pages to
            # Spark. Pages land under --log-dir/__bootstrap (or a temp dir).
            import shutil
            import tempfile

            if args.log_dir:
                pages = f"{args.log_dir}/__bootstrap"
                # stale pages from a prior (larger) run would be re-read and
                # duplicate rows — the dir is per-run scratch, not state
                shutil.rmtree(pages, ignore_errors=True)
            else:
                pages = tempfile.mkdtemp(prefix="cdc-bootstrap-")
            n = sqlite_bridge.bootstrap_scan(
                sqlite_conn(), tables, pages, args.batch_size, args.blobs
            )
            print(f"bootstrap: scanned {n} rows from {len(tables)} tables")
            if n == 0:  # no page files — parquet read would fail on inference
                from .model import CHANGE_SCHEMA

                changes = spark.createDataFrame([], CHANGE_SCHEMA)
            else:
                changes = spark.read.parquet(pages)
        else:
            raise SystemExit("--data-dir or --db required for bootstrap")
        handler(changes, -1)
        if not args.both:
            return 0

    if args.cdc or args.both:
        handler = _handler(args.cdc or args.both)
        if not (args.log_dir and args.checkpoint_dir):
            raise SystemExit("--log-dir and --checkpoint-dir required for cdc")
        follow_stop = threading.Event()
        if args.db and args.follow:
            # continuous daemon: keep draining the SQLite log alongside the
            # stream (reference event loop, triggers.go:122-162)
            import traceback

            follow_err: list[BaseException] = []

            def _follow():  # the thread opens its own conn (sqlite3
                try:
                    sqlite_bridge.follow_log(  # check_same_thread)
                        sqlite_conn(), args.log_dir, args.log_table,
                        args.batch_size, stop=follow_stop.is_set,
                    )
                except BaseException as e:  # a silent dead follow loop
                    follow_err.append(e)    # looks like a healthy idle one
                    traceback.print_exc()
                    print(
                        "follow loop died; stopping stream", file=sys.stderr
                    )

            threading.Thread(target=_follow, daemon=True).start()
        elif args.db:  # drain the SQLite log into the stream source once
            sqlite_bridge.poll_log(
                sqlite_conn(), args.log_dir, args.log_table, args.batch_size
            )
        eng = streaming.StreamEngine(spark, args.log_dir, args.checkpoint_dir)
        eng.setup()
        # --follow keeps the query running on new log files; without it
        # the query delivers the backlog and exits
        q = eng.deliver(
            eng.read_log_stream(), handler, available_now=not args.follow
        )
        try:
            if args.db and args.follow:
                # ingestion runs in the follow thread: if it dies the stream
                # would idle forever looking healthy — stop and exit non-zero
                while not q.awaitTermination(1.0):
                    if follow_err:
                        q.stop()
                        raise SystemExit(
                            f"cdc follow loop failed: {follow_err[0]!r}"
                        )
            else:
                q.awaitTermination()
        finally:
            follow_stop.set()  # the query has ended: stop draining for it
    return 0


if __name__ == "__main__":
    sys.exit(main())
