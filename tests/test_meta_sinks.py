"""Tests for schema discovery (A1) and sinks (A18-A20)."""

from __future__ import annotations

import json

from sqlite_cdc_spark import meta, sinks
from sqlite_cdc_spark.log import events_as_changes
from sqlite_cdc_spark.sources import load_table


def test_discover_all_fixture_tables(spark, sf_dir):
    m = meta.discover(spark, sf_dir)
    assert set(m.tables) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    li = m.tables["lineitem"]
    cols = {c.name: c for c in li.columns}
    assert cols["l_orderkey"].pk == 1 and cols["l_linenumber"].pk == 2
    assert cols["l_quantity"].pk == 0
    assert cols["l_orderkey"].type == "bigint"
    # events.ts must surface as a (naive) timestamp regardless of how the
    # fixture was written: nanos parquet arrives via the nanos-as-long
    # repair as LTZ "timestamp"; a plain no-tz micros parquet reads as
    # "timestamp_ntz" under Spark 4's NTZ inference. Both are correct —
    # the oracle comparison canonicalizes away the tz flavor.
    ev = {c.name: c.type for c in m.tables["events"].columns}
    assert ev["ts"] in ("timestamp", "timestamp_ntz")


def test_stdout_and_json_handlers(spark, sf_dir, capsys):
    batch = events_as_changes(load_table(spark, sf_dir, "events")).limit(5)
    sinks.stdout_handler(batch, 0)
    out = capsys.readouterr().out.strip().splitlines()
    assert len(out) == 5
    assert ": events " in out[0]
    sinks.json_handler(batch, 0)
    out = capsys.readouterr().out.strip().splitlines()
    parsed = json.loads(out[0])
    assert parsed["tablename"] == "events"
    assert parsed["operation"] in ("INSERT", "UPDATE", "DELETE")


def test_http_handler_posts_batch(spark, sf_dir):
    import http.server
    import threading

    received: list = []

    class Sink(http.server.BaseHTTPRequestHandler):
        def do_POST(self):  # noqa: N802
            n = int(self.headers["Content-Length"])
            received.append((self.headers["X-Batch-Id"], json.loads(self.rfile.read(n))))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # silence
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Sink)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        url = f"http://127.0.0.1:{srv.server_port}/changes"
        batch = events_as_changes(load_table(spark, sf_dir, "events")).limit(7)
        sinks.http_handler(url)(batch, 0)
        assert len(received) == 1
        batch_id, body = received[0]
        assert batch_id == "0"
        assert list(body) == ["changes"] and len(body["changes"]) == 7
        received.clear()
        sinks.partitioned_http_handler(url)(batch.repartition(2), 5)
        assert {b for b, _ in received} == {"5"}
        assert sum(len(body["changes"]) for _, body in received) == 7
    finally:
        srv.shutdown()


def test_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    out = str(tmp_path / "landed")
    batch = events_as_changes(load_table(spark, sf_dir, "events")).limit(100)
    sinks.parquet_sink_handler(out)(batch, 0)
    assert spark.read.parquet(out).count() == 100


def test_parquet_sink_replaces_an_earlier_attempt_of_either_form(spark, tmp_path):
    # a batch's partition count can differ between attempts (say, a restart
    # on another core count): each attempt removes the other form's files
    import os

    out = str(tmp_path / "landed")
    sink = sinks.parquet_sink_handler(out)
    rows = spark.range(40).withColumnRenamed("id", "v")
    sink(rows.repartition(3), 5)
    assert sorted(os.listdir(out)) == [f"batch-5-{k}.parquet" for k in range(3)]
    sink(rows.coalesce(1), 5)
    assert os.listdir(out) == ["batch-5.parquet"]
    sink(rows.repartition(3), 5)
    sink(rows.repartition(2), 5)  # fewer parts than the attempt before
    assert sorted(os.listdir(out)) == [f"batch-5-{k}.parquet" for k in range(2)]
    assert sorted(r.v for r in spark.read.parquet(out).collect()) == list(range(40))


def test_profile_table_stats(spark):
    from pyspark.sql import functions as F

    from sqlite_cdc_spark import meta

    df = spark.createDataFrame(
        [(1, "x", 1.5), (2, None, 2.5), (2, "y", None)],
        "k long, s string, v double",
    )
    prof = {r.col_name: r for r in meta.profile_table(df).collect()}
    assert prof["k"].n_rows == 3 and prof["k"].n_nulls == 0
    assert prof["k"].n_distinct == 2
    assert prof["k"].min_num == 1.0 and prof["k"].max_num == 2.0
    assert prof["k"].min_str is None
    assert prof["s"].n_nulls == 1 and prof["s"].n_distinct == 2
    assert prof["s"].min_str == "x" and prof["s"].max_str == "y"
    assert prof["s"].min_num is None
    assert prof["v"].n_nulls == 1 and prof["v"].max_num == 2.5
    # approx mode: same shape, distinct within HLL tolerance on tiny input
    aprof = {
        r.col_name: r
        for r in meta.profile_table(df, exact_distinct=False).collect()
    }
    assert aprof["k"].n_distinct == 2
