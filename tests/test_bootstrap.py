"""Bootstrap parity tests (SURVEY §2 A2/A3/A6; reference trigger_test.go:22-127).

The reference asserts: N rows → ceil(N/batch) keyset pages, total changes ==
row count, every change is op=INSERT with before NULL.
"""

from __future__ import annotations

import json
import math

from pyspark.sql import functions as F

from sqlite_cdc_spark import bootstrap as bs
from sqlite_cdc_spark.model import OP_INSERT, validate_change_invariants
from sqlite_cdc_spark.sources import load_table


def test_snapshot_as_inserts_counts_and_invariants(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    n = cust.count()
    changes = bs.snapshot_as_inserts(cust, "customer")
    assert changes.count() == n
    assert changes.filter(F.col("operation") != OP_INSERT).isEmpty()
    assert validate_change_invariants(changes).isEmpty()
    one = json.loads(changes.first().after)
    assert set(one) == set(cust.columns)


def test_keyset_pagination_page_math(spark, sf_dir):
    # parity with TestBootstrapWithRowID (trigger_test.go:22-54): row count
    # 1500 (orders at sf0.001), batch 128 → ceil(1500/128) pages, no dupes
    orders = load_table(spark, sf_dir, "orders")
    n = orders.count()
    batch = 128
    pages = list(bs.iterate_pages(orders, ["o_orderkey"], batch))
    assert len(pages) == math.ceil(n / batch)
    keys = [r["o_orderkey"] for p in pages for r in p]
    assert len(keys) == n
    assert len(set(keys)) == n
    assert keys == sorted(keys)


def test_keyset_composite_key(spark, sf_dir):
    # WITHOUT ROWID parity: composite PK pagination (triggers.go:520-568).
    # The fixture's (l_orderkey, l_linenumber) is not unique, so build a
    # genuinely-unique composite key via distinct — keyset pagination
    # requires a key, exactly like the reference's PK requirement.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber")
        .distinct()
    )
    n = li.count()
    pages = list(bs.iterate_pages(li, ["l_orderkey", "l_linenumber"], 997))
    got = [(r.l_orderkey, r.l_linenumber) for p in pages for r in p]
    assert len(got) == n
    assert len(set(got)) == n
    assert got == sorted(got)


def test_bootstrap_tables_union(spark, sf_dir):
    tables = {
        "region": load_table(spark, sf_dir, "region"),
        "nation": load_table(spark, sf_dir, "nation"),
    }
    feed = bs.bootstrap_tables(tables)
    counts = {r.tablename: r.n for r in feed.groupBy("tablename").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"region": 5, "nation": 25}


def test_write_clustered_disjoint_ranges(spark, sf_dir, tmp_path):
    import glob

    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem")
    out = str(tmp_path / "clustered")
    bs.write_clustered(li, out, ["l_orderkey"], num_files=8)
    ranges = []
    for f in glob.glob(out + "/*.parquet"):
        md = pq.ParquetFile(f).metadata
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == "l_orderkey":
                    mins.append(col.statistics.min)
                    maxs.append(col.statistics.max)
        if mins:
            ranges.append((min(mins), max(maxs)))
    ranges.sort()
    assert len(ranges) >= 4
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint key ranges per file
    # and the clustered copy is the same data
    assert spark.read.parquet(out).count() == li.count()


def test_csv_json_roundtrip(spark, sf_dir, tmp_path):
    """CSV and JSON-lines sources roundtrip the nation table losslessly
    with an explicit schema (no inference pass)."""
    nation = load_table(spark, sf_dir, "nation")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    nation.write.option("header", "true").csv(csv_dir)
    nation.write.json(json_dir)
    from sqlite_cdc_spark.sources import load_csv, load_json_lines

    back_csv = load_csv(spark, csv_dir, schema=nation.schema)
    back_json = load_json_lines(spark, json_dir, schema=nation.schema)
    want = {tuple(r) for r in nation.collect()}
    assert {tuple(r) for r in back_csv.collect()} == want
    assert {tuple(r) for r in back_json.collect()} == want
    assert back_csv.schema == nation.schema


def test_read_log_evolving_merges_added_column(spark, tmp_path):
    """Change-log files written under an evolving schema (column added
    later) read as one frame; pre-evolution files yield NULL for the new
    column — the scenario the reference's frozen dbMeta cannot handle."""
    import datetime as dt

    from sqlite_cdc_spark.sources import read_log_evolving

    d = str(tmp_path / "log")
    v1 = spark.createDataFrame(
        [(1, "t", dt.datetime(2024, 1, 1), "INSERT", None, '{"k":1}')],
        "id long, tablename string, timestamp timestamp, operation string, before string, after string",
    )
    v2 = v1.limit(0).unionByName(v1).withColumn(
        "txn_id", F.lit(77).cast("long")
    ).withColumn("id", F.lit(2).cast("long"))
    v1.write.parquet(d + "/f1")
    v2.write.parquet(d + "/f2")
    merged = read_log_evolving(spark, d + "/f*")
    assert "txn_id" in merged.columns
    rows = {r.id: r for r in merged.collect()}
    assert rows[1].txn_id is None  # pre-evolution file: NULL-filled
    assert rows[2].txn_id == 77
    assert len(rows) == 2
