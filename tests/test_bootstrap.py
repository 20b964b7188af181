"""Bootstrap parity tests (SURVEY §2 A2/A3/A6; reference trigger_test.go:22-127).

The reference asserts: N rows → ceil(N/batch) keyset pages, total changes ==
row count, every change is op=INSERT with before NULL.
"""

from __future__ import annotations

import json
import math

from helpers import validate_change_invariants
from pyspark.sql import functions as F

from sqlite_cdc_spark import bootstrap as bs
from sqlite_cdc_spark.model import OP_INSERT
from sqlite_cdc_spark.sources import load_table


def _pages(df, keys, batch_size):
    # the reference's bootstrapTable loop (triggers.go:283-320): keyset
    # pages until a short page
    page = bs.snapshot_first_page(df, keys, batch_size).collect()
    pages = []
    while page:
        pages.append(page)
        if len(page) < batch_size:
            break
        last = [page[-1][k] for k in keys]
        page = bs.snapshot_next_page(df, keys, last, batch_size).collect()
    return pages


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
    pages = _pages(orders, ["o_orderkey"], batch)
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
    pages = _pages(li, ["l_orderkey", "l_linenumber"], 997)
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
