"""Unit tests for the canonical change model (SURVEY §1, §2 A4/A5/A11/A12).

Mirrors the reference's test strategy (SURVEY §5): real data, no mocks,
deterministic values.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from helpers import validate_change_invariants
from pyspark.sql import functions as F

from sqlite_cdc_spark import bootstrap, derive, model
from sqlite_cdc_spark.sqlident import bq


def test_decode_operation(spark):
    df = spark.createDataFrame(
        [("insert",), ("UPDATE",), ("Delete",), ("truncate",), ("",)], ["op"]
    )
    got = [r.o for r in df.select(model.decode_operation("op").alias("o")).collect()]
    assert got == ["INSERT", "UPDATE", "DELETE", "UNKNOWN", "UNKNOWN"]


def test_timestamp_roundtrip_subsec_and_not(spark):
    # parity: triggers.go:182 parses both second- and subsecond-precision text
    df = spark.createDataFrame(
        [("2024-03-01 10:20:30.123",), ("2024-03-01 10:20:30",)], ["t"]
    )
    got = [r.p for r in df.select(model.parse_log_timestamp("t").alias("p")).collect()]
    assert got == [
        dt.datetime(2024, 3, 1, 10, 20, 30, 123000),
        dt.datetime(2024, 3, 1, 10, 20, 30),
    ]


def test_blob_hex_upper(spark):
    # parity: triggers.go:464-469 — SQLite hex() is upper-case
    df = spark.createDataFrame([(bytearray(b"\xde\xad\xbe\xaf"),)], ["b"])
    got = df.select(model.blob_to_hex("b").alias("h")).first().h
    assert got == "DEADBEAF"


def test_row_image_skips_blob_without_support(spark):
    df = spark.createDataFrame([(1, "x", bytearray(b"\x01"))], ["a", "b", "c"])
    img = df.select(model.row_image(df).alias("j")).first().j
    assert img == '{"a":1,"b":"x"}'
    img2 = df.select(model.row_image(df, blob_support=True).alias("j")).first().j
    assert img2 == '{"a":1,"b":"x","c":"01"}'


def test_row_image_wide_table_no_chunking(spark):
    # the reference chunks >63 columns via json_patch (triggers.go:457-518);
    # struct('*') is unbounded — assert 1000 columns come through intact
    # (parity with TestWideTables, trigger_test.go:246-296)
    n = 1000
    row = tuple(range(n))
    cols = [f"col{i}" for i in range(n)]
    df = spark.createDataFrame([row], cols)
    img = df.select(model.row_image(df).alias("j")).first().j
    import json

    parsed = json.loads(img)
    assert len(parsed) == n
    assert parsed["col999"] == 999


def test_change_invariants(spark):
    rows = [
        (1, "t", dt.datetime(2024, 1, 1), "INSERT", None, "{}"),
        (2, "t", dt.datetime(2024, 1, 1), "DELETE", "{}", None),
        (3, "t", dt.datetime(2024, 1, 1), "UPDATE", "{}", "{}"),
        (4, "t", dt.datetime(2024, 1, 1), "INSERT", "{}", "{}"),  # bad
        (5, "t", dt.datetime(2024, 1, 1), "DELETE", None, None),  # bad
    ]
    df = spark.createDataFrame(rows, model.LOG_SCHEMA)
    bad = validate_change_invariants(df)
    assert sorted(r.id for r in bad.collect()) == [4, 5]


def test_simple_change_line(spark):
    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 3, 4, 5, 678000), "orders", "insert")],
        ["timestamp", "tablename", "operation"],
    )
    line = df.select(model.simple_change_line().alias("l")).first().l
    assert line == "2024-01-02T03:04:05.678Z: orders INSERT"


def _cdc_core_rows(spark, key):
    """Every CDC-core call over a small table keyed on ``key``, with the key
    named ``k`` again in what each call returns."""
    old = spark.createDataFrame([(1, "x"), (2, "y")], f"{bq(key)} long, v string")
    new = spark.createDataFrame([(2, "z"), (3, "w")], f"{bq(key)} long, v string")
    snap = bootstrap.snapshot_as_inserts(old, "t", timestamp=F.lit(dt.datetime(2024, 1, 1)))
    changes = derive.snapshot_diff(old, new, [key])
    guarded = derive.empty_guarded_state(spark, f"{bq(key)} long, v string")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    def image(text):
        return sorted(("k" if f == key else f, v) for f, v in json.loads(text).items())

    return {
        "snapshot_as_inserts": sorted(image(r.after) for r in snap.collect()),
        "image_field": rows(snap.select(model.image_field("after", key))),
        "snapshot_first_page": rows(bootstrap.snapshot_first_page(old, [key, "v"], 1)),
        "snapshot_next_page": rows(
            bootstrap.snapshot_next_page(old, [key, "v"], [1, "x"], 1)
        ),
        "apply_changes": rows(derive.apply_changes(old, changes, [key])),
        "apply_changes_guarded": rows(
            derive.apply_changes_guarded(
                guarded, changes.withColumn("id", F.lit(1)), [key]
            )
        ),
    }


@pytest.mark.parametrize("key", ["k", "a.b", "x`y", "it's"])
def test_cdc_core_resolves_hostile_column_names(spark, key):
    # a SQLite user picks the column names; a dotted, backticked or quoted
    # key must return the rows the plain name returns
    want = _cdc_core_rows(spark, "k")
    assert all(want.values())
    assert _cdc_core_rows(spark, key) == want


def test_image_field_rejects_a_name_no_json_path_addresses():
    # `$.it's.b` reads a nested path and `$['it's.b']` does not parse:
    # both would return NULL for a field that is there
    with pytest.raises(ValueError):
        model.image_field("img", "it's.b")
