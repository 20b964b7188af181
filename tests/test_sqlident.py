"""Tests for Spark SQL identifier quoting."""

from sqlite_cdc_spark.sqlident import bq


def test_bq_doubles_embedded_backticks():
    assert bq("plain") == "`plain`"
    assert bq("we`ird") == "`we``ird`"
    assert bq("a``b") == "`a````b`"
