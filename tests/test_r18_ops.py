"""Round-18 focused tests: identifier quoting in the string-first paths
(r17 ADVICE) and the graph-kernel argmax rewrite's tie semantics."""

from pyspark.sql import functions as F

from sqlite_cdc_spark import derive
from sqlite_cdc_spark.pipeline import dedup, text
from sqlite_cdc_spark.sqlident import bq


def test_bq_doubles_embedded_backticks():
    assert bq("plain") == "`plain`"
    assert bq("we`ird") == "`we``ird`"
    assert bq("a``b") == "`a````b`"


def test_snapshot_diff_handles_backtick_column_names(spark):
    # the r17 ADVICE failure case: a column name containing a backtick
    # parsed wrong (or errored) in the string-first rename path
    old = spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "we`ird"]
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "c")], ["id", "we`ird"]
    )
    out = derive.snapshot_diff(old, new, keys=["id"]).collect()
    ops = {r["id"]: r["operation"] for r in out}
    assert ops == {2: "UPDATE"}


def test_shingle_rows_handles_backtick_column_names(spark):
    df = spark.createDataFrame(
        [(1, "one two three four")], ["doc`id", "te`xt"]
    )
    rows = dedup.shingle_rows(df, "doc`id", "te`xt", k=3).collect()
    assert {r["sh"] for r in rows} == {"one two three", "two three four"}


def test_quality_features_handles_backtick_column_name(spark):
    df = spark.createDataFrame([(1, "the quick brown fox")], ["doc_id", "t`xt"])
    out = text.quality_features(df, text_col="t`xt").collect()
    assert len(out) == 1 and out[0]["q_tokens"] == 4


def test_lpa_argmax_matches_window_semantics(spark):
    # the r18 aggregate must pick (max count, ties -> smallest label),
    # exactly like the replaced row_number window — including the
    # zero-count self-vote keep-old rule for no-in-edge nodes
    edges = spark.createDataFrame(
        [(1, 3), (2, 3), (4, 5), (9, 9)], ["src", "dst"]
    )
    out = {
        r["node_id"]: r["label"]
        for r in derive.label_propagation(edges, iters=1).collect()
    }
    # node 3 gets votes from labels {1, 2} (count 1 each) + self-vote 3
    # (count 0) -> tie between 1 and 2 at count 1 -> smallest label 1
    assert out[3] == 1
    # node 5's only vote is 4; nodes 1,2,4 have no in-edges -> keep own
    assert out[5] == 4 and out[1] == 1 and out[2] == 2 and out[4] == 4
    # self-loop: node 9 votes for itself with count 1
    assert out[9] == 9
