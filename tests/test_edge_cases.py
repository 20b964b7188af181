"""Edge-case robustness: empty inputs, degenerate documents, unicode."""

from __future__ import annotations

from pyspark.sql import functions as F

from sqlite_cdc_spark import derive, log
from sqlite_cdc_spark.bootstrap import snapshot_as_inserts
from sqlite_cdc_spark.model import LOG_SCHEMA
from sqlite_cdc_spark.pipeline import dedup, similarity
from sqlite_cdc_spark.pipeline import text as textops


def test_bootstrap_empty_table(spark):
    empty = spark.createDataFrame([], "a bigint, b string")
    out = snapshot_as_inserts(empty, "t")
    assert out.isEmpty()
    assert [f.name for f in out.schema.fields] == [
        "tablename", "timestamp", "operation", "before", "after",
    ]


def test_snapshot_diff_empty_sides(spark):
    a = spark.createDataFrame([(1, "x")], ["k", "v"])
    empty = spark.createDataFrame([], "k bigint, v string")
    assert {r.operation for r in derive.snapshot_diff(empty, a, ["k"]).collect()} == {"INSERT"}
    assert {r.operation for r in derive.snapshot_diff(a, empty, ["k"]).collect()} == {"DELETE"}
    assert derive.snapshot_diff(empty, empty, ["k"]).isEmpty()


def test_drain_empty_log(spark):
    empty = spark.createDataFrame([], LOG_SCHEMA)
    assert log.drain_batch(empty, 10).isEmpty()
    assert log.drain_batch(empty, 10, after_id=0).isEmpty()


def test_degenerate_documents_no_crash(spark):
    docs = spark.createDataFrame(
        [
            (1, ""),                      # empty
            (2, "   "),                   # whitespace only
            (3, "ab"),                    # shorter than any shingle
            (4, "änderungs-datenerfassung für die tabelle"),  # unicode
            (5, "数据 变更 捕获 系统"),      # CJK (normalized away)
            (6, "the quick brown fox jumps over the lazy dog"),
            (7, "the quick brown fox jumps over the lazy dog"),
        ],
        ["doc_id", "text"],
    )
    pairs = dedup.near_dup_pairs(docs, "doc_id", "text", threshold=0.8).collect()
    # only the genuine duplicate pair survives; degenerates don't crash
    assert {(r.id_a, r.id_b) for r in pairs} == {(6, 7)}
    feats = textops.quality_features(docs).collect()
    assert len(feats) == 7
    by_id = {r.doc_id: r for r in feats}
    assert by_id[1].q_chars == 0 and by_id[1].quality_score is not None
    # fingerprints exist for all, and the empty/whitespace docs agree
    fps = {r.doc_id: r.f for r in docs.select(
        "doc_id", textops.fingerprint("text").alias("f")).collect()}
    assert fps[1] == fps[2]
    assert fps[6] == fps[7]


def test_exact_dedup_whole_row_duplicates(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a")], ["id", "t"])
    # duplicate keys AND payloads: keeps exactly one row
    assert dedup.exact_dedup(df, ["t"], "id").count() == 1


def test_cosine_topk_k_larger_than_corpus(spark):
    rows = [(i, [float(i + 1), 1.0]) for i in range(3)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    top = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=10)
    assert top.count() == 2  # corpus minus self, not k


def test_compact_log_single_key_all_deletes(spark):
    import datetime as dt

    rows = [
        (1, "t", dt.datetime(2024, 1, 1), "INSERT", None, '{"k":1}'),
        (2, "t", dt.datetime(2024, 1, 2), "DELETE", '{"k":1}', None),
    ]
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    key = F.get_json_object(F.coalesce("after", "before"), "$.k")
    assert derive.compact_log(df, key, order_cols=["id"]).isEmpty()


def test_recursive_cte_hierarchy_depths(spark):
    # the b25_sql_recursive shape on a tiny in-memory tree: keys 0-99,
    # parent = key div 10, roots 0-9 — every key lands at depth 1 or 2
    import __spark_entry__ as entry

    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["c_custkey", "c_acctbal"]
    ).createOrReplaceTempView("customer")
    got = {r.depth: (r.n, r.n_roots) for r in spark.sql(entry._RECURSIVE_SQL).collect()}
    assert got[1] == (10, 10)   # keys 0..9
    assert got[2] == (90, 9)    # keys 10..99 under roots 1..9 (0 has no children >= 10)
    assert set(got) == {1, 2}


def test_linear_counting_estimate_tracks_exact(spark):
    import __spark_entry__ as entry

    spark.createDataFrame(
        [(i,) for i in range(800)], ["c_custkey"]
    ).createOrReplaceTempView("__lc")
    from sqlite_cdc_spark import derive
    from pyspark.sql import functions as F

    df = spark.table("__lc")
    bitmap = derive.bloom_build(df, "c_custkey", m_bits=4096, k_hashes=1)
    s = bitmap.agg(F.sum(F.bit_count("bits"))).first()[0]
    import math

    est = -4096 * math.log((4096 - s) / 4096)
    assert abs(est - 800) / 800 < 0.05  # load 0.2 → well under 5% error
