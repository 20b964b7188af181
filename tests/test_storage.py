"""Write-path layout tests: each writer is verified by the READ-side
property it exists to buy (pruning, shuffle-free joins, file sizing),
not just by round-tripping rows."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from sqlite_cdc_spark import storage


def _explain(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_partitioned_write_prunes_at_planning_time(spark, sf_dir, tmp_path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = str(tmp_path / "by_lang")
    storage.write_partitioned(docs, out, ["lang"], sort_cols=["doc_id"])
    # one directory per lang on disk
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    dirs = {os.path.basename(p) for p in glob.glob(f"{out}/lang=*")}
    assert dirs == {f"lang={l}" for l in langs}
    # the equality filter reaches the scan as a partition filter and the
    # data filters list does NOT contain lang (pruned, not filtered)
    one = sorted(langs)[0]
    plan = _explain(
        spark.read.parquet(out).filter(F.col("lang") == one)
    )
    assert "PartitionFilters" in plan
    assert f"lang = {one}" in plan or "lang#" in plan
    got = spark.read.parquet(out).filter(F.col("lang") == one).count()
    want = docs.filter(F.col("lang") == one).count()
    assert got == want


def test_bucketed_tables_join_with_zero_exchange(spark, sf_dir, tmp_path):
    # note: warehouse dir is a static conf — tables land in the session
    # default and are dropped in the finally block
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    spark.sql("DROP TABLE IF EXISTS t_orders_b")
    spark.sql("DROP TABLE IF EXISTS t_cust_b")
    storage.write_bucketed(
        orders.withColumnRenamed("o_custkey", "k"), "t_orders_b", "k", 8
    )
    storage.write_bucketed(
        cust.withColumnRenamed("c_custkey", "k"), "t_cust_b", "k", 8
    )
    a = spark.table("t_orders_b")
    b = spark.table("t_cust_b")
    # disable broadcast so the join would otherwise shuffle both sides
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = a.join(b, "k").groupBy("c_mktsegment").count()
        plan = _explain(joined)
        # co-located bucket join: the join itself needs NO exchange; the
        # only exchange allowed is the one for the final groupBy
        join_part = plan.split("HashAggregate")[0]
        assert "Exchange" not in join_part, join_part
        # counts still correct
        got = {r.c_mktsegment: r["count"] for r in joined.collect()}
        want = {
            r.c_mktsegment: r["count"]
            for r in orders.join(
                cust, orders.o_custkey == cust.c_custkey
            ).groupBy("c_mktsegment").count().collect()
        }
        assert got == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_cust_b")


def test_zorder_write_files_cover_tight_rectangles(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_quantity"
    )
    out = str(tmp_path / "zo")
    storage.write_zordered(li, out, "l_extendedprice", "l_quantity", n_files=8)
    n, _ = storage.dir_stats(spark, out)
    assert n == 8
    # per-file bounding boxes must be (much) tighter than the global
    # range on at least one axis — the property min/max skipping uses
    rows = (
        spark.read.parquet(out)
        .withColumn("__f", F.input_file_name())
        .groupBy("__f")
        .agg(
            F.min("l_extendedprice").alias("xlo"),
            F.max("l_extendedprice").alias("xhi"),
            F.min("l_quantity").alias("ylo"),
            F.max("l_quantity").alias("yhi"),
        )
        .collect()
    )
    gx = li.agg(
        F.min("l_extendedprice"), F.max("l_extendedprice")
    ).first()
    gspan = gx[1] - gx[0]
    avg_span = sum(r.xhi - r.xlo for r in rows) / len(rows)
    assert avg_span < gspan * 0.8, (avg_span, gspan)
    # nothing lost
    assert spark.read.parquet(out).count() == li.count()


def test_compact_files_bins_to_target(spark, tmp_path):
    src = str(tmp_path / "small")
    # 64 tiny files
    spark.range(64_000).repartition(64).write.parquet(src)
    n0, total = storage.dir_stats(spark, src)
    assert n0 == 64
    dst = str(tmp_path / "big")
    n_out = storage.compact_files(spark, src, dst, target_mb=1)
    n1, _ = storage.dir_stats(spark, dst)
    assert n1 == n_out < 64
    assert spark.read.parquet(dst).count() == 64_000
