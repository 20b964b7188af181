"""Tests for the log drain (A10) and derived CDC analytics (B1/B2/B9/B12/B13)."""

from __future__ import annotations

import datetime as dt

from helpers import snapshots_equal, validate_change_invariants
from pyspark.sql import functions as F

from sqlite_cdc_spark import derive, log
from sqlite_cdc_spark.model import LOG_SCHEMA, OP_DELETE
from sqlite_cdc_spark.sources import load_table


def test_events_as_changes_invariants(spark, sf_dir):
    ch = log.events_as_changes(load_table(spark, sf_dir, "events"))
    assert validate_change_invariants(ch).isEmpty()
    assert ch.schema.fieldNames() == [f.name for f in LOG_SCHEMA.fields]


def test_drain_all_ordered_and_complete(spark, sf_dir):
    # parity: drainChanges loop (triggers.go:164-223) — ordered batches,
    # bounded size, union == whole log
    ch = log.events_as_changes(load_table(spark, sf_dir, "events"))
    n = ch.count()
    ids: list[int] = []
    batch = log.drain_batch(ch, 256).collect()
    while batch:
        assert len(batch) <= 256
        ids.extend(r["id"] for r in batch)
        batch = log.drain_batch(ch, 256, after_id=batch[-1]["id"]).collect()
    assert ids == sorted(ids)
    assert len(ids) == n


def _mini_log(spark):
    rows = [
        (1, "t", dt.datetime(2024, 1, 1, 0, 0, 1), "INSERT", None, '{"k":1,"v":10}'),
        (2, "t", dt.datetime(2024, 1, 1, 0, 0, 2), "UPDATE", '{"k":1,"v":10}', '{"k":1,"v":11}'),
        (3, "t", dt.datetime(2024, 1, 1, 0, 0, 3), "INSERT", None, '{"k":2,"v":20}'),
        (4, "t", dt.datetime(2024, 1, 1, 0, 0, 4), "DELETE", '{"k":2,"v":20}', None),
        (5, "t", dt.datetime(2024, 1, 1, 0, 0, 5), "UPDATE", '{"k":1,"v":11}', '{"k":1,"v":12}'),
    ]
    return spark.createDataFrame(rows, LOG_SCHEMA)


def test_compact_log_last_image_wins(spark):
    # the key must come from whichever image is present (DELETEs have no
    # after); coalesce(after, before) is the canonical key extraction
    key = F.coalesce(
        F.get_json_object("after", "$.k"), F.get_json_object("before", "$.k")
    )
    state = derive.compact_log(
        _mini_log(spark), key, order_cols=["id"], drop_deletes=False
    )
    # key 1 → id 5 (v=12); key 2 → id 4 (DELETE)
    assert {r.id for r in state.collect()} == {4, 5}
    dropped = derive.compact_log(_mini_log(spark), key, order_cols=["id"])
    assert {r.id for r in dropped.collect()} == {5}


def test_snapshot_diff_classifies(spark):
    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"])
    new = spark.createDataFrame([(2, "b"), (3, "C"), (4, "d")], ["k", "v"])
    diff = derive.snapshot_diff(old, new, ["k"])
    got = {r.k: r.operation for r in diff.collect()}
    assert got == {1: "DELETE", 3: "UPDATE", 4: "INSERT"}
    del_row = diff.filter(F.col("k") == 1).first()
    assert del_row.after is None and del_row.before is not None


def test_snapshot_diff_null_safe(spark):
    old = spark.createDataFrame([(1, None), (2, "x")], ["k", "v"])
    new = spark.createDataFrame([(1, "y"), (2, None)], ["k", "v"])
    diff = derive.snapshot_diff(old, new, ["k"])
    got = {r.k: r.operation for r in diff.collect()}
    assert got == {1: "UPDATE", 2: "UPDATE"}


def test_snapshot_diff_key_column_with_backtick_and_dot(spark):
    # a key name that F.col would misread unquoted: the dot as a struct
    # field access, the backtick as the end of a quoted identifier
    key = "k`e.y"
    old = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], [key, "v"])
    new = spark.createDataFrame([(2, "b"), (3, "C"), (4, "d")], [key, "v"])
    got = {
        (r[key], r.operation, r.before, r.after)
        for r in derive.snapshot_diff(old, new, [key]).collect()
    }
    assert got == {
        (1, "DELETE", '{"k`e.y":1,"v":"a"}', None),
        (3, "UPDATE", '{"k`e.y":3,"v":"c"}', '{"k`e.y":3,"v":"C"}'),
        (4, "INSERT", None, '{"k`e.y":4,"v":"d"}'),
    }


def test_asof_latest(spark):
    df = _mini_log(spark).withColumn("k", F.get_json_object(
        F.coalesce("after", "before"), "$.k"))
    asof = derive.asof_latest(
        df, ["k"], "timestamp", dt.datetime(2024, 1, 1, 0, 0, 3), order_cols=["id"]
    )
    assert {r.id for r in asof.collect()} == {2, 3}


def test_topk_per_group(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    top = derive.topk_per_group(
        li,
        ["l_returnflag"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
         F.col("l_linenumber").asc()],
        3,
    )
    rows = top.collect()
    flags = li.select("l_returnflag").distinct().count()
    assert len(rows) == 3 * flags


def test_snapshots_equal(spark, sf_dir):
    a = load_table(spark, sf_dir, "nation")
    assert snapshots_equal(a, a.orderBy(F.rand(7)))
    assert not snapshots_equal(a, a.limit(20))


def test_salted_join_matches_plain(spark, sf_dir):
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    plain = li.join(orders, "o_orderkey").count()
    salted = derive.salted_join(li, orders, "o_orderkey", salt=4).count()
    assert salted == plain


def test_apply_changes_roundtrip(spark, sf_dir):
    # the replication invariant: apply(old, diff(old,new)) == new
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_custkey", "o_totalprice")
    k = F.col("o_orderkey")
    new = (
        old.filter(k % 11 != 0)
        .withColumn(
            "o_totalprice",
            F.when(k % 11 == 1, F.col("o_totalprice") * 2).otherwise(
                F.col("o_totalprice")
            ),
        )
        .unionByName(
            old.filter(k % 11 == 2).select(
                (k + 900000).alias("o_orderkey"), "o_custkey", "o_totalprice"
            )
        )
    )
    diff = derive.snapshot_diff(old, new, ["o_orderkey"])
    applied = derive.apply_changes(old, diff, ["o_orderkey"])
    assert snapshots_equal(applied, new)
    # and a no-op diff applies to identity
    empty_diff = derive.snapshot_diff(old, old, ["o_orderkey"])
    assert empty_diff.isEmpty()
    assert snapshots_equal(
        derive.apply_changes(old, empty_diff, ["o_orderkey"]), old
    )


def test_reconstruct_befores(spark):
    import datetime as dt

    from sqlite_cdc_spark.model import LOG_SCHEMA

    rows = [
        (1, "t", dt.datetime(2024, 1, 1), "INSERT", None, '{"k":1,"v":1}'),
        (2, "t", dt.datetime(2024, 1, 2), "UPDATE", None, '{"k":1,"v":2}'),
        (3, "t", dt.datetime(2024, 1, 3), "INSERT", None, '{"k":2,"v":9}'),
        (4, "t", dt.datetime(2024, 1, 4), "UPDATE", '{"k":1,"v":2}', '{"k":1,"v":3}'),
    ]
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    key = F.get_json_object(F.coalesce("after", "before"), "$.k")
    out = {r.id: r.before for r in derive.reconstruct_befores(
        df.withColumn("__k", key), "__k").collect()}
    assert out[1] is None                      # first change of key 1
    assert out[2] == '{"k":1,"v":1}'           # filled from predecessor
    assert out[3] is None                      # first change of key 2
    assert out[4] == '{"k":1,"v":2}'           # existing before preserved


def test_scd2_versions_and_delete_closes(spark):
    import datetime as dt

    from sqlite_cdc_spark.model import LOG_SCHEMA

    rows = [
        (1, "t", dt.datetime(2024, 1, 1), "INSERT", None, '{"k":1,"v":1}'),
        (2, "t", dt.datetime(2024, 1, 2), "UPDATE", '{"k":1,"v":1}', '{"k":1,"v":2}'),
        (3, "t", dt.datetime(2024, 1, 3), "DELETE", '{"k":1,"v":2}', None),
        (4, "t", dt.datetime(2024, 1, 5), "INSERT", None, '{"k":2,"v":9}'),
    ]
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    key = F.get_json_object(F.coalesce("after", "before"), "$.k").cast("bigint")
    out = {r.id: r for r in derive.scd2(df.withColumn("k", key), "k").collect()}
    assert set(out) == {1, 2, 4}  # the DELETE emits no version row
    assert out[1].valid_to == dt.datetime(2024, 1, 2)  # closed by the UPDATE
    assert out[2].valid_to == dt.datetime(2024, 1, 3)  # closed by the DELETE
    assert not out[2].is_current  # deleted keys have NO current version
    assert out[4].valid_to is None and out[4].is_current  # live key


def test_column_diff_fields_and_order(spark):
    import datetime as dt

    from sqlite_cdc_spark.model import LOG_SCHEMA

    rows = [
        (1, "t", dt.datetime(2024, 1, 1), "UPDATE",
         '{"a":1,"b":"x","c":null}', '{"a":2,"b":"x","c":"now"}'),
        (2, "t", dt.datetime(2024, 1, 2), "UPDATE",
         '{"a":1,"b":"x","c":"s"}', '{"a":1,"b":"x","c":"s"}'),
        (3, "t", dt.datetime(2024, 1, 3), "INSERT", None, '{"a":9}'),
    ]
    df = spark.createDataFrame(rows, LOG_SCHEMA)
    out = {r.id: r for r in derive.column_diff(df, ["a", "b", "c"]).collect()}
    assert set(out) == {1, 2}  # INSERTs are excluded
    assert out[1].changed_cols == ["a", "c"]  # declared-column order, null→value counts
    assert out[1].n_changed == 2
    assert out[2].changed_cols == [] and out[2].n_changed == 0


def test_partitioned_log_prunes_by_date(spark, sf_dir, tmp_path):
    """Date-partitioned log: a time-range read prunes to the touched
    partitions at planning time, and retention is a partition drop."""
    import os

    from sqlite_cdc_spark.log import write_log_partitioned

    ch = log.events_as_changes(load_table(spark, sf_dir, "events"))
    d = str(tmp_path / "plog")
    write_log_partitioned(ch, d)
    # physical layout: one directory per date
    parts = sorted(p for p in os.listdir(d) if p.startswith("log_date="))
    assert len(parts) > 1
    lo, hi = parts[0].split("=")[1], parts[1].split("=")[1]
    sub = (  # half-open: first date only
        spark.read.parquet(d)
        .filter((F.col("log_date") >= lo) & (F.col("log_date") < hi))
        .drop("log_date")
    )
    want = ch.filter(F.to_date("timestamp") == lo).count()
    assert sub.count() == want > 0
    plan = sub._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    assert "isnotnull(log_date" in plan or "log_date" in plan.split("PartitionFilters")[1][:200]
    # retention = drop the oldest partition directory, no rewrite
    import shutil

    shutil.rmtree(os.path.join(d, parts[0]))
    assert spark.read.parquet(d).count() == ch.count() - want


def test_asof_join_keeps_duplicate_left_rows(spark):
    # regression (VERDICT r1 §wrong-3): two IDENTICAL left rows must each
    # produce an output row — the dedup window keys on a synthetic row id,
    # not the left columns
    from sqlite_cdc_spark.derive import asof_join

    left = spark.createDataFrame(
        [("k", 10), ("k", 10), ("k", 5)], "key string, ts int"
    )
    right = spark.createDataFrame(
        [("k", 1, "old"), ("k", 8, "new")], "key string, ts int, val string"
    )
    out = asof_join(left, right, ["key"], "ts", "ts")
    assert out.count() == 3  # both duplicates survive
    rows = sorted(
        [(r["l_ts"], r["r_val"]) for r in out.collect()]
    )
    assert rows == [(5, "old"), (10, "new"), (10, "new")]


def test_salted_join_rejects_right_and_full(spark, sf_dir):
    import pytest as _pytest

    from sqlite_cdc_spark.derive import salted_join

    df = spark.range(4).withColumnRenamed("id", "k")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_join(df, df, "k", how=how)


def test_salted_join_accepts_spark_aliases(spark):
    # left_outer / leftouter are Spark-accepted spellings of 'left'; the
    # guard must not reject them (round-2 advice)
    from sqlite_cdc_spark.derive import salted_join

    left = spark.createDataFrame([(1, "a"), (2, "b")], "k int, lv string")
    right = spark.createDataFrame([(1, "x")], "k int, rv string")
    for how in ("left", "left_outer", "leftouter", "LEFT_OUTER"):
        rows = {
            (r["k"], r["rv"])
            for r in salted_join(left, right, "k", salt=3, how=how).collect()
        }
        assert rows == {(1, "x"), (2, None)}, how
    import pytest

    for how in ("right", "right_outer", "full", "full_outer", "outer"):
        with pytest.raises(ValueError):
            salted_join(left, right, "k", how=how)


def test_sessionize_gap_rule(spark):
    import datetime as dt

    from pyspark.sql import functions as F

    from sqlite_cdc_spark import derive

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, 10, t0),
        (2, 10, t0 + dt.timedelta(minutes=10)),   # same session
        (3, 10, t0 + dt.timedelta(minutes=50)),   # gap 40m -> new session
        (4, 20, t0),                               # other user: own numbering
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    got = {
        r.event_id: r.session_id
        for r in derive.sessionize(df, "user_id", "ts", "event_id").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 1}


def test_funnel_strictly_after_ordering(spark):
    import datetime as dt

    from sqlite_cdc_spark import derive

    t0 = dt.datetime(2024, 1, 1)
    m = dt.timedelta(minutes=1)
    rows = [
        # user 1 completes the funnel in order
        (1, "view", t0), (1, "click", t0 + m), (1, "purchase", t0 + 2 * m),
        # user 2 clicks BEFORE viewing -> click doesn't count
        (2, "click", t0), (2, "view", t0 + m),
        # user 3 views only
        (3, "view", t0),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts timestamp")
    got = {
        r.step_name: r.n_users
        for r in derive.funnel(
            df, "user_id", "event_type", "ts", ["view", "click", "purchase"]
        ).collect()
    }
    assert got == {"view": 3, "click": 1, "purchase": 1}


def test_incremental_agg_equals_recompute(spark):
    from sqlite_cdc_spark import derive

    old = spark.createDataFrame(
        [
            (1, "a", 10.0), (2, "a", 5.0), (3, "b", 7.0), (4, "c", 1.0),
        ],
        "id long, grp string, val double",
    )
    # group 'c' empties (delete 4); group 'd' appears (insert 5);
    # an update moves row 3 from 'b' to 'a' (cross-group delta)
    new = spark.createDataFrame(
        [
            (1, "a", 10.0), (2, "a", 6.0), (3, "a", 7.0), (5, "d", 2.0),
        ],
        "id long, grp string, val double",
    )
    state = derive.aggregate_base(old, ["grp"], ["val"])
    batch = derive.snapshot_diff(old, new, ["id"])
    got = derive.incremental_agg(
        state, batch, ["grp"], ["val"], "grp string, val double"
    )
    want = derive.aggregate_base(new, ["grp"], ["val"])
    assert snapshots_equal(got, want)
    # emptied group is dropped, not left at cnt=0
    assert got.filter(F.col("grp") == "c").count() == 0


def test_incremental_agg_insert_only_batch(spark):
    from sqlite_cdc_spark import derive
    from sqlite_cdc_spark.model import OP_INSERT

    state = spark.createDataFrame(
        [("a", 2, 15.0)], "grp string, cnt long, sum_val double"
    )
    batch = spark.createDataFrame(
        [(OP_INSERT, None, '{"grp": "a", "val": 5.0}')],
        "operation string, before string, after string",
    )
    got = derive.incremental_agg(
        state, batch, ["grp"], ["val"], "grp string, val double"
    ).collect()
    assert len(got) == 1
    assert got[0].cnt == 3 and got[0].sum_val == 20.0


def test_groupwise_ols_known_line(spark):
    from sqlite_cdc_spark import derive

    rows = [
        # group g1: exactly y = 2x + 1
        ("g1", 1.0, 3.0), ("g1", 2.0, 5.0), ("g1", 3.0, 7.0),
        # group g2: zero x-variance -> NULL fit
        ("g2", 4.0, 1.0), ("g2", 4.0, 9.0),
    ]
    df = spark.createDataFrame(rows, "g string, x double, y double")
    got = {r.g: r for r in derive.groupwise_ols(df, ["g"], "x", "y").collect()}
    assert got["g1"].n == 3
    assert got["g1"].slope == 2.0
    assert got["g1"].intercept == 1.0
    assert got["g1"].r2 == 1.0
    assert got["g2"].slope is None and got["g2"].r2 is None


def test_pagerank_star_graph_ranks_hub_highest(spark):
    from sqlite_cdc_spark.derive import pagerank

    # undirected star: hub 0 ↔ leaves 1..5 — hub must outrank all leaves,
    # leaves tie exactly (identical integer updates)
    edges = [(0, i) for i in range(1, 6)] + [(i, 0) for i in range(1, 6)]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r.node_id: r.rank_units for r in pagerank(df, iters=3).collect()}
    assert len(got) == 6
    leaf_ranks = {got[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1
    assert got[0] > leaf_ranks.pop()


def test_pagerank_dangling_node_keeps_teleport_base(spark):
    from sqlite_cdc_spark.derive import pagerank

    # 1 → 2 only: node 2 has no out-edges (dangling) — its mass leaks by
    # design; node 2 still accumulates node 1's share, node 1 ends at base
    df = spark.createDataFrame([(1, 2)], ["src", "dst"])
    got = {r.node_id: r.rank_units for r in pagerank(df, iters=2).collect()}
    assert got[1] == 150000  # teleport base only
    assert got[2] > got[1]


def test_triangle_stats_known_graph(spark):
    from sqlite_cdc_spark.derive import triangle_stats

    # triangle 1-2-3, plus pendant edge 3-4
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 3), (3, 4)], ["src", "dst"])
    got = {r.node_id: (r.degree, r.triangles, r.cc) for r in triangle_stats(df).collect()}
    assert got[1] == (2, 1, 1.0)
    assert got[2] == (2, 1, 1.0)
    assert got[3] == (3, 1, round(2 * 1 / (3 * 2), 6))
    assert got[4] == (1, 0, 0.0)


def test_triangle_stats_two_shared_edge_triangles(spark):
    from sqlite_cdc_spark.derive import triangle_stats

    # K4 minus one edge (1-4): triangles 123 and 234... build 1-2,1-3,2-3,2-4,3-4
    df = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)], ["src", "dst"]
    )
    got = {r.node_id: r.triangles for r in triangle_stats(df).collect()}
    assert got == {1: 1, 2: 2, 3: 2, 4: 1}


def test_trailing_ewma_weights_recent_heavier(spark):
    import datetime as dt

    from sqlite_cdc_spark.derive import trailing_ewma

    rows = [
        (1, i, dt.datetime(2024, 1, 1, 0, i), float(v))
        for i, v in enumerate([0.0, 0.0, 0.0, 10.0])
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "ts", "value"])
    got = {r.event_id: r.ewma for r in trailing_ewma(df, "user_id", ["ts", "event_id"], "value").collect()}
    assert got[0] == 0.0 and got[1] == 0.0 and got[2] == 0.0
    # last: weights 8,4,2,1 over values 10,0,0,0 → 80/15 ≈ 5.333333
    assert got[3] == round(80 / 15 / 1, 6)


def test_rfm_segments_orders_scores_correctly(spark):
    import datetime as dt

    from sqlite_cdc_spark.derive import rfm_segments

    rows = []
    # user 1: recent, frequent, high value; user 2: stale, rare, low value
    for i in range(10):
        rows.append((100 + i, dt.datetime(2024, 1, 20, i), 1, "x", 50.0, "{}"))
    rows.append((200, dt.datetime(2024, 1, 2, 0), 2, "x", 1.0, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = {r.user_id: r for r in rfm_segments(df, n_tiles=2).collect()}
    assert got[1].r == 1 and got[2].r == 2
    assert got[1].f == 1 and got[2].f == 2
    assert got[1].m == 1 and got[2].m == 2
    assert got[1].segment == "111" and got[2].segment == "222"
    assert got[1].m_cents == 10 * 5000 and got[2].m_cents == 100


def test_bloom_probe_no_false_negatives_bounded_false_positives(spark):
    from sqlite_cdc_spark.derive import bloom_build, bloom_probe

    keys = spark.range(0, 200).select(F.col("id").alias("k"))
    facts = spark.range(0, 2000).select(F.col("id").alias("k"))
    bloom = bloom_build(keys, "k", m_bits=4096, k_hashes=4)
    kept = {r.k for r in bloom_probe(facts, bloom, "k", m_bits=4096, k_hashes=4).collect()}
    members = set(range(200))
    assert members <= kept  # no false negatives, ever
    fp = len(kept - members)
    # 200 keys in 4096 bits with k=4 → theoretical fp ≈ (1-e^(-800/4096))^4 ≈ 0.1%
    assert fp <= 1800 * 0.05, f"false-positive rate too high: {fp}/1800"


def test_bloom_probe_fallback_matches_narrow_path(spark):
    # r7: above 2^16 bits the probe switches from the inlined-literal
    # codegen filter to the distinct-key broadcast-bitmap semi-join —
    # both paths must keep exactly the same rows for the same filter
    # semantics (positions are pure key functions, so the kept set is a
    # deterministic function of (keys, m_bits, k_hashes))
    from sqlite_cdc_spark.derive import bloom_build, bloom_probe

    keys = spark.range(0, 150).select(F.col("id").alias("k"))
    facts = spark.range(0, 1500).select(F.col("id").alias("k"))
    big_m = 1 << 17  # forces the fallback branch
    bloom = bloom_build(keys, "k", m_bits=big_m, k_hashes=4)
    kept = {
        r.k
        for r in bloom_probe(
            facts, bloom, "k", m_bits=big_m, k_hashes=4
        ).collect()
    }
    assert set(range(150)) <= kept  # no false negatives on the fallback
    # at 150 keys in 131072 bits false positives are ~0; allow a handful
    assert len(kept - set(range(150))) <= 5
    # the fallback plan must not have collapsed into a plain filter (it
    # should semi-join) — sanity-check the branch actually ran
    plan = bloom_probe(facts, bloom, "k", m_bits=big_m, k_hashes=4) \
        ._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        )
    assert "LeftSemi" in plan


def test_bloom_bitmap_is_deterministic(spark):
    from sqlite_cdc_spark.derive import bloom_build

    keys = spark.range(0, 500).select(F.col("id").alias("k"))
    a = sorted((r.word, r.bits) for r in bloom_build(keys.repartition(1), "k").collect())
    b = sorted((r.word, r.bits) for r in bloom_build(keys.repartition(9), "k").collect())
    assert a == b


def test_zorder_key_interleaves_known_values(spark):
    from sqlite_cdc_spark.derive import zorder_key

    # x,y in 0..3 with bits=2: z = interleave bits → known Morton codes
    rows = [(x, y) for x in range(4) for y in range(4)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {(r.x, r.y): r.zorder for r in zorder_key(df, "x", "y", bits=2).collect()}
    # min-max scales 0..3 → 0..3 exactly (top=3)
    def morton(x, y):
        z = 0
        for i in range(2):
            z += ((x >> i) & 1) << (2 * i)
            z += ((y >> i) & 1) << (2 * i + 1)
        return z

    for (x, y), z in got.items():
        assert z == morton(x, y), (x, y, z)
    # locality: the 4 cells of each 2x2 quadrant share a z-prefix
    assert {got[(0, 0)], got[(1, 0)], got[(0, 1)], got[(1, 1)]} == {0, 1, 2, 3}


def test_zorder_degenerate_column_maps_to_zero(spark):
    from sqlite_cdc_spark.derive import zorder_key

    df = spark.createDataFrame([(5.0, 1), (5.0, 2)], ["x", "y"])
    got = zorder_key(df, "x", "y", bits=4).collect()
    assert all(r.zorder >= 0 for r in got)
    # x contributes nothing (min==max) → z is y-bits only (even bit 0 clear)
    assert all((r.zorder & 0b01010101) == 0 for r in got)


def test_markov_transitions_probabilities_sum_to_one(spark):
    import datetime as dt

    from sqlite_cdc_spark.derive import markov_transitions

    rows = []
    seq = ["a", "b", "a", "c", "a", "b"]
    for i, s in enumerate(seq):
        rows.append((i, dt.datetime(2024, 1, 1, 0, i), 1, s, 0.0, "{}"))
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = markov_transitions(df).collect()
    by_from = {}
    for r in got:
        by_from.setdefault(r.from_state, []).append(r)
    # a→b twice, a→c once; b→a once (last b has no successor)
    a_rows = {r.to_state: (r.n, r.p) for r in by_from["a"]}
    assert a_rows["b"] == (2, round(2 / 3, 6))
    assert a_rows["c"] == (1, round(1 / 3, 6))
    for rows_ in by_from.values():
        assert abs(sum(r.p for r in rows_) - 1.0) < 1e-5


def test_bloom_merge_equals_rebuild(spark):
    from sqlite_cdc_spark.derive import bloom_build, bloom_merge

    a = spark.range(0, 300).select(F.col("id").alias("k"))
    b = spark.range(300, 400).select(F.col("id").alias("k"))
    both = spark.range(0, 400).select(F.col("id").alias("k"))
    merged = sorted(
        (r.word, r.bits)
        for r in bloom_merge(bloom_build(a, "k"), bloom_build(b, "k")).collect()
    )
    rebuilt = sorted((r.word, r.bits) for r in bloom_build(both, "k").collect())
    assert merged == rebuilt


def test_changepoint_finds_planted_level_shift(spark):
    import datetime as dt

    from sqlite_cdc_spark.derive import changepoint_splits

    rows = []
    eid = 0
    for day in range(1, 21):
        n = 5 if day <= 10 else 50  # shift after day 10
        for i in range(n):
            rows.append((eid, dt.datetime(2024, 1, day, i % 24), 1, "x", 0.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    got = changepoint_splits(df).collect()
    best = [r for r in got if r.is_best]
    assert len(best) == 1
    assert best[0].split_bucket == dt.datetime(2024, 1, 10)
    assert best[0].mean_left == 5.0 and best[0].mean_right == 50.0


def test_woe_iv_separating_feature_scores_higher(spark):
    from sqlite_cdc_spark.derive import woe_iv

    # feature perfectly separates the label vs a useless feature
    rows = [(float(i), i >= 50, float(i % 7)) for i in range(100)]
    df = spark.createDataFrame(rows, ["good_f", "y", "bad_f"])
    iv_good = woe_iv(df, "good_f", "y").first().iv_total
    iv_bad = woe_iv(df, "bad_f", "y").first().iv_total
    assert iv_good > 1.0          # "strong" by the usual IV rule of thumb
    assert iv_bad < 0.3
    assert iv_good > iv_bad * 3


def test_distributed_ntile_matches_builtin(spark):
    # two-phase range-partitioned ntile must be bit-identical to the
    # single-partition built-in across remainder shapes (r8 scale path)
    from pyspark.sql import Window

    from sqlite_cdc_spark import derive

    for n_rows, n in [(1, 5), (23, 5), (101, 7)]:
        df = spark.range(n_rows).select(
            (F.xxhash64("id") % 100000).alias("k"), F.col("id").alias("id")
        )
        w = Window.orderBy(F.col("k").asc(), F.col("id").asc())
        want = {
            (r.k, r.id): r.t
            for r in df.select("k", "id", F.ntile(n).over(w).alias("t")).collect()
        }
        got = {
            (r.k, r.id): r.tile
            for r in derive.distributed_ntile(
                df, [F.col("k").asc(), F.col("id").asc()], n
            ).collect()
        }
        assert got == want


def test_psi_drift_approx_edges_close_to_exact(spark, sf_dir):
    # exact_edges=False swaps the rank-edge subquery for one
    # percentile_approx sketch — bucket shares must track the exact
    # mode closely on a smooth distribution, and psi_total must agree
    # to the monitoring tolerance (the decision is >0.2 vs <0.2)
    from sqlite_cdc_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    mid = F.lit("2024-01-16 00:00:00").cast("timestamp")
    b = ev.filter(F.col("ts") < mid).select("value")
    c = ev.filter(F.col("ts") >= mid).select("value")
    exact = {r.bucket: r for r in derive.psi_drift(b, c, "value").collect()}
    approx = {
        r.bucket: r
        for r in derive.psi_drift(b, c, "value", exact_edges=False).collect()
    }
    assert set(exact) == set(approx)
    for k in exact:
        assert abs(exact[k].share_base - approx[k].share_base) < 0.03
    pe = next(iter(exact.values())).psi_total
    pa = next(iter(approx.values())).psi_total
    assert abs(pe - pa) < 0.05


def test_distributed_row_number_matches_builtin_on_skewed_groups(spark):
    # two-phase grouped rank must be bit-identical to the keyed-window
    # built-in even when one group dominates (the straggler case it
    # exists to fix)
    from pyspark.sql import Window

    from sqlite_cdc_spark import derive

    df = spark.range(3000).select(
        F.when(F.col("id") % 10 < 9, F.lit("a")).otherwise(F.lit("b")).alias("g"),
        (F.xxhash64("id") % 100000).alias("k"),
        F.col("id").alias("id"),
    )
    w = Window.partitionBy("g").orderBy(F.col("k").asc(), F.col("id").asc())
    want = {
        (r.g, r.id): r.rn
        for r in df.select("g", "id", F.row_number().over(w).alias("rn")).collect()
    }
    got = {
        (r.g, r.id): r.rn
        for r in derive.distributed_row_number(
            df, ["g"], [F.col("k").asc(), F.col("id").asc()]
        ).collect()
    }
    assert got == want


def test_incremental_join_view_both_sides_same_key(spark):
    # the hard case of the delta rule: A and B both mutate rows sharing
    # ONE join key in the same batch — the ΔA⋈ΔB cross term must cancel
    # exactly (old×new ghosts) so the increment equals a recompute
    a_old = spark.createDataFrame(
        [(1, 10, "a1"), (2, 10, "a2"), (3, 20, "a3")], "apk long, k long, av string"
    )
    b_old = spark.createDataFrame(
        [(100, 10, "b1"), (200, 20, "b2")], "bpk long, k long, bv string"
    )
    view = a_old.join(b_old, "k")
    # batch: update a1 (same key), update b1 (same key 10), delete a3,
    # insert a brand-new a4 under key 20
    a_del = spark.createDataFrame(
        [(1, 10, "a1"), (3, 20, "a3")], "apk long, k long, av string"
    )
    a_ins = spark.createDataFrame(
        [(1, 10, "a1x"), (4, 20, "a4")], "apk long, k long, av string"
    )
    b_del = spark.createDataFrame([(100, 10, "b1")], "bpk long, k long, bv string")
    b_ins = spark.createDataFrame([(100, 10, "b1x")], "bpk long, k long, bv string")
    got = derive.incremental_join_view(
        view, a_old, b_old, "k",
        a_inserts=a_ins, a_deletes=a_del,
        b_inserts=b_ins, b_deletes=b_del,
    )
    a_new = spark.createDataFrame(
        [(1, 10, "a1x"), (2, 10, "a2"), (4, 20, "a4")],
        "apk long, k long, av string",
    )
    b_new = spark.createDataFrame(
        [(100, 10, "b1x"), (200, 20, "b2")], "bpk long, k long, bv string"
    )
    want = a_new.join(b_new, "k")
    gs = sorted(tuple(r) for r in got.select(sorted(got.columns)).collect())
    ws = sorted(tuple(r) for r in want.select(sorted(want.columns)).collect())
    assert gs == ws


def test_apply_changes_guarded_out_of_order_and_tombstones(spark):
    """Out-of-order replica merge (r10): a replayed STALE batch must not
    overwrite newer state and must not resurrect a deleted key (the
    tombstone rule); merge order must not matter."""
    import datetime as dt

    from sqlite_cdc_spark import derive

    ts = dt.datetime(2024, 1, 1)
    sch = (
        "id long, timestamp timestamp, tablename string, operation string,"
        " before string, after string"
    )
    newer = spark.createDataFrame(
        [
            (10, ts, "t", "UPDATE", None, '{"k":1,"v":"new"}'),
            (11, ts, "t", "DELETE", '{"k":2,"v":"x"}', None),
        ],
        sch,
    )
    older = spark.createDataFrame(
        [
            (1, ts, "t", "INSERT", None, '{"k":1,"v":"old"}'),
            (2, ts, "t", "INSERT", None, '{"k":2,"v":"dead"}'),
            (3, ts, "t", "INSERT", None, '{"k":3,"v":"keep"}'),
        ],
        sch,
    )
    empty = derive.empty_guarded_state(spark, "k long, v string")

    def final(*batches):
        s = empty
        for b in batches:
            s = derive.apply_changes_guarded(s, b, ["k"])
        return sorted((r.k, r.v, r._op, r._version) for r in s.collect())

    want = [(1, "new", "UPDATE", 10), (2, "x", "DELETE", 11),
            (3, "keep", "INSERT", 3)]
    assert final(newer, older) == want  # stale replay after newer
    assert final(older, newer) == want  # in-order
    assert final(older, newer, older) == want  # full batch re-delivery
    live = final(newer, older)
    assert [(k, v) for k, v, op, _ in live if op != "DELETE"] == [
        (1, "new"), (3, "keep"),
    ]


def test_nearest_join_rejects_nonpositive_tolerance(spark):
    """ADVICE r10: tolerance_seconds=0 made the bucket id `div 0` ->
    NULL, so the equi-join matched nothing and the call silently
    returned empty. Now it raises up front."""
    import pytest

    df = spark.range(1).select(
        F.col("id"), F.lit("2024-01-01 00:00:00").alias("ts")
    )
    for bad in (0, -5):
        with pytest.raises(ValueError, match="tolerance_seconds"):
            derive.nearest_join(
                df, df, ["id"], "id", "ts", "id", "ts",
                tolerance_seconds=bad,
            )


def test_snapshot_diff_handles_backtick_column_names(spark):
    # a column name containing a backtick
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


def test_lpa_argmax_matches_window_semantics(spark):
    # the aggregate must pick (max count, ties -> smallest label),
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
