"""Registry hygiene: the driver contract itself, frozen as tests."""

from __future__ import annotations

import ast
import re
from pathlib import Path

import __spark_entry__ as entry

ROOT = Path(__file__).resolve().parent.parent


def test_every_query_is_oracled_or_exempt():
    q, o = entry.queries(), entry.oracle_sql()
    # the single allowed exemption is the declared-approximate sketch
    # query, whose bound is separately gated by b27_sketch_bounds
    missing = [k for k in q if k not in o]
    assert missing == ["b27_sketches"]
    # no orphaned oracles
    assert [k for k in o if k not in q] == []


def test_driver_window_has_no_unoracled_rows():
    q, o = entry.queries(), entry.oracle_sql()
    window = list(q)[:50]
    assert all(k in o for k in window)


def test_query_names_follow_inventory_convention():
    import re

    q = entry.queries()
    pat = re.compile(r"^[ab]\d+_[a-z0-9_]+$")
    bad = [k for k in q if not pat.match(k)]
    assert bad == []


def test_registry_is_callable_and_distinct():
    q = entry.queries()
    assert len(q) == len(set(q))
    assert all(callable(f) for f in q.values())


def test_no_oracled_query_returns_array_or_map_columns(spark, sf_dir):
    """The driver's pandas canonicalizer cannot factorize list dtypes
    (``TypeError: unhashable type: 'list'`` — r5's only two non-green
    rows, b30_inverted_index and b20_mean_pool). Any oracled query is a
    rotation candidate for the 50-slot driver window, so NONE of them
    may expose an ArrayType/MapType column: serialize (concat_ws /
    to_json / %.6f-format) at the registry boundary; the library APIs
    keep returning real arrays."""
    from pyspark.sql import types as T

    q, o = entry.queries(), entry.oracle_sql()
    offenders = []
    for name, fn in q.items():
        if name not in o:
            continue  # rows-only queries never reach the canonicalizer
        schema = fn(spark, sf_dir).schema
        for f in schema.fields:
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
                offenders.append(f"{name}.{f.name}:{f.dataType.simpleString()}")
    assert offenders == []


def test_driver_window_is_exactly_50_known_names():
    q = entry.queries()
    window = entry._R18_WINDOW
    assert len(window) == 50
    assert len(set(window)) == 50
    unknown = [k for k in window if k not in q]
    assert unknown == []
    # the rotation must actually control the gate: queries() leads with it
    assert list(q)[:50] == window


def test_registry_literal_has_no_duplicate_keys():
    """r10: three r10 additions once reused round-6 names — the dict
    literal silently deduped and the later same-named function SHADOWED
    the original operator. Parse the literal and fail on any repeated
    key so a collision surfaces as a test failure, not a silent
    operator replacement."""
    import re
    from collections import Counter

    src = open("__spark_entry__.py").read()
    # Slice at the ASSIGNMENT (newline-prefixed), not the first textual
    # mention — the _all_queries docstring names the window constant, and
    # r10's version of this test sliced there, scanning a 187-char
    # docstring prefix with zero keys (the duplicate guard never ran).
    body = src[src.index("def _all_queries"):src.index("\n_R18_WINDOW =")]
    keys = re.findall(r'^\s{8}"([a-z0-9_]+)":', body, re.M)
    # self-check against re-vacuation: the registry holds 316+ keys
    assert len(keys) > 300, f"scanned only {len(keys)} keys — slice broken"
    dups = {k: c for k, c in Counter(keys).items() if c > 1}
    assert not dups, f"duplicate registry keys: {dups}"
    # and no two same-named q_ functions across entryimpl modules
    import glob

    defs = Counter()
    for path in glob.glob("entryimpl/q_*.py"):
        for m in re.finditer(r"^def (q_\w+)\(", open(path).read(), re.M):
            defs[m.group(1)] += 1
    shadowed = {k: c for k, c in defs.items() if c > 1}
    assert not shadowed, f"shadowed query functions: {shadowed}"


# --- public surface -----------------------------------------------------------

#: Capabilities the north star names that have no caller yet; each waits for
#: a registry line, CLI path or benchmark workload (ROADMAP direction F).
_UNCALLED_ALLOWLIST = {
    "streaming.streaming_compaction",
    "streaming.StandingState",
    "streaming.configure_state_store",
    "streaming.windowed_change_counts",
    "pipeline.stateful.browse_funnel_stateful_update",
    "pipeline.dedup.update_lsh_index",
    "pipeline.multimodal.audio_chunk_plan",
    "pipeline.multimodal.read_binary_dir",
}


def test_every_public_library_name_has_a_caller():
    """Each public top-level ``def``/``class`` in the library is named, as a
    whole word, outside its own definition: in the library, the registry,
    ``bench.py``, ``tools/`` or ``perfbench/``. Tests do not count. The
    allowlist must match exactly, so it goes stale loudly: an entry that
    gains a caller or is deleted fails here too."""
    lib = sorted((ROOT / "sqlite_cdc_spark").rglob("*.py"))
    callers = [
        *lib,
        *sorted((ROOT / "entryimpl").rglob("*.py")),
        ROOT / "__spark_entry__.py",
        ROOT / "bench.py",
        *sorted((ROOT / "tools").rglob("*.py")),
        *sorted((ROOT / "perfbench").rglob("*.py")),
    ]
    texts = {p: p.read_text() for p in callers}
    public, uncalled = 0, set()
    for path in lib:
        module = ".".join(path.relative_to(ROOT / "sqlite_cdc_spark").with_suffix("").parts)
        lines = texts[path].splitlines()
        others = [t for p, t in texts.items() if p != path]
        for node in ast.parse(texts[path]).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ) or node.name.startswith("_"):
                continue
            public += 1
            start = min([node.lineno, *(d.lineno for d in node.decorator_list)]) - 1
            own = "\n".join(lines[:start] + lines[node.end_lineno:])
            use = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(use.search(t) for t in [own, *others]):
                uncalled.add(f"{module}.{node.name}")
    assert public > 200, f"scanned only {public} public names"
    assert uncalled - _UNCALLED_ALLOWLIST == set(), "public names with no caller"
    assert _UNCALLED_ALLOWLIST - uncalled == set(), "allowlisted names now called or gone"


# --- operator properties the oracle rows cannot see -------------------------


def test_gap_repair_manifest_matches_the_audit_exactly(spark, sf_dir):
    """sf0.001 events are dense ids 0..999. The degraded replay drops
    multiples of 101 (id 0 included, which truncates the observable
    span to [1, 999]) and double-delivers ids ≡5 mod 103. One bucket,
    and the manifest's counts must equal the closed-form defect
    arithmetic — and sum to the same totals b4_source_audit reports."""
    rows = entry.queries()["b4_gap_repair_manifest"](spark, sf_dir).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["bucket"] == 0
    assert r["rerequest_from"] == 1  # id 0 was dropped: unobservable
    assert r["rerequest_to"] == 999
    assert r["n_expected"] == 999
    # in-span missing: 101, 202, ..., 909
    assert r["n_missing"] == 9
    assert r["n_got"] == 990
    # dups: 5, 108, ..., 932 (10 ids ≡5 mod 103 under 1000)
    assert r["n_dup_deliveries"] == 10
    assert r["action"] == "rerequest"

    audit = entry.queries()["b4_source_audit"](spark, sf_dir).collect()[0]
    assert audit["n_missing_ids"] == r["n_missing"]
    assert audit["n_dup_rows"] == r["n_dup_deliveries"]


def test_gap_repair_manifest_conserves_audit_totals_at_sf001(spark, sf_dir):
    """Multi-bucket scale: summed per-bucket defects == the audit's
    corpus-level counts (nothing double-counted across bucket edges,
    nothing dropped between buckets)."""
    from pyspark.sql import functions as F

    d = sf_dir.replace("sf0.001", "sf0.01")
    q = entry.queries()
    man = q["b4_gap_repair_manifest"](spark, d)
    tot = man.agg(
        F.sum("n_missing").alias("m"), F.sum("n_dup_deliveries").alias("d")
    ).collect()[0]
    audit = q["b4_source_audit"](spark, d).collect()[0]
    assert tot["m"] == audit["n_missing_ids"]
    assert tot["d"] == audit["n_dup_rows"]


def test_gap_repair_manifest_sees_an_all_dropped_bucket(spark, tmp_path):
    """r17 ADVICE: a keyset page whose deliveries were ALL dropped must
    still produce a manifest row. The grid is generated from the
    delivered span and left-joined with the per-bucket counts, so a
    bucket with zero surviving deliveries reads n_got=0 /
    n_missing=n_expected instead of vanishing. Fixture: bucket 5's only
    source ids are multiples of 101 (all dropped, none ≡5 mod 103 so
    none re-enter via the dup leg); buckets 0 and 9 anchor the span."""
    ids = (
        list(range(1, 1024))  # bucket 0 (id 0 excluded: span starts at 1)
        + [
            101 * k
            for k in range(51, 61)  # 5151..6060, all inside bucket 5
            if (101 * k) % 103 != 5
        ]
        + list(range(9216, 10240))  # bucket 9
    )
    assert all(5120 <= 101 * k < 6144 for k in range(51, 61))
    out = str(tmp_path / "events.parquet")
    spark.createDataFrame(
        [(i,) for i in ids], "event_id long"
    ).write.parquet(out)
    import __spark_entry__ as entry

    rows = entry.queries()["b4_gap_repair_manifest"](
        spark, str(tmp_path)
    ).collect()
    by = {r["bucket"]: r for r in rows}
    # the all-dropped bucket is VISIBLE, fully missing, and rerequested
    assert 5 in by
    assert by[5]["n_got"] == 0
    assert by[5]["n_expected"] == 1024
    assert by[5]["n_missing"] == 1024
    assert by[5]["n_dup_deliveries"] == 0
    assert by[5]["action"] == "rerequest"
    # span-interior buckets with no source rows at all surface too (the
    # manifest models a dense keyspace within the delivered span)
    for b in (1, 2, 3, 4, 6, 7, 8):
        assert b in by and by[b]["n_got"] == 0
    # span edges clamp to delivered ids, as before
    assert by[0]["rerequest_from"] == 1
    assert by[9]["rerequest_to"] == 10239


def test_partition_pruning_ledger_values(spark, sf_dir):
    """Pure-partition predicates scan exactly what they match; the
    residual leg scans one partition but matches fewer rows; the
    no-partition-predicate leg reads every partition."""
    rows = entry.queries()["b5_partition_pruning"](spark, sf_dir).collect()
    by = {r["predicate"]: r for r in rows}
    assert set(by) == {"year_eq", "year_in", "year_range", "residual", "none"}
    for r in rows:
        assert r["n_parts_total"] == 7
    assert by["year_eq"]["n_parts_read"] == 1
    assert by["year_in"]["n_parts_read"] == 2
    assert by["year_range"]["n_parts_read"] == 3
    for leg in ("year_eq", "year_in", "year_range"):
        assert by[leg]["n_rows_scanned"] == by[leg]["n_match"]
    assert by["residual"]["n_parts_read"] == 1
    assert by["residual"]["n_match"] <= by["residual"]["n_rows_scanned"]
    assert by["residual"]["n_rows_scanned"] == by["year_eq"]["n_rows_scanned"]
    assert by["none"]["n_parts_read"] == 7
    assert by["none"]["scan_frac"] == 1.0


def test_directory_partition_pruning_reaches_the_file_scan(spark, sf_dir, tmp_path):
    """The ledger's model made REAL: write orders partitioned by year
    into a directory layout, filter on the partition column, and pin
    that (a) the plan carries a PartitionFilters entry with the
    predicate and (b) the scan's inputFiles are confined to the one
    surviving partition directory — the 100 TB contract that a
    partition predicate skips DATA FILES, not just rows."""
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.sources import load_table

    out = str(tmp_path / "orders_by_year")
    (
        load_table(spark, sf_dir, "orders")
        .withColumn("y", F.year("o_orderdate"))
        .write.partitionBy("y")
        .parquet(out)
    )
    full = spark.read.parquet(out)
    assert len(full.inputFiles()) > 1
    pruned = full.filter(F.col("y") == 1998)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "PartitionFilters" in plan
    assert "1998" in plan
    # inputFiles() is pre-pruning (the logical relation's full listing);
    # the files ACTUALLY read come from input_file_name() at execution
    files = [
        r[0]
        for r in pruned.select(
            F.input_file_name().alias("f")
        ).distinct().collect()
    ]
    assert files and all("y=1998" in f for f in files)
    assert len(files) < len(full.inputFiles())
    # and the pruned read returns exactly the partition's rows
    expected = (
        load_table(spark, sf_dir, "orders")
        .filter(F.year("o_orderdate") == 1998)
        .count()
    )
    assert pruned.count() == expected


def test_incremental_histogram_merge_law_and_conservation(spark, sf_dir):
    """merge_ok on every bin, bins tile the value range, and the
    merged view conserves the corpus row count."""
    rows = entry.queries()["b17_incremental_histogram"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["merge_ok"] is True
        assert r["n_standing"] + r["n_batch"] == r["n_merged"] == r["n_recompute"]
        assert r["s_merged"] == r["s_recompute"]
        assert 0 <= r["bin"] <= 9  # value range [0.01, 490.02) / 50

    from sqlite_cdc_spark.sources import load_table

    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_merged"] for r in rows) == total


def test_cast_failure_ledger_counts_exactly_the_corrupted_rows(spark, sf_dir):
    """`value` cast failures must be exactly the corrupted images that
    CARRY value (ids ≡0 mod 13 whose op isn't DELETE — error rows keep
    before-only key images); key/string fields never fail."""
    from pyspark.sql import functions as F

    from sqlite_cdc_spark.sources import load_table

    rows = entry.queries()["b6_cast_failure_ledger"](spark, sf_dir).collect()
    by = {r["field"]: r for r in rows}
    assert set(by) == {"user_id", "event_type", "value", "props"}
    n = by["user_id"]["n_images"]
    assert all(r["n_images"] == n for r in rows)
    # user_id is in every image (the key survives DELETE)
    assert by["user_id"]["n_present"] == n
    for f in ("user_id", "event_type", "props"):
        assert by[f]["n_cast_fail"] == 0
        assert by[f]["fail_rate"] == 0.0
    expected_fail = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_id") % 13 == 0) & (F.col("event_type") != "error"))
        .count()
    )
    assert expected_fail > 0
    assert by["value"]["n_cast_fail"] == expected_fail
    assert by["value"]["n_cast_ok"] == by["value"]["n_present"] - expected_fail
