"""Write-path / storage-layout operators (the sink side at 100 TB).

The reference's sinks are streams (stdout/JSON/HTTP — ``handlers/``,
covered in sinks.py); a Spark-first engine additionally owns the LAYOUT
of what it writes, because at 100 TB the write decides every future
read: partition pruning, bucket-join co-location, min/max skipping and
small-file health are all properties of the writer, not the reader.

Four layouts, each with the read-side property it buys pinned by a plan
test (tests/test_storage.py):

- :func:`write_partitioned` — hive-style directory partitioning; an
  equality filter on the partition column reaches the scan as a
  ``PartitionFilters`` entry and never opens non-matching directories.
- :func:`write_bucketed` — hash-bucketed (+ sorted) table via
  ``bucketBy``; two tables bucketed the same way join with ZERO
  exchange on either side — the co-located join that replaces the
  biggest shuffle in a star join.
- :func:`write_zordered` — Morton-interleaved range layout
  (:func:`~sqlite_cdc_spark.derive.zorder_key`): each file covers a
  tight rectangle in BOTH dimensions, so min/max file statistics prune
  scans filtered on either column (the Delta/Iceberg ``OPTIMIZE ...
  ZORDER BY`` layout, done with plain parquet).
- :func:`compact_files` — bin small files up to a target size; the
  small-file problem is the dominant operational failure of long-lived
  streaming sinks (every file is a task + a namenode entry).

Publishing files into a directory that a stream or a reader lists:
:func:`publish_parquet` lands a driver-side Arrow table as one parquet
file (``sqlite_bridge.poll_log``'s log pages, ``sinks.parquet_sink_handler``'s
one-partition batches); :func:`publish_partitions` lands a DataFrame that
stays distributed as one file per partition. Both make every file visible
under its final name only once it is complete and durable.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hive-style partitioned parquet: one directory per distinct
    partition-column tuple. Equality/IN filters on those columns prune
    at PLANNING time (directory listing), before any file opens.

    ``sort_cols`` additionally sorts within each output file so min/max
    row-group statistics stay tight for range filters on those columns.
    Partition columns should be LOW cardinality (lang, date, source) —
    high-cardinality partitioning recreates the small-file problem.
    """
    out = df
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.partitionBy(*partition_cols).mode(mode).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed managed table (``bucketBy`` requires the table
    catalog — plain ``.parquet(path)`` cannot carry bucket metadata).
    Joins and aggregations keyed on ``bucket_col`` between tables with
    the SAME bucketing skip their shuffles entirely: the scan's output
    partitioning already satisfies the join's distribution requirement.

    Pick ``num_buckets`` once per subject area and reuse it — a join
    between 16-bucket and 32-bucket tables still shuffles one side.
    """
    w = df.write.bucketBy(num_buckets, bucket_col)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode(mode).format("parquet").saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order layout over two numeric columns: attach the Morton key
    (:func:`~sqlite_cdc_spark.derive.zorder_key`), range-partition on
    it into ``n_files`` files, sort within each — every file then
    covers a tight rectangle in (x, y) and parquet min/max statistics
    prune scans filtered on EITHER column. The key column is dropped
    from the files (it is derivable)."""
    from .derive import zorder_key

    keyed = zorder_key(df, col_x, col_y, bits=bits)
    (
        keyed.repartitionByRange(n_files, "zorder")
        .sortWithinPartitions("zorder")
        .drop("zorder")
        .write.mode(mode)
        .parquet(path)
    )


def dir_stats(spark: SparkSession, path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a local or DFS directory — the
    writer-health numbers a compaction policy triggers on. Uses the
    Hadoop FileSystem API, so it works on any supported filesystem."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    n, total = 0, 0
    it = fs.listFiles(p, True)
    while it.hasNext():
        f = it.next()
        name = f.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue  # _SUCCESS, checksums, metadata
        n += 1
        total += f.getLen()
    return n, total


def compact_files(
    spark: SparkSession,
    src: str,
    dst: str,
    target_mb: int = 128,
    sort_cols: list[str] | None = None,
) -> int:
    """Rewrite a directory of (typically many small) parquet files into
    ``ceil(total_bytes / target_mb)`` right-sized files at ``dst``.
    Returns the output file count. Writing to a NEW directory and
    swapping atomically is deliberate — in-place compaction races every
    concurrent reader; the swap (rename or metastore pointer flip) is
    the caller's transactional step.

    At real scale run this per-partition-directory (each directory is
    independent, so the rewrites parallelize trivially) and only where
    :func:`dir_stats` shows file counts out of policy."""
    _, total = dir_stats(spark, src)
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    df = spark.read.parquet(src)
    out = df.repartition(n_out)
    if sort_cols:
        out = out.sortWithinPartitions(*sort_cols)
    out.write.mode("overwrite").parquet(dst)
    return n_out


def _fsync_dir(path: str) -> None:
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def publish_parquet(table, out_dir: str, name: str) -> None:
    """Write the Arrow ``table`` to ``out_dir/name`` atomically and durably.

    The file is written under a ``.``-prefixed name (hidden from Spark's
    file source, from pyarrow datasets and from ``*.parquet`` globs),
    fsynced, renamed into place and the directory fsynced. A listing never
    sees a half-written file, and once this returns a crash cannot lose
    it. Publishing an existing ``name`` again replaces it whole. Needs a
    local POSIX directory, where a rename is atomic.
    """
    import pyarrow.parquet as pq

    tmp = os.path.join(out_dir, "." + name)
    try:
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(out_dir, name))
    except BaseException:
        if os.path.exists(tmp):
            os.remove(tmp)
        raise
    _fsync_dir(out_dir)


def publish_partitions(df: DataFrame, out_dir: str, stem: str) -> int:
    """Write ``df`` through Spark as ``out_dir/<stem>-<k>.parquet``, one
    file per non-empty partition, and return how many files that is.

    Spark writes into the hidden directory ``out_dir/.<stem>`` (overwriting
    what a failed attempt left there); each part file is then fsynced and
    renamed into place in order, and ``out_dir`` fsynced. The files land
    directly in ``out_dir`` rather than in a subdirectory because
    ``spark.read.parquet(out_dir)`` reads only the files directly under an
    unpartitioned directory. A reader may see a prefix of the parts while
    they are renamed. Publishing the same ``stem`` again replaces parts
    ``0 … n-1``; removing surplus parts of an earlier, larger attempt is
    the caller's job. Needs a local POSIX directory.
    """
    tmp = os.path.join(out_dir, "." + stem)
    df.write.mode("overwrite").parquet(tmp)
    parts = sorted(
        n for n in os.listdir(tmp) if n.endswith(".parquet") and not n.startswith(".")
    )
    for k, part in enumerate(parts):
        src = os.path.join(tmp, part)
        with open(src, "rb") as f:
            os.fsync(f.fileno())
        os.replace(src, os.path.join(out_dir, f"{stem}-{k}.parquet"))
    _fsync_dir(out_dir)
    shutil.rmtree(tmp)
    return len(parts)
