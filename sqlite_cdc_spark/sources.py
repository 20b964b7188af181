"""Table loading with engine-portable normalization.

Spark 4 refuses parquet TIMESTAMP(NANOS) columns outright
(``PARQUET_TYPE_ILLEGAL``); the session enables
``spark.sql.legacy.parquet.nanosAsLong`` so they arrive as epoch-nanos
longs, and :func:`load_table` converts them back to proper (microsecond)
timestamps by inspecting the parquet footer — a metadata-only read, no
driver data pull. Truncation to micros matches what any Python/Arrow
consumer of the same files sees.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .sqlident import bq


def _nanos_timestamp_columns(path: str) -> list[str]:
    import pyarrow.parquet as pq

    # A directory of part files shares one schema; one footer suffices.
    import glob
    import os

    target = path
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        target = parts[0]
    schema = pq.ParquetFile(target).schema_arrow
    out = []
    for field in schema:
        t = field.type
        if str(t).startswith("timestamp[ns"):
            out.append(field.name)
    return out


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read ``{sf_dir}/{name}.parquet`` with nanos→micros timestamp repair.

    Works under any caller-provided SparkSession: the nanos-as-long legacy
    conf is runtime-settable, so set it here rather than relying on session
    construction (the verification driver builds its own plain session).
    """
    path = f"{sf_dir}/{name}.parquet"
    nanos_cols = _nanos_timestamp_columns(path)
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for col in nanos_cols:
        if col in df.columns:
            # integer div: epoch-nanos (~1.7e18) overflow double precision
            df = df.withColumn(col, F.timestamp_micros(F.expr(f"{bq(col)} div 1000")))
    return df


# --- JDBC sources -----------------------------------------------------------
#
# The reference reads SQLite in-process; the Spark-native equivalent for a
# live relational source is the JDBC reader with keyset-style partitioning
# (BASELINE "Structured Streaming + JDBC source"). Spark ships no SQLite
# JDBC driver, so tests exercise these against embedded Derby — the code
# path is driver-agnostic.


def read_jdbc_partitioned(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str,
    num_partitions: int = 8,
    lower: int | None = None,
    upper: int | None = None,
    driver: str | None = None,
) -> DataFrame:
    """Partition-parallel JDBC scan.

    The reference's keyset pagination (``triggers.go:539-568``) exists to
    bound single-connection reads; on Spark the same idea becomes
    ``partitionColumn/lowerBound/upperBound/numPartitions`` — N concurrent
    range-bounded connections. Bounds are discovered with one min/max
    query when not given (metadata-cheap, like the reference's schema
    pragmas). Filters on the partition column push into each connection's
    WHERE clause.
    """
    reader = spark.read.format("jdbc").option("url", url)
    if driver:
        reader = reader.option("driver", driver)
    if lower is None or upper is None:
        bounds = (
            spark.read.format("jdbc")
            .option("url", url)
            .option(
                "dbtable",
                f"(SELECT MIN({partition_column}) AS lo, "
                f"MAX({partition_column}) AS hi FROM {table}) b",
            )
        )
        if driver:
            bounds = bounds.option("driver", driver)
        row = bounds.load().first()
        lower = row.LO if hasattr(row, "LO") else row.lo
        upper = row.HI if hasattr(row, "HI") else row.hi
        if lower is None:  # empty table
            lower, upper = 0, 0
    return (
        reader.option("dbtable", table)
        .option("partitionColumn", partition_column)
        .option("lowerBound", str(lower))
        .option("upperBound", str(max(upper, lower + 1)))
        .option("numPartitions", str(num_partitions))
        .load()
    )


def jdbc_poll_increment(
    spark: SparkSession,
    url: str,
    table: str,
    id_col: str,
    after_id: int,
    driver: str | None = None,
) -> DataFrame:
    """One incremental poll: rows with ``id_col > after_id`` — the JDBC
    rendition of the reference's ordered drain predicate
    (``triggers.go:167``). Drive it from a scheduler/foreachBatch loop and
    land increments in the parquet log dir; the committed max id is the
    offset (ack without deletes).
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option(
            "dbtable",
            f"(SELECT * FROM {table} WHERE {id_col} > {int(after_id)}) inc",
        )
    )
    if driver:
        reader = reader.option("driver", driver)
    return reader.load()


def load_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV source. An EXPLICIT schema is strongly preferred at scale:
    ``inferSchema`` runs a whole extra pass over the data just to guess
    types (at 100 TB that is a second full scan). With a schema the read
    is single-pass and malformed rows land in ``_corrupt_record`` under
    the default PERMISSIVE mode instead of failing the job.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def load_json_lines(
    spark: SparkSession, path: str, schema=None, **options
) -> DataFrame:
    """JSON-lines source — the change log's native interchange format
    (each line one change object, mirroring the reference's JSON sink,
    handlers/debug.go). Same explicit-schema rule as CSV: schemaless JSON
    reads cost an inference pass and type-widen unpredictably.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_log_evolving(spark: SparkSession, log_dir: str) -> DataFrame:
    """Read a parquet change-log directory whose files were written under
    EVOLVING schemas (columns added over time — the CDC reality the
    reference cannot see: its dbMeta is frozen at construction,
    /root/reference/dbmeta.go:12-91 + triggers.go:68-71).

    ``mergeSchema`` unions all file footers' schemas; files missing a
    column read it as NULL. Cost note: merging reads every footer up
    front — for a long-lived log, compact or pin the schema once it
    stabilizes rather than paying the merge on every read.
    """
    return spark.read.option("mergeSchema", "true").parquet(log_dir)
