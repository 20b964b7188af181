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
