"""Bootstrap: snapshot-as-inserts (SURVEY.md §2 A2/A3/A6).

The reference bootstraps by scanning each table in primary-key order with
keyset pagination and emitting every row as a synthetic
``Change{op=INSERT, before=NULL, after=row}``
(``/root/reference/triggers.go:225-321``).

Spark-first design: pagination is a *single-node artifact* — the scale path
is one partitioned columnar scan projected to the canonical change schema
(one narrow map stage, no shuffle, no driver loop). The keyset operators
(:func:`snapshot_first_page`, :func:`snapshot_next_page`) are kept as parity
operators: they are exactly the reference's generated SQL
(``sqlSelectFirst``/``sqlSelectNext``, ``triggers.go:520-568``) re-expressed
declaratively, and they remain useful for bounded "give me a page" serving.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .model import OP_INSERT, row_image


def snapshot_as_inserts(
    df: DataFrame,
    table_name: str,
    timestamp: Column | None = None,
    blob_support: bool = False,
) -> DataFrame:
    """Emit every row of ``df`` as a synthetic INSERT change.

    Parity: ``bootstrapTable`` emit loop ``/root/reference/triggers.go:253-265``
    (op=INSERT, before=NULL, after=JSON row image, client-clock timestamp
    ``triggers.go:262``).

    Scale: narrow projection over the source scan — no shuffle, no ordering
    requirement (the reference only orders to make pagination possible).
    Pass ``timestamp`` (e.g. ``F.lit(...)``) for deterministic tests; the
    default mirrors the reference's wall-clock.
    """
    ts = timestamp if timestamp is not None else F.current_timestamp()
    return df.select(
        F.lit(table_name).alias("tablename"),
        ts.alias("timestamp"),
        F.lit(OP_INSERT).alias("operation"),
        F.lit(None).cast("string").alias("before"),
        row_image(df, blob_support=blob_support).alias("after"),
    )


def bootstrap_tables(
    tables: dict[str, DataFrame],
    timestamp: Column | None = None,
    blob_support: bool = False,
) -> DataFrame:
    """Bootstrap several tables into one change feed.

    The reference loops tables sequentially (``triggers.go:233-240``); on
    Spark the union is a single job and the scheduler parallelizes scans.
    """
    parts = [
        snapshot_as_inserts(df, name, timestamp=timestamp, blob_support=blob_support)
        for name, df in tables.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- keyset pagination parity (triggers.go:520-568) -------------------------


def _key_tuple(keys: Sequence[str]) -> Column:
    return F.struct(*[F.col(k) for k in keys])


def snapshot_first_page(df: DataFrame, keys: Sequence[str], batch_size: int) -> DataFrame:
    """First page: ``ORDER BY key LIMIT n`` (``sqlSelectFirst``,
    ``/root/reference/triggers.go:520-537``).

    Catalyst plans this as TakeOrderedAndProject — a distributed top-k, not a
    global sort, so it stays cheap at any scale.
    """
    return df.orderBy(*[F.col(k).asc() for k in keys]).limit(batch_size)


def snapshot_next_page(
    df: DataFrame,
    keys: Sequence[str],
    last_key: Sequence,
    batch_size: int,
) -> DataFrame:
    """Next page: ``WHERE (k1,...) > (v1,...) ORDER BY key LIMIT n``
    (``sqlSelectNext``, ``/root/reference/triggers.go:539-568``) — keyset
    pagination, never OFFSET.

    The tuple comparison matches SQLite row-value ordering. Struct
    comparisons don't reach the parquet scan, so a redundant bound on the
    leading key (``k0 >= v0`` — implied by the tuple predicate) is added:
    that simple predicate IS pushable and prunes row groups via min/max
    stats, which is what makes keyset pages O(page) instead of O(table)
    on sorted/clustered storage.
    """
    last = F.struct(
        *[
            F.lit(v).cast(df.schema[k].dataType).alias(k)
            for k, v in zip(keys, last_key)
        ]
    )
    leading_bound = F.col(keys[0]) >= F.lit(last_key[0]).cast(
        df.schema[keys[0]].dataType
    )
    return (
        df.filter(leading_bound & (_key_tuple(keys) > last))
        .orderBy(*[F.col(k).asc() for k in keys])
        .limit(batch_size)
    )


def write_clustered(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    num_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Write a snapshot range-clustered and sorted by ``keys``.

    This is the storage layout that makes the keyset operators (A2/A3)
    O(page): ``repartitionByRange`` gives disjoint key ranges per file,
    ``sortWithinPartitions`` orders within, so parquet min/max stats let a
    ``k > last`` predicate prune to a single file and Spark's top-k stops
    early. The Spark-native stand-in for the reference's reliance on the
    SQLite PK index (``triggers.go:539-568``).
    """
    (
        df.repartitionByRange(num_files, *[F.col(k) for k in keys])
        .sortWithinPartitions(*[F.col(k) for k in keys])
        .write.mode(mode)
        .parquet(path)
    )


def iterate_pages(
    df: DataFrame, keys: Sequence[str], batch_size: int
) -> Iterator[list]:
    """Drive the keyset loop like the reference's ``bootstrapTable``
    (``triggers.go:283-320``): yields collected pages until short page.

    Driver-side by construction (it exists to serve bounded pages to a
    consumer); the scale path for full scans is :func:`snapshot_as_inserts`.
    """
    page = snapshot_first_page(df, keys, batch_size).collect()
    while page:
        yield page
        if len(page) < batch_size:
            return
        last = [page[-1][k] for k in keys]
        page = snapshot_next_page(df, keys, last, batch_size).collect()
