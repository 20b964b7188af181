"""Shared test helpers: change-feed invariants, snapshot equality, a
collecting sink and word shingles. They check the library's output; the
library itself does not call them."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sqlite_cdc_spark.model import OP_DELETE, OP_INSERT, OP_UPDATE
from sqlite_cdc_spark.pipeline.dedup import normalize_text


def validate_change_invariants(df: DataFrame) -> DataFrame:
    """Rows violating the image-presence rules (reference README.md:13-22,
    trigger SQL triggers.go:420-437): INSERT → before NULL & after set;
    DELETE → after NULL & before set; UPDATE → both set.

    Returns the offending rows (empty DataFrame == valid feed).
    """
    op = F.col("operation")
    ok = (
        ((op == OP_INSERT) & F.col("before").isNull() & F.col("after").isNotNull())
        | ((op == OP_DELETE) & F.col("after").isNull() & F.col("before").isNotNull())
        | ((op == OP_UPDATE) & F.col("before").isNotNull() & F.col("after").isNotNull())
    )
    return df.filter(~ok)


def snapshots_equal(a: DataFrame, b: DataFrame) -> bool:
    """Multiset equality of two snapshots via ``exceptAll`` both ways
    (SURVEY §2 B13) — the replication-correctness check."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def collecting_handler(store: list) -> Callable[[DataFrame, int], None]:
    """A ``deliver`` handler mirroring the reference's collecting
    ChangesHandler (``trigger_test.go:535-553``): appends (batch_id, rows)
    to ``store``."""

    def run(batch: DataFrame, batch_id: int) -> None:
        store.append((batch_id, batch.collect()))

    return run


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-grams (space-joined) of the normalized text."""
    c = normalize_text(col)
    toks = F.split(c, " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(k), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
    )
