"""Change-log source and drain (SURVEY.md §2 A10-A12, B3, B4).

The reference drains its trigger-fed ``__cdc_log`` with
``SELECT id,timestamp,tablename,operation,before,after FROM log
ORDER BY id ASC LIMIT ?`` in a loop, delivering one ordered batch at a time
(``/root/reference/triggers.go:164-223``).

Spark-first design: any append-only table (parquet dir, Delta, JDBC-polled
table) *is* the log. Batch reads get the ordered-drain parity operators
below; live consumption is Structured Streaming
(:mod:`sqlite_cdc_spark.streaming`), where ``id`` plays the offset role and
checkpointing replaces the reference's ack-by-delete
(``triggers.go:209-221``).

The driver fixture ``events`` stands in for a populated log (FIXTURES.md §2):
``event_id``→id, ``ts``→timestamp, ``event_type``→operation-ish,
``props``/``value``→image payload.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import (
    OP_DELETE,
    OP_INSERT,
    decode_operation,
)


def events_as_changes(events: DataFrame, tablename: str = "events") -> DataFrame:
    """Normalize the ``events`` fixture into the canonical change log.

    Deterministic mapping (the fixture's event taxonomy → CDC operations):
    ``signup``→INSERT, ``error``→DELETE, everything else (click/view/
    purchase)→UPDATE. Image-presence invariants follow the trigger SQL
    (``/root/reference/triggers.go:420-437``): INSERT has no before, DELETE
    has no after, UPDATE has both. The before image for UPDATE/DELETE is the
    key-only image (the fixture records no prior state); the after image
    carries (user_id, event_type, value, props).

    Narrow projection — no shuffle; stays in whole-stage codegen.
    """
    op = (
        F.when(F.col("event_type") == "signup", F.lit(OP_INSERT))
        .when(F.col("event_type") == "error", F.lit(OP_DELETE))
        .otherwise(F.lit("UPDATE"))
    )
    after_img = F.to_json(
        F.struct(
            F.col("user_id"),
            F.col("event_type"),
            F.col("value"),
            F.col("props"),
        )
    )
    before_img = F.to_json(F.struct(F.col("user_id")))
    return events.select(
        F.col("event_id").alias("id"),
        F.lit(tablename).alias("tablename"),
        F.col("ts").alias("timestamp"),
        op.alias("operation"),
        F.when(op != OP_INSERT, before_img).alias("before"),
        F.when(op != OP_DELETE, after_img).alias("after"),
    )


def drain_batch(
    log: DataFrame, batch_size: int, after_id: int | None = None
) -> DataFrame:
    """One ordered drain batch: ``[WHERE id > ?] ORDER BY id ASC LIMIT n``.

    Parity with ``drainChanges`` (``/root/reference/triggers.go:164-223``,
    query at ``:167``); ``after_id`` replaces the reference's destructive
    ack-delete with a monotone low-watermark (at-least-once, log retained).

    Catalyst plans the limit as a distributed top-k (TakeOrderedAndProject)
    and pushes ``id > ?`` into the scan — no full sort at any scale.
    """
    df = log if after_id is None else log.filter(F.col("id") > F.lit(after_id))
    return df.orderBy(F.col("id").asc()).limit(batch_size)


def change_stats(
    changes: DataFrame, bucket: str = "hour", ts_col: str = "timestamp"
) -> DataFrame:
    """Change-rate statistics: counts per table × operation × time bucket
    (SURVEY §2 B3 — ops dashboarding of the feed).

    Partial (map-side) aggregation + single shuffle on the group keys;
    bucket cardinality is bounded so the shuffle is tiny at any scale.
    """
    return (
        changes.groupBy(
            F.col("tablename"),
            decode_operation("operation").alias("operation"),
            F.date_trunc(bucket, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.approx_count_distinct(F.col("id")).alias("approx_ids"),
        )
    )


def write_log_partitioned(
    changes: DataFrame, path: str, mode: str = "append"
) -> None:
    """Persist a change batch date-partitioned (``log_date=YYYY-MM-DD/``).

    The 100 TB log layout: retention GC becomes a partition drop (delete
    whole directories — no rewrite, contrast the reference's per-batch
    ``DELETE FROM log``, /root/reference/triggers.go:215), and any
    time-bounded read prunes to the touched dates at PLANNING time via
    partition discovery — verified by plan test (``PartitionFilters``).
    """
    (
        changes.withColumn("log_date", F.to_date("timestamp"))
        .write.partitionBy("log_date")
        .mode(mode)
        .parquet(path)
    )
