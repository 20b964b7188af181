"""Delivery sinks (SURVEY.md §2 A18-A20).

The reference ships three handlers (``/root/reference/handlers/``):
simplified stdout, JSON stdout, and HTTP POST of ``{"changes":[...]}``.
Each is a function usable directly as a :meth:`StreamEngine.deliver`
handler (``foreachBatch`` signature) or applied to a batch DataFrame.

Delivery is driver-side by design — the reference's batches are small and
serialized (one in flight, ordered); fan-out happens upstream in Spark.
For high-volume HTTP fan-out, ``partitioned_http_handler`` posts from
executors via ``foreachPartition``.

The HTTP sinks are at-least-once. ``parquet_sink_handler`` lands an
exactly-once file set: each batch goes to a name fixed by the streaming
query's id and the batch id, so the replay of a batch whose offsets never
committed rewrites its own file instead of appending a second copy — a
replayable source plus an idempotent sink (Structured Streaming, SIGMOD
2018). A one-partition batch, every batch of a default
``maxFilesPerTrigger=1`` stream, is published from the driver as one
Arrow-written file by the same atomic rename ``poll_log`` uses.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame

from .model import change_json, simple_change_line
from .storage import publish_parquet, publish_partitions


def stdout_handler(batch: DataFrame, batch_id: int) -> None:
    """``"<ts>: <table> <OPERATION>"`` per change — parity with
    ``handlers/stdio.go:18-23``."""
    for row in batch.select(simple_change_line().alias("line")).collect():
        print(row.line)


def json_handler(batch: DataFrame, batch_id: int) -> None:
    """Full JSON per change — parity with ``handlers/debug.go:19-28``."""
    for row in batch.select(change_json(batch).alias("j")).collect():
        print(row.j)


def http_handler(url: str, timeout_s: float = 10.0) -> Callable[[DataFrame, int], None]:
    """POST each batch as ``{"changes": [...]}`` — parity with
    ``handlers/http.go:41-74``: non-2xx raises, which fault-stops the
    stream exactly like the reference's engine-stop contract. No retry,
    matching the reference (README.md:126-131).

    At-least-once: a batch whose offsets were not committed before a crash
    is posted again under the same id. Each POST carries that id in an
    ``X-Batch-Id`` header so the receiver can drop a repeat; the body is
    the reference's, unchanged.
    """
    import urllib.request

    def run(batch: DataFrame, batch_id: int) -> None:
        changes = [
            json.loads(r.j) for r in batch.select(change_json(batch).alias("j")).collect()
        ]
        body = json.dumps({"changes": changes}).encode()
        req = urllib.request.Request(
            url,
            data=body,
            headers={"Content-Type": "application/json", "X-Batch-Id": str(batch_id)},
        )
        with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
            if not 200 <= resp.status < 300:
                raise RuntimeError(f"sink returned {resp.status}")

    return run


def partitioned_http_handler(
    url: str, timeout_s: float = 10.0
) -> Callable[[DataFrame, int], None]:
    """Executor-parallel HTTP delivery: each partition POSTs its own rows.

    Trades the reference's total-order guarantee for throughput — order
    holds within a partition only. Use for idempotent sinks at scale.

    At-least-once, like :func:`http_handler`, and more so: a retried task
    posts its partition again, so a receiver can see a partition's POST
    twice within one batch. Every POST carries the ``X-Batch-Id`` header.
    """

    def run(batch: DataFrame, batch_id: int) -> None:
        payload = batch.select(change_json(batch).alias("j"))

        def post(rows) -> None:
            import urllib.request

            changes = [json.loads(r.j) for r in rows]
            if not changes:
                return
            body = json.dumps({"changes": changes}).encode()
            req = urllib.request.Request(
                url,
                data=body,
                headers={"Content-Type": "application/json", "X-Batch-Id": str(batch_id)},
            )
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:  # noqa: S310
                if not 200 <= resp.status < 300:
                    raise RuntimeError(f"sink returned {resp.status}")

        payload.foreachPartition(post)

    return run


def parquet_sink_handler(path: str) -> Callable[[DataFrame, int], None]:
    """Land each batch in the parquet dataset ``path`` — the warehouse
    landing pattern — as an exactly-once file set.

    Each batch's files are named after ``batch-<queryId>-<batchId>``,
    where ``queryId`` is the streaming query's id (the local property
    ``sql.streaming.queryId``, the same across restarts of one
    checkpoint). The checkpoint commits a batch's offsets only after the
    handler returns, so a crash in between replays the batch under the
    same batch id; the replay rewrites the same names and every row lands
    once. A fresh checkpoint gets a new query id and never overwrites an
    older checkpoint's files. A direct call outside a stream has no query
    id and names the batch ``batch-<batchId>``.

    - A batch planned as at most one partition — every batch of a
      default ``maxFilesPerTrigger=1`` stream — is collected with
      ``toArrow()`` (one job, on the plan the partition count was read
      from) and published as ``<name>.parquet`` by
      :func:`~sqlite_cdc_spark.storage.publish_parquet`: written under a
      hidden temp name, fsynced, renamed into place, directory fsynced.
    - A batch of more partitions (a ``bootstrap_and_cdc`` snapshot,
      ``maxFilesPerTrigger > 1``) is never collected to the driver: Spark
      writes it, and :func:`~sqlite_cdc_spark.storage.publish_partitions`
      renames its part files into place as ``<name>-<k>.parquet``.

    Every file sits directly under ``path``, so ``spark.read.parquet(path)``
    and ``pyarrow.parquet.read_table(path)`` read the whole set. Either
    form removes what an earlier attempt at the same batch published and
    this one did not (the other form, or surplus parts), by name, without
    listing ``path``. ``path`` must be a local POSIX directory, where a
    rename is atomic — as ``poll_log``'s log directory already is.
    """

    def run(batch: DataFrame, batch_id: int) -> None:
        query_id = batch.sparkSession.sparkContext.getLocalProperty(
            "sql.streaming.queryId"
        )
        name = f"batch-{query_id}-{batch_id}" if query_id else f"batch-{batch_id}"
        os.makedirs(path, exist_ok=True)
        if batch._jdf.queryExecution().toRdd().getNumPartitions() <= 1:
            publish_parquet(batch.toArrow(), path, name + ".parquet")
            k = 0
        else:
            k = publish_partitions(batch, path, name)
            _remove(os.path.join(path, name + ".parquet"))
        # an earlier attempt published its parts in order: they end at the
        # first missing k
        while _remove(os.path.join(path, f"{name}-{k}.parquet")):
            k += 1

    return run


def _remove(p: str) -> bool:
    try:
        os.remove(p)
    except FileNotFoundError:
        return False
    return True
