"""Delivery sinks (SURVEY.md §2 A18-A20).

The reference ships three handlers (``/root/reference/handlers/``):
simplified stdout, JSON stdout, and HTTP POST of ``{"changes":[...]}``.
Each is a function usable directly as a :meth:`StreamEngine.deliver`
handler (``foreachBatch`` signature) or applied to a batch DataFrame.

Delivery is driver-side by design — the reference's batches are small and
serialized (one in flight, ordered); fan-out happens upstream in Spark.
For high-volume HTTP fan-out, ``partitioned_http_handler`` posts from
executors via ``foreachPartition``.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import change_json, simple_change_line


def stdout_handler(batch: DataFrame, batch_id: int) -> None:
    """``"<ts>: <table> <OPERATION>"`` per change — parity with
    ``handlers/stdio.go:18-23``."""
    for row in batch.select(simple_change_line().alias("line")).collect():
        print(row.line)


def json_handler(batch: DataFrame, batch_id: int) -> None:
    """Full JSON per change — parity with ``handlers/debug.go:19-28``."""
    for row in batch.select(change_json(batch).alias("j")).collect():
        print(row.j)


def collecting_handler(store: list) -> Callable[[DataFrame, int], None]:
    """Test helper mirroring the reference's collecting ChangesHandler
    (``trigger_test.go:535-553``): appends (batch_id, rows) to ``store``."""

    def run(batch: DataFrame, batch_id: int) -> None:
        store.append((batch_id, batch.collect()))

    return run


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
    """Append each batch to a parquet dataset — the warehouse landing
    pattern. At-least-once: the checkpoint commits a batch's offsets only
    after the handler returns, so a crash between the append and that
    commit replays the batch under the same ``batch_id`` and its rows are
    appended twice. Consumers dedupe on ``id``."""

    def run(batch: DataFrame, batch_id: int) -> None:
        batch.write.mode("append").parquet(path)

    return run
