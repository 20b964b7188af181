"""Shared pieces of the benchmark: statistics, spans, the py4j call
counter, Spark event-log reading, peak RSS and the session set-up.

Nothing here starts a thread, a process or a JVM at import time.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time


def median(values):
    s = sorted(values)
    if not s:
        return 0.0
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def pct(values, p):
    """Nearest-rank percentile (``p`` in 0..100); 0.0 for no samples."""
    s = sorted(values)
    if not s:
        return 0.0
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent) plus the py4j call
    counter. ``traced`` is fixed for the run; ``enabled`` is switched off
    for the untraced units a traced run interleaves to measure the
    tracing overhead. Spans are only recorded while ``enabled``."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.enabled = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j_calls = 0
        if traced:
            self._hook_py4j()

    def _hook_py4j(self) -> None:
        # every py4j round-trip goes through ClientServerConnection
        # .send_command (pinned-thread mode, the PySpark default)
        import threading

        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self
        lock = threading.Lock()  # the stream and follow threads call too

        def counting(conn, *a, **kw):
            with lock:
                tracer.py4j_calls += 1
            return orig(conn, *a, **kw)

        ClientServerConnection.send_command = counting

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (another thread, a listener)."""
        if self.enabled:
            self.spans.append(
                {"name": name, "start": start, "end": end, "parent": None, **attrs}
            )

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its direct
        children cover, in seconds."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[i]
            )
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.t = tracer
        self.name = name
        self.attrs = attrs
        self.py4j = 0

    def __enter__(self):
        self.start = time.time()
        self.c0 = self.t.py4j_calls
        self.recorded = self.t.enabled
        if self.recorded:
            self.idx = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append(
                {"name": self.name, "start": self.start, "end": None,
                 "parent": parent, **self.attrs}
            )
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        self.end = time.time()
        self.seconds = self.end - self.start
        self.py4j = self.t.py4j_calls - self.c0
        if self.recorded:
            self.t._stack.pop()
            self.t.spans[self.idx]["end"] = self.end
            self.t.spans[self.idx]["py4j_calls"] = self.py4j
        return False


# --- Spark event log --------------------------------------------------------


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Job/stage/task totals per job group from the newest finished event
    log in ``log_dir``. Groups are whatever ``setJobGroup`` named them."""
    files = [p for p in glob.glob(os.path.join(log_dir, "*"))
             if not p.endswith(".inprogress")]
    if not files:
        return {}
    path = max(files, key=os.path.getmtime)
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def bucket(group: str) -> dict[str, float]:
        return out.setdefault(group, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "spill_bytes": 0, "python_s": 0.0, "job_s": 0.0,
        })

    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "other"
                b = bucket(group)
                b["jobs"] += 1
                job_group[ev["Job ID"]] = group
                job_start[ev["Job ID"]] = ev.get("Submission Time", 0)
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = group
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_start:
                    bucket(job_group[jid])["job_s"] += (
                        ev.get("Completion Time", 0) - job_start[jid]
                    ) / 1000
            elif kind == "SparkListenerStageCompleted":
                sid = ev["Stage Info"]["Stage ID"]
                bucket(stage_group.get(sid, "other"))["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                b = bucket(stage_group.get(ev.get("Stage ID"), "other"))
                m = ev.get("Task Metrics") or {}
                b["tasks"] += 1
                b["task_s"] += m.get("Executor Run Time", 0) / 1000
                b["gc_s"] += m.get("JVM GC Time", 0) / 1000
                sw = m.get("Shuffle Write Metrics") or {}
                b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                b["shuffle_read_bytes"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                b["spill_bytes"] += m.get("Disk Bytes Spilled", 0) + m.get(
                    "Memory Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    # Python-UDF nodes (ArrowEvalPython, MapInPandas,
                    # FlatMapGroupsInPandas, ...) report worker time as an
                    # SQL timing metric in ms
                    if acc.get("Name") == "time to run Python workers":
                        b["python_s"] += float(acc.get("Update", 0)) / 1000
    return out


# --- process ----------------------------------------------------------------


def peak_rss_mb(pids) -> float:
    """Sum of VmHWM (peak resident set) over ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024


_TICK = os.sysconf("SC_CLK_TCK")


def stolen_cpu_s() -> float:
    """CPU seconds the host has taken from this VM since boot (the steal
    column of ``/proc/stat``): a busy host slows every wall-clock metric."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def jvm_pid(spark) -> int | None:
    """PID of the JVM the PySpark gateway launched (a child of this
    process)."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def versions(spark) -> dict:
    import platform
    import sqlite3

    return {
        "nproc": os.cpu_count(),
        "spark": spark.version,
        "python": platform.python_version(),
        "sqlite": sqlite3.sqlite_version,
    }


def source_id(root: str) -> str:
    """The git sha when the checkout is a repository, else a digest of the
    program's Python sources (benchmark checkouts are plain trees)."""
    import hashlib
    import subprocess

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    if sha:
        return sha
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, root)
        if rel.startswith("perfbench"):
            continue
        h.update(rel.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return "tree-" + h.hexdigest()[:16]


# --- session ----------------------------------------------------------------


def start_session(cpus: int):
    """A session on ``local[cpus]`` with the JVM and the Python worker
    pool warmed, as ``bench.py`` warms them."""
    from sqlite_cdc_spark.session import get_spark

    def _warm_workers(batches):  # nested: pickled by value for the workers
        import numpy as np  # noqa: F401 — the heavy worker imports

        for b in batches:
            yield b

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    (
        spark.range(64, numPartitions=cpus)
        .mapInPandas(_warm_workers, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    return spark
