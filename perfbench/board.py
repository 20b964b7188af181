"""The two board workloads: registry lines forced with the noop sink.

``board_build`` takes lines whose driver-side construction (Python,
Catalyst, eager ``localCheckpoint`` jobs) outweighs execution;
``board_exec`` takes lines whose execution (kernels, shuffles, Python
workers) outweighs construction. README.md gives the per-line table the
split was read from.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

from common import median

HERE = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")

LINES = {
    # construction ≈ 88 % of a warm pass: an iterative graph kernel that
    # checkpoints every round and a k-pick loop that collects per pick
    "board_build": [
        "b30_bellman_ford",
        "b28_kcenter_diversity",
    ],
    # execution ≈ 80 % of a warm pass: MinHash-LSH in its production hash
    # and the three Python-worker modes (applyInPandas state machine,
    # mapInPandas decode, pandas_udf + mapInArrow)
    "board_exec": [
        "b19_minhash_xxh64",
        "b23_stateful_udf",
        "b22_image_resize",
        "b23_arrow_parity",
    ],
}

#: Untimed passes between the check pass and the timed ones. The run's
#: JVM is fresh, and pass times fall by about a third over the first four
#: passes after the check pass as the JIT warms (measured on a 4-core box).
WARM_PASSES = 2
#: One timed pass per this many seconds of ``--seconds``, and never fewer
#: than ``MIN_PASSES``. The count, not a deadline, bounds the run, so every
#: run does the same work: pass times still fall over the first passes as
#: the JIT warms, and a deadline would let a fast run reach a warmer state.
SECONDS_PER_PASS = 3
MIN_PASSES = 3


def registry() -> dict:
    """Line name → builder, from the public registry plus the bench-only
    production-hash variant."""
    import __spark_entry__
    import bench

    return {**__spark_entry__.queries(), **bench.EXTRA}


def digest(df) -> dict:
    """Row count and the order-insensitive canonical value hash the
    oracle gate uses."""
    from tools.check_oracle import value_hash

    rows = [tuple(r) for r in df.collect()]
    return {"rows": len(rows), "hash": value_hash(df.columns, rows)}


def prepare(workload: str, seed: int, work: str) -> dict:
    """Inputs for one run: the line order is the seed's permutation."""
    lines = list(LINES[workload])
    random.Random(seed).shuffle(lines)
    with open(EXPECTED) as f:
        expected = json.load(f)
    return {"lines": lines, "builders": registry(), "expected": expected}


def run(spark, inputs: dict, seconds: float, tracer, log) -> dict:
    lines = inputs["lines"]
    builders = inputs["builders"]
    expected = inputs["expected"]
    sc = spark.sparkContext

    # check pass: every line's output against its expected digest. It is
    # outside the timed window and doubles as the warm-up (codegen, JIT).
    failed = []
    t0 = time.monotonic()
    for name in lines:
        try:
            got = digest(builders[name](spark, DATA_DIR))
        except Exception as e:  # noqa: BLE001 — a raising line is a failure
            log(f"line {name} raised: {e!r}")
            got = None
        if got != expected.get(name):
            log(f"line {name}: got {got}, expected {expected.get(name)}")
            failed.append(name)
    check_s = time.monotonic() - t0

    # warm passes, then timed ones; a traced run interleaves traced and
    # untraced timed passes (T U U T ...: a linear warm-up trend cancels)
    # so that the difference is the tracing overhead
    passes: list[tuple[bool, float]] = []
    per_line: dict[str, list[float]] = {name: [] for name in lines}
    layer = {"construct.s": [], "exec.s": [], "construct.py4j_calls": [],
             "exec.py4j_calls": [], "catalyst.analysis_ms": [],
             "catalyst.optimization_ms": [], "catalyst.planning_ms": []}
    n_passes = max(MIN_PASSES, int(seconds // SECONDS_PER_PASS)) + tracer.traced
    for i in range(-WARM_PASSES, n_passes):
        warm = i < 0
        tracer.enabled = tracer.traced and not warm and i % 4 in (0, 3)
        sums = dict.fromkeys(layer, 0.0)
        p0 = time.monotonic()
        for name in lines:
            with tracer.span("line", line=name) as s_line:
                if tracer.traced:
                    sc.setJobGroup(
                        f"{name}:construct" if tracer.enabled else "untraced", name
                    )
                with tracer.span("construct", line=name) as s_c:
                    df = builders[name](spark, DATA_DIR)
                if tracer.enabled:
                    with tracer.span("catalyst", line=name):
                        qe = df._jdf.queryExecution()
                        qe.executedPlan()  # forces optimization + planning
                        phases = qe.tracker().phases()
                        for k in ("analysis", "optimization", "planning"):
                            opt = phases.get(k)
                            if opt.isDefined():
                                sums[f"catalyst.{k}_ms"] += opt.get().durationMs()
                    sc.setJobGroup(f"{name}:exec", name)
                with tracer.span("exec", line=name) as s_e:
                    df.write.format("noop").mode("overwrite").save()
            if warm:
                continue
            per_line[name].append(s_line.seconds)
            sums["construct.s"] += s_c.seconds
            sums["exec.s"] += s_e.seconds
            sums["construct.py4j_calls"] += s_c.py4j
            sums["exec.py4j_calls"] += s_e.py4j
        if warm:
            continue
        passes.append((tracer.enabled, time.monotonic() - p0))
        if tracer.enabled:
            for k, v in sums.items():
                layer[k].append(v)
    tracer.enabled = tracer.traced

    # the fastest of the timed passes: they are still warming, and a busy
    # host only ever slows a pass, so the minimum is the estimate that
    # host load moves least (ten busy-host runs spread 0.19 on min, 0.26
    # on median)
    traced = [s for on, s in passes if on]
    untraced = [s for on, s in passes if not on]
    # a line's latency is its fastest timed run; the geometric mean over
    # lines moves by the share any one line saves
    line_ms = {name: min(v) * 1000 for name, v in per_line.items()}
    return {
        "attempted": len(lines) * (1 + WARM_PASSES + len(passes)),
        "failed": len(failed),
        "wall_s": min(untraced),
        "latency_ms": statistics.geometric_mean(line_ms.values()),
        "report": {"line_ms": line_ms, "timed_passes": len(passes)},
        "traced_units": sum(on for on, _ in passes),
        "layers": {
            **{k: median(v) for k, v in layer.items()},
            "trace.overhead_s": min(traced) - min(untraced) if traced else 0.0,
        },
        "detail": {"lines": lines, "failed_lines": failed,
                   "check_pass_s": check_s, "passes_s": passes,
                   "line_s": per_line},
    }
