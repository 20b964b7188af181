"""Benchmark entry point for the sqlite_cdc_spark engine.

    python3 perfbench/run.py --workload {board_build,board_exec,cdc} \\
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. It sets up a Spark session on
``local[nproc]``, runs the workload for about ``--seconds``, checks
every output, and prints one JSON line last on stdout:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. The exit code
is 0 only when every output was correct; a checkout without the program
exits 2 without a result. A readable report goes to stderr, and spans,
results and scratch files under ``perfbench/.work/``.
"""

from __future__ import annotations

import time

T0 = time.monotonic()  # process start, as near as Python gets

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
WORKLOADS = ("board_build", "board_exec", "cdc")
#: The driver heap cap. The inputs need far less than the program's 8 GB
#: default, and under that default the JVM grows its heap as the
#: collector sees fit, which made peak RSS vary from 2.5 to 3.9 GB
#: between runs of one workload.
DRIVER_MEM = "1g"

#: name → unit; printed with --trace 0. A cdc run has about 20 latency
#: samples, too few for a percentile above the median to have ten samples
#: beyond it, so p90 goes to stderr and result.json only, with the p50.
END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_ms": "ms",
    "peak_rss_mb": "MB",
}

#: name → unit; printed with --trace 1. A layer the workload does not
#: touch reads 0 (the boards never reach the bridge, stream or sink).
PER_LAYER = {
    "construct.s": "s",
    "construct.py4j_calls": "count",
    "construct.jobs": "count",
    "construct.job_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.s": "s",
    "exec.py4j_calls": "count",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.busy_share": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.gc_s": "s",
    "pyworker.udf_s": "s",
    "capture.commit_ms_p50": "ms",
    "capture.commit_ms_p90": "ms",
    "capture.rows_per_s": "rows/s",
    "poll.s": "s",
    "poll.calls": "count",
    "poll.call_ms_p50": "ms",
    "poll.pages": "count",
    "poll.rows_per_page": "rows",
    "poll.backlog_rows_max": "rows",
    "stream.batches": "count",
    "stream.rows_per_batch_p50": "rows",
    "stream.trigger_ms_p50": "ms",
    "stream.trigger_ms_p90": "ms",
    "stream.latest_offset_ms_p50": "ms",
    "stream.query_planning_ms_p50": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.wal_commit_ms_p50": "ms",
    "stream.admit_wait_ms_p50": "ms",
    "stream.file_backlog_max": "count",
    "sink.write_ms_p50": "ms",
    "sink.batches": "count",
    "sink.replays": "count",
    "gen.late_p99_ms": "ms",
    "trace.overhead_s": "s",
}


def program_present() -> bool:
    return all(
        os.path.isfile(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "bench.py", "sqlite_cdc_spark/__init__.py",
                  "sqlite_cdc_spark/session.py", "tools/check_oracle.py")
    )


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait for
    it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — a JVM that ignores EOF is killed
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_env(work: str, events_dir: str | None) -> None:
    """Scratch, temp and Spark settings for a session started after this
    call; ``events_dir`` set turns on the event log (the traced run)."""
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")  # keeps every temp file in the checkout
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # SPARK_SUBMIT_OPTS reaches the driver JVM; its spark.* system
    # properties are read into the SparkConf at start-up
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    opts = [os.environ.get("SPARK_SUBMIT_OPTS", ""), f"-Djava.io.tmpdir={tmp}"]
    if events_dir is not None:
        shutil.rmtree(events_dir, ignore_errors=True)
        os.makedirs(events_dir)
        opts += ["-Dspark.eventLog.enabled=true", f"-Dspark.eventLog.dir={events_dir}",
                 "-Dspark.eventLog.rolling.enabled=false", "-Dspark.eventLog.compress=false"]
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(opts).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def event_layers(workload: str, events: dict, per: int, cores: int, exec_s: float) -> dict:
    """``construct.*`` and ``exec.*`` from the event log, per timed unit."""
    def total(pick):
        out: dict[str, float] = {}
        for group, b in events.items():
            if pick(group):
                for k, v in b.items():
                    out[k] = out.get(k, 0) + v
        return {k: v / per for k, v in out.items()}

    if workload == "cdc":  # stream jobs run under their query's run id
        con = {}
        ex = total(lambda g: g not in ("other", "untraced"))
    else:
        con = total(lambda g: g.endswith(":construct"))
        ex = total(lambda g: g.endswith(":exec"))
    task_s = ex.get("task_s", 0.0)
    return {
        "construct.jobs": con.get("jobs", 0),
        "construct.job_s": con.get("job_s", 0.0),
        "exec.jobs": ex.get("jobs", 0),
        "exec.stages": ex.get("stages", 0),
        "exec.tasks": ex.get("tasks", 0),
        "exec.task_s": task_s,
        "exec.busy_share": task_s / (exec_s * cores) if exec_s else 0.0,
        "exec.shuffle_write_bytes": ex.get("shuffle_write_bytes", 0),
        "exec.shuffle_read_bytes": ex.get("shuffle_read_bytes", 0),
        "exec.spill_bytes": ex.get("spill_bytes", 0),
        "exec.gc_s": ex.get("gc_s", 0.0),
        "pyworker.udf_s": ex.get("python_s", 0.0),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not program_present():
        log(f"the program is not in {ROOT}: nothing to benchmark")
        return 2
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    events_dir = os.path.join(WORK, "events")
    prepare_env(work, events_dir if args.trace else None)
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)

    import common

    if args.workload == "cdc":
        import cdc as mod
    else:
        import board as mod

    cores = len(os.sched_getaffinity(0))
    tracer = common.Tracer(bool(args.trace))
    spark = common.start_session(cores)
    inputs = mod.prepare(args.workload, args.seed, work)
    setup_s = time.monotonic() - T0
    info = {**common.versions(spark), "cores_used": cores,
            "source": common.source_id(ROOT), "workload": args.workload,
            "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
            "setup_s": setup_s}
    log(f"setup {setup_s:.2f} s on local[{cores}]; {json.dumps(info)}")

    stolen0, t_run = common.stolen_cpu_s(), time.monotonic()
    try:
        res = mod.run(spark, inputs, args.seconds, tracer, log)
        rss = common.peak_rss_mb([os.getpid(), common.jvm_pid(spark)])
    finally:
        stop_jvm(spark)  # also flushes the event log
    steal_share = (common.stolen_cpu_s() - stolen0) / (
        os.cpu_count() * (time.monotonic() - t_run))

    metrics = {
        "setup_s": setup_s,
        "wall_s": res["wall_s"],
        "latency_ms": res["latency_ms"],
        "peak_rss_mb": rss,
    }
    report = {**metrics, **res["report"],
              "failed_share": res["failed"] / max(1, res["attempted"]),
              "host_steal_share": steal_share}
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0)
        layers.update(res.get("layers", {}))
        events = common.read_event_log(events_dir)
        layers.update(event_layers(
            args.workload, events, res.get("traced_units", 1), cores,
            layers["exec.s"],
        ))
        out_metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tracer.write(os.path.join(work, "spans.json"))
        report["self_s"] = tracer.self_times()
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}

    result = {"correct": res["failed"] == 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": out_metrics}
    with open(os.path.join(work, "result.json"), "w") as f:
        json.dump({"info": info, "report": report, "detail": res.get("detail"),
                   "result": result}, f, indent=1)
    for k, v in report.items():
        log(f"{k}: {v}")
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
