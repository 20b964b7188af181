"""Self-checks for the benchmark harness (not for the program).

    python3 perfbench/selfcheck.py

Run from the checkout root; takes a few minutes. It checks that:

1. each workload, run briefly, prints every end-to-end metric
   (``--trace 0``) or every per-layer metric (``--trace 1``) by name with
   its unit, with all outputs correct;
2. a corrupted expected digest makes a board line count as failed;
3. a row dropped from the cdc sink counts as failed;
4. a directory holding only the benchmark exits non-zero without a
   result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = os.path.join(HERE, "run.py")


def run_bench(workload: str, seconds: float, trace: int, cwd: str = ROOT):
    proc = subprocess.run(
        [sys.executable, RUN if cwd == ROOT else os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return proc.returncode, result, proc.stderr


def check(ok: bool, what: str, failures: list) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        failures.append(what)


def check_metrics(failures: list) -> None:
    import run

    for workload in run.WORKLOADS:
        for trace, want in ((0, run.END_TO_END), (1, run.PER_LAYER)):
            rc, res, err = run_bench(workload, 5, trace)
            got = (res or {}).get("metrics", {})
            names = {k: v.get("unit") for k, v in got.items()}
            check(rc == 0 and res is not None and res["correct"]
                  and res["failed"] == 0 and res["attempted"] > 0,
                  f"{workload} --trace {trace}: exit 0, correct", failures)
            check(names == want, f"{workload} --trace {trace}: every metric "
                  "named with its unit", failures)
            check(all(isinstance(v.get("value"), (int, float)) for v in got.values()),
                  f"{workload} --trace {trace}: every value a number", failures)
            if rc != 0:
                print(err[-2000:], file=sys.stderr)


def check_corrupt_digest(failures: list) -> None:
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    import board
    import common
    import run

    run.prepare_env(os.path.join(run.WORK, "selfcheck"), None)
    spark = common.start_session(2)
    try:
        inputs = board.prepare("board_exec", 0, None)
        name = inputs["lines"][0]
        bad = dict(inputs["expected"])
        bad[name] = {**bad[name], "hash": "0" * 64}
        res = board.run(spark, {**inputs, "expected": bad}, 0,
                        common.Tracer(False), lambda m: None)
    finally:
        run.stop_jvm(spark)
    check(res["failed"] == 1 and res["detail"]["failed_lines"] == [name],
          "a corrupted expected digest fails its line", failures)


def check_dropped_sink_row(failures: list) -> None:
    import pyarrow.parquet as pq

    import cdc

    rc, res, _ = run_bench("cdc", 5, 0)
    work = max(glob.glob(os.path.join(HERE, ".work", "cdc-7-*")), key=os.path.getmtime)
    with open(os.path.join(work, "result.json")) as f:
        committed = json.load(f)["detail"]["check"]["committed"]
    sink = os.path.join(work, "sink")
    pages = cdc.page_rows(os.path.join(work, "log"))
    db = os.path.join(work, "app.db")
    failed, _, _ = cdc.check_outputs(db, sink, pages, committed, lambda m: None)
    check(rc == 0 and failed == 0, "cdc run before the drop is clean", failures)
    part = sorted(p for p in glob.glob(os.path.join(sink, "*.parquet"))
                  if pq.read_metadata(p).num_rows > 1)[0]
    table = pq.read_table(part)
    pq.write_table(table.slice(1), part)
    failed, _, check_ = cdc.check_outputs(db, sink, pages, committed, lambda m: None)
    check(failed >= 1 and check_["missing"] == 1,
          "a row dropped from the sink fails", failures)


def check_missing_program(failures: list) -> None:
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    rc, res, _ = run_bench("board_exec", 5, 0, cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    check(rc != 0 and res is None, "without the program: non-zero exit, no "
          "result", failures)


def main() -> int:
    sys.path.insert(0, HERE)
    failures: list[str] = []
    check_missing_program(failures)
    check_metrics(failures)
    check_dropped_sink_row(failures)
    check_corrupt_digest(failures)
    print(f"{len(failures)} failed" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
