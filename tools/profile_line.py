"""Per-line profiler for the optimization rounds.

Times individual bench/registry lines with exactly the bench harness's
methodology (same session conf, same JVM + Python-worker warm-up, noop
sink) and optionally writes ``.explain("formatted")`` to
``plans/<tag>/<name>_<suffix>.txt`` so plan claims in OPTIMIZATION_r*.md
are checkable artifacts.

Usage::

    python tools/profile_line.py [--runs N] [--warmup W] \
        [--plan-dir plans/r17 --plan-suffix before] name [name ...]

Names resolve against bench.HEADLINE's EXTRA map first, then the full
``__spark_entry__.queries()`` registry, so both bench-only variants and
non-headline registry queries can be profiled.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from sqlite_cdc_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--warmup", type=int, default=1)
    ap.add_argument("--plan-dir", default=None)
    ap.add_argument("--plan-suffix", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile")
    bench.warm_up(spark)

    queries = entry.queries()
    out: dict[str, dict] = {}
    for name in args.names:
        fn = bench.EXTRA.get(name) or queries.get(name)
        if fn is None:
            print(f"# unknown line: {name}", file=sys.stderr)
            return 2
        if args.plan_dir and args.plan_suffix:
            os.makedirs(args.plan_dir, exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(
                args.plan_dir, f"{name}_{args.plan_suffix}.txt"
            )
            with open(path, "w") as f:
                f.write(plan)
            print(f"# plan -> {path}", file=sys.stderr)
        spark.sparkContext.setJobDescription(f"profile:{name}")
        samples = []
        for _ in range(args.runs + args.warmup):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        timed = samples[args.warmup:]
        med = sorted(timed)[len(timed) // 2]
        out[name] = {"median": med, "min": min(timed), "runs": samples}
        print(f"# {name}: median={med}s min={min(timed)}s {samples}",
              file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
