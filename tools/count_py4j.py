"""Deterministic construction-cost instrument for the optimization rounds.

Counts py4j round-trips (``ClientServerConnection.send_command`` calls)
and wall seconds for (a) DataFrame CONSTRUCTION — ``fn(spark, sf_dir)``,
which pays driver-side py4j traffic, eager analysis, and any eager
checkpoint/collect jobs of iterative kernels — and (b) EXECUTION — the
noop-sink write — separately, per bench board line.

The call count is noise-free (it does not depend on box load), so it is
the instrument of record for driver-boundary claims (guide §4 applied to
the driver side); the seconds are indicative only on this elastic box.

Usage::

    python tools/count_py4j.py [name ...]     # default: all board lines
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402
import bench  # noqa: E402
from sqlite_cdc_spark.session import get_spark  # noqa: E402

from py4j.clientserver import ClientServerConnection  # noqa: E402

_COUNT = {"n": 0}
_orig_send = ClientServerConnection.send_command


def _counting_send(self, *a, **kw):
    _COUNT["n"] += 1
    return _orig_send(self, *a, **kw)


ClientServerConnection.send_command = _counting_send


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("py4j-count")
    bench.warm_up(spark)

    queries = entry.queries()
    names = sys.argv[1:] or bench.HEADLINE
    out = {}
    total_calls = 0
    for name in names:
        fn = bench.EXTRA.get(name) or queries.get(name)
        if fn is None:
            print(f"# unknown line: {name}", file=sys.stderr)
            return 2
        spark.sparkContext.setJobDescription(f"py4j:{name}")
        c0, t0 = _COUNT["n"], time.monotonic()
        df = fn(spark, sf_dir)
        c1, t1 = _COUNT["n"], time.monotonic()
        df.write.format("noop").mode("overwrite").save()
        c2, t2 = _COUNT["n"], time.monotonic()
        out[name] = {
            "build_calls": c1 - c0,
            "build_sec": round(t1 - t0, 3),
            "exec_calls": c2 - c1,
            "exec_sec": round(t2 - t0 - (t1 - t0), 3),
        }
        total_calls += c2 - c0
        print(f"{name}: {json.dumps(out[name])}", file=sys.stderr)
    print(json.dumps({"lines": out, "total_calls": total_calls}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
