"""Regenerate ``expected.json``: the row count and canonical value hash of
every board line on ``data/``, each cross-checked against its DuckDB
oracle (``__spark_entry__.oracle_sql()``) where one exists.

    python3 perfbench/make_expected.py

Run from the checkout root. It refuses to write when any line disagrees
with its oracle.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    os.chdir(ROOT)
    sys.path.insert(1, ROOT)
    import duckdb

    import __spark_entry__
    import board
    import common
    import run
    from tools.check_oracle import TABLES, value_hash

    run.prepare_env(os.path.join(run.WORK, "make_expected"), None)

    spark = common.start_session(len(os.sched_getaffinity(0)))
    builders = board.registry()
    oracles = __spark_entry__.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(board.DATA_DIR, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")

    expected, bad = {}, []
    for name in sorted({n for lines in board.LINES.values() for n in lines}):
        got = board.digest(builders[name](spark, board.DATA_DIR))
        note = "no oracle"
        if name in oracles:
            res = con.execute(oracles[name])
            rows = res.fetchall()
            want = {"rows": len(rows),
                    "hash": value_hash([d[0] for d in res.description], rows)}
            note = "oracle agrees" if want == got else f"ORACLE DISAGREES: {want}"
            if want != got:
                bad.append(name)
        print(f"{name}: {got} ({note})")
        expected[name] = got
    spark.stop()
    if bad:
        print(f"not written: {bad} disagree with their oracle", file=sys.stderr)
        return 1
    with open(board.EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
