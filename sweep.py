"""Full-registry builder-side correctness sweep.

Runs EVERY query registered in __spark_entry__.queries() against its
DuckDB oracle at a chosen scale factor with the same order-insensitive,
type-faithful compare the pytest parity suite uses
(tests/oracle_harness.compare), and prints a one-line-per-query verdict
plus a final summary. tests/test_oracle_parity.py runs the same check
at sf0.001; this sweep repeats it at a larger scale factor.

Usage:
    python sweep.py                      # sf0.01
    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.001 python sweep.py

Exit code 0 iff every query matches. Run from the repo root: local-mode
Python workers resolve job_crawler_spark from the driver cwd (the
spark-submit deployment ships it via --py-files instead).
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def main() -> int:
    import __spark_entry__ as entry
    from oracle_harness import compare, duck_conn

    from job_crawler_spark.operators.checkpoints import release_checkpoints
    from job_crawler_spark.session import get_spark

    spark = get_spark("sweep", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    con = duck_conn(SF_DIR)
    queries = entry.queries()
    oracles = entry.oracle_sql()
    bad: list[str] = []
    t_all = time.time()
    for i, (name, fn) in enumerate(queries.items(), 1):
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            compare(df, con, oracles[name])
            release_checkpoints(df)
            print(f"[{i:3d}/{len(queries)}] OK   {name} ({time.time() - t0:.1f}s)", flush=True)
        except Exception as e:
            bad.append(name)
            print(f"[{i:3d}/{len(queries)}] BAD  {name}: {e}", flush=True)
            if os.environ.get("JCS_SWEEP_TRACE"):
                traceback.print_exc()
    print(
        f"\nsweep: {len(queries) - len(bad)}/{len(queries)} green at {SF_DIR} "
        f"({time.time() - t_all:.0f}s)"
        + (f"; BAD: {bad}" if bad else "")
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
