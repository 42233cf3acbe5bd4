"""Fast per-query oracle check.

Usage: python check_queries.py q1 q2 ...   (checks at sf0.01 AND sf0.001)
       SPARK_GRAFT_CHECK_DIRS=/root/testdata/sf0.1 python check_queries.py q1

Runs the same order-insensitive, type-faithful compare as sweep.py but only
for the named queries, so a single changed query verifies in seconds instead
of a full sweep.
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "tests"))

DIRS = os.environ.get(
    "SPARK_GRAFT_CHECK_DIRS", "/root/testdata/sf0.01:/root/testdata/sf0.001"
).split(":")


def main() -> int:
    import __spark_entry__ as entry
    from oracle_harness import compare, duck_conn

    from job_crawler_spark.operators.checkpoints import release_checkpoints
    from job_crawler_spark.session import get_spark

    names = sys.argv[1:]
    spark = get_spark("check", cores=int(os.environ.get("SPARK_GRAFT_CPUS", "16")))
    queries = entry.queries()
    oracles = entry.oracle_sql()
    bad = []
    for sf_dir in DIRS:
        con = duck_conn(sf_dir)
        for name in names:
            t0 = time.time()
            try:
                df = queries[name](spark, sf_dir)
                compare(df, con, oracles[name])
                release_checkpoints(df)
                print(f"OK   {name} @ {sf_dir} ({time.time() - t0:.1f}s)", flush=True)
            except Exception as e:
                bad.append((name, sf_dir))
                print(f"BAD  {name} @ {sf_dir}: {e}", flush=True)
                if os.environ.get("JCS_SWEEP_TRACE"):
                    traceback.print_exc()
        con.close()
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
