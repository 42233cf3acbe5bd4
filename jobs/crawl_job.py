"""spark-submit entry point for the crawl engine (north-rule deployment
surface: ``spark-submit --py-files`` on a multi-executor cluster).

Package the library once, then submit; the SAME command shape works on a
1000-executor cluster (swap --master and the warehouse for a shared path):

    (zip -qr /tmp/jcs.zip job_crawler_spark)
    spark-submit --master local[8] \
        --py-files /tmp/jcs.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        --conf spark.sql.session.timeZone=UTC \
        jobs/crawl_job.py --warehouse /tmp/jcs_wh --seeds 20000 --rounds 2

Bootstraps the warehouse on first run, RESUMES from the last checkpoint on
every later run (kill it mid-round and re-submit: same final state — the
engine's replay-idempotent commit contract). Prints one JSON line of
per-round stats.

Cluster notes baked into the engine, not this script: AQE + skew-join
splitting, Arrow batching for every pandas-UDF stage, shuffle partitions
sized ~2-3x total cores (set via --conf at submit), broadcast-or-routed
seen-filter probes (selected from the configured filter size), merge-on-read
documents, salted politeness windows for hot-domain skew (salt width sized
from the checkpointed pending count).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--warehouse", required=True,
                    help="catalog root (shared filesystem path on a cluster)")
    ap.add_argument("--seeds", type=int, default=100_000,
                    help="synthetic seed count for first-run bootstrap")
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--round-seconds", type=int, default=3000)
    ap.add_argument("--seen-filter", choices=("bloom", "cuckoo"),
                    default="bloom")
    ap.add_argument("--no-auto-compact", action="store_true",
                    help="disable between-round mor compaction policy")
    args = ap.parse_args()

    # spark-submit owns master/deploy conf; only session-level settings the
    # engine depends on are (re)stated here — harmless if already set.
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("jcs-crawl")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from job_crawler_spark.catalog import Catalog
    from job_crawler_spark.crawl.round import CrawlEngine
    from job_crawler_spark.sources import synth

    catalog = Catalog(args.warehouse)
    engine = CrawlEngine(
        spark=spark,
        catalog=catalog,
        robots=synth.robots_df(spark),
        round_seconds=args.round_seconds,
        seen_filter=args.seen_filter,
        auto_compact=not args.no_auto_compact,
    )
    bootstrapped = False
    if not catalog.exists(engine.T_CKPT):
        engine.bootstrap(synth.seed_frontier(spark, args.seeds))
        bootstrapped = True

    results = engine.run(args.rounds)
    print(json.dumps({
        "bootstrapped": bootstrapped,
        "resumed_at_round": results[0]["round"] if results else None,
        "rounds": results,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
