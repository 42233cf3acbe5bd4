"""Round-loop benchmark: the FULL resumable engine, catalog commits included.

bench.py's crawl_throughput measures the dataflow (schedule -> fetch ->
parse -> enrich); this harness runs CrawlEngine.run_round end-to-end —
politeness scheduling, Bloom-prefiltered frontier dedup, MERGE of
documents, seen/shards/frontier/lineage/checkpoint commits — so the
per-round commit overhead is measured, not assumed. Writes
BENCH/ROUNDS_LAST.md (BENCH/ROUNDS.md is the curated cross-run analysis).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

N_SEEDS = int(os.environ.get("SPARK_GRAFT_ROUND_SEEDS", "200000"))
N_ROUNDS = int(os.environ.get("SPARK_GRAFT_ROUNDS", "3"))
ROUND_SECONDS = int(os.environ.get("SPARK_GRAFT_ROUND_SECONDS", "3000"))
CORES = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _calibrator(spark) -> float:
    """Quiet-class pure-CPU job timed in the SAME window as the engine
    rounds: a fixed-size range sum whose cost is independent of the engine.
    Lets a reader attribute round-to-round wall-time drift to hypervisor
    CPU steal vs engine code without trusting cross-window comparisons."""
    t0 = time.perf_counter()
    spark.range(50_000_000).selectExpr("sum(id % 7) AS s").collect()
    return round(time.perf_counter() - t0, 3)


def engine_round_bench(
    spark, n_seeds: int, n_rounds: int, round_seconds: int = ROUND_SECONDS
) -> dict:
    """Run CrawlEngine rounds (merge-on-read documents, commits included) in a
    throwaway warehouse and return the throughput summary. Reused by
    bench.py so the judged artifact carries the engine number each round.

    Every round row carries the per-phase wall-time map (schedule/
    sched_write/fetch_parse_merge_docs/shard_delta_write/seen_append/
    frontier_write/lineage_write/checkpoint_write) that
    run_round returns, and the calibrator job brackets the loop — the
    artifact is attributable (steal vs code) on its own."""
    from job_crawler_spark.catalog import Catalog
    from job_crawler_spark.crawl.round import CrawlEngine
    from job_crawler_spark.sources import synth

    root = tempfile.mkdtemp(prefix="jcs_round_bench_")
    cal_before = _calibrator(spark)
    try:
        engine = CrawlEngine(
            spark=spark,
            catalog=Catalog(root=root),
            robots=synth.robots_df(spark),
            round_seconds=round_seconds,
        )
        t0 = time.perf_counter()
        engine.bootstrap(synth.seed_frontier(spark, n_seeds))
        t_bootstrap = time.perf_counter() - t0

        rounds = []
        for r in range(n_rounds):
            t0 = time.perf_counter()
            res = engine.run_round(r)
            dt = time.perf_counter() - t0
            if res.get("done"):
                break
            rounds.append(
                {
                    "round": r,
                    "seconds": round(dt, 3),
                    "scheduled": res["scheduled"],
                    "fetched": res["fetched"],
                    "urls_per_sec": round(res["scheduled"] / dt, 1),
                    "frontier_pending": res["frontier_pending"],
                    "seen_total": res["seen_total"],
                    "phase_seconds": res["phase_seconds"],
                }
            )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    cal_after = _calibrator(spark)

    total_urls = sum(r["scheduled"] for r in rounds)
    total_sec = sum(r["seconds"] for r in rounds)
    return {
        "metric": "engine_round_urls_per_sec",
        "value": round(total_urls / total_sec, 1) if total_sec else 0.0,
        "unit": "urls/sec",
        "seeds": n_seeds,
        "rounds": rounds,
        "bootstrap_seconds": round(t_bootstrap, 3),
        "calibrator_seconds": {"before": cal_before, "after": cal_after},
    }


def main() -> dict:
    from job_crawler_spark.session import get_spark

    spark = get_spark("round-bench", cores=CORES)
    summary = engine_round_bench(spark, N_SEEDS, N_ROUNDS, ROUND_SECONDS)
    summary["cores"] = CORES
    rounds = summary["rounds"]
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/ROUNDS_LAST.md", "w") as f:
        f.write(
            "# Engine round-loop benchmark (commits included)\n\n"
            f"CrawlEngine.run_round on a {N_SEEDS:,}-seed frontier, "
            f"local[{CORES}]: schedule -> fetch -> parse -> enrich -> Bloom\n"
            "dedup of discovered outlinks -> MERGE documents -> commit seen/\n"
            "shards/frontier/lineage/checkpoint (every round resumable).\n\n"
            "| round | scheduled | fetched | seconds | URLs/sec | frontier after | seen |\n"
            "|---|---|---|---|---|---|---|\n"
            + "".join(
                f"| {r['round']} | {r['scheduled']:,} | {r['fetched']:,} | "
                f"{r['seconds']} | {r['urls_per_sec']:,} | "
                f"{r['frontier_pending']:,} | {r['seen_total']:,} |\n"
                for r in rounds
            )
            + f"\nOverall {summary['value']:,} URLs/sec across {len(rounds)} "
            f"rounds (bootstrap {summary['bootstrap_seconds']} s).\n\n"
            "```json\n" + json.dumps(summary, indent=2) + "\n```\n"
        )
    spark.stop()
    return summary


if __name__ == "__main__":
    print(json.dumps(main()))
