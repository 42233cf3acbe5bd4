"""Crawl/analytics benchmark.

    python3 perfbench/run.py --workload crawl_fetch_heavy --seed 3 --seconds 15 --trace 0

Run from the repository root. One workload per process, one SparkSession,
one closed-loop client: the next operation starts when the previous one
has finished. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``); the lines before it
print the pinned environment and every metric with its unit. Exits 1 if any
output check failed, 2 if the repository is not in the working directory.

All files live under ``.bench_build/perfbench/`` in the working directory;
each run deletes its own working files and keeps only the span file of a
traced run in ``.bench_build/perfbench/traces/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

ROOT = os.getcwd()
BENCH_DIR = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("crawl_fetch_heavy", "stored_analytics")

END_TO_END = {
    "setup_s": "s",
    "op_s_p50": "s",
    "work_per_s": "1/s",
    "cpu_s_per_op": "s",
    "peak_rss_mb": "MB",
}
_ANALYTICS_QUERIES = (
    "tpch_pricing_summary", "app_summary_join", "api_performance",
    "hourly_event_counts", "user_sessions", "quality_scores",
    "url_canonicalize", "politeness_rank", "seen_antijoin",
    "minhash_lsh_pairs", "tfidf_top_terms", "bm25_topk",
)
PER_LAYER = {
    "fetcher.fetch_pages_s": "s",
    "fetcher.us_per_url": "us",
    "fetcher.ok_ratio": "ratio",
    "fetcher.expand_outlinks_s": "s",
    "parser.parse_pages_s": "s",
    "parser.enrich_documents_s": "s",
    "parser.us_per_doc": "us",
    "parser.spans_per_doc": "count",
    "politeness.schedule_batch_s": "s",
    "politeness.rows_in": "count",
    "politeness.rows_out": "count",
    "catalog.overwrite_s": "s",
    "catalog.append_s": "s",
    "catalog.overwrite_partition_s": "s",
    "catalog.read_s": "s",
    "catalog.bytes_written_per_url": "B",
    "catalog.files_written_per_op": "count",
    "bloom.build_shards_s": "s",
    "bloom.split_s": "s",
    "bloom.provably_new_ratio": "ratio",
    "dedup.anti_join_seen_s": "s",
    "round.run_round_s": "s",
    "round.schedule_s": "s",
    "round.sched_write_s": "s",
    "round.fetch_parse_merge_docs_s": "s",
    "round.shard_delta_write_s": "s",
    "round.seen_append_s": "s",
    "round.frontier_write_s": "s",
    "round.host_stats_s": "s",
    "round.lineage_write_s": "s",
    "round.checkpoint_write_s": "s",
    **{f"plans.{q}_s": "s" for q in _ANALYTICS_QUERIES},
    "urls.canonicalize_s": "s",
    "session.start_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.shuffle_write_mb_per_op": "MB",
    "spark.gc_s_per_op": "s",
    "spark.executor_cpu_s_per_op": "s",
    "trace.op_s_p50": "s",
    "trace.work_per_s": "1/s",
}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


# JVMs otherwise keep a counters file in /tmp/hsperfdata_<user>, outside the
# working directory
_NO_PERF_DATA = "-XX:-UsePerfData"


def pin_environment(work: str, trace: bool) -> tuple[dict, dict]:
    """Process environment and Spark conf for this run: cores from the CPU
    affinity mask (what ``nproc`` prints), an explicit driver heap below
    physical RAM, and every scratch path inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = _NO_PERF_DATA
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if trace:
        os.environ["JCS_ROUND_TIMING"] = "1"
    else:
        os.environ.pop("JCS_ROUND_TIMING", None)
    cores = len(os.sched_getaffinity(0))
    ram = _mem_total_bytes()
    driver_mb = min(2048, ram // (4 << 20))
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: its resident size does not follow GC ergonomics
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp} {_NO_PERF_DATA}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    env = {
        "cores": cores,
        "ram_mb": ram >> 20,
        "driver_memory_mb": driver_mb,
        "work_dir": os.path.relpath(work, ROOT),
        "python": sys.version.split()[0],
    }
    return env, conf


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait until
    every process this run started has ended."""
    from pyspark import SparkContext

    from perfbench import procstat

    started = [p for p in procstat.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in started):
        if time.monotonic() > deadline:
            for p in started:
                if _alive(p):
                    os.kill(p, signal.SIGKILL)
            deadline = float("inf")
        time.sleep(0.1)


def end_to_end(outcome, session_s: float, peak_mem: int) -> dict[str, float]:
    n = len(outcome.op_s)
    return {
        "setup_s": session_s + outcome.setup_s,
        "op_s_p50": statistics.median(outcome.op_s),
        "work_per_s": outcome.work / outcome.timed_s,
        "cpu_s_per_op": outcome.cpu_s / n,
        "peak_rss_mb": peak_mem / 2**20,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "job_crawler_spark"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print("perfbench: run from the repository root "
              "(job_crawler_spark/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]

    from perfbench import procstat
    from perfbench.harness import Context
    from perfbench.spans import Tracer, event_log_counts

    work = os.path.join(BENCH_DIR, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    trace = bool(args.trace)
    env, conf = pin_environment(work, trace)
    tracer = Tracer(trace)
    outcome, error = None, None
    try:
        from job_crawler_spark.session import get_spark

        if args.workload == "crawl_fetch_heavy":
            from perfbench import crawl as workload
        else:
            from perfbench import analytics as workload

        with procstat.PeakMemory() as mem:
            t = time.perf_counter()
            spark = get_spark(
                f"perfbench-{args.workload}", cores=env["cores"], extra_conf=conf
            )
            session_s = time.perf_counter() - t
            env["spark"] = spark.version
            env["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
            try:
                ctx = Context(spark, args.seed, args.seconds, trace, work, tracer)
                with tracer.span("workload", workload=args.workload, seed=args.seed):
                    outcome = workload.run(ctx)
            except Exception:
                error = traceback.format_exc()
            finally:
                stop_spark(spark)
        if outcome is not None and trace:
            outcome.layers.update(
                event_log_counts(os.path.join(work, "eventlog"), outcome.op_tags)
            )
    except Exception:
        error = traceback.format_exc()
    finally:
        tracer.write(os.path.join(
            BENCH_DIR, "traces", f"{args.workload}-seed{args.seed}.spans.json"))
        shutil.rmtree(work, ignore_errors=True)

    print("env: " + json.dumps(env, sort_keys=True))
    if outcome is None or not outcome.op_s:
        if error:
            print(error, file=sys.stderr)
        for note in outcome.notes if outcome else ():
            print(f"FAILED: {note}", file=sys.stderr)
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1

    e2e = end_to_end(outcome, session_s, mem.peak)
    for note in outcome.notes:
        print(f"FAILED: {note}")
    print(f"operations = {len(outcome.op_s)} (closed loop, 1 client): "
          + " ".join(f"{t:.3f}" for t in outcome.op_s) + " s")
    print(f"op_fail_ratio = {outcome.failed}/{outcome.attempted}")
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(outcome.layers)
        layers["session.start_s"] = session_s
        layers["trace.op_s_p50"] = e2e["op_s_p50"]
        layers["trace.work_per_s"] = e2e["work_per_s"]
        units, values = PER_LAYER, layers
    else:
        units, values = END_TO_END, e2e
    for name, unit in units.items():
        print(f"{name} = {values[name]:.6g} {unit}")
    correct = not outcome.notes
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
