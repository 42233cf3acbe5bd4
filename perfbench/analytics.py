"""``stored_analytics``: a read-only mix of 12 queries from
``__spark_entry__.queries()``; one operation is one pass over all of them.

The tables are written once per run by ``datagen`` from a fixed data seed;
the workload seed sets the order of the queries in each pass. Nothing is
written to a crawl catalog and no crawl-layer call runs. Set-up is data
generation plus two untimed passes.

Correctness: DuckDB runs every query's ``oracle_sql()`` once per run,
outside the timed passes, and every pass's results are compared with it.
A pass with any differing query result is a failed operation.
"""

from __future__ import annotations

import math
import random
import statistics
import time
from decimal import Decimal

import duckdb

import __spark_entry__ as entry
from job_crawler_spark.operators.checkpoints import release_checkpoints

from perfbench import datagen, procstat
from perfbench.harness import Context, Outcome

QUERIES = (
    "tpch_pricing_summary", "app_summary_join", "api_performance",
    "hourly_event_counts", "user_sessions", "quality_scores",
    "url_canonicalize", "politeness_rank", "seen_antijoin",
    "minhash_lsh_pairs", "tfidf_top_terms", "bm25_topk",
)
SF = 0.01
DATA_SEED = 20_240_101
MAX_PASSES = 12
# Each pass defines ~400 new generated classes, so the JIT keeps compiling
# for several passes: the first timed pass after one warm-up pass was up to
# 35% slower than the third. Two warm-up passes put timing on the flat part.
WARMUP_PASSES = 2


def pass_order(seed: int, p: int) -> list[str]:
    return random.Random(seed * 1009 + p).sample(QUERIES, len(QUERIES))


def _canon(v) -> str:
    """Type-faithful text form: an int and a float, or two floats one ulp
    apart, never compare equal."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"d:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canonical(cols: list[str], rows: list[tuple]) -> tuple:
    """Order-insensitive form of a result: sorted column names, sorted rows."""
    names = [c.lower() for c in cols]
    order = sorted(range(len(names)), key=names.__getitem__)
    return (
        tuple(names[i] for i in order),
        tuple(sorted(tuple(_canon(r[i]) for i in order) for r in rows)),
    )


def oracle_results(data_dir: str) -> dict[str, tuple]:
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in datagen.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        out = {}
        for q in QUERIES:
            rel = con.sql(sql[q])
            # through arrow: fetchall() would turn HUGEINT into a plain int
            tbl = rel.arrow()
            out[q] = canonical(rel.columns, list(zip(*(c.to_pylist() for c in tbl.columns))))
        return out
    finally:
        con.close()


def run(ctx: Context) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    queries = entry.queries()
    data = ctx.path("data")

    def one_pass(p: int) -> tuple[dict[str, float], dict[str, tuple]]:
        times, results = {}, {}
        for q in pass_order(ctx.seed, p):
            with tr.span("layer.plans", query=q):
                t = time.perf_counter()
                df = queries[q](spark, data)
                rows = df.collect()
                times[q] = time.perf_counter() - t
            release_checkpoints(df)
            results[q] = (df.columns, rows)
        return times, results

    t0 = time.perf_counter()
    with tr.span("setup.datagen", sf=SF):
        datagen.write_tables(data, SF, DATA_SEED)
    with tr.span("setup.warmup_passes", passes=WARMUP_PASSES):
        warm = [one_pass(-p)[1] for p in range(WARMUP_PASSES)]
    setup_s = time.perf_counter() - t0

    with tr.span("check.oracle"):
        want = oracle_results(data)

    def mismatches(results: dict[str, tuple], label: str) -> list[str]:
        return [
            f"{label}: {q} differs from its DuckDB oracle"
            for q, (cols, rows) in results.items()
            if canonical(cols, rows) != want[q]
        ]

    notes = [
        bad for i, results in enumerate(warm)
        for bad in mismatches(results, f"warm-up pass {i}")
    ]
    passes: list[tuple[dict[str, float], dict[str, tuple]]] = []
    op_s: list[float] = []
    tags: list[str] = []
    cpu0 = procstat.tree_cpu_s()
    t_start = time.perf_counter()
    while len(passes) < MAX_PASSES:
        tags.append(f"pass-{len(passes) + 1}")
        ctx.tag_op(tags[-1])
        t = time.perf_counter()
        with tr.span("op.pass", index=len(passes) + 1):
            passes.append(one_pass(len(passes) + 1))
        op_s.append(time.perf_counter() - t)
        if time.perf_counter() - t_start >= ctx.seconds:
            break
    ctx.tag_op(None)
    timed_s = time.perf_counter() - t_start
    cpu_s = procstat.tree_cpu_s() - cpu0

    failed = 0
    for p, (_, results) in enumerate(passes, start=1):
        bad = mismatches(results, f"pass {p}")
        failed += bool(bad)
        notes += bad

    layers = {}
    if ctx.trace:
        layers = {
            f"plans.{q}_s": statistics.median(times[q] for times, _ in passes)
            for q in QUERIES
        }
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        work=len(QUERIES) * len(passes),
        timed_s=timed_s,
        cpu_s=cpu_s,
        attempted=len(passes),
        failed=failed,
        notes=notes,
        op_tags=tags,
        layers=layers,
    )
