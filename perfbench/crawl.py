"""``crawl_fetch_heavy``: closed-loop CrawlEngine rounds over a synthetic
frontier, one round after another.

The frontier is ``N_SEEDS`` synthetic seeds; the workload seed picks a
disjoint id range, so URLs differ between seeds while the host mix does not
(the synthetic host hash is periodic in 100 ids). ``ROUND_SECONDS`` sets the
per-host budgets to 1,720 URLs a round, and the frontier is large enough that
no allowed host runs dry within ``1 + MAX_TIMED_ROUNDS`` rounds (the oracle
schedules 1,720 in each of rounds 0-5 for seeds 0, 1, 7 and 9973): every
round schedules the same count, so rounds are identical operations. That is
checked on every round.

Set-up is the bootstrap plus one untimed warm-up round (round 0).
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_crawler_spark.catalog import Catalog
from job_crawler_spark.crawl import fetcher, parser
from job_crawler_spark.crawl.round import PENDING_SCHEMA, CrawlEngine
from job_crawler_spark.functions.urls import canonicalize_url_col, host_col
from job_crawler_spark.operators import bloom
from job_crawler_spark.operators.dedup import anti_join_seen
from job_crawler_spark.operators.politeness import schedule_batch
from job_crawler_spark.sources import synth

from perfbench import procstat
from perfbench.harness import Context, Outcome, noop

N_SEEDS = 70_000
ROUND_SECONDS = 100
ID_STRIDE = 10_000_000  # seed s crawls ids [s * ID_STRIDE, s * ID_STRIDE + N_SEEDS)
MAX_TIMED_ROUNDS = 5

# run_round's per-phase times (JCS_ROUND_TIMING=1), reported in traced runs
PHASES = (
    "schedule", "sched_write", "fetch_parse_merge_docs", "shard_delta_write",
    "seen_append", "frontier_write", "host_stats", "lineage_write",
    "checkpoint_write",
)


def make_engine(spark, root: str, round_seconds: int = ROUND_SECONDS) -> CrawlEngine:
    return CrawlEngine(
        spark=spark,
        catalog=Catalog(root),
        robots=synth.robots_df(spark),
        round_seconds=round_seconds,
    )


def check_round(prev: dict, st: dict, expected: int | None) -> list[str]:
    """Invariants one committed round must keep; returns what broke."""
    bad = []
    if expected is not None and st["scheduled"] != expected:
        bad.append(f"round {st['round']} scheduled {st['scheduled']}, expected {expected}")
    if st["seen_total"] != prev["seen_total"] + st["scheduled"]:
        bad.append(f"round {st['round']} seen_total {st['seen_total']} != "
                   f"{prev['seen_total']} + scheduled {st['scheduled']}")
    if st["docs_total"] != prev["docs_total"] + st["fetched"]:
        bad.append(f"round {st['round']} docs_total {st['docs_total']} != "
                   f"{prev['docs_total']} + fetched {st['fetched']}")
    return bad


def _data_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def run(ctx: Context) -> Outcome:
    spark, tr = ctx.spark, ctx.tracer
    eng = make_engine(spark, ctx.path("catalog"))
    start_id = ctx.seed * ID_STRIDE
    t0 = time.perf_counter()
    with tr.span("setup.bootstrap", seeds=N_SEEDS, start_id=start_id):
        eng.bootstrap(synth.seed_frontier(spark, N_SEEDS, start=start_id))
    with tr.span("setup.warmup_round"):
        warm = eng.run_round(0)
    setup_s = time.perf_counter() - t0

    notes = check_round({"seen_total": 0, "docs_total": 0}, warm, None)
    expected = warm["scheduled"]
    if expected == 0:
        notes.append("warm-up round scheduled nothing")
    rounds = [warm]
    files_before = _data_files(eng.catalog.root) if ctx.trace else {}

    op_s: list[float] = []
    tags: list[str] = []
    failed = 0
    cpu0 = procstat.tree_cpu_s()
    t_start = time.perf_counter()
    while not notes:
        r = len(rounds)
        tags.append(f"round-{r}")
        ctx.tag_op(tags[-1])
        t = time.perf_counter()
        try:
            with tr.span("op.round", round=r):
                st = eng.run_round(r)
        except Exception as e:  # the engine's state is unknown: stop here
            failed += 1
            notes.append(f"round {r} raised {type(e).__name__}: {e}")
            break
        op_s.append(time.perf_counter() - t)
        bad = check_round(rounds[-1], st, expected)
        failed += bool(bad)
        notes += bad
        rounds.append(st)
        if time.perf_counter() - t_start >= ctx.seconds or len(op_s) == MAX_TIMED_ROUNDS:
            break
    ctx.tag_op(None)
    timed_s = time.perf_counter() - t_start
    cpu_s = procstat.tree_cpu_s() - cpu0

    # end-of-run invariants, against the tables themselves
    scheduled = sum(s["scheduled"] for s in rounds)
    fetched = sum(s["fetched"] for s in rounds)
    with tr.span("check.tables"):
        n_seen = eng.catalog.read(spark, eng.T_SEEN).count()
        n_docs = eng.read_docs().count()
    if n_seen != scheduled:
        notes.append(f"seen table holds {n_seen} URLs, rounds scheduled {scheduled}")
    if n_docs != fetched:
        notes.append(f"read_docs() holds {n_docs} docs, rounds fetched {fetched}")
    if n_seen != scheduled or n_docs != fetched:
        failed = len(tags)

    layers = {}
    if ctx.trace and op_s:
        layers = _round_phases(rounds[1:], op_s)
        written = {
            p: n for p, n in _data_files(eng.catalog.root).items()
            if p not in files_before
        }
        urls = sum(s["scheduled"] for s in rounds[1:])
        layers["catalog.bytes_written_per_url"] = sum(written.values()) / urls
        layers["catalog.files_written_per_op"] = len(written) / len(op_s)
        with tr.span("layers"):
            layers.update(_layer_calls(ctx, eng, len(rounds)))
    return Outcome(
        setup_s=setup_s,
        op_s=op_s,
        work=sum(s["scheduled"] for s in rounds[1:]),
        timed_s=timed_s,
        cpu_s=cpu_s,
        attempted=max(len(tags), 1),
        failed=failed if tags else 1,
        notes=notes,
        op_tags=tags,
        layers=layers,
    )


def _round_phases(stats: list[dict], op_s: list[float]) -> dict[str, float]:
    out = {"round.run_round_s": statistics.median(op_s)}
    for ph in PHASES:
        vals = [s.get("phase_seconds", {}).get(ph, 0.0) for s in stats]
        out[f"round.{ph}_s"] = statistics.median(vals)
    return out


def _materialize(df: DataFrame, held: list) -> tuple[DataFrame, int]:
    df = df.cache()
    held.append(df)
    return df, df.count()


def _layer_calls(ctx: Context, eng: CrawlEngine, next_round: int) -> dict[str, float]:
    """Time each layer's public function once, on inputs materialized from
    the catalog state the next round would read; every call is forced with
    a noop sink, so the time is the layer's own work."""
    spark, tr, cat = ctx.spark, ctx.tracer, eng.catalog
    held: list[DataFrame] = []
    out: dict[str, float] = {}

    def timed(metric: str, df: DataFrame) -> float:
        with tr.span(f"layer.{metric}"):
            t = time.perf_counter()
            noop(df)
            dt = time.perf_counter() - t
        out[f"{metric}_s"] = dt
        return dt

    ck = (
        cat.read(spark, eng.T_CKPT).orderBy(F.col("round").desc()).limit(1).collect()[0]
    )
    frontier, n_frontier = _materialize(
        cat.read(spark, eng.T_FRONTIER, version=ck.frontier_v, schema=PENDING_SCHEMA), held
    )
    seen, _ = _materialize(cat.read(spark, eng.T_SEEN, version=ck.seen_v), held)
    shards_df = cat.read(spark, eng.T_SHARDS, version=ck.shards_v).drop("round")

    # politeness: schedule the pending frontier
    timed("politeness.schedule_batch", schedule_batch(
        frontier, eng.robots, eng.round_seconds, eng.salt_buckets, salted=True))
    batch, n_batch = _materialize(schedule_batch(
        frontier, eng.robots, eng.round_seconds, eng.salt_buckets, salted=True), held)
    out["politeness.rows_in"] = n_frontier
    out["politeness.rows_out"] = n_batch

    # fetcher + parser: the Arrow mapInPandas data plane
    fetch_s = timed("fetcher.fetch_pages", fetcher.fetch_pages(batch))
    fetched, _ = _materialize(fetcher.fetch_pages(batch), held)
    ok_pages, n_ok = _materialize(
        fetched.filter(F.col("fetch_ok")).select("url_canon", "depth", "page"), held
    )
    out["fetcher.us_per_url"] = fetch_s / n_batch * 1e6
    out["fetcher.ok_ratio"] = n_ok / n_batch
    pages = ok_pages.select("url_canon", "page")
    parse_s = timed("parser.parse_pages", parser.parse_pages(pages))
    parsed, n_docs = _materialize(parser.parse_pages(pages), held)
    spans = parsed.select("doc_id", "spans")
    enrich_s = timed("parser.enrich_documents", parser.enrich_documents(spans))
    docs, _ = _materialize(parser.enrich_documents(spans), held)
    out["parser.us_per_doc"] = (parse_s + enrich_s) / n_docs * 1e6
    out["parser.spans_per_doc"] = (
        docs.agg(F.sum(F.size("spans"))).collect()[0][0] / n_docs
    )
    links, _ = _materialize(
        parsed.join(ok_pages.select(F.col("url_canon").alias("doc_id"), "depth"), "doc_id")
        .select("depth", F.explode_outer("outlinks").alias("outlink"))
        .filter(F.col("outlink").isNotNull()),
        held,
    )
    timed("fetcher.expand_outlinks", fetcher.expand_outlinks(links))
    batch_urls = batch.select("url_canon")
    not_pending, n_cand = _materialize(
        fetcher.expand_outlinks(links)
        .filter(F.col("host") != "")
        .groupBy("url_canon", "host")
        .agg(F.max("priority").alias("priority"), F.min("depth").alias("depth"))
        .join(frontier.select("url_canon"), "url_canon", "left_anti")
        .join(batch_urls, "url_canon", "left_anti"),
        held,
    )

    # URL-seen filter: Bloom shard build, probe split, exact anti-join
    timed("bloom.build_shards", bloom.build_shards(
        batch_urls, "url_canon", eng.bloom_shards, eng.bloom_bits, eng.bloom_k))
    shards = bloom.collect_shards(shards_df, eng.bloom_shards, eng.bloom_bits, eng.bloom_k)
    new, maybe_seen, flagged = bloom.split_by_bloom(not_pending, spark, shards, "url_canon")
    held.append(flagged)
    timed("bloom.split", flagged)
    out["bloom.provably_new_ratio"] = new.count() / max(n_cand, 1)
    maybe_seen, _ = _materialize(maybe_seen, held)
    timed("dedup.anti_join_seen", anti_join_seen(maybe_seen, seen, "url_canon"))

    # catalog writes into a scratch catalog, shaped like the round's commits
    scratch = Catalog(ctx.path("layer_catalog"))
    for metric, call in (
        ("catalog.overwrite", lambda: scratch.overwrite(frontier, "frontier")),
        ("catalog.append", lambda: scratch.append(
            batch_urls.withColumn("first_round", F.lit(next_round)), "seen")),
        ("catalog.overwrite_partition", lambda: scratch.overwrite_partition(
            docs.withColumn("round", F.lit(next_round)), "documents", next_round)),
    ):
        with tr.span(f"layer.{metric}"):
            t = time.perf_counter()
            call()
            out[f"{metric}_s"] = time.perf_counter() - t
    timed("catalog.read", cat.read(spark, eng.T_DOCS))

    # bootstrap-path canonicalization over the run's own seed frontier
    raw, _ = _materialize(
        synth.seed_frontier(spark, N_SEEDS, start=ctx.seed * ID_STRIDE), held
    )
    timed("urls.canonicalize", raw.select(
        canonicalize_url_col(F.col("url")).alias("url_canon"), host_col(F.col("url"))))

    for df in held:
        df.unpersist()
    return out
