"""Continuous crawl: Structured Streaming seed ingestion + engine rounds."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from job_crawler_spark.catalog import Catalog
from job_crawler_spark.crawl.round import CrawlEngine
from job_crawler_spark.functions.urls import py_canonicalize
from job_crawler_spark.sources import synth
from job_crawler_spark.streaming.crawl_stream import continuous_crawl
from perfbench.crawl import PHASES


def _engine(spark, tmp_path):
    return CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "wh")),
        robots=synth.robots_df(spark),
        round_seconds=3000,
        bloom_shards=8,
        bloom_bits=1 << 16,
        bloom_k=5,
    )


def _stage_seed_file(spark, ids, seed_dir: str, name: str) -> None:
    """One parquet file = one micro-batch of submitted seed URLs."""
    rows = [
        (synth.raw_url_for(i), 0, synth.priority_for(i), 0) for i in ids
    ]
    df = spark.createDataFrame(
        rows, "url string, depth int, priority double, round int"
    )
    staging = seed_dir + f"-stage-{name}"
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    os.makedirs(seed_dir, exist_ok=True)
    part = glob.glob(os.path.join(staging, "*.parquet"))[0]
    shutil.copy(part, os.path.join(seed_dir, f"{name}.parquet"))
    shutil.rmtree(staging)


def test_continuous_crawl_ingests_and_rounds(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    eng.bootstrap(synth.seed_frontier(spark, 100))
    eng.run(1)
    rounds_before = eng.next_round()

    seed_dir = str(tmp_path / "seeds")
    _stage_seed_file(spark, range(100, 150), seed_dir, "batch-a")
    _stage_seed_file(spark, range(150, 200), seed_dir, "batch-b")

    q = continuous_crawl(eng, seed_dir, str(tmp_path / "ckpt"))
    q.awaitTermination()

    # two micro-batches -> two more engine rounds committed
    assert eng.next_round() == rounds_before + 2
    admitted = [s["admitted"] for s in eng.stats if "stream_batch" in s]
    assert len(admitted) == 2 and all(a > 0 for a in admitted)

    # every submitted seed is accounted for: pending or already crawled
    seen = {r.url_canon for r in eng.catalog.read(spark, eng.T_SEEN).collect()}
    pending = {
        r.url_canon for r in eng.catalog.read(spark, eng.T_FRONTIER).collect()
    }
    for i in range(100, 200):
        assert py_canonicalize(synth.raw_url_for(i)) in seen | pending, i

    # redelivery of the SAME seed batches (fresh streaming checkpoint =
    # simulated offset loss) must admit nothing: ingest is idempotent
    q2 = continuous_crawl(eng, seed_dir, str(tmp_path / "ckpt2"))
    q2.awaitTermination()
    admitted2 = [s["admitted"] for s in eng.stats if "stream_batch" in s][2:]
    assert admitted2 == [0, 0]


def test_ingest_seeds_idempotent_batch_level(spark, tmp_path):
    import pytest

    eng = _engine(spark, tmp_path)
    batch = spark.createDataFrame(
        [(synth.raw_url_for(i), 0, synth.priority_for(i), 0)
         for i in range(50, 80)],
        "url string, depth int, priority double, round int",
    )
    # no checkpoint row before bootstrap: a clear error, not an IndexError
    with pytest.raises(RuntimeError, match="bootstrap first"):
        eng.ingest_seeds(batch)
    eng.bootstrap(synth.seed_frontier(spark, 50))
    eng.run(1)
    assert eng.ingest_seeds(batch) > 0
    assert eng.ingest_seeds(batch) == 0  # replay admits nothing
    # pinned frontier version reflects the append (next round reads it)
    fv, _, _ = eng._pinned_versions(eng.next_round())
    pending = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_FRONTIER, version=fv).collect()
    }
    assert py_canonicalize(synth.raw_url_for(51)) in pending


def test_ingest_crash_before_repin_heals_on_redelivery(spark, tmp_path):
    """Review finding: an ingest that appends then crashes before its repin
    must not lose the seeds — the redelivered batch (which admits nothing
    new) repins the appended-but-unpinned frontier, and the next round
    schedules from it."""
    eng = _engine(spark, tmp_path)
    eng.bootstrap(synth.seed_frontier(spark, 50))
    eng.run(1)
    batch = spark.createDataFrame(
        [(synth.raw_url_for(i), 0, synth.priority_for(i), 0)
         for i in range(50, 70)],
        "url string, depth int, priority double, round int",
    )
    # crash: append lands, repin (checkpoint write) fails
    real = eng._round_keyed_write
    def boom(*a, **k):
        raise OSError("injected crash before repin")
    eng._round_keyed_write = boom
    import pytest as _pytest
    with _pytest.raises(OSError):
        eng.ingest_seeds(batch)
    eng._round_keyed_write = real

    # redelivery: same batch, nothing new to admit, but the heal repins
    assert eng.ingest_seeds(batch) == 0
    fv, _, _ = eng._pinned_versions(eng.next_round())
    pending = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_FRONTIER, version=fv).collect()
    }
    assert py_canonicalize(synth.raw_url_for(55)) in pending

    # and a bare run_round (no ingest) also adopts pure-append progress
    eng2 = _engine(spark, tmp_path)  # same warehouse, fresh engine
    res = eng2.run_round(eng2.next_round())
    assert res["scheduled"] > 0


def test_ingest_before_first_round_single_checkpoint_row(spark, tmp_path):
    """Review finding: ingesting before round 0 must repin the round -1
    bootstrap marker IN PLACE (no duplicate rows), and round 0 must
    schedule the ingested seeds."""
    eng = _engine(spark, tmp_path)
    eng.bootstrap(synth.seed_frontier(spark, 20))
    batch = spark.createDataFrame(
        [(synth.raw_url_for(i), 0, synth.priority_for(i), 0)
         for i in range(20, 40)],
        "url string, depth int, priority double, round int",
    )
    assert eng.ingest_seeds(batch) > 0
    ck = eng.catalog.read(spark, eng.T_CKPT)
    assert ck.filter(F.col("round") == -1).count() == 1  # replaced, not duped
    res = eng.run_round(0)
    sched = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == 0).collect()
    }
    assert py_canonicalize(synth.raw_url_for(25)) in sched
    assert res["scheduled"] >= 20
    # phase walls are always on: every phase the benchmark reports is timed
    # (the benchmark still names host_stats, a phase the round no longer has)
    assert set(PHASES) - {"host_stats"} <= set(res["phase_seconds"])


def test_adoption_survives_double_crash(spark, tmp_path):
    """Review finding (r03): run_round used to adopt appended-but-unpinned
    frontier progress (a crashed ingest) WITHOUT persisting the adoption.
    If the adopting round then crashed after its frontier OVERWRITE but
    before its checkpoint, the replay saw a non-append diff from the stale
    pin, could not re-adopt, and recomputed a smaller batch — the adopted
    seeds ended up in seen with no document and gone from the frontier.
    The adoption must be repinned BEFORE any round write so every replay
    reads the same adopted snapshot."""
    import pytest

    eng = _engine(spark, tmp_path)
    eng.bootstrap(synth.seed_frontier(spark, 60))
    eng.run(1)

    batch = spark.createDataFrame(
        [(synth.raw_url_for(i), 0, synth.priority_for(i), 0)
         for i in range(60, 80)],
        "url string, depth int, priority double, round int",
    )
    # crash 1: ingest appends, dies before its repin
    real_repin = eng._repin_checkpoint
    def boom_repin(*a, **k):
        raise OSError("injected crash before ingest repin")
    eng._repin_checkpoint = boom_repin
    with pytest.raises(OSError):
        eng.ingest_seeds(batch)
    eng._repin_checkpoint = real_repin

    # crash 2: the adopting round dies AFTER its frontier overwrite
    # (lineage write is the first post-overwrite commit step)
    nxt = eng.next_round()
    cat = eng.catalog
    real_op = cat.overwrite_partition
    def boom_log(df, name, part):
        if name == eng.T_LOG:
            raise OSError("injected crash after frontier overwrite")
        return real_op(df, name, part)
    cat.overwrite_partition = boom_log
    with pytest.raises(OSError):
        eng.run_round(nxt)
    cat.overwrite_partition = real_op

    # the adoption was persisted before the crash: round-(N-1)'s pin is
    # the adopted (post-append) frontier version
    fv, _, _ = eng._pinned_versions(nxt)
    pinned_pending = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_FRONTIER, version=fv).collect()
    }
    adopted = py_canonicalize(synth.raw_url_for(65))
    assert adopted in pinned_pending

    # replay converges: fresh engine, same warehouse
    resumed = _engine(spark, tmp_path)
    res = resumed.run_round(resumed.next_round())
    assert res["round"] == nxt
    sched = {
        r.url_canon
        for r in resumed.catalog.read(spark, resumed.T_SCHED)
        .filter(F.col("round") == nxt).collect()
    }
    assert adopted in sched, "adopted seed must be in the replayed batch"
    seen = {
        r.url_canon
        for r in resumed.catalog.read(spark, resumed.T_SEEN).collect()
    }
    docs = {
        r.doc_id for r in resumed.read_docs().select("doc_id").collect()
    }
    from job_crawler_spark.crawl.fetcher import fetch_failure

    assert adopted in seen
    # nothing lost in the window: the adopted URL has a document unless its
    # (deterministic) fetch failed
    assert (adopted in docs) == (not fetch_failure(adopted))
    # invariant: every documented URL is in seen
    assert docs <= seen
