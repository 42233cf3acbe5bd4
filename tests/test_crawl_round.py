"""North-rule gates: Spark crawl loop vs single-process oracle.

- crawl ordering bit-identical per round (schedule_log vs oracle order)
- final URL-seen set identical
- span sequences per doc identical (kind, text, media_ref, order)
- kill-and-resume: replaying a round after a simulated crash converges to
  the same state (BASELINE.json resumability criterion)
"""

from __future__ import annotations

import shutil
import time

import pytest
from pyspark.sql import functions as F

from job_crawler_spark.catalog import Catalog
from job_crawler_spark.crawl import oracle
from job_crawler_spark.crawl import round as crawl_round
from job_crawler_spark.crawl.round import CrawlEngine
from job_crawler_spark.sources import synth

N_SEEDS = 400
ROUNDS = 3
ROUND_SECONDS = 30


def _engine(spark, tmp_path, name="wh") -> CrawlEngine:
    return CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / name)),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        bloom_shards=16,
        bloom_bits=1 << 16,
        bloom_k=5,
    )


def _assert_seen_unique(spark, eng) -> None:
    """Set comparisons hide a duplicated seen row; this does not."""
    seen = eng.catalog.read(spark, eng.T_SEEN)
    assert seen.count() == seen.select("url_canon").distinct().count()


@pytest.fixture(scope="module")
def crawled(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("crawl")
    eng = _engine(spark, tmp)
    eng.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    eng.run(ROUNDS)
    want = oracle.crawl(
        N_SEEDS, synth.robots_rows(), ROUNDS, round_seconds=ROUND_SECONDS
    )
    return eng, want


def test_crawl_order_bit_identical(spark, crawled):
    eng, want = crawled
    sched = eng.catalog.read(spark, eng.T_SCHED).collect()
    got_rounds: dict[int, list] = {}
    for r in sched:
        got_rounds.setdefault(r.round, []).append((r.host, r.host_rank, r.url_canon))
    assert len(got_rounds) == len(want["crawl_order"])
    for rnd, order in enumerate(want["crawl_order"]):
        assert sorted(got_rounds[rnd]) == order, f"round {rnd}"


def test_url_seen_set_identical(spark, crawled):
    eng, want = crawled
    seen = eng.catalog.read(spark, eng.T_SEEN).collect()
    got = {r.url_canon: r.first_round for r in seen}
    assert got == want["seen"]


def test_span_sequences_identical(spark, crawled):
    eng, want = crawled
    docs = eng.catalog.read(spark, eng.T_DOCS).select("doc_id", "spans").collect()
    got = {
        r.doc_id: [
            (s.kind, s.text, s.media_ref, s.offset) for s in r.spans
        ]
        for r in docs
    }
    want_docs = {
        u: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        for u, spans in want["docs"].items()
    }
    assert got == want_docs


def test_frontier_state_identical(spark, crawled):
    eng, want = crawled
    rows = eng.catalog.read(spark, eng.T_FRONTIER).collect()
    got = {
        r.url_canon: (r.host, r.depth, round(r.priority, 9)) for r in rows
    }
    wf = {
        u: (r["host"], r["depth"], round(r["priority"], 9))
        for u, r in want["frontier"].items()
    }
    assert got == wf


def test_per_round_stats_match(crawled):
    eng, want = crawled
    for got, exp in zip(eng.stats, want["stats"]):
        for k in ("round", "scheduled", "fetched", "failed",
                  "seen_total", "frontier_pending"):
            assert got[k] == exp[k], (k, got, exp)


def test_control_reads_start_no_spark_job(spark, crawled):
    """Planning a table read and the engine's checkpoint/meta reads come
    from the catalog manifest and driver-side footers: none starts a Spark
    job (counted under a job group on the statusTracker)."""
    eng, _ = crawled
    sc = spark.sparkContext
    group = "control-reads"
    sc.setJobGroup(group, "reads that must not start a job")
    try:
        eng.catalog.read(spark, eng.T_FRONTIER)
        eng.catalog.read(spark, eng.T_CKPT)
        last = eng.next_round() - 1
        assert last == ROUNDS - 1
        assert eng._latest_ckpt_row(last)["round"] == last
        eng._check_bloom_params()
        # jobs reach the status store in order through the listener bus:
        # once this fence job shows up, any job started above has too
        sc.setJobGroup(group + "-fence", "fence")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never reached the status store"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group) == []


def test_resume_after_kill_converges(spark, tmp_path):
    """Run 1 round, simulate a crash AFTER data commits but BEFORE the
    checkpoint marker (the worst replay case), resume, and compare the full
    final state against an uninterrupted run."""
    full = _engine(spark, tmp_path, "full")
    full.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    full.run(2)

    crashed = _engine(spark, tmp_path, "crashed")
    crashed.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    crashed.run_round(0)
    crashed.run_round(1)
    # simulate the crash: round 1's checkpoint marker never landed
    ck = crashed.catalog.read(spark, crashed.T_CKPT).filter(F.col("round") != 1)
    crashed.catalog.overwrite(ck, crashed.T_CKPT)

    resumed = _engine(spark, tmp_path, "crashed")  # fresh engine, same warehouse
    assert resumed.next_round() == 1  # resumes mid-frontier
    resumed.run(1)  # replays round 1

    for table in (full.T_SEEN, full.T_FRONTIER, full.T_SCHED):
        a = {tuple(r) for r in full.catalog.read(spark, table).collect()}
        b = {tuple(r) for r in resumed.catalog.read(spark, table).collect()}
        assert a == b, table
    da = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in full.catalog.read(spark, full.T_DOCS).select("doc_id", "spans").collect()
    }
    db = {
        r.doc_id: [tuple(s) for s in r.spans]
        for r in resumed.catalog.read(spark, resumed.T_DOCS).select("doc_id", "spans").collect()
    }
    assert da == db
    _assert_seen_unique(spark, resumed)


def test_copied_catalog_resumes(spark, tmp_path):
    """A catalog copied mid-crawl resumes from the copy alone (manifests
    name write directories relative to their table): after the original is
    deleted, one more round equals an uninterrupted 2-round run."""
    full = _engine(spark, tmp_path, "full")
    full.bootstrap(synth.seed_frontier(spark, 200))
    full.run(2)

    orig = _engine(spark, tmp_path, "orig")
    orig.bootstrap(synth.seed_frontier(spark, 200))
    orig.run(1)
    shutil.copytree(tmp_path / "orig", tmp_path / "copy")
    shutil.rmtree(tmp_path / "orig")

    copy = _engine(spark, tmp_path, "copy")
    assert copy.next_round() == 1
    copy.run(1)
    for table in (full.T_SEEN, full.T_FRONTIER, full.T_SCHED):
        a = {tuple(r) for r in full.catalog.read(spark, table).collect()}
        b = {tuple(r) for r in copy.catalog.read(spark, table).collect()}
        assert a == b, table


def test_resume_with_wrong_bloom_params_refuses(spark, tmp_path):
    """Persisted shard bitmaps are only meaningful under the exact
    (n_shards, m_bits, k) that built them: a resume with different
    parameters must fail loudly, not silently mis-probe."""
    eng = _engine(spark, tmp_path, "bp")
    eng.bootstrap(synth.seed_frontier(spark, 50))
    eng.run_round(0)

    bad = _engine(spark, tmp_path, "bp")
    bad.bloom_bits = 1 << 18  # differs from the 1<<16 the catalog was built with
    with pytest.raises(ValueError, match="bloom parameter mismatch"):
        bad.run_round(bad.next_round())

    # same-params resume still works
    ok = _engine(spark, tmp_path, "bp")
    res = ok.run_round(ok.next_round())
    assert res["round"] == 1


def test_resume_without_bloom_meta_refuses(spark, tmp_path):
    """bootstrap always pins the filter parameters; a catalog whose
    bloom_meta row is missing, or lacks the backend field, cannot be
    checked and must be refused rather than probed as if it matched."""
    eng = _engine(spark, tmp_path, "nm")
    eng.bootstrap(synth.seed_frontier(spark, 50))
    eng.catalog.drop(eng.T_BLOOM_META)
    with pytest.raises(ValueError, match="no bloom_meta row"):
        eng.run_round(0)

    no_backend = spark.createDataFrame(
        [(16, 1 << 16, 5)], "n_shards int, m_bits long, k int"
    )
    eng.catalog.overwrite(no_backend, eng.T_BLOOM_META)
    with pytest.raises(ValueError, match="no bloom_meta row"):
        eng.run_round(0)


def test_cuckoo_backend_matches_oracle(spark, tmp_path):
    """The seen-filter backend is correctness-neutral: a cuckoo-backed crawl
    produces the identical seen set and crawl order as the oracle (and hence
    as the Bloom-backed engine)."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "ck")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 200))
    eng.run(2)
    want = oracle.crawl(200, synth.robots_rows(), 2, round_seconds=ROUND_SECONDS)

    got_seen = {
        r.url_canon for r in eng.catalog.read(spark, eng.T_SEEN).collect()
    }
    assert got_seen == set(want["seen"])
    got_order = [
        (r.round, r.host, r.host_rank, r.url_canon)
        for r in eng.catalog.read(spark, eng.T_SCHED)
        .orderBy("round", "host", "host_rank")
        .collect()
    ]
    want_order = [
        (rnd, h, rank, u)
        for rnd, batch in enumerate(want["crawl_order"])
        for (h, rank, u) in batch
    ]
    assert got_order == want_order


def test_cuckoo_replay_rewrites_delta_not_double_inserts(spark, tmp_path):
    """Cuckoo insertion is not idempotent, so the shards table stores
    round-keyed DELTAS: replaying a crashed round must leave the shard
    table bit-identical to an uninterrupted run (no duplicate fps)."""
    def mk(name):
        return CrawlEngine(
            spark=spark,
            catalog=Catalog(str(tmp_path / name)),
            robots=synth.robots_df(spark),
            round_seconds=ROUND_SECONDS,
            seen_filter="cuckoo",
            bloom_shards=8,
            cuckoo_buckets=1 << 10,
        )

    full = mk("full")
    full.bootstrap(synth.seed_frontier(spark, 200))
    full.run(2)

    crashed = mk("crashed")
    crashed.bootstrap(synth.seed_frontier(spark, 200))
    crashed.run_round(0)
    crashed.run_round(1)
    ck = crashed.catalog.read(spark, crashed.T_CKPT).filter(F.col("round") != 1)
    crashed.catalog.overwrite(ck, crashed.T_CKPT)
    resumed = mk("crashed")
    assert resumed.next_round() == 1
    resumed.run(1)

    def shard_rows(eng):
        return sorted(
            (r.round, r.shard, bytes(r.table).hex(), tuple(r.overflow))
            for r in eng.catalog.read(spark, eng.T_SHARDS).collect()
        )

    assert shard_rows(full) == shard_rows(resumed)
    a = {r.url_canon for r in full.catalog.read(spark, full.T_SEEN).collect()}
    b = {r.url_canon for r in resumed.catalog.read(spark, resumed.T_SEEN).collect()}
    assert a == b
    _assert_seen_unique(spark, resumed)


def test_crash_after_seen_write_then_force_recrawl_replays_exactly(spark, tmp_path):
    """Round 1 crashes after its seen write, before its frontier overwrite;
    a force_recrawl of a round-0 URL then changes round 1's batch. The
    replay must replace the crashed attempt's seen rows: afterwards no URL
    is both seen and pending, and round 1's seen rows are exactly what
    round 1 scheduled."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "seencrash")),
        robots=synth.robots_df(spark),
        round_seconds=2,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 300))
    eng.run_round(0)

    cat = eng.catalog
    real_overwrite = cat.overwrite

    def boom(df, name, part=None):
        if name == eng.T_FRONTIER:
            raise OSError("injected crash before the frontier overwrite")
        return real_overwrite(df, name, part)

    cat.overwrite = boom
    with pytest.raises(OSError):
        eng.run_round(1)
    cat.overwrite = real_overwrite

    # a round-0 URL on a host the crashed round 1 scheduled: re-admitted at
    # top priority, it displaces one of that host's crashed-attempt URLs
    sched = cat.read(spark, eng.T_SCHED)
    crashed_hosts = {
        r.host for r in sched.filter(F.col("round") == 1).select("host").collect()
    }
    target = sorted(
        r.url_canon
        for r in sched.filter(F.col("round") == 0).collect()
        if r.host in crashed_hosts
    )[0]
    res = eng.force_recrawl(
        spark.createDataFrame([(target,)], "url_canon string"), priority=100.0
    )
    assert res["recrawl"] == 1
    assert eng.next_round() == 1
    eng.run(1)

    seen = cat.read(spark, eng.T_SEEN).collect()
    pending = {r.url_canon for r in cat.read(spark, eng.T_FRONTIER).collect()}
    assert {r.url_canon for r in seen} & pending == set()
    sched1 = {
        r.url_canon
        for r in cat.read(spark, eng.T_SCHED).filter(F.col("round") == 1).collect()
    }
    assert target in sched1
    assert sorted(r.url_canon for r in seen if r.first_round == 1) == sorted(sched1)


def test_force_recrawl_readmits_and_refetches(spark, tmp_path):
    """ADVICE-wired capability: cuckoo delete -> seen delete -> frontier
    re-admission; the URL is actually scheduled and fetched AGAIN next
    round, and the engine stays consistent afterwards."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "fr")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 200))
    eng.run(2)

    sched = eng.catalog.read(spark, eng.T_SCHED)
    target = sched.filter(F.col("round") == 0).limit(1).collect()[0].url_canon
    urls = spark.createDataFrame([(target,)], "url_canon string")

    res = eng.force_recrawl(urls, priority=100.0)
    assert res["recrawl"] == 1

    # deleted from seen, re-admitted to frontier
    seen = {r.url_canon for r in eng.catalog.read(spark, eng.T_SEEN).collect()}
    assert target not in seen
    pending = {
        r.url_canon for r in eng.catalog.read(spark, eng.T_FRONTIER).collect()
    }
    assert target in pending

    # next round schedules and fetches it again (priority 100 wins its host)
    nxt = eng.next_round()
    eng.run_round(nxt)
    resched = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == nxt)
        .collect()
    }
    assert target in resched
    seen_after = {
        r.url_canon for r in eng.catalog.read(spark, eng.T_SEEN).collect()
    }
    assert target in seen_after  # fetched again -> back in seen


def test_force_recrawl_requires_cuckoo(spark, tmp_path):
    eng = _engine(spark, tmp_path, name="fr-bloom")
    eng.bootstrap(synth.seed_frontier(spark, 50))
    eng.run(1)
    urls = spark.createDataFrame([("https://x.example.com/",)], "url_canon string")
    with pytest.raises(ValueError, match="cuckoo"):
        eng.force_recrawl(urls)


def test_expire_snapshots_preserves_pinned_versions(spark, tmp_path):
    """Retention must never delete the manifests the latest checkpoint pins
    (kill-and-resume reads them via time travel)."""
    eng = _engine(spark, tmp_path, name="exp")
    eng.bootstrap(synth.seed_frontier(spark, 100))
    eng.run(3)
    eng.expire_old_snapshots(keep_last=1)
    # resume still works: replay the next round from pinned versions
    nxt = eng.next_round()
    res = eng.run_round(nxt)
    assert res["round"] == nxt


def test_transient_write_failure_mid_commit_converges(spark, tmp_path):
    """T7 (ref retry/backoff, main.py:130-182): a TRANSIENT catalog write
    failure mid-commit (after some tables committed, before the checkpoint)
    aborts the round; simply re-running the round (Spark's retry unit)
    converges to the uninterrupted run's exact state — replay-idempotent
    commits are the distributed answer to per-request retry loops."""
    full = _engine(spark, tmp_path, "t7-full")
    full.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    full.run(2)

    flaky = _engine(spark, tmp_path, "t7-flaky")
    flaky.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    flaky.run_round(0)

    # inject: the seen-table write in round 1's commit sequence fails once
    # (shards committed, seen and checkpoint not)
    cat = flaky.catalog
    real_op = cat.overwrite_partition
    fails = {"n": 0}

    def flaky_op(df, name, part):
        if name == flaky.T_SEEN and fails["n"] == 0:
            fails["n"] += 1
            raise OSError("injected transient write failure")
        return real_op(df, name, part)

    cat.overwrite_partition = flaky_op
    with pytest.raises(OSError, match="transient"):
        flaky.run_round(1)
    cat.overwrite_partition = real_op

    # retry = rerun the round; next_round still says 1 (no checkpoint landed)
    assert flaky.next_round() == 1
    flaky.run_round(1)

    for table in (full.T_SEEN, full.T_FRONTIER, full.T_SCHED, full.T_SHARDS):
        a = {tuple(r) for r in full.catalog.read(spark, table).collect()}
        b = {tuple(r) for r in flaky.catalog.read(spark, table).collect()}
        assert a == b, table
    _assert_seen_unique(spark, flaky)


def _probe_engine(spark, tmp_path, name, **sizes):
    return CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / name)),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        **sizes,
    )


def test_probe_mode_auto_selects_by_filter_size(spark, tmp_path, monkeypatch):
    """The seen-filter probe is broadcast while the configured merged
    filter fits under BROADCAST_FILTER_MAX_BYTES and routed beyond it."""
    # threshold logic, no data needed: default sizes (8 MiB) broadcast...
    assert _probe_engine(spark, tmp_path, "default")._resolved_probe_mode() == (
        "broadcast"
    )
    # ...a 10^10-key-shaped config (1024 shards x 512 MiB bloom) routes
    big = _probe_engine(
        spark, tmp_path, "big", bloom_shards=1024, bloom_bits=1 << 32, bloom_k=5
    )
    assert big._resolved_probe_mode() == "routed"
    # ...and a small filter routes once the threshold is pushed below it
    small = _probe_engine(
        spark, tmp_path, "small", bloom_shards=8, bloom_bits=1 << 16, bloom_k=5
    )
    assert small._resolved_probe_mode() == "broadcast"
    monkeypatch.setattr(crawl_round, "BROADCAST_FILTER_MAX_BYTES", 1024)
    assert small._resolved_probe_mode() == "routed"


def test_routed_probe_engine_matches_oracle(spark, tmp_path, monkeypatch):
    """The routed probe (shard-routed cogroup, no broadcast) is correctness-
    neutral: identical seen set and crawl order as the oracle."""
    monkeypatch.setattr(crawl_round, "BROADCAST_FILTER_MAX_BYTES", 1024)
    eng = _probe_engine(
        spark, tmp_path, "routed", bloom_shards=8, bloom_bits=1 << 16, bloom_k=5
    )
    assert eng._resolved_probe_mode() == "routed"
    eng.bootstrap(synth.seed_frontier(spark, 200))
    eng.run(2)
    want = oracle.crawl(200, synth.robots_rows(), 2, round_seconds=ROUND_SECONDS)
    got_seen = {
        r.url_canon: r.first_round
        for r in eng.catalog.read(spark, eng.T_SEEN).collect()
    }
    assert got_seen == want["seen"]
    got_rounds: dict[int, list] = {}
    for r in eng.catalog.read(spark, eng.T_SCHED).collect():
        got_rounds.setdefault(r.round, []).append(
            (r.host, r.host_rank, r.url_canon)
        )
    assert [sorted(got_rounds[r]) for r in sorted(got_rounds)] == want[
        "crawl_order"
    ]


def test_copy_on_write_catalog_refused_and_compaction_clean(spark, tmp_path):
    """compact_docs() on a clean crawl (no superseded copies) leaves
    read_docs() unchanged; a documents table without a round column (a
    catalog written by the removed copy-on-write mode) refuses to resume
    rather than mix schemas."""
    eng = _engine(spark, tmp_path, "docs")
    eng.bootstrap(synth.seed_frontier(spark, 200))
    eng.run(2)

    def doc_map():
        return {
            r.doc_id: [tuple(s) for s in r.spans]
            for r in eng.read_docs().select("doc_id", "spans").collect()
        }

    before = doc_map()
    eng.compact_docs()
    assert doc_map() == before

    cat = eng.catalog
    cat.overwrite(cat.read(spark, eng.T_DOCS).drop("round"), eng.T_DOCS)
    resumed = _engine(spark, tmp_path, "docs")
    with pytest.raises(ValueError, match="no round column"):
        resumed.run_round(resumed.next_round())


def test_mor_force_recrawl_updates_doc_latest_wins(spark, tmp_path):
    """mor + cuckoo force_recrawl: the re-crawled doc's new copy supersedes
    the old at read time; compaction folds the superseded copy away."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "morfr")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 150))
    eng.run(2)
    target = (
        eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == 0).limit(1).collect()[0].url_canon
    )
    eng.force_recrawl(
        spark.createDataFrame([(target,)], "url_canon string"), priority=100.0
    )
    eng.run_round(eng.next_round())

    raw = eng.catalog.read(spark, eng.T_DOCS).filter(F.col("doc_id") == target)
    assert raw.count() == 2  # old + re-crawled copy coexist in storage
    visible = eng.read_docs().filter(F.col("doc_id") == target)
    assert visible.count() == 1  # latest wins at read time

    n_before = eng.catalog.row_count(eng.T_DOCS)
    eng.compact_docs()
    assert eng.catalog.row_count(eng.T_DOCS) == n_before - 1
    assert eng.read_docs().filter(F.col("doc_id") == target).count() == 1


def test_force_recrawl_rerun_completes_after_crash(spark, tmp_path):
    """Review finding: a force_recrawl that crashes after the seen delete
    but before frontier re-admission must complete on RE-RUN (the victims
    are no longer in seen, but they're not pending either — the re-run
    re-admits exactly them)."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "frcrash")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 150))
    eng.run(2)
    target = (
        eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == 0).limit(1).collect()[0].url_canon
    )
    urls = spark.createDataFrame([(target,)], "url_canon string")

    # crash: shard + seen deletes commit, frontier append fails
    cat = eng.catalog
    real_append = cat.append
    def boom(df, name):
        if name == eng.T_FRONTIER:
            raise OSError("injected crash before re-admission")
        return real_append(df, name)
    cat.append = boom
    with pytest.raises(OSError):
        eng.force_recrawl(urls, priority=100.0)
    cat.append = real_append

    # re-run completes: victims gone from seen, so the unknown-url branch
    # re-admits them and the repin publishes everything
    res = eng.force_recrawl(urls, priority=100.0)
    assert res["readmitted"] == 1
    fv, sv, _ = eng._pinned_versions(eng.next_round())
    pending = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_FRONTIER, version=fv).collect()
    }
    seen = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_SEEN, version=sv).collect()
    }
    assert target in pending and target not in seen
    nxt = eng.next_round()
    eng.run_round(nxt)
    resched = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == nxt).collect()
    }
    assert target in resched


def test_compact_folds_fully_superseded_round(spark, tmp_path):
    """Review finding: a round partition whose EVERY doc was superseded
    must still be rewritten (emptied) by compaction."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "fullsup")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 60))
    eng.run_round(0)
    # force-recrawl EVERY round-0 doc, then re-fetch them all
    r0_urls = eng.catalog.read(spark, eng.T_SCHED).filter(
        F.col("round") == 0
    ).select(F.col("url_canon"))
    eng.force_recrawl(r0_urls, priority=100.0)
    eng.run_round(eng.next_round())

    docs = eng.catalog.read(spark, eng.T_DOCS)
    n_physical = docs.count()
    n_visible = eng.read_docs().count()
    assert n_physical > n_visible  # superseded copies exist
    eng.compact_docs()
    docs2 = eng.catalog.read(spark, eng.T_DOCS)
    assert docs2.count() == n_visible  # ALL superseded copies folded
    assert docs2.filter(F.col("round") == 0).count() <= n_visible
    assert eng.read_docs().count() == n_visible


def test_force_recrawl_rerun_repins_after_late_crash(spark, tmp_path):
    """Review finding (r03): a force_recrawl crashing between its frontier
    append (step 3) and its repin (step 4) used to hit the
    n_victims==0 / n_readmit==0 early return on re-run (victims already
    deleted from seen AND already pending) and never repin — leaving the
    overwrites/append unpinned. The re-run must repin whenever any latest
    snapshot differs from its checkpoint pin."""
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "frlate")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 150))
    eng.run(2)
    target = (
        eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == 0).limit(1).collect()[0].url_canon
    )
    urls = spark.createDataFrame([(target,)], "url_canon string")

    # crash AFTER step 3 (frontier append), BEFORE step 4 (repin)
    real = eng._repin_checkpoint
    def boom(*a, **k):
        raise OSError("injected crash before repin")
    eng._repin_checkpoint = boom
    import pytest as _pytest
    with _pytest.raises(OSError):
        eng.force_recrawl(urls, priority=100.0)
    eng._repin_checkpoint = real

    # re-run: both counts are now 0, but snapshots differ from the pins —
    # it must fall through to the repin, not early-return
    res = eng.force_recrawl(urls, priority=100.0)
    assert res == {"recrawl": 0, "readmitted": 0, "round": res["round"]}
    fv, sv, shv = eng._pinned_versions(eng.next_round())
    assert fv == eng.catalog.snapshot_id(eng.T_FRONTIER)
    assert sv == eng.catalog.snapshot_id(eng.T_SEEN)
    assert shv == eng.catalog.snapshot_id(eng.T_SHARDS)

    # and the next round schedules the readmitted URL from the pinned state
    nxt = eng.next_round()
    eng.run_round(nxt)
    resched = {
        r.url_canon
        for r in eng.catalog.read(spark, eng.T_SCHED)
        .filter(F.col("round") == nxt).collect()
    }
    assert target in resched


def test_auto_compaction_bounds_physical_rows(spark, tmp_path, monkeypatch):
    """run() auto-compacts the mor documents table once the force_recrawl
    backlog crosses COMPACT_SUPERSEDED_FRAC of physical rows — a long crawl
    with re-crawls keeps storage bounded without an operator calling
    compact_docs() (r03 verdict: the policy was missing)."""
    monkeypatch.setattr(crawl_round, "COMPACT_SUPERSEDED_FRAC", 0.05)
    eng = CrawlEngine(
        spark=spark,
        catalog=Catalog(str(tmp_path / "autocompact")),
        robots=synth.robots_df(spark),
        round_seconds=ROUND_SECONDS,
        seen_filter="cuckoo",
        bloom_shards=8,
        cuckoo_buckets=1 << 10,
    )
    eng.bootstrap(synth.seed_frontier(spark, 60))
    eng.run(1)
    r0_urls = eng.catalog.read(spark, eng.T_SCHED).filter(
        F.col("round") == 0
    ).select("url_canon")
    n_victims = r0_urls.count()
    eng.force_recrawl(r0_urls, priority=100.0)
    assert eng._recrawl_backlog == n_victims
    # run() refetches the victims (superseding their old copies), then the
    # between-round policy fires and folds the superseded copies away
    eng.run(1)
    assert eng._recrawl_backlog == 0  # compaction ran and reset the trigger
    n_physical = eng.catalog.read(spark, eng.T_DOCS).count()
    n_visible = eng.read_docs().count()
    assert n_physical == n_visible  # no superseded copies survive run()
    # content sanity: every re-crawled doc still visible exactly once
    assert eng.read_docs().select("doc_id").distinct().count() == n_visible


def test_salt_width_from_pinned_pending_count(spark, tmp_path, monkeypatch):
    """run_round sizes its phase-1 salt from the pinned checkpoint row's
    frontier_pending (politeness.salt_width), so a cold resume passes the
    same width as the engine that wrote the row, and round 0 reads the
    admitted seed count from the bootstrap marker. Bucket width is
    correctness-neutral (test_two_phase_equals_single_phase pins that; the
    module fixture's oracle gates pin it end-to-end)."""
    from job_crawler_spark.functions.urls import py_canonicalize
    from job_crawler_spark.operators import politeness

    monkeypatch.setattr(politeness, "SALT_TARGET_ROWS", 4)
    widths = []
    real = crawl_round.schedule_batch

    def spy(frontier, robots, round_seconds, salt_buckets):
        widths.append(salt_buckets)
        return real(frontier, robots, round_seconds, salt_buckets)

    monkeypatch.setattr(crawl_round, "schedule_batch", spy)

    def engine():
        return CrawlEngine(
            spark=spark,
            catalog=Catalog(str(tmp_path / "salt")),
            robots=synth.robots_df(spark),
            round_seconds=ROUND_SECONDS,
            bloom_shards=8,
            bloom_bits=1 << 16,
            bloom_k=5,
        )

    seeds = synth.seed_frontier(spark, 200)
    n_admitted = len({py_canonicalize(r.url) for r in seeds.collect()})
    eng = engine()
    eng.bootstrap(seeds)
    assert eng._latest_ckpt_row(-1)["frontier_pending"] == n_admitted
    eng.run_round(0)
    assert widths == [politeness.salt_width(n_admitted)]
    pending = eng._latest_ckpt_row(0)["frontier_pending"]
    eng.run_round(1)
    assert widths[-1] == politeness.salt_width(pending) > 1
    # cold resume: a fresh engine replaying round 1 passes the same width
    engine().run_round(1)
    assert widths[-1] == widths[-2]
