"""Checks of the benchmark itself. Run from the repository root:

    python3 -m pytest perfbench -q

The crawl test runs the benchmark's engine configuration at a reduced seed
count and compares it with the single-process oracle: per-round crawl
order and the final seen set must be identical.
"""

from __future__ import annotations

import json
import os

import pytest

from job_crawler_spark.crawl import oracle
from job_crawler_spark.session import get_spark
from job_crawler_spark.sources import synth
from perfbench import analytics, crawl, run

N_SEEDS = 2_000
ROUNDS = 3
ROUND_SECONDS = 20  # the benchmark's budgets, scaled down with the frontier


@pytest.fixture(scope="module")
def spark():
    s = get_spark(
        "perfbench-tests",
        cores=len(os.sched_getaffinity(0)),
        extra_conf={"spark.driver.memory": "2g"},
    )
    yield s
    s.stop()


def test_crawl_matches_oracle(spark, tmp_path):
    eng = crawl.make_engine(spark, str(tmp_path / "catalog"), round_seconds=ROUND_SECONDS)
    eng.bootstrap(synth.seed_frontier(spark, N_SEEDS))
    prev = {"seen_total": 0, "docs_total": 0}
    for r in range(ROUNDS):
        st = eng.run_round(r)
        assert crawl.check_round(prev, st, None) == []
        prev = st

    want = oracle.crawl(N_SEEDS, synth.robots_rows(), ROUNDS, round_seconds=ROUND_SECONDS)
    got: dict[int, list] = {}
    for row in eng.catalog.read(spark, eng.T_SCHED).collect():
        got.setdefault(row.round, []).append((row.host, row.host_rank, row.url_canon))
    assert [sorted(got[r]) for r in sorted(got)] == want["crawl_order"]
    seen = eng.catalog.read(spark, eng.T_SEEN).collect()
    assert {row.url_canon: row.first_round for row in seen} == want["seen"]


def test_check_round_flags_each_invariant():
    prev = {"seen_total": 10, "docs_total": 8}
    good = {"round": 1, "scheduled": 5, "fetched": 4, "seen_total": 15, "docs_total": 12}
    assert crawl.check_round(prev, good, 5) == []
    assert len(crawl.check_round(prev, good, 6)) == 1
    assert len(crawl.check_round(prev, {**good, "seen_total": 14}, 5)) == 1
    assert len(crawl.check_round(prev, {**good, "docs_total": 13}, 5)) == 1


def test_canonical_is_type_and_order_faithful():
    a = analytics.canonical(["B", "a"], [(1, 2.0), (3, None)])
    assert a == analytics.canonical(["a", "b"], [(None, 3), (2.0, 1)])
    assert a != analytics.canonical(["B", "a"], [(1, 2), (3, None)])  # int vs float
    assert a != analytics.canonical(["B", "a"], [(1, 2.0000000000000004), (3, None)])


def test_pass_order_is_a_seeded_permutation():
    assert analytics.pass_order(3, 1) == analytics.pass_order(3, 1)
    assert sorted(analytics.pass_order(3, 1)) == sorted(analytics.QUERIES)
    assert len({tuple(analytics.pass_order(3, p)) for p in range(5)}) > 1


def test_benchmark_json_lists_what_run_prints():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert set(run._ANALYTICS_QUERIES) == set(analytics.QUERIES)
