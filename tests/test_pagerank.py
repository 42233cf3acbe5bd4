"""PageRank unit tests against an independent driver-side oracle.

The oracle is a dict-based power iteration (no Spark, no numpy linear
algebra tricks) implementing the same update: rank' = (1-d)/n +
d * (sum incoming rank/out_deg + dangling_mass/n). Hand graphs exercise
the cases the gated query cannot (see plans/graph_plans.py): dangling
nodes, parallel edges, deep iteration counts crossing checkpoint_every.
"""

from __future__ import annotations

import math

import pytest

from job_crawler_spark.operators.checkpoints import release_checkpoints
from job_crawler_spark.operators.pagerank import pagerank


def _oracle(edges, iterations, damping):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    out_deg: dict[str, int] = {}
    for u, _ in edges:
        out_deg[u] = out_deg.get(u, 0) + 1
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {v: 0.0 for v in nodes}
        for u, v in edges:
            contrib[v] += rank[u] / out_deg[u]
        dmass = sum(rank[v] for v in nodes if v not in out_deg)
        rank = {
            v: (1.0 - damping) / n
            + damping * (contrib[v] + dmass / n)
            for v in nodes
        }
    return rank


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    ranks = pagerank(df, **kw)
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    release_checkpoints(ranks)
    return got


DANGLING_GRAPH = [
    ("a", "b"),
    ("a", "c"),
    ("b", "c"),
    ("c", "a"),
    ("c", "d"),  # d has no out-edges: dangling
]


@pytest.mark.parametrize("iterations", [1, 3, 10])
def test_matches_oracle_with_dangling_node(spark, iterations):
    got = _run(spark, DANGLING_GRAPH, iterations=iterations)
    want = _oracle(DANGLING_GRAPH, iterations, 0.85)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v


def test_mass_is_conserved(spark):
    got = _run(spark, DANGLING_GRAPH, iterations=5)
    assert math.fsum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_parallel_edges_count_per_occurrence(spark):
    edges = [("a", "b"), ("a", "b"), ("a", "c"), ("b", "a"), ("c", "a")]
    got = _run(spark, edges, iterations=4)
    want = _oracle(edges, 4, 0.85)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12), v
    # b receives 2/3 of a's mass, c only 1/3 — the duplicate edge matters
    assert got["b"] > got["c"]


def test_checkpoint_boundary_preserves_values(spark):
    """iterations > checkpoint_every: the mid-loop localCheckpoint swap
    (release of the superseded lineage) must not change the result."""
    # gap kept <= 2: the un-truncated chain doubles per iteration (see
    # operators/pagerank.py); ckpts at 2 and 4 exercise swap + release
    # (6, 4) keeps one larger un-checkpointed gap covered (r05 ADVICE)
    for iters, ck_every in ((5, 2), (6, 4)):
        want = _oracle(DANGLING_GRAPH, iters, 0.85)
        got = _run(
            spark, DANGLING_GRAPH, iterations=iters, checkpoint_every=ck_every
        )
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), (ck_every, v)


def test_custom_damping_and_columns(spark):
    edges = [(1, 2), (2, 3), (3, 1)]
    df = spark.createDataFrame(edges, ["u", "v"])
    ranks = pagerank(df, iterations=3, damping=0.5, src="u", dst="v")
    got = {r["node"]: r["rank"] for r in ranks.collect()}
    release_checkpoints(ranks)
    # 3-cycle is symmetric: uniform 1/3 is the fixed point at any damping
    for v in (1, 2, 3):
        assert got[v] == pytest.approx(1.0 / 3.0, abs=1e-12)


def test_releases_all_checkpoint_blocks(spark):
    before = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    df = spark.createDataFrame(DANGLING_GRAPH, ["src", "dst"])
    ranks = pagerank(df, iterations=5, checkpoint_every=2)
    ranks.count()
    # the edge checkpoint backs the caches' recompute, so the result owns it
    edge_ck = [
        f for f in ranks._graft_checkpoints
        if f.columns == ["src", "dst"] and getattr(f, "_graft_ckpt_rdds", None)
    ]
    assert len(edge_ck) == 1
    edge_ids = set(edge_ck[0]._graft_ckpt_rdds)
    stored = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert edge_ids <= stored
    release_checkpoints(ranks)
    after = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert after == before, f"pagerank leaked blocks: {after - before}"
