"""HITS unit tests against an independent driver-side oracle.

The oracle is a dict-based fixed-point iteration (no Spark, no numpy):
authority' = L1-normalized sum of in-neighbour hubs, hub' = L1-normalized
sum of out-neighbour authorities. Hand graphs exercise what the gated
query cannot (see plans/graph_plans.py): sink/source-only nodes (zero
hub or authority), parallel edges, deep iteration counts crossing
checkpoint_every.
"""

from __future__ import annotations

import math

import pytest

from job_crawler_spark.operators.checkpoints import release_checkpoints
from job_crawler_spark.operators.hits import hits


def _oracle(edges, iterations):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    hub = {v: 1.0 / n for v in nodes}
    auth = {v: 0.0 for v in nodes}
    for _ in range(iterations):
        auth = {v: 0.0 for v in nodes}
        for u, v in edges:
            auth[v] += hub[u]
        at = math.fsum(auth.values())
        auth = {v: a / at for v, a in auth.items()}
        hub = {v: 0.0 for v in nodes}
        for u, v in edges:
            hub[u] += auth[v]
        ht = math.fsum(hub.values())
        hub = {v: h / ht for v, h in hub.items()}
    return hub, auth


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, ["src", "dst"])
    scores = hits(df, **kw)
    rows = scores.collect()
    got_h = {r["node"]: r["hub"] for r in rows}
    got_a = {r["node"]: r["authority"] for r in rows}
    release_checkpoints(scores)
    return got_h, got_a


# b is a pure authority (no out-edges), a a pure hub (no in-edges),
# c/d mixed
GRAPH = [
    ("a", "b"),
    ("a", "c"),
    ("c", "b"),
    ("c", "d"),
    ("d", "c"),
]


@pytest.mark.parametrize("iterations", [1, 3, 7])
def test_matches_oracle(spark, iterations):
    got_h, got_a = _run(spark, GRAPH, iterations=iterations)
    want_h, want_a = _oracle(GRAPH, iterations)
    assert set(got_h) == set(want_h)
    for v in want_h:
        assert got_h[v] == pytest.approx(want_h[v], abs=1e-12), ("hub", v)
        assert got_a[v] == pytest.approx(want_a[v], abs=1e-12), ("auth", v)


def test_l1_normalized_and_role_zeros(spark):
    got_h, got_a = _run(spark, GRAPH, iterations=4)
    assert math.fsum(got_h.values()) == pytest.approx(1.0, abs=1e-9)
    assert math.fsum(got_a.values()) == pytest.approx(1.0, abs=1e-9)
    # no in-edges -> zero authority; no out-edges -> zero hub
    assert got_a["a"] == 0.0
    assert got_h["b"] == 0.0


def test_parallel_edges_count_per_occurrence(spark):
    edges = [("a", "b"), ("a", "b"), ("a", "c"), ("d", "b"), ("d", "c")]
    got_h, got_a = _run(spark, edges, iterations=3)
    want_h, want_a = _oracle(edges, 3)
    for v in want_h:
        assert got_h[v] == pytest.approx(want_h[v], abs=1e-12), v
    # the duplicate a->b edge makes b more authoritative than c and a a
    # stronger hub than d
    assert got_a["b"] > got_a["c"]
    assert got_h["a"] > got_h["d"]


def test_checkpoint_boundary_preserves_values(spark):
    # (5, 2) exercises the swap AND the release of the superseded
    # checkpoint; (6, 4) keeps one larger materialization gap in the
    # loop (r05 ADVICE: a multi-iteration un-checkpointed tail must stay
    # covered — the ~4x-per-iteration plan growth concern applies to
    # DEFAULT callers, not a 6-iteration test graph)
    for iters, ck_every in ((5, 2), (6, 4)):
        want_h, want_a = _oracle(GRAPH, iters)
        got_h, got_a = _run(
            spark, GRAPH, iterations=iters, checkpoint_every=ck_every
        )
        for v in want_h:
            assert got_h[v] == pytest.approx(want_h[v], abs=1e-12)
            assert got_a[v] == pytest.approx(want_a[v], abs=1e-12)


def test_custom_columns(spark):
    df = spark.createDataFrame([(1, 2), (2, 3), (3, 1)], ["u", "v"])
    scores = hits(df, iterations=3, src="u", dst="v")
    rows = scores.collect()
    release_checkpoints(scores)
    # 3-cycle is symmetric: uniform 1/3 hubs and authorities
    for r in rows:
        assert r["hub"] == pytest.approx(1.0 / 3.0, abs=1e-12)
        assert r["authority"] == pytest.approx(1.0 / 3.0, abs=1e-12)


def test_releases_all_checkpoint_blocks(spark):
    before = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    df = spark.createDataFrame(GRAPH, ["src", "dst"])
    scores = hits(df, iterations=5, checkpoint_every=2)
    scores.count()
    # the edge checkpoint backs the caches' recompute, so the result owns it
    edge_ck = [
        f for f in scores._graft_checkpoints
        if f.columns == ["src", "dst"] and getattr(f, "_graft_ckpt_rdds", None)
    ]
    assert len(edge_ck) == 1
    edge_ids = set(edge_ck[0]._graft_ckpt_rdds)
    stored = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert edge_ids <= stored
    release_checkpoints(scores)
    after = {
        int(i.id())
        for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
    }
    assert after == before, f"hits leaked blocks: {after - before}"


def test_empty_edge_frame_clear_error(spark):
    import pytest as _pytest

    from job_crawler_spark.operators.hits import hits
    from job_crawler_spark.operators.pagerank import pagerank

    empty = spark.createDataFrame([], "src string, dst string")
    with _pytest.raises(ValueError, match="empty"):
        hits(empty)
    with _pytest.raises(ValueError, match="empty"):
        pagerank(empty)
