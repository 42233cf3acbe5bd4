"""Consistent-hash ring placement (operators/ring.py): vnode determinism,
Spark-vs-Python position parity, successor/wrap-around goldens, the
Karger minimal-disruption invariant (every moved host lands on the NEW
shard), validation, and the zero-join/zero-shuffle plan pin. The
sf-fixture oracle parity runs in test_oracle_parity.py via the
``shard_rebalance`` gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from job_crawler_spark.operators.ring import (
    _md5_pos32,
    host_ring_pos,
    ring_rebalance_plan,
    ring_vnodes,
)


def _py_assign(pos: int, vnodes) -> int:
    for p, s in vnodes:
        if p >= pos:
            return s
    return vnodes[0][1]


def _hosts(spark, names):
    return spark.createDataFrame([(h,) for h in names], "host string")


def test_vnodes_deterministic_sorted_and_sized():
    vn = ring_vnodes(4, 16)
    assert vn == ring_vnodes(4, 16)
    positions = [p for p, _ in vn]
    assert positions == sorted(positions)
    # collisions are ~2^-33 likely; this config has none
    assert len(vn) == 64
    assert {s for _, s in vn} == {0, 1, 2, 3}
    # spot-pin one vnode against the documented formula
    assert (_md5_pos32("shard:0:rep:0"), 0) in vn


def test_host_ring_pos_matches_python_md5(spark):
    names = [f"h{i}.example.com" for i in range(20)]
    rows = (
        _hosts(spark, names)
        .withColumn("pos", host_ring_pos(F.col("host")))
        .collect()
    )
    for r in rows:
        assert r["pos"] == _md5_pos32(r["host"])


def test_assignment_matches_python_successor_lookup(spark):
    vn = ring_vnodes(4, 16)
    names = [f"h{i}.example.com" for i in range(100)]
    got = {
        r["host"]: (r["ring_pos"], r["shard_a"])
        for r in ring_rebalance_plan(_hosts(spark, names), n_shards=4).collect()
    }
    for h in names:
        pos = _md5_pos32(h)
        assert got[h] == (pos, _py_assign(pos, vn))
    # with 64 vnodes and 100 hosts every shard should own something
    assert {s for _, s in got.values()} == {0, 1, 2, 3}


def test_wrap_around_goes_to_first_vnode(spark):
    vn = ring_vnodes(4, 16)
    max_pos = vn[-1][0]
    wrap = next(
        h
        for h in (f"w{i}.example.com" for i in range(100_000))
        if _md5_pos32(h) > max_pos
    )
    row = ring_rebalance_plan(_hosts(spark, [wrap]), n_shards=4).collect()[0]
    assert row["shard_a"] == vn[0][1]


def test_rebalance_moved_hosts_land_on_new_shard_only(spark):
    """Karger minimal disruption: growing 4 -> 5 shards may only move a
    host ONTO shard 4 — never between two old shards — and must move a
    nonzero fraction (expected ~1/5) of a wide host universe."""
    names = [f"h{i}.example.com" for i in range(500)]
    rows = ring_rebalance_plan(_hosts(spark, names), n_shards=4).collect()
    moved = [r for r in rows if r["moved"]]
    assert moved, "a 500-host universe must see some capture by the new shard"
    assert all(r["shard_b"] == 4 for r in moved)
    assert all(r["shard_a"] == r["shard_b"] for r in rows if not r["moved"])
    # disruption bounded: nowhere near a modulo-style full reshuffle
    assert len(moved) / len(rows) < 0.45


def test_validation():
    with pytest.raises(ValueError):
        ring_vnodes(0, 16)
    with pytest.raises(ValueError):
        ring_vnodes(4, 0)


def test_assign_plan_is_narrow(spark):
    """ZERO joins, ZERO exchanges, no Python: assignment is a literal-
    array successor lookup projected per row."""
    df = ring_rebalance_plan(_hosts(spark, ["a.example.com"]), n_shards=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert "Python" not in plan
