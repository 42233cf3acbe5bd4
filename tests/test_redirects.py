"""Redirect-chain resolution (operators/redirects.py): pointer-doubling
goldens — chains, loops, hop cap, doubling-round coverage. The sf-fixture
parity (vs a DuckDB recursive CTE) runs in test_oracle_parity.py via the
redirect_resolve gate."""

from __future__ import annotations

import pytest

from job_crawler_spark.operators.redirects import resolve_redirects


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src string, dst string")


def _by_src(df):
    return {
        r.src_url: (r.final_url, r.hops, r.resolved) for r in df.collect()
    }


def test_chain_resolves_with_exact_hops(spark):
    out = _by_src(
        resolve_redirects(
            _edges(spark, [("a", "b"), ("b", "c"), ("c", "d")]), max_hops=8
        )
    )
    assert out == {
        "a": ("d", 3, True),
        "b": ("d", 2, True),
        "c": ("d", 1, True),
    }


def test_two_cycle_is_unresolved(spark):
    out = _by_src(
        resolve_redirects(
            _edges(spark, [("x", "y"), ("y", "x"), ("a", "x")]), max_hops=8
        )
    )
    # the feeder chain into the cycle is just as unresolved as the cycle
    assert out == {
        "x": (None, None, False),
        "y": (None, None, False),
        "a": (None, None, False),
    }


def test_hop_cap_boundary_is_inclusive(spark):
    chain = [(f"n{i}", f"n{i+1}") for i in range(5)]  # n0 -> ... -> n5
    capped = _by_src(resolve_redirects(_edges(spark, chain), max_hops=4))
    assert capped["n0"] == (None, None, False)  # 5 hops > cap 4
    assert capped["n1"] == ("n5", 4, True)  # exactly at the cap
    exact = _by_src(resolve_redirects(_edges(spark, chain), max_hops=5))
    assert exact["n0"] == ("n5", 5, True)


def test_doubling_rounds_cover_the_cap(spark):
    # max_hops=1 runs ZERO doubling rounds: only 1-hop chains resolve
    out = _by_src(
        resolve_redirects(
            _edges(spark, [("a", "b"), ("b", "c")]), max_hops=1
        )
    )
    assert out["b"] == ("c", 1, True)
    assert out["a"] == (None, None, False)


def test_duplicate_edges_are_deduped(spark):
    out = _by_src(
        resolve_redirects(
            _edges(spark, [("a", "b"), ("a", "b"), ("b", "c")]), max_hops=8
        )
    )
    assert out == {"a": ("c", 2, True), "b": ("c", 1, True)}


def test_bad_cap_rejected(spark):
    with pytest.raises(ValueError, match="max_hops"):
        resolve_redirects(_edges(spark, [("a", "b")]), max_hops=0)
