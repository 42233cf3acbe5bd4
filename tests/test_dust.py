"""DUST rule mining (operators/dust.py): support/precision goldens,
multi-parameter strip semantics, threshold boundaries, plan shape. The
sf-fixture parity (vs the DuckDB unnest-with-ordinality miner) runs in
test_oracle_parity.py via the dust_rules gate."""

from __future__ import annotations

import pytest

from job_crawler_spark.operators.dust import mine_param_rules

# the smoke corpus: utm safe on h1 (4 instances, incl. the 2-param URL),
# sess safe (2 instances via the 2-param URL), page changes content,
# sid flips content half the time, utm UNSAFE on h2
CORPUS = [
    ("h1/p/1", "A"), ("h1/p/1?utm=1", "A"),
    ("h1/p/2", "B"), ("h1/p/2?utm=2", "B"),
    ("h1/p/3", "C"), ("h1/p/3?page=2", "D"),
    ("h1/p/4", "E"), ("h1/p/4?sid=9", "E"),
    ("h1/p/5", "F"), ("h1/p/5?sid=9", "X"),
    ("h1/p/6", "G"), ("h1/p/6?utm=1", "G"),
    ("h1/p/6?sess=3", "G"), ("h1/p/6?sess=3&utm=1", "G"),
    ("h2/p/1", "Z"), ("h2/p/1?utm=1", "Q"),
]


def _pages(spark, rows=CORPUS):
    return spark.createDataFrame(rows, "url string, content_hash string")


def _mine(spark, rows=CORPUS, **kw):
    out = mine_param_rules(_pages(spark, rows), **kw).orderBy(
        "host", "param"
    )
    return [tuple(r) for r in out.collect()]


def test_rule_goldens(spark):
    assert _mine(spark) == [
        ("h1", "page", 1, 0, 0.0, False),
        ("h1", "sess", 2, 2, 1.0, True),
        ("h1", "sid", 2, 1, 0.5, False),
        ("h1", "utm", 4, 4, 1.0, True),
        ("h2", "utm", 1, 0, 0.0, False),
    ]


def test_support_threshold_is_inclusive(spark):
    by_support = {
        (r[0], r[1]): r[5] for r in _mine(spark, min_support=4)
    }
    assert by_support[("h1", "utm")] is True  # support exactly 4
    assert by_support[("h1", "sess")] is False  # support 2, precision 1


def test_precision_threshold_is_inclusive(spark):
    # sid precision is exactly 0.5: kept at 0.5, rejected just above
    kept = {
        (r[0], r[1]): r[5]
        for r in _mine(spark, min_precision=0.5)
    }
    assert kept[("h1", "sid")] is True
    kept = {
        (r[0], r[1]): r[5]
        for r in _mine(spark, min_precision=0.500001)
    }
    assert kept[("h1", "sid")] is False


def test_applicability_requires_observed_target(spark):
    # the stripped URL was never fetched -> no instance at all
    rows = [("h/p?lonely=1", "A"), ("h/q", "B")]
    assert _mine(spark, rows) == []


def test_scheme_and_degenerate_urls(spark):
    # scheme-ful URLs parse to the same host; a bare trailing '?' is not
    # a rule candidate; a '?' inside a parameter VALUE stays intact
    rows = [
        ("https://h/p", "A"), ("https://h/p?utm=1", "A"),
        ("https://h/q", "B"), ("https://h/q?utm=2", "B"),
        ("https://h/r?", "C"), ("https://h/r", "C"),
        ("https://h/s", "D"), ("https://h/s?a=x?y&utm=3", "E"),
    ]
    # utm: the 2 valid single-param strips; the 2-param URL's strip
    # targets (h/s?a=x?y and h/s?utm=3) were never fetched -> that URL
    # contributes NO applicable instance for either parameter, and the
    # trailing-'?' URL contributes none at all
    assert _mine(spark, rows) == [("h", "utm", 2, 2, 1.0, True)]


def test_duplicate_rows_are_set_semantics(spark):
    rows = [("h/p", "A"), ("h/p", "A"), ("h/p?utm=1", "A"),
            ("h/p?utm=1", "A"), ("h/q", "B"), ("h/q?utm=1", "B")]
    assert _mine(spark, rows) == [("h", "utm", 2, 2, 1.0, True)]


def test_conflicting_hash_lowers_precision(spark):
    # same URL fetched with two hashes: the alias matches one of them ->
    # 2 instances, 1 valid (conservative, never aggressive)
    rows = [("h/p", "A"), ("h/p", "B"), ("h/p?utm=1", "A"),
            ("h/q", "C"), ("h/q?utm=1", "C")]
    assert _mine(spark, rows) == [("h", "utm", 3, 2, 0.666667, False)]


def test_parameter_validation(spark):
    with pytest.raises(ValueError):
        mine_param_rules(_pages(spark), min_support=0)
    with pytest.raises(ValueError):
        mine_param_rules(_pages(spark), min_precision=0.0)
    with pytest.raises(ValueError):
        mine_param_rules(_pages(spark), min_precision=1.5)


def test_plan_shape(spark):
    """Mining: no cartesian, single equi-join on the stripped URL."""
    mined = mine_param_rules(_pages(spark))
    plan = mined._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "NestedLoop" not in plan
