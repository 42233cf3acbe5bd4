"""Freshness-driven revisit scheduling: golden histories, interval rule
edges, single-exchange plan pin."""

from __future__ import annotations

from job_crawler_spark.operators.revisit import revisit_schedule

_SCHEMA = "url_canon STRING, round INT, content_hash STRING"


def _hist(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA)


def _by_url(df):
    return {r.url_canon: r for r in df.collect()}


def test_golden_histories(spark):
    rows = [
        # never changes after discovery: streak = n-1 = 3, interval 8
        ("u/stable", 1, "a"), ("u/stable", 2, "a"),
        ("u/stable", 3, "a"), ("u/stable", 4, "a"),
        # changes on the last fetch: streak 0, interval resets to base
        ("u/hot", 1, "a"), ("u/hot", 2, "b"), ("u/hot", 3, "c"),
        # change mid-history then stable: streak counts only the tail
        ("u/mid", 1, "a"), ("u/mid", 2, "b"),
        ("u/mid", 3, "b"), ("u/mid", 4, "b"),
        # single fetch: discovery only, streak 0
        ("u/new", 5, "a"),
        # A-B-A flip: a return to an OLD hash is still a change
        ("u/flip", 1, "a"), ("u/flip", 2, "b"), ("u/flip", 3, "a"),
    ]
    out = _by_url(revisit_schedule(_hist(spark, rows), 9, max_interval=64))

    s = out["u/stable"]
    assert (s.n_fetches, s.n_changes, s.stable_streak) == (4, 0, 3)
    assert (s.revisit_interval if hasattr(s, "revisit_interval")
            else s.interval) == 8
    assert (s.last_change_round, s.next_due, s.due) == (1, 12, False)

    h = out["u/hot"]
    assert (h.n_changes, h.stable_streak, h.interval) == (2, 0, 1)
    assert (h.last_change_round, h.next_due, h.due) == (3, 4, True)

    m = out["u/mid"]
    assert (m.n_changes, m.stable_streak, m.interval) == (1, 2, 4)
    assert (m.last_change_round, m.next_due, m.due) == (2, 8, True)

    n = out["u/new"]
    assert (n.n_fetches, n.n_changes, n.stable_streak, n.interval) == (1, 0, 0, 1)
    assert (n.last_change_round, n.next_due, n.due) == (5, 6, True)

    f = out["u/flip"]
    assert (f.n_changes, f.stable_streak, f.last_change_round) == (2, 0, 3)


def test_interval_caps(spark):
    # 10 unchanged fetches: streak 9 -> 2**9 = 512, capped at max_interval
    rows = [("u", r, "a") for r in range(1, 11)]
    row = revisit_schedule(_hist(spark, rows), 99, max_interval=16).first()
    assert (row.stable_streak, row.interval) == (9, 16)
    # base_interval scales the whole ladder before the cap
    row = revisit_schedule(
        _hist(spark, [("u", 1, "a"), ("u", 2, "a")]), 99,
        base_interval=3, max_interval=100,
    ).first()
    assert (row.stable_streak, row.interval, row.next_due) == (1, 6, 8)


def test_due_boundary_is_inclusive(spark):
    # next_due == current_round is due; current_round - 1 is not
    rows = [("u", 4, "a")]  # next_due = 5
    assert revisit_schedule(_hist(spark, rows), 5).first().due
    assert not revisit_schedule(_hist(spark, rows), 4).first().due


def test_single_exchange_plan(spark):
    """The lag/row_number window and BOTH hash aggregates must share one
    hash exchange on url_canon — the groupBy reuses the window's
    partitioning (the operator's 10^10-row history claim)."""
    rows = [("u", r, "a") for r in range(1, 4)]
    plan = revisit_schedule(
        _hist(spark, rows), 9
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "rangepartitioning" not in plan, plan
