"""Crawler-trap detection: golden signals, flag rule edges, plan shape."""

from __future__ import annotations

from job_crawler_spark.operators.traps import url_trap_signals


def _frontier(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url STRING")


def _calendar_trap(n):
    # unbounded distinct paths, one digit-collapsed template, depth 4
    return [
        f"https://cal.example.com/d/{2000 + i % 7}/{i % 28 + 1}/ev-{i}"
        for i in range(n)
    ]


def _session_trap(n):
    # constant path, fresh query string per URL
    return [f"https://sess.example.com/list?s={i * 7919}" for i in range(n)]


def _benign(n):
    # bounded path set, bounded query set
    return [f"https://ok.example.com/jobs/{i % 5}?page={i % 3}" for i in range(n)]


def test_golden_signals_and_flags(spark):
    urls = _calendar_trap(40) + _session_trap(40) + _benign(40)
    sig = {r.host: r for r in url_trap_signals(_frontier(spark, urls)).collect()}
    assert set(sig) == {"cal.example.com", "sess.example.com", "ok.example.com"}

    cal = sig["cal.example.com"]
    assert (cal.n_urls, cal.n_paths, cal.n_templates) == (40, 40, 1)
    assert cal.max_depth == 4
    assert cal.path_diversity == 1.0 and cal.is_trap

    se = sig["sess.example.com"]
    assert (se.n_paths, se.n_queries) == (1, 40)
    assert se.query_diversity == 1.0 and se.is_trap

    ok = sig["ok.example.com"]
    assert (ok.n_paths, ok.n_queries) == (5, 3)
    assert not ok.is_trap


def test_small_hosts_never_flagged(spark):
    # 19 all-distinct URLs < min_urls=20: trap-shaped but under the floor
    sig = url_trap_signals(_frontier(spark, _calendar_trap(19))).collect()
    assert len(sig) == 1 and not sig[0].is_trap
    # one more URL crosses the floor with the same shape
    sig = url_trap_signals(_frontier(spark, _calendar_trap(20))).collect()
    assert sig[0].is_trap


def test_template_collapse_boundary_is_integer_exact(spark):
    # 10 * n_templates <= n_paths: exactly-at-boundary must flag,
    # one template more must not (via the path clause; no query trap here)
    def host_urls(n_templates):
        # 100 distinct depth-3 paths spread evenly over n_templates shapes
        per = 100 // n_templates
        rest = 100 - per * n_templates
        out = []
        for t in range(n_templates):
            seg = "x" * (t + 1)  # template = /<seg>/N/N, distinct per t
            k = per + (1 if t < rest else 0)
            out += [
                f"https://h.example.com/{seg}/{i // 7}/{i}" for i in range(k)
            ]
        return out

    # 100 distinct paths, 10 templates -> 10*10 <= 100 flags
    r = url_trap_signals(_frontier(spark, host_urls(10))).collect()[0]
    assert (r.n_paths, r.n_templates) == (100, 10)
    assert r.is_trap
    # 11 templates over 100 paths -> 110 > 100 does not flag
    r = url_trap_signals(_frontier(spark, host_urls(11))).collect()[0]
    assert (r.n_paths, r.n_templates) == (100, 11)
    assert not r.is_trap


def test_flat_id_listing_not_flagged(spark):
    # a legitimate job board: every URL a distinct flat /jobs/<id> page —
    # near-1 path diversity, one digit template, but depth 2 < min_depth.
    # Without the depth guard this false-positives (observed on the synth
    # job-board frontier); it must stay clean.
    urls = [f"https://board.example.com/jobs/{i}" for i in range(60)]
    r = url_trap_signals(_frontier(spark, urls)).collect()[0]
    assert (r.n_paths, r.n_templates, r.max_depth) == (60, 1, 2)
    assert not r.is_trap
    # the same shape one level deeper (generative nesting) IS a trap
    deep = [f"https://board.example.com/jobs/{i // 9}/{i}" for i in range(60)]
    r = url_trap_signals(_frontier(spark, deep)).collect()[0]
    assert r.max_depth == 3 and r.is_trap


def test_malformed_urls_dropped(spark):
    sig = url_trap_signals(
        _frontier(spark, ["not a url", "nohost", ""] + _benign(25))
    ).collect()
    assert {r.host for r in sig} == {"ok.example.com"}
    assert sig[0].n_urls == 25


def test_plan_shape_two_exchanges_no_python(spark):
    # narrow projection -> (host,path,query) pre-agg -> host agg:
    # the multi-distinct Expand must sit ABOVE the first aggregate, and
    # the whole plan carries no Python stage and no join
    urls = _calendar_trap(25) + _benign(25)
    plan = url_trap_signals(_frontier(spark, urls))._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan
    assert plan.count("Expand") >= 1
