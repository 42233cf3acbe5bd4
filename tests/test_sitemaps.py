"""Sitemap ingestion: golden parse semantics, drop rules, plan shape."""

from __future__ import annotations

import datetime

from job_crawler_spark.sources.sitemaps import parse_sitemap_entries


def _docs(spark, rows):
    return spark.createDataFrame(rows, "host STRING, sitemap_xml STRING")


GOLDEN_XML = (
    '<?xml version="1.0" encoding="UTF-8"?>\n'
    '<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">\n'
    "  <url>\n"
    "    <loc>https://A.Example.com/jobs/2?b=1&amp;a=2</loc>\n"
    "    <lastmod>2024-03-07T12:30:00+00:00</lastmod>\n"
    "    <priority>0.8</priority>\n"
    "  </url>\n"
    "  <url><lastmod>2024-01-01</lastmod></url>\n"
    "  <url><loc> https://a.example.com/jobs/1 </loc></url>\n"
    "</urlset>\n"
)


def test_golden_parse(spark):
    rows = parse_sitemap_entries(_docs(spark, [("a", GOLDEN_XML)])).collect()
    # entry 2 has no <loc> -> dropped, leaving a seq gap
    assert [(r.seq, r.loc) for r in rows] == [
        (1, "https://A.Example.com/jobs/2?b=1&amp;a=2"),
        (3, "https://a.example.com/jobs/1"),
    ]
    # W3C datetime: date prefix parsed; whitespace around loc trimmed
    assert rows[0].lastmod == datetime.date(2024, 3, 7)
    assert rows[0].priority == 0.8
    assert rows[1].lastmod is None and rows[1].priority is None


def test_doc_order_is_seq_not_value_order(spark):
    xml = (
        "<url><loc>https://h/z</loc></url>"
        "<url><loc>https://h/a</loc></url>"
        "<url><loc>https://h/m</loc></url>"
    )
    rows = parse_sitemap_entries(_docs(spark, [("h", xml)])).collect()
    assert [r.loc for r in sorted(rows, key=lambda r: r.seq)] == [
        "https://h/z",
        "https://h/a",
        "https://h/m",
    ]


def test_empty_and_locless_sitemaps_yield_no_rows(spark):
    rows = parse_sitemap_entries(
        _docs(
            spark,
            [
                ("e1", ""),
                ("e2", "<urlset></urlset>"),
                ("e3", "<url><lastmod>2024-01-01</lastmod></url>"),
            ],
        )
    ).collect()
    assert rows == []


def test_bad_field_values_degrade_to_null(spark):
    xml = (
        "<url><loc>https://h/1</loc>"
        "<lastmod>not-a-date</lastmod><priority>high</priority></url>"
    )
    r = parse_sitemap_entries(_docs(spark, [("h", xml)])).collect()[0]
    assert r.loc == "https://h/1"
    assert r.lastmod is None and r.priority is None


def test_plan_is_narrow_no_python_no_exchange(spark):
    df = parse_sitemap_entries(_docs(spark, [("h", GOLDEN_XML)]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
