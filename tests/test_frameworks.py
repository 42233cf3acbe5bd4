"""D2-D5 framework/template generators: reference-semantics golden tests."""

from __future__ import annotations

from pyspark.sql import functions as F

from job_crawler_spark.functions.frameworks import (
    benefit_categories_col,
    career_track_col,
    skill_gap_cols,
)


def test_benefit_categories_order_and_titlecase(spark):
    desc = "we offer health and dental cover, a learning budget and equity"
    df = spark.createDataFrame([(desc,)], "d string")
    got = df.select(
        benefit_categories_col(F.lower(F.col("d"))).alias("b")
    ).collect()[0].b
    # dict insertion order; '_' -> ' ' + Title Case (main.py:1037-1041, F8)
    assert got == ["Health Insurance", "Learning Budget", "Stock Options"]


def test_career_track_classifier_precedence(spark):
    cases = [
        ("Senior Software Engineer", "software_engineer", "mid_to_senior"),
        ("junior developer", "software_engineer", "junior_to_mid"),
        ("Senior Data Engineer", "data_scientist", "mid_to_senior"),  # data beats eng
        ("Product Manager", "product_manager", "junior_to_mid"),
        ("Lead Product Designer", "product_manager", "mid_to_senior"),
        ("data analyst", "data_scientist", "junior_to_mid"),
    ]
    df = spark.createDataFrame([(c[0].lower(),) for c in cases], "r string")
    got = df.select(career_track_col(F.col("r")).alias("t")).collect()
    for (role, track, stage), r in zip(cases, got):
        assert (r.t.track, r.t.stage) == (track, stage), role


def test_skill_gaps_order_and_slicing(spark):
    req = ["system design", "mentoring", "architecture", "python"]
    cur = ["python"]
    df = spark.createDataFrame(
        [(req, [c.lower() for c in cur])],
        "req array<string>, cur array<string>",
    )
    gaps = skill_gap_cols(F.col("req"), F.col("cur"))
    row = df.select(
        gaps["missing"].alias("m"),
        gaps["immediate_focus"].alias("i"),
        gaps["medium_term"].alias("t"),
    ).collect()[0]
    assert row.m == ["system design", "mentoring", "architecture"]
    assert row.i == ["system design", "mentoring"]  # first 2 (main.py:1455)
    assert row.t == ["architecture"]
