"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (crawl-parse-enrich over the
sf0.001 documents table). ``queries()`` / ``oracle_sql()`` enumerate every
implemented operator from SURVEY.md §2 with DuckDB-checkable oracles.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: parse the sf0.001 documents into spans, extract features
    (tech stack / experience / remote / benefits), aggregate per language.

    Exercises the core path end-to-end: parquet scan -> Arrow-batched span
    parse -> JVM feature expressions -> hash aggregate.
    """
    from pyspark.sql import functions as F

    from job_crawler_spark.crawl import parser

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = docs.select(
        F.col("doc_id").cast("string").alias("url_canon"),
        F.col("text").alias("page"),
    )
    parsed = parser.parse_pages(pages)
    enriched = parser.enrich_documents(parsed.select("doc_id", "spans"))
    langs = docs.select(F.col("doc_id").cast("string").alias("doc_id"), "lang")
    return (
        enriched.join(langs, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size("spans")).alias("n_spans"),
            F.sum(F.size("features.tech_stack")).alias("n_tech_hits"),
            F.sum(F.col("features.has_benefits").cast("long")).alias("n_with_benefits"),
        )
        .orderBy("lang")
    )


def _plan_modules():
    from job_crawler_spark.plans import (
        analytics_plans,
        crawlops,
        events_plans,
        frameworks_plans,
        graph_plans,
        pii_plans,
        relational,
        retrieval_plans,
        similarity,
        sketch_plans,
        textops,
        tpch,
    )

    return [
        analytics_plans,
        crawlops,
        events_plans,
        frameworks_plans,
        graph_plans,
        pii_plans,
        relational,
        retrieval_plans,
        similarity,
        sketch_plans,
        textops,
        tpch,
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for mod in _plan_modules():
        out.update(mod.QUERIES)
    return out


def oracle_sql() -> dict[str, str]:
    out: dict[str, str] = {}
    for mod in _plan_modules():
        out.update(mod.ORACLES)
    return out
