"""Deterministic synthetic fetcher + frontier expansion.

The reference's fetch boundary is ``search_adzuna_jobs`` (main.py:190-243,
surveyed S1): async HTTP with per-source error isolation (errors -> [] so one
source never kills the round). In Spark the process boundary becomes the
executor task: an Arrow-batched ``mapInPandas`` stage over the scheduled
batch. The sandbox has no network, so pages come from the deterministic
synthetic generator (sources/synth.py) — on a real crawl this function body
is the only thing that changes (an HTTP client with a timeout; the error
contract stays: failure -> fetch_ok=false, never an exception).

Every formula here is shared with the single-process oracle so crawl order /
URL-seen goldens are reproducible (SURVEY.md §5).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame

from job_crawler_spark.functions.compat import spread
from job_crawler_spark.functions.urls import py_canonicalize, py_host
from job_crawler_spark.sources.synth import _page_seed, page_for_url

FETCH_SCHEMA = (
    "url_canon string, host string, depth int, priority double, "
    "host_rank int, page string, fetch_ok boolean"
)


def fetch_failure(url_canon: str) -> bool:
    """Deterministic synthetic failure: ~2% of fetches fail (error-path
    coverage mirroring reference tests/test_main.py:749-803)."""
    return _page_seed(url_canon) % 50 == 0


def fetch_pages(batch: DataFrame) -> DataFrame:
    """Scheduled batch -> pages. Arrow-batched mapInPandas.

    Input needs columns url_canon/host/depth/priority/host_rank.

    The scheduler's window rank leaves the batch partitioned BY HOST —
    with hot-domain skew (one job board owning 40% of the frontier) that
    serializes fetch+parse onto one task. A round-robin repartition to
    twice the session's core count (``compat.spread``) spreads the batch
    evenly before the Python stage; the shuffle moves only URL-sized rows
    (pages don't exist yet), so it costs ~nothing relative to the skew it
    removes. This is the north rule's "salted repartition-by-host" applied
    at the fetch boundary.
    """
    batch = spread(batch)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pages, oks = [], []
            for u in pdf["url_canon"]:
                if fetch_failure(u):
                    pages.append(None)
                    oks.append(False)
                else:
                    pages.append(page_for_url(u))
                    oks.append(True)
            out = pdf[["url_canon", "host", "depth", "priority", "host_rank"]].copy()
            out["page"] = pages
            out["fetch_ok"] = oks
            yield out

    return batch.mapInPandas(run, schema=FETCH_SCHEMA)


def outlink_priority(url_canon: str) -> float:
    """Freshness score of a discovered URL — quantized like seed priorities
    so rank ties keep exercising the total order."""
    return ((_page_seed(url_canon) >> 8) % 64) / 64.0


EXPAND_SCHEMA = "url_canon string, host string, depth int, priority double"


def expand_outlinks(parsed: DataFrame) -> DataFrame:
    """Exploded raw outlinks -> canonical frontier candidates.

    Runs in Python (Arrow-batched) because the oracle must reproduce
    priorities bit-for-bit; volume is bounded by the round's fetch count ×
    links/page, the same order as the fetch stage itself. Duplicate canons
    within the round are resolved upstream by first-wins on
    (priority DESC, url ASC) — this stage just maps rows.

    Input needs columns (depth, outlink); output one row per link.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            canons = [py_canonicalize(u) for u in pdf["outlink"]]
            yield pd.DataFrame(
                {
                    "url_canon": canons,
                    "host": [py_host(c) for c in canons],
                    "depth": pdf["depth"].astype(int) + 1,
                    "priority": [outlink_priority(c) for c in canons],
                }
            )

    return parsed.mapInPandas(run, schema=EXPAND_SCHEMA)
