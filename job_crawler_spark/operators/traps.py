"""Crawler-trap (spider-trap) detection: per-host URL-space explosion
signals.

A trap host generates an effectively unbounded URL space from a bounded
site — calendar pages, session-id links, infinite pagination — and will
eat a crawl budget without yielding new content. The reference crawler has
no counterpart (its frontier is a fixed seed list, ``main.py``); at a
10^10-URL frontier, trap demotion is the difference between a scheduler
that converges and one that spins. Public analogs: Heritrix's
"pathological path" / too-many-hops rules and the IRLbot spam-host budget
(Lee et al., WWW'09) — re-expressed here as pure relational signals so the
detector rides the same scan as the politeness profile.

Signals per host (all exact integers + derived ratios):

- ``n_urls``               total frontier URLs
- ``n_paths``              distinct paths
- ``n_templates``          distinct path TEMPLATES (digit runs collapsed
                           to ``N``) — /cal/2024/7/13 and /cal/2024/9/2
                           are the same template
- ``n_queries``            distinct query strings
- ``max_depth``            deepest path (non-empty segment count)
- ``path_diversity``       n_paths / n_urls       (~1 on a trap: every
                           URL is new)
- ``template_collapse``    n_templates / n_paths  (~0 on a trap: the new
                           URLs are all the same shape)
- ``query_diversity``      n_queries / n_urls     (~1 on a session-id
                           trap: constant path, fresh query every time)

Flag rule (``is_trap``), exact integer arithmetic so both engines agree
bit-for-bit (no float thresholds in the decision path):

    n_urls >= min_urls AND (
        (2 * n_paths >= n_urls AND 10 * n_templates <= n_paths
         AND max_depth >= min_depth)
        OR 2 * n_queries >= n_urls
    )

i.e. at least half the URLs are distinct DEEP paths collapsing >= 10x
into templates (calendar/pagination traps nest segments), or at least
half carry a distinct query string (session-id traps). The depth guard
is what separates a trap from a legitimate flat ID listing: a job board
serving ``/jobs/12345`` pages also has near-1 path diversity and a
single digit template — driving the detector over the engine's own
synthetic job-board frontier without the guard flags every real host
(observed), exactly Heritrix's reason for keying its pathological-path
rule on segment count. Hosts under ``min_urls`` are never flagged — a
small site legitimately has all-distinct URLs.

Scale shape: ONE narrow projection (host/path/template/query/depth regex
extraction, all whole-stage-codegen JVM expressions) -> pre-aggregate on
(host, path, query) so the multi-distinct Expand runs over the already
collapsed tuple frame, not the raw 10^10-row frontier -> ONE host
aggregate. Two exchanges total, both map-side combined; no UDF, no join.
The output is host-cardinality-sized. The ``url_traps`` query reports it;
the crawl engine schedules without it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_crawler_spark.functions.urls import _PATH_RE, _QUERY_RE, host_col

TRAP_MIN_URLS = 20
TRAP_MIN_DEPTH = 3


def _depth_col(path: F.Column) -> F.Column:
    return F.size(F.filter(F.split(path, "/"), lambda x: x != ""))


def url_trap_signals(
    frontier: DataFrame,
    url_col: str = "url",
    min_urls: int = TRAP_MIN_URLS,
    min_depth: int = TRAP_MIN_DEPTH,
) -> DataFrame:
    """Per-host trap signals + ``is_trap`` flag over ``frontier[url_col]``.

    Ratios are reported stable-rounded to 6 digits for display; the flag
    itself is decided in exact integer arithmetic (see module docstring),
    so it is deterministic and engine-portable. Rows whose URL yields an
    empty host are dropped (malformed URLs are the admission filter's
    job, not the trap detector's).
    """
    from job_crawler_spark.functions.compat import stable_round

    url = F.col(url_col)
    parts = frontier.select(
        host_col(url).alias("host"),
        F.regexp_extract(url, _PATH_RE, 1).alias("path"),
        F.regexp_extract(url, _QUERY_RE, 1).alias("query"),
    ).filter(F.col("host") != "")
    # pre-collapse to distinct (host, path, query) tuples so the
    # multi-distinct Expand below multiplies the collapsed frame, not the
    # raw frontier; n_urls survives as a partial count
    pre = parts.groupBy("host", "path", "query").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    sig = pre.groupBy("host").agg(
        F.sum("cnt").alias("n_urls"),
        F.countDistinct("path").alias("n_paths"),
        F.countDistinct(
            F.regexp_replace(F.col("path"), "[0-9]+", "N")
        ).alias("n_templates"),
        F.countDistinct("query").alias("n_queries"),
        F.max(_depth_col(F.col("path"))).alias("max_depth"),
    )
    n_urls, n_paths = F.col("n_urls"), F.col("n_paths")
    n_templates, n_queries = F.col("n_templates"), F.col("n_queries")
    is_trap = (n_urls >= F.lit(min_urls)) & (
        (
            (2 * n_paths >= n_urls)
            & (10 * n_templates <= n_paths)
            & (F.col("max_depth") >= F.lit(min_depth))
        )
        | (2 * n_queries >= n_urls)
    )
    return sig.select(
        "host",
        "n_urls",
        "n_paths",
        "n_templates",
        "n_queries",
        "max_depth",
        stable_round(n_paths / n_urls, 6).alias("path_diversity"),
        stable_round(n_templates / n_paths, 6).alias("template_collapse"),
        stable_round(n_queries / n_urls, 6).alias("query_diversity"),
        is_trap.alias("is_trap"),
    )
