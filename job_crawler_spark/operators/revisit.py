"""Freshness-driven revisit scheduling: change-rate-adaptive recrawl
intervals over per-URL fetch history.

An incremental crawler must decide WHEN to refetch a URL it has already
seen. Refetching everything every round wastes the politeness budget on
static pages; never refetching misses updated job postings. The classic
answer (Cho & Garcia-Molina, "Effective page refresh policies for web
crawlers", TODS 2003; implemented in production as Nutch's
``AdaptiveFetchSchedule``) adapts the per-URL revisit interval to the
page's OBSERVED change behavior: shrink the interval when a fetch finds
changed content, grow it (multiplicatively) while fetches keep finding
the same content. The reference crawler has no counterpart — its schedule
is a fixed per-run seed list (``main.py:1-1602``); at a 10^10-URL frontier
an adaptive schedule is what keeps steady-state recrawl traffic
proportional to the corpus CHANGE RATE instead of the corpus SIZE.

Deterministic AIMD-style rule, integer-exact so Spark and the DuckDB
oracle agree bit-for-bit (no float decay constants in the decision path):

- A fetch *observes a change* when its content hash differs from the
  previous fetch's hash for the same URL (the first fetch of a URL is
  discovery, not a change).
- ``stable_streak`` = number of fetches strictly after the last observed
  change (0 if the latest fetch changed; ``n_fetches - 1`` if the content
  never changed after discovery).
- ``interval = min(base_interval * 2**min(stable_streak, 20),
  max_interval)`` — doubles per consecutive unchanged fetch, resets to
  ``base_interval`` on change, capped both ways (the exponent clamp keeps
  ``2**k`` exact in binary64 long before the ``max_interval`` cap ever
  lets it matter).
- ``next_due = last_round + interval``; ``due = next_due <= current_round``.

Rows whose ``due`` is true are the URLs a caller may hand to
``CrawlEngine.force_recrawl`` (operators/cuckoo.py forced-recrawl delete +
frontier re-admission) at round ``current_round``. The
``revisit_schedule`` query reports the schedule; the crawl engine itself
does not act on it.

Scale shape: ONE hash exchange total. The lag/row_number window partitions
by ``url_col``; the follow-up groupBy aggregates on the SAME key, so the
aggregate reuses the window's hash partitioning (no second exchange —
plan-pinned in tests/test_revisit.py). All expressions are JVM built-ins
inside whole-stage codegen; output is URL-cardinality-sized with one row
per URL. History tables at crawl scale are naturally partitioned by
fetch round; the single shuffle is the unavoidable regroup from
round-partitioned history to per-URL decisions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Exponent clamp: 2**20 rounds already exceeds any real max_interval and
#: stays exact in binary64 (exact through 2**53).
_STREAK_EXP_CAP = 20


def revisit_schedule(
    history: DataFrame,
    current_round: int,
    *,
    base_interval: int = 1,
    max_interval: int = 64,
    url_col: str = "url_canon",
    round_col: str = "round",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Per-URL adaptive revisit schedule from fetch history.

    ``history`` has one row per (URL, fetch round) with the content hash
    observed by that fetch; ``(url_col, round_col)`` pairs must be unique
    and ``hash_col`` non-null (a failed fetch has no content observation —
    filter it out upstream). Returns one row per URL:

    (url_canon, n_fetches, n_changes, last_round, last_change_round,
     stable_streak, interval, next_due, due)

    ``last_change_round`` falls back to the discovery round when the
    content never changed.
    """
    w = Window.partitionBy("url_canon").orderBy(F.col("_round").asc())
    flagged = history.select(
        F.col(url_col).alias("url_canon"),
        F.col(round_col).cast("int").alias("_round"),
        F.col(hash_col).alias("_hash"),
    ).select(
        "url_canon",
        "_round",
        # Change = hash differs from the previous fetch of the same URL;
        # first fetch (lag NULL) is discovery, never a change.
        (
            F.lag("_hash").over(w).isNotNull()
            & (F.col("_hash") != F.lag("_hash").over(w))
        ).alias("_chg"),
        F.row_number().over(w).alias("_seq"),
    )
    agg = flagged.groupBy("url_canon").agg(
        F.count(F.lit(1)).cast("int").alias("n_fetches"),
        F.sum(F.col("_chg").cast("int")).cast("int").alias("n_changes"),
        F.max("_round").alias("last_round"),
        F.min("_round").alias("_first_round"),
        F.max(F.when(F.col("_chg"), F.col("_round"))).alias("_last_chg_round"),
        F.max(F.when(F.col("_chg"), F.col("_seq"))).alias("_last_chg_seq"),
    )
    streak = F.col("n_fetches") - F.coalesce(F.col("_last_chg_seq"), F.lit(1))
    interval = F.least(
        F.lit(base_interval)
        * F.pow(F.lit(2.0), F.least(streak, F.lit(_STREAK_EXP_CAP))).cast("long"),
        F.lit(max_interval).cast("long"),
    ).cast("int")
    scheduled = agg.select(
        "url_canon",
        "n_fetches",
        "n_changes",
        "last_round",
        F.coalesce(F.col("_last_chg_round"), F.col("_first_round")).alias(
            "last_change_round"
        ),
        streak.cast("int").alias("stable_streak"),
        interval.alias("interval"),
        (F.col("last_round") + interval).alias("next_due"),
    )
    return scheduled.withColumn(
        "due", F.col("next_due") <= F.lit(int(current_round))
    )
