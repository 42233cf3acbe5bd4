"""Per-host politeness scheduling: the window-ranked priority queue.

North-rule construct (BASELINE.json): per-host crawl-delay budgets +
robots.txt allow/deny + depth/freshness priority, as salted
repartition-by-host + window-ranked batch selection. The reference's
miniature ancestor is the per-request result cap (``results_per_page =
min(max_results, 50)``, main.py:207) + source-side date sort (main.py:210),
surveyed as W2/O1.

Semantics per round:

1. robots filter: allow/deny path prefixes with the longest-match rule
   (most specific prefix wins, allow wins ties; broadcast join — robots is
   a small dim table).
2. per-host budget = max(1, round_seconds // max(1, crawl_delay)) fetches
   this round (delay clamped so a degenerate robots row can't divide by 0).
3. select the top-``budget`` URLs per host by the TOTAL order
   (priority DESC, url_canon ASC) — the tiebreaker makes crawl order
   bit-reproducible under any parallelism (SURVEY.md §7.3).

Skew: one hot host (40% of a 10^10 frontier) would funnel into a single
window partition. The scheduler is therefore **two-phase**:

- phase 1 (salted local top-k): rank within (host, salt) where
  salt = pmod(hash(url), S), keep rank <= budget. Each salt bucket
  over-selects, but output size is bounded by S * budget per host — tiny.
- phase 2 (exact global rank): re-rank the survivors per host, keep
  rank <= budget. Identical result to a single global window (top-k of a
  union of per-bucket top-ks is the global top-k, since every global
  top-k row is within the top-k of its own bucket), but the heavy shuffle
  ranks at most S*budget rows per host instead of all of them.

With AQE skew-join splitting this is belt-and-braces, but AQE cannot split
a window partition — the salt genuinely matters here.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_SALT_BUCKETS = 32
# Phase-1 salt aims at about this many rows per (host, salt) window partition.
SALT_TARGET_ROWS = 1 << 16


def salt_width(pending: int) -> int:
    """Phase-1 salt width for a frontier of ``pending`` rows:
    ceil(pending / SALT_TARGET_ROWS) clamped to [1, 256]. The pending count
    bounds the hottest host's, so below the clamp no (host, salt) window
    partition holds much more than the target. Any width >= 1 gives the
    same schedule."""
    return max(1, min(256, -(-int(pending) // SALT_TARGET_ROWS)))


def _longest_match_len(prefixes: F.Column, path: F.Column) -> F.Column:
    """Length of the longest prefix in ``prefixes`` matching ``path``
    (null when none match) — the robots.txt longest-match rule."""
    return F.array_max(
        F.transform(
            F.filter(F.coalesce(prefixes, F.array()), path.startswith),
            F.length,
        )
    )


def robots_filter(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """robots.txt allow/deny with the longest-match rule: the most specific
    matching prefix wins; on equal length allow wins. Hosts without a robots
    row are allowed (crawl_delay defaults applied in budget calc)."""
    path = F.regexp_extract(
        F.col("url_canon"), r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*([^?#]*)", 1
    )
    joined = frontier.join(
        F.broadcast(robots.select("host", "allow", "deny", "crawl_delay")),
        on="host",
        how="left",
    ).withColumn("__path", F.when(path == "", "/").otherwise(path))
    deny_len = _longest_match_len(F.col("deny"), F.col("__path"))
    allow_len = _longest_match_len(F.col("allow"), F.col("__path"))
    denied = deny_len.isNotNull() & (
        allow_len.isNull() | (deny_len > allow_len)
    )
    return joined.filter(~denied).drop("allow", "deny", "__path")


def host_budget_col(round_seconds: int = 60, default_delay: int = 1) -> F.Column:
    # clamp: a degenerate robots row with crawl_delay <= 0 must not divide
    # by zero (Spark would yield null -> silent budget 1; the oracle raised)
    delay = F.greatest(
        F.lit(1), F.coalesce(F.col("crawl_delay"), F.lit(default_delay))
    )
    return F.greatest(F.lit(1), (F.lit(round_seconds) / delay).cast("int"))


def schedule_batch(
    frontier: DataFrame,
    robots: DataFrame,
    round_seconds: int = 60,
    salt_buckets: int = DEFAULT_SALT_BUCKETS,
    salted: Literal[True] = True,
) -> DataFrame:
    """Pick this round's fetch batch: per-host top-``budget`` by
    (priority DESC, url_canon ASC), robots-respecting, skew-proof.

    The schedule is always two-phase salted. ``salted`` takes only True;
    it remains because the benchmark's layer replay (perfbench/crawl.py)
    passes it.

    Returns the scheduled rows with their final per-host ``host_rank``
    (1-based) — rank order IS the deterministic crawl order within a host.
    """
    allowed = robots_filter(frontier, robots).withColumn(
        "__budget", host_budget_col(round_seconds)
    )

    order = [F.col("priority").desc(), F.col("url_canon").asc()]

    # phase 1: salted local top-k — bounds any single window partition
    # to ~salt_buckets*budget rows
    bucketed = allowed.withColumn(
        "__salt", F.pmod(F.xxhash64(F.col("url_canon")), F.lit(salt_buckets))
    )
    w_local = Window.partitionBy("host", "__salt").orderBy(*order)
    survivors = (
        bucketed.withColumn("__lr", F.row_number().over(w_local))
        .filter(F.col("__lr") <= F.col("__budget"))
        .drop("__lr", "__salt")
    )

    # phase 2: exact per-host rank over at most salt_buckets*budget rows/host
    w_host = Window.partitionBy("host").orderBy(*order)
    return (
        survivors.withColumn("host_rank", F.row_number().over(w_host))
        .filter(F.col("host_rank") <= F.col("__budget"))
        .drop("__budget", "crawl_delay")
    )


# ---------------------------------------------------------------------------
# Single-process oracle (crawl-order golden tests, SURVEY.md §5)
# ---------------------------------------------------------------------------

def py_schedule(
    rows: list[dict],
    robots_rows: list[dict],
    round_seconds: int = 60,
    default_delay: int = 1,
) -> list[dict]:
    """Oracle: same semantics, plain Python. rows need url_canon/host/priority."""
    by_host_rules = {r["host"]: r for r in robots_rows}
    out: list[dict] = []
    from collections import defaultdict

    grouped: dict[str, list[dict]] = defaultdict(list)
    for r in rows:
        rule = by_host_rules.get(r["host"])
        path = "/"
        rest = r["url_canon"].split("://", 1)
        if len(rest) == 2 and "/" in rest[1]:
            path = "/" + rest[1].split("/", 1)[1]
            path = path.split("?", 1)[0] or "/"
        if rule:
            deny_len = max(
                (len(p) for p in rule["deny"] if path.startswith(p)),
                default=None,
            )
            allow_len = max(
                (len(p) for p in rule.get("allow") or [] if path.startswith(p)),
                default=None,
            )
            # longest-match rule; on equal length allow wins
            if deny_len is not None and (
                allow_len is None or deny_len > allow_len
            ):
                continue
        grouped[r["host"]].append(r)
    for host, items in grouped.items():
        rule = by_host_rules.get(host)
        delay = max(1, rule["crawl_delay"] if rule else default_delay)
        budget = max(1, round_seconds // delay)
        items.sort(key=lambda x: (-x["priority"], x["url_canon"]))
        for rank, item in enumerate(items[:budget], start=1):
            out.append({**item, "host_rank": rank})
    return out
