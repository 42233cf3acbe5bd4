"""DUST rule mining: learning safe URL-rewrite rules from crawl evidence.

Different URLs with Similar Text ("DUST", Bar-Yossef, Keidar & Schonfeld,
WWW '07 "Do not crawl in the DUST") waste crawl budget the same way
mirrors do, but WITHIN a host: session ids, tracking parameters, and
sort/view toggles mint unbounded URL aliases for one page. A static
canonicalizer (functions/urls.py) strips the universally-known offenders
(utm_*, fbclid, ...); DUST mining LEARNS the site-specific ones from the
crawl's own (url, content_hash) evidence, the way the paper validates
candidate rewrite rules by support and precision against fetched content.

This module mines the dominant rule family — PARAMETER-STRIP rules
``(host, param): drop param from query strings on host``.
:func:`mine_param_rules`: for every fetched URL with a query string,
each parameter yields a candidate instance ``url -> url minus that
parameter``. An instance is APPLICABLE when the stripped URL was itself
fetched (both sides observed — the paper's requirement; no speculative
fetches), and VALID when both fetches carried the same content hash.
Per ``(host, param)``: support = applicable instances, precision =
valid/support; a rule is kept at ``support >= min_support AND precision
>= min_precision``. The ``dust_rules`` query reports the verdicts; the
crawl engine does not rewrite its frontier through them.

Scale shape: mining explodes each URL into its parameters — fan-out is
the per-URL parameter count (bounded single digits for real URLs, never
corpus-shaped) — then needs exactly ONE equi-join, on the stripped URL
against the fetched-page set (uniformly distributed key: URLs), and one
map-side-combinable aggregate on ``(host, param)``. No cartesian, no
per-row Python.

Reference parity: the reference crawler ships only the static
canonicalizer (``src/url/canonicalize.rs``); rule LEARNING is scale
layer, same tier as mirrors (operators/mirrors.py) and trap detection
(operators/traps.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from job_crawler_spark.functions.compat import stable_round
from job_crawler_spark.operators.checkpoints import tracked_persist


def _host_of(url):
    """Host = authority of the URL: text between the optional scheme and
    the first '/'. Scheme-less inputs (already-canonical crawl keys)
    pass through substring_index unchanged."""
    return F.substring_index(F.substring_index(url, "://", -1), "/", 1)


def _split_query(url):
    """(base, params array) — base is everything before the first '?',
    params the '&'-split query. URLs without a query get an empty
    params array (split of '' would yield [''])."""
    base = F.substring_index(url, "?", 1)
    # query = everything after the FIRST '?' (base is the prefix, so its
    # length locates the split even if the query itself contains '?')
    q = F.substr(url, F.length(base) + F.lit(2))
    params = F.when(
        url.contains("?"), F.split(q, "&")
    ).otherwise(F.array().cast("array<string>"))
    return base, params


def mine_param_rules(
    pages: DataFrame,
    *,
    url_col: str = "url",
    hash_col: str = "content_hash",
    min_support: int = 2,
    min_precision: float = 0.95,
) -> DataFrame:
    """Mine parameter-strip DUST rules from fetched-page evidence.

    ``pages``: one row per fetched page ``(url, content_hash)`` —
    duplicates fine (deduped); a URL fetched with CONFLICTING hashes
    (content changed between fetches) contributes both observations,
    which can only LOWER a rule's precision: stale evidence makes the
    miner conservative, never aggressive.

    Returns one row per candidate rule that had at least one applicable
    instance: ``(host, param, support, n_valid, rule_precision, keep)``
    — ``keep`` applies the support/precision thresholds, and rejected
    candidates stay in the output (an auditable verdict, like
    operators/traps.py signals) rather than vanishing.
    """
    if min_support < 1:
        raise ValueError(f"min_support must be >= 1, got {min_support}")
    if not 0.0 < min_precision <= 1.0:
        raise ValueError(
            f"min_precision must be in (0, 1], got {min_precision}"
        )
    # the evidence set feeds BOTH join sides (instances and strip
    # targets); persist the distinct frame once so the input isn't
    # scanned and distinct-shuffled twice (released via the result's
    # _graft_checkpoints, repo-wide contract)
    fetched = tracked_persist(
        pages.select(
            F.col(url_col).alias("url"), F.col(hash_col).alias("h")
        ).distinct()
    )
    base, params = _split_query(F.col("url"))
    parsed = fetched.select(
        "url", "h", base.alias("base"), params.alias("params")
    ).filter(F.size("params") > 0)
    # one candidate instance per (URL, parameter): strip parameter `pos`,
    # keep the survivors' order (a rewrite must be canonical, not a
    # permutation class)
    inst = parsed.select(
        "h",
        _host_of(F.col("base")).alias("host"),
        F.posexplode("params").alias("pos", "param_kv"),
        F.col("base"),
        F.col("params"),
    ).select(
        "h",
        "host",
        F.substring_index("param_kv", "=", 1).alias("param"),
        F.concat(
            F.col("base"),
            F.when(
                F.size("params") > 1,
                F.concat(
                    F.lit("?"),
                    F.array_join(
                        F.filter(
                            "params", lambda p, i: i != F.col("pos")
                        ),
                        "&",
                    ),
                ),
            ).otherwise(F.lit("")),
        ).alias("stripped"),
    )
    # a degenerate trailing '?' ("h/p?") parses to one empty-keyed
    # parameter — not a rule candidate
    inst = inst.filter(F.col("param") != "")
    # applicability = the stripped URL was itself fetched (inner join);
    # validity = its content matched
    applicable = inst.join(
        fetched.select(
            F.col("url").alias("stripped"), F.col("h").alias("h_target")
        ),
        "stripped",
    )
    agg = applicable.groupBy("host", "param").agg(
        F.count(F.lit(1)).alias("support"),
        F.sum(
            (F.col("h") == F.col("h_target")).cast("int")
        ).alias("n_valid"),
    )
    out = agg.select(
        "host",
        "param",
        "support",
        "n_valid",
        stable_round(F.col("n_valid") / F.col("support"), 6).alias(
            "rule_precision"
        ),
        (
            (F.col("support") >= min_support)
            & (
                stable_round(F.col("n_valid") / F.col("support"), 6)
                >= min_precision
            )
        ).alias("keep"),
    )
    out._graft_checkpoints = [fetched]
    return out
