"""Cross-engine numeric compatibility helpers.

Spark's ``round`` on DOUBLE goes through BigDecimal.valueOf (rounds the
shortest-decimal rendering, HALF_UP); DuckDB rounds the true binary value.
On exact-boundary values (x.xxx5) they disagree: 0.78175 -> 0.7818 (Spark)
vs 0.7817 (DuckDB). For per-row arithmetic where both engines compute a
bit-identical double, ``stable_round`` = floor(x*10^d + 0.5)/10^d is
deterministic and identical in both dialects (non-negative inputs).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def stable_round(col: Column, digits: int) -> Column:
    scale = 10 ** digits
    return F.floor(col * scale + F.lit(0.5)) / scale


def stable_round_sql(expr: str, digits: int) -> str:
    scale = 10 ** digits
    return f"(FLOOR(({expr}) * {scale} + 0.5) / {scale})"


def spread(df):
    """Round-robin repartition to twice the session's default
    parallelism — for COMPUTE-heavy narrow stages above small inputs.

    The gate fixtures are single-row-group parquet files, so a scan stage
    is ONE task no matter what ``maxPartitionBytes``/``minPartitionNum``
    say (splits cannot cut a row group), and every narrow expression
    chained above it (regex canonicalization, shingling, MinHash
    signatures) runs single-threaded. One cheap exchange of the raw rows
    spreads that compute across the cluster; sized from
    ``defaultParallelism`` (cores), not a local constant, because the
    stages this guards are CPU-bound — partition count should track
    cores, not bytes (the AQE ``parallelismFirst`` rationale). Apply it
    only where the downstream per-row work dominates the exchange; at
    real scale multi-row-group files make it a no-op-cost safeguard.
    Results are partitioning-independent (repartition's
    sort-before-shuffle keeps retries deterministic)."""
    sc = df.sparkSession.sparkContext
    return df.repartition(2 * sc.defaultParallelism)


def bind_once(col: Column, fn) -> Column:
    """Evaluate ``col`` once and reuse it inside ``fn`` (a let-binding).

    Catalyst's CollapseProject inlines projection aliases into consumers, so
    an expensive expression (e.g. split() tokenization) referenced N times —
    especially inside higher-order-function lambdas, where common-
    subexpression elimination doesn't reach — is recomputed N times.
    Wrapping it as the lambda variable of a 1-element transform() forces a
    single evaluation: array(col) -> transform(_, x -> fn(x)) -> [0].
    """
    return F.transform(F.array(col), fn).getItem(0)
