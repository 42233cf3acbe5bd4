"""Robust outlier detection: median/MAD flagging over grouped series.

The monitoring layer every crawler runs over its own telemetry: the
reference keeps `performance_metrics` / `api_metrics` tables and alerts
on threshold breaches (reference `monitoring/performance_monitor.py`,
`health_checker.py`); a 10^10-URL crawl needs the thresholds DERIVED
from the data instead of hand-set, and mean/stddev rules break exactly
when needed most (the outlier drags the mean toward itself). The classic
robust rule (Hampel; Leys et al. 2013) flags a point when its absolute
deviation from the group MEDIAN exceeds ``k`` median-absolute-deviations
— both medians are rank statistics, so one wild day cannot move the
fence it is judged against.

Integer-exact and cross-engine deterministic: values are expected to be
integers (counts); the median is the LOWER median — the value at rank
``(n+1) div 2`` in value order — which is deterministic under ties
because tied rows carry equal values; MAD is the lower median of the integer
absolute deviations; the flag compares ``dev > k * mad`` in integer
arithmetic (strict, so the all-equal group where MAD = 0 flags exactly
the rows that deviate at all — the standard MAD degeneracy, documented
and test-pinned rather than fudged with an epsilon).

Scale shape: every window — both row_numbers, the partition count, and
both median picks — shares the group-key partitioning, so the whole
operator is ONE hash exchange (plan-pinned in tests); per-group state is
the group's row count (days, for telemetry series), never corpus-shaped.
No Python anywhere.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def mad_outliers(
    points: DataFrame,
    *,
    group_cols: Sequence[str],
    value_col: str = "n",
    k: int = 3,
) -> DataFrame:
    """Flag per-group outliers by the k-MAD rule.

    ``points`` carries one row per observation with an integer
    ``value_col``. Returns the input columns plus ``med`` (group lower
    median), ``mad`` (lower median of absolute deviations), ``dev``
    (this row's absolute deviation) and ``is_anomaly``
    (``dev > k * mad``, strict).
    """
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    if k < 1:
        raise ValueError("k must be >= 1")
    v = F.col(value_col)
    part = Window.partitionBy(*group_cols)
    lower = F.floor((F.col("_n") + 1) / 2)
    d = (
        points.withColumn(
            "_rn", F.row_number().over(part.orderBy(value_col))
        )
        .withColumn("_n", F.count(F.lit(1)).over(part))
        .withColumn(
            "med",
            F.max(F.when(F.col("_rn") == lower, v)).over(part),
        )
        .withColumn("dev", F.abs(v - F.col("med")))
        .withColumn("_drn", F.row_number().over(part.orderBy("dev")))
        .withColumn(
            "mad",
            F.max(F.when(F.col("_drn") == lower, F.col("dev"))).over(part),
        )
    )
    return d.withColumn(
        "is_anomaly", F.col("dev") > k * F.col("mad")
    ).drop("_rn", "_n", "_drn")
