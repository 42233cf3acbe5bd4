"""Distributed dense linear algebra over embedding columns.

The operator class behind PCA whitening and covariance-based outlier
pruning in a training-data pipeline. The split of labor is the whole
design:

- the O(n * d^2) work — expanding and summing per-row outer products —
  runs DISTRIBUTED as one map-side-combined hash aggregate whose key
  space is d(d+1)/2 cells (constant in corpus size), so the shuffle
  carries tasks x d^2/2 partial sums, never n x d^2 products;
- the O(d^2) work — covariance assembly — runs DRIVER-SIDE in numpy on
  the collected d x d matrix (d = 64 here; even d = 4096 is a 128 MB
  matrix), the honest control-plane collect.

No per-row Python anywhere; the only collect is the d x d Gram frame.
Cf. reference main.py:1-1602 — the reference has no linear-algebra
operators at all; this class is part of the beyond-reference
LLM-pipeline layer (SURVEY.md "training-data pipeline" section).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def gram_upper(df: DataFrame, col: str = "embedding") -> DataFrame:
    """Upper-triangle Gram matrix G = A^T A as (i, j, g) rows, i <= j.

    Join-free: each row expands its OWN d(d+1)/2 upper-triangle products
    in-row via nested higher-order transforms (slice starts at the
    diagonal, so i <= j by construction — no self-join on the row key, no
    (n*d) x (n*d) join blowup), then ONE hash aggregate on (i, j) sums
    them. float32 components are cast to double (exact) before the
    multiply; the returned sums are unrounded doubles.
    """
    e = F.col(col)
    tri = F.flatten(
        F.transform(
            e,
            lambda x, i: F.transform(
                F.slice(e, i + F.lit(1), F.size(e)),
                lambda y, k: F.struct(
                    i.cast("int").alias("i"),
                    (i + k).cast("int").alias("j"),
                    (x.cast("double") * y.cast("double")).alias("p"),
                ),
            ),
        )
    )
    return (
        df.select(F.explode(tri).alias("c"))
        .groupBy(F.col("c.i").alias("i"), F.col("c.j").alias("j"))
        .agg(F.sum("c.p").alias("g"))
    )


def _dim_sums(df: DataFrame, col: str) -> DataFrame:
    return (
        df.select(F.posexplode(col).alias("i", "v"))
        .groupBy("i")
        .agg(F.sum(F.col("v").cast("double")).alias("s"))
    )


def covariance_matrix(df: DataFrame, col: str = "embedding"):
    """Collect the exact covariance matrix C = G/n - mu mu^T.

    Returns (C, mu, n) as numpy. Three corpus actions (Gram cells,
    per-dim sums, row count), the first two map-side-combined aggregates
    with d-bounded key spaces; the collects are d x d / d-sized —
    control-plane, not data-plane.
    """
    cells = gram_upper(df, col).collect()
    d = max(r["j"] for r in cells) + 1 if cells else 0
    gram = np.zeros((d, d))
    for r in cells:
        gram[r["i"], r["j"]] = r["g"]
        gram[r["j"], r["i"]] = r["g"]
    sums = np.zeros(d)
    n = 0
    for r in _dim_sums(df, col).collect():
        sums[r["i"]] = r["s"]
    n = df.count()
    if n == 0:
        return gram, sums, 0
    mu = sums / n
    cov = gram / n - np.outer(mu, mu)
    return cov, mu, n

