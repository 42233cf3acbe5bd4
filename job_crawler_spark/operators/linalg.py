"""Distributed dense linear algebra over embedding columns.

The operator class behind PCA whitening and covariance-based outlier
pruning in a training-data pipeline. The O(n * d^2) work — expanding and
summing per-row outer products — runs DISTRIBUTED as one
map-side-combined hash aggregate whose key space is d(d+1)/2 cells
(constant in corpus size), so the shuffle carries tasks x d^2/2 partial
sums, never n x d^2 products. No per-row Python anywhere; the d x d
result is driver-sized, and the ``emb_gram_matrix`` query reports it.

Cf. reference main.py:1-1602 — the reference has no linear-algebra
operators at all; this class is part of the beyond-reference
LLM-pipeline layer (SURVEY.md "training-data pipeline" section).
"""

from __future__ import annotations

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
