"""Distributed dense linear algebra (operators/linalg.py) vs numpy.

The numpy reference is the ground truth for the Gram matrix; the Gram stage
is additionally oracle-checked as the gated query emb_gram_matrix.
"""

from __future__ import annotations

import numpy as np
import pytest

from job_crawler_spark.operators.linalg import gram_upper


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.default_rng(7)
    # anisotropic cloud around a dominant direction
    d = 12
    n = 300
    direction = rng.normal(size=d)
    direction /= np.linalg.norm(direction)
    coeffs = rng.normal(scale=5.0, size=(n, 1))
    noise = rng.normal(scale=0.5, size=(n, d))
    shift = rng.normal(size=d)  # nonzero mean so centering matters
    mat = coeffs * direction + noise + shift
    mat32 = mat.astype(np.float32)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in enumerate(mat32)],
        "vec_id long, embedding array<float>",
    )
    return df, mat32.astype(np.float64)


def test_gram_upper_matches_numpy(spark, corpus):
    df, mat = corpus
    want = mat.T @ mat
    got = np.zeros_like(want)
    for r in gram_upper(df).collect():
        got[r["i"], r["j"]] = r["g"]
        got[r["j"], r["i"]] = r["g"]
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)


def test_gram_empty_and_single_row(spark):
    empty = spark.createDataFrame([], "embedding array<float>")
    assert gram_upper(empty).count() == 0
    one = spark.createDataFrame(
        [([1.0, 2.0, -3.0],)], "embedding array<float>"
    )
    cells = {(r["i"], r["j"]): r["g"] for r in gram_upper(one).collect()}
    assert cells == {
        (0, 0): 1.0, (0, 1): 2.0, (0, 2): -3.0,
        (1, 1): 4.0, (1, 2): -6.0, (2, 2): 9.0,
    }


# Property test: gram_upper == numpy A^T A on random shapes — d down to 1,
# zero rows, constant columns, negatives; float32 inputs, double sums.
from hypothesis import given, settings
from hypothesis import strategies as st

_shape = st.tuples(st.integers(1, 20), st.integers(1, 6))


@given(_shape, st.integers(0, 2**32 - 1))
@settings(max_examples=8, deadline=None)
def test_gram_matches_numpy_random(spark, shape, seed):
    n, d = shape
    rng = np.random.default_rng(seed)
    mat = (rng.normal(scale=3.0, size=(n, d)) * rng.integers(0, 2, size=(n, 1))).astype(np.float32)
    df = spark.createDataFrame(
        [([float(x) for x in row],) for row in mat], "embedding array<float>"
    )
    want = mat.astype(np.float64).T @ mat.astype(np.float64)
    got = np.zeros((d, d))
    for r in gram_upper(df).collect():
        got[r["i"], r["j"]] = r["g"]
        got[r["j"], r["i"]] = r["g"]
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-9)

