"""Stats kernel tests, mirroring /root/reference/tests/unit_tests/test_stats.py."""

from __future__ import annotations

import warnings

import numpy as np
import pytest

from nrt_spark.kernels import stats as st


@pytest.mark.parametrize("x", [-1.0, 1.0, 0.3])
def test_ncdf_vs_erfc(x):
    # exact normal CDF via math.erfc as the oracle
    import math

    exact = 0.5 * math.erfc(-x / math.sqrt(2))
    np.testing.assert_allclose(st.ncdf(x), exact, rtol=1e-6)


def test_nanlstsq_matches_per_series_solve():
    rng = np.random.RandomState(3)
    X = np.c_[np.ones(50), np.arange(50, dtype=float)]
    y = 3.0 + 0.5 * X[:, 1:2] + rng.normal(size=(50, 6))
    y[rng.random_sample(y.shape) < 0.15] = np.nan
    beta = st.nanlstsq(X, y)
    for k in range(y.shape[1]):
        keep = ~np.isnan(y[:, k])
        Xs, ys = X[keep], y[keep, k]
        want = np.linalg.solve(Xs.T @ Xs, Xs.T @ ys)
        np.testing.assert_allclose(beta[:, k], want, rtol=1e-10)


def test_row_folds_match_numpy():
    """nansum / nanmean / nanstd and predict reorder numpy's sums only:
    equal to np.nan* over axis 0 and to ``X @ beta`` up to rounding,
    including an all-NaN column, ddof >= the count, one column and no
    rows."""
    rng = np.random.RandomState(5)
    a = rng.normal(size=(90, 7))
    a[rng.random_sample(a.shape) < 0.2] = np.nan
    a[:, 3] = np.nan
    a[3:, 4] = np.nan                                   # 3 values < ddof + 1
    with warnings.catch_warnings():      # numpy's empty-slice warnings
        warnings.simplefilter("ignore", RuntimeWarning)
        for got, want in [(st.nansum(a), np.nansum(a, axis=0)),
                          (st.nanmean(a), np.nanmean(a, axis=0)),
                          (st.nanstd(a), np.nanstd(a, axis=0)),
                          (st.nanstd(a, ddof=5), np.nanstd(a, axis=0, ddof=5)),
                          (st.nanstd(a[:, :1]), np.nanstd(a[:, :1], axis=0))]:
            np.testing.assert_allclose(got, want, rtol=1e-13, atol=1e-15)
    np.testing.assert_array_equal(st.nansum(np.zeros((0, 4))), np.zeros(4))
    X = rng.normal(size=(40, 6))
    beta = rng.normal(size=(6, 9))
    np.testing.assert_allclose(st.predict(X, beta), X @ beta, rtol=1e-13,
                               atol=1e-14)
    np.testing.assert_allclose(st.predict(X[5], beta), X[5] @ beta,
                               rtol=1e-13, atol=1e-14)


def test_mad_bisquare():
    r = np.array([1.0, -2.0, 3.0, np.nan, 0.5])
    assert st.mad(r) == pytest.approx(
        np.nanmedian(np.abs(r - np.nanmedian(r))) / 0.6745)
    w = st.bisquare(np.array([0.0, 4.685, 10.0, -1.0]))
    assert w[0] == 1.0 and w[1] == 0.0 and w[2] == 0.0 and 0 < w[3] < 1
