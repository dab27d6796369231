"""Low-level statistics kernels (NaN-aware, vectorized over series).

Numeric semantics match the reference (``/root/reference/nrt/stats.py``)
but the implementations are plain numpy (no numba): Spark tasks provide
the outer parallelism, so per-batch numpy/BLAS is the right granularity.
"""

from __future__ import annotations

import numpy as np


def nanlstsq(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """(N, K) least-squares coefficients of (M, K) ``y`` (NaN = missing)
    on the (M, N) design ``X``, each series over the rows it observes
    (reference ``nrt/stats.py:20-68``).

    One stacked product of each series' ``[X | y_s]`` (NaN rows zeroed)
    with itself gives all K normal equations, one stacked solve all K
    ``b_s``; every slice has the same shape and strides at any K."""
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    (M, N), K = X.shape, y.shape[1]
    valid = ~np.isnan(y)
    A = np.concatenate([np.broadcast_to(X, (K, M, N)),
                        np.where(valid, y, 0.0).T[:, :, None]], axis=2)
    A *= valid.T[:, :, None]
    G = A.transpose(0, 2, 1) @ A
    return np.linalg.solve(G[:, :N, :N], G[:, :N, N:])[:, :, 0].T


def predict(X: np.ndarray, beta: np.ndarray) -> np.ndarray:
    """``X @ beta`` for (M, N) or (N,) X and (N, K) beta, folded over the
    N coefficients in order (BLAS picks its summation order by K)."""
    y = X[..., 0, None] * beta[0]
    for j in range(1, beta.shape[0]):
        y += X[..., j, None] * beta[j]
    return y


def nansum(a: np.ndarray) -> np.ndarray:
    """Axis-0 sum skipping NaN, folded row by row (``np.nansum(axis=0)``
    sums a lone column pairwise but several columns row by row)."""
    out = np.zeros(np.shape(a)[1:])
    for row in np.where(np.isnan(a), 0.0, a):
        out += row
    return out


def nanmean(a: np.ndarray) -> np.ndarray:
    """Axis-0 mean skipping NaN, on :func:`nansum` (NaN for no values)."""
    with np.errstate(divide="ignore", invalid="ignore"):
        return nansum(a) / np.count_nonzero(~np.isnan(a), axis=0)


def nanstd(a: np.ndarray, ddof: int = 0) -> np.ndarray:
    """``np.nanstd(a, axis=0, ddof=ddof)`` on :func:`nansum`."""
    n = np.count_nonzero(~np.isnan(a), axis=0)
    with np.errstate(divide="ignore", invalid="ignore"):
        dev = a - nansum(a) / n
        return np.sqrt(np.where(n > ddof, nansum(dev * dev) / (n - ddof),
                                np.nan))


def mad(resid: np.ndarray, c: float = 0.6745) -> float:
    """Median absolute deviation scale estimate (reference ``nrt/stats.py:71-86``)."""
    return np.nanmedian(np.fabs(resid - np.nanmedian(resid))) / c


def bisquare(resid: np.ndarray, c: float = 4.685) -> np.ndarray:
    """Tukey biweight: w = (1-(r/c)^2)^2 where |r|<c else 0 (``nrt/stats.py:89-104``)."""
    return (np.abs(resid) < c) * (1 - (resid / c) ** 2) ** 2


def erfcc(x: float) -> float:
    """Complementary error function, Numerical-Recipes rational approximation
    (same constants as reference ``nrt/stats.py:107-118``)."""
    z = np.abs(x)
    t = 1.0 / (1.0 + 0.5 * z)
    r = t * np.exp(
        -z * z - 1.26551223 + t * (1.00002368 + t * (0.37409196 + t * (
            0.09678418 + t * (-0.18628806 + t * (0.27886807 + t * (
                -1.13520398 + t * (1.48851587 + t * (-0.82215223 + t * 0.17087277))))))))
    )
    return r if x >= 0.0 else 2.0 - r


def ncdf(x: float) -> float:
    """Standard normal CDF via ``erfcc`` (reference ``nrt/stats.py:121-127``)."""
    return 1.0 - 0.5 * erfcc(x / (2.0 ** 0.5))
