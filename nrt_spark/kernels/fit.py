"""Model-fitting kernels: OLS, robust IRLS, and the two stable-history fits.

Numeric semantics match the reference (``/root/reference/nrt/fit_methods.py``)
including its sign convention — fit residuals are ``X @ beta - y``
(prediction minus observation), the *opposite* of monitoring residuals.
Implementations are plain numpy; Spark tasks provide outer parallelism.
"""

from __future__ import annotations

import numpy as np

from nrt_spark.kernels.stats import nanlstsq, predict, mad, bisquare
from nrt_spark.kernels.efp import history_roc, REC_CUSUM_CRIT_005

_F32_EPS = float(np.finfo(np.float32).eps)


def ols(X: np.ndarray, y: np.ndarray):
    """NaN-aware OLS per series (reference ``fit_methods.py:58-71``).

    Returns:
        beta (N, K), residuals (M, K) = X @ beta - y (NaN where y is NaN).
    """
    beta = nanlstsq(X, y)
    return beta, predict(X, beta) - y


def weighted_ols(X: np.ndarray, y: np.ndarray, w: np.ndarray):
    """Weighted OLS for a single series via sqrt-weight scaling
    (reference ``fit_methods.py:143-164``)."""
    sw = np.sqrt(w)
    beta, *_ = np.linalg.lstsq(X * sw[:, None], y * sw, rcond=-1)
    resid = y - X @ beta
    return beta, resid


def rirls(X: np.ndarray, y: np.ndarray, M=bisquare, tune: float = 4.685,
          scale_est=mad, scale_constant: float = 0.6745,
          update_scale: bool = True, maxiter: int = 50, tol: float = 1e-8):
    """Robust regression via iteratively reweighted least squares.

    Tukey-biweight weights with MAD scale, per series; convergence when no
    coefficient moved by more than ``tol`` or after ``maxiter`` iterations
    (reference ``fit_methods.py:74-140``, itself derived from the public
    yatsm package).

    Returns:
        beta (N, K), residuals (M, K) float64 with NaN kept in place.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    beta = np.zeros((X.shape[1], y.shape[1]), dtype=np.float64)
    resid = np.full_like(y, np.nan, dtype=np.float64)
    for k in range(y.shape[1]):
        yk = y[:, k]
        keep = ~np.isnan(yk)
        Xs, ys = X[keep], yk[keep]
        b, r = weighted_ols(Xs, ys, np.ones_like(ys))
        scale = scale_est(r, c=scale_constant)
        if scale < _F32_EPS:
            beta[:, k] = b
            resid[keep, k] = r
            continue
        iteration, converged = 1, False
        while not converged and iteration < maxiter:
            b_prev = b.copy()
            weights = M(r / scale, c=tune)
            b, r = weighted_ols(Xs, ys, weights)
            if update_scale:
                scale = max(_F32_EPS, scale_est(r, c=scale_constant))
            iteration += 1
            # Reference quirk kept for parity: the convergence test is
            # `not any(|b| - prev > tol)` elementwise on (b - prev > tol)
            # after fabs of the *difference with* tol, i.e. effectively
            # one-sided; replicate its exact expression.
            converged = not np.any(np.fabs(b - b_prev > tol))
        beta[:, k] = b
        resid[keep, k] = r
    return beta, resid


def ccdc_stable_fit(X: np.ndarray, y: np.ndarray, dates: np.ndarray,
                    threshold: float = 3.0):
    """CCDC-style stable-history fit (reference ``fit_methods.py:166-251``).

    Per series: OLS fit on the most recent window; if unstable
    (|slope|/RMSE, |first resid|/RMSE or |last resid|/RMSE >= threshold),
    drop the two oldest observations and refit, while at least
    ``1.5 * n_regressors`` observations and more than 183 days of data
    remain.

    Args:
        X: (M, N) design matrix (column 1 must be the trend).
        y: (M, K) observations with NaN gaps.
        dates: (M,) int days since epoch, aligned with rows of X/y.

    Returns:
        beta (N, K), residuals (M, K) (NaN outside the final fit window),
        is_stable (K,) bool, fit_start (K,) int days since epoch.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    dates = np.asarray(dates)
    min_obs = int(X.shape[1] * 1.5)
    K = y.shape[1]
    beta = np.zeros((X.shape[1], K), dtype=np.float64)
    residuals = np.full_like(y, np.nan)
    stable = np.zeros(K, dtype=bool)
    fit_start = np.zeros(K)
    for k in range(K):
        yk = y[:, k]
        keep = ~np.isnan(yk)
        Xs, ys, ds = X[keep], yk[keep], dates[keep]
        is_stable = False
        jdx = len(ys)
        b_sub = np.zeros(X.shape[1])
        r_sub = np.zeros(0)
        for jdx in range(len(ys), min_obs - 1, -2):
            X_w, y_w = Xs[-jdx:], ys[-jdx:]
            b_sub = np.linalg.solve(X_w.T @ X_w, X_w.T @ y_w)
            r_sub = X_w @ b_sub - y_w
            rmse = np.sqrt(np.mean(r_sub ** 2))
            is_stable = (
                (np.fabs(b_sub[1]) / rmse < threshold)
                and (np.fabs(r_sub[0]) / rmse < threshold)
                and (np.fabs(r_sub[-1]) / rmse < threshold)
            )
            if is_stable:
                break
            if ds[-1] - ds[-jdx] < 183:
                break
        beta[:, k] = b_sub
        # Residuals are positional within the kept (non-NaN) rows; scatter
        # them back to the tail of the kept positions, as the reference
        # does on its dense matrix.
        kept_idx = np.flatnonzero(keep)
        residuals[kept_idx[-jdx:], k] = r_sub
        stable[k] = bool(is_stable)
        fit_start[k] = ds[-jdx]
    return beta, residuals, stable, fit_start


def roc_stable_fit(X: np.ndarray, y: np.ndarray, dates: np.ndarray,
                   alpha: float = 0.05, crit: float = REC_CUSUM_CRIT_005):
    """Stable fit via Reverse-Ordered-CUSUM history detection
    (reference ``fit_methods.py:254-323``).

    Per series: find the stable-period start with :func:`history_roc`,
    mark unstable when fewer than ``n_regressors + 1`` observations or
    less than 183 days remain, else OLS-fit the stable tail.

    Returns:
        beta (N, K), residuals (M, K) = X @ beta - y on the full series,
        is_stable (K,) bool, fit_start (K,) uint16 days since epoch.
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    K = y.shape[1]
    nreg = X.shape[1]
    is_stable = np.ones(K, dtype=bool)
    fit_start = np.zeros(K, dtype=np.uint16)
    beta = np.full((nreg, K), np.nan, dtype=np.float64)
    for k in range(K):
        yk = y[:, k]
        keep = ~np.isnan(yk)
        ys, Xs = yk[keep], X[keep]
        stable_idx = history_roc(Xs, ys, alpha=alpha, crit=crit)
        if len(ys) - stable_idx < nreg + 1:
            is_stable[k] = False
            continue
        ds = dates[keep]
        if ds[-1] - ds[stable_idx] < 183:
            is_stable[k] = False
            continue
        X_st, y_st = Xs[stable_idx:], ys[stable_idx:]
        beta[:, k] = np.linalg.solve(X_st.T @ X_st, X_st.T @ y_st)
        fit_start[k] = ds[stable_idx]
    return beta, predict(X, beta) - y, is_stable, fit_start
