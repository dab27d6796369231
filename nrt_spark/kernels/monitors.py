"""Monitor state machines: EWMA, CUSUM, MOSUM, CCDC, IQR.

Each monitor is expressed as two pure functions over a *batch* of K series:

- ``fit_state(X, y, dates, params) -> state`` — fit the stable-history
  model and initialize the sequential process for every series in the
  batch (reference per-monitor ``fit()``).
- ``update(state, resid, valid, params)`` — one sequential step given the
  (K,) residual/validity vectors of a new acquisition (reference
  ``_update_process``).

``state`` is a plain dict of numpy arrays keyed per series — the in-memory
twin of the engine's state table (one row per doc_id).  The same code runs
inside Spark grouped UDFs and in the single-process test oracle, which is
what makes Spark-vs-oracle comparisons byte-exact.

Reference behavior: /root/reference/nrt/monitor/{__init__,ewma,cusum,
mosum,ccdc,iqr}.py (see per-function citations).
"""

from __future__ import annotations

import numpy as np

from nrt_spark.kernels.regressors import regressors_for_days
from nrt_spark.kernels.stats import nanmean, nanstd, nansum, predict
from nrt_spark.kernels.fit import ols, rirls, ccdc_stable_fit, roc_stable_fit
from nrt_spark.kernels.outliers import shewhart_screen, ccdc_rirls_screen
from nrt_spark.kernels.efp import (
    cusum_ols_test_crit,
    mosum_ols_test_crit,
    cusum_rec_test_crit,
    mosum_init_window,
)

# Mask codes (reference nrt/monitor/__init__.py:46-55)
MASK_NOT_MONITORED = 0
MASK_MONITORED = 1
MASK_UNSTABLE = 2
MASK_BREAK = 3
MASK_TOO_SHORT = 4

#: Per-monitor defaults (reference constructor signatures).
DEFAULT_PARAMS = {
    "ewma": dict(trend=True, harmonic_order=2, sensitivity=2.0, lambda_=0.3,
                 threshold_outlier=10.0, method="OLS", screen_outliers="Shewhart",
                 L=5.0, boundary_static=None),
    "cusum": dict(trend=True, harmonic_order=2, sensitivity=0.05,
                  method="ROC", screen_outliers=None, alpha=0.05,
                  boundary_static=None),
    "mosum": dict(trend=True, harmonic_order=2, sensitivity=0.05, h=0.25,
                  method="ROC", screen_outliers=None, alpha=0.05,
                  boundary_static=None),
    "ccdc": dict(trend=True, harmonic_order=2, sensitivity=3.0,
                 method="CCDC-stable", screen_outliers=None,  # CCDC_RIRLS needs bands
                 boundary_static=3.0),
    "iqr": dict(trend=True, harmonic_order=3, sensitivity=1.5,
                method="OLS", screen_outliers=None, boundary_static=3.0),
}


def resolve_params(monitor: str, **overrides) -> dict:
    params = dict(DEFAULT_PARAMS[monitor])
    params.update(overrides)
    params["monitor"] = monitor
    if monitor == "cusum":
        params.setdefault("critval", cusum_ols_test_crit(params["sensitivity"]))
    elif monitor == "mosum":
        # period/functional default to the reference MoSum's hardcoded
        # choices (nrt/monitor/mosum.py:87) but stay user-overridable
        # like the reference's crit-value API (utils_efp.py:145-166)
        params.setdefault("critval", mosum_ols_test_crit(
            params["sensitivity"], h=params["h"],
            period=params.get("period", 10),
            functional=params.get("functional", "max")))
    return params


def _empty_state(K: int, n_coef: int) -> dict:
    return {
        "mask": np.full(K, MASK_MONITORED, dtype=np.uint8),
        "beta": np.zeros((n_coef, K), dtype=np.float64),
        "process": np.zeros(K, dtype=np.float64),
        "boundary": np.full(K, np.nan, dtype=np.float64),
        "sigma": np.full(K, np.nan, dtype=np.float64),
        "rmse": np.full(K, np.nan, dtype=np.float64),
        "q25": np.full(K, np.nan, dtype=np.float64),
        "q75": np.full(K, np.nan, dtype=np.float64),
        "histsize": np.zeros(K, dtype=np.int64),
        "n": np.zeros(K, dtype=np.int64),
        "winsize": np.zeros(K, dtype=np.int64),
        "window": np.zeros((0, K), dtype=np.float64),
        "detection_date": np.zeros(K, dtype=np.int64),
        "fit_start": np.zeros(K, dtype=np.int64),
    }


# ---------------------------------------------------------------------------
# Fit
# ---------------------------------------------------------------------------

def fit_state(y: np.ndarray, dates_days: np.ndarray, params: dict,
              mask: np.ndarray | None = None,
              green: np.ndarray | None = None,
              swir: np.ndarray | None = None) -> dict:
    """Fit the history model + initialize monitoring state for K series.

    Mirrors ``BaseNrt._fit`` orchestration (reference
    ``nrt/monitor/__init__.py:141-253``) followed by the monitor-specific
    ``fit()`` finalization.

    Args:
        y: (M, K) float64 observations, NaN = missing; rows sorted by time.
        dates_days: (M,) int days since 1970-01-01, ascending.
        params: from :func:`resolve_params`.
        mask: optional (K,) uint8 initial mask (default: all monitored).
        green/swir: optional (M, K) band matrices for the CCDC_RIRLS screen.

    Returns:
        state dict; series that end with mask != 1 keep zero/NaN state.
    """
    monitor = params["monitor"]
    y = np.asarray(y, dtype=np.float64)
    dates_days = np.asarray(dates_days, dtype=np.int64)
    if not np.all(dates_days[1:] >= dates_days[:-1]):
        raise ValueError("time axis must be sorted chronologically")
    M, K = y.shape
    X = regressors_for_days(dates_days, params["trend"], params["harmonic_order"])
    n_coef = X.shape[1]
    state = _empty_state(K, n_coef)
    if mask is not None:
        state["mask"] = np.asarray(mask, dtype=np.uint8).copy()
    if M:       # an empty grid (all-NULL bucket) leaves every series short
        state["fit_start"][:] = dates_days.min()

    def monitored():
        return state["mask"] == MASK_MONITORED

    def flag_short(y_flat, cols):
        # reference _mask_short_series (__init__.py:528-550)
        short = np.count_nonzero(~np.isnan(y_flat), axis=0) < n_coef * 1.5
        if short.any():
            state["mask"][cols[short]] = MASK_TOO_SHORT
        return y_flat[:, ~short], cols[~short]

    cols = np.flatnonzero(monitored())
    y_flat, cols = flag_short(y[:, cols], cols)

    screen = params.get("screen_outliers")
    if screen == "Shewhart":
        y_flat = shewhart_screen(X, y_flat, L=params.get("L", 5.0))
        y_flat, cols = flag_short(y_flat, cols)
    elif screen == "CCDC_RIRLS":
        if green is None or swir is None:
            raise ValueError("green and swir matrices required for CCDC_RIRLS")
        y_flat = ccdc_rirls_screen(X, y_flat, green=green[:, cols],
                                   swir=swir[:, cols],
                                   scaling_factor=params.get("scaling_factor", 1))
        y_flat, cols = flag_short(y_flat, cols)
    elif screen:
        raise ValueError(f"Unknown screen_outliers {screen!r}")

    if cols.size == 0:
        return state

    method = params["method"]
    if method == "LASSO":
        # reference parity: declared but unimplemented (__init__.py:244-245)
        raise NotImplementedError("Method not yet implemented")
    if method == "OLS":
        beta_flat, resid_flat = ols(X, y_flat)
    elif method == "RIRLS":
        beta_flat, resid_flat = rirls(X, y_flat)
    elif method == "ROC":
        crit = cusum_rec_test_crit(params.get("alpha", 0.05))
        beta_flat, resid_flat, is_stable, fit_start = roc_stable_fit(
            X, y_flat, dates_days, alpha=params.get("alpha", 0.05), crit=crit)
        state["mask"][cols[~is_stable]] = MASK_UNSTABLE
        state["fit_start"][cols] = fit_start
    elif method == "CCDC-stable":
        if not params["trend"]:
            raise ValueError('Method "CCDC-stable" requires "trend" to be true.')
        beta_flat, resid_flat, is_stable, fit_start = ccdc_stable_fit(
            X, y_flat, dates_days, threshold=params.get("threshold", 3.0))
        state["mask"][cols[~is_stable]] = MASK_UNSTABLE
        state["fit_start"][cols] = fit_start
    else:
        raise ValueError(f"Unknown method {method!r}")

    state["beta"][:, cols] = beta_flat

    # ---- monitor-specific finalization over the fitted columns ----
    # (warnings scoped: all-NaN residual columns from unstable series
    # trip numpy's "Mean of empty slice" RuntimeWarnings — meaningless
    # noise in executor logs at fleet scale)
    import warnings as _warnings

    with _warnings.catch_warnings():
        _warnings.simplefilter("ignore", RuntimeWarning)
        _finalize_monitor_state(monitor, params, state, cols, resid_flat,
                                n_coef, K)
    return state


def _finalize_monitor_state(monitor, params, state, cols, resid_flat,
                            n_coef, K):
    if monitor == "ewma":
        # reference ewma.py:58-84
        lam = params["lambda_"]
        sigma = nanstd(resid_flat)
        boundary = params["sensitivity"] * sigma * np.sqrt(lam / (2 - lam))
        proc = np.zeros(cols.size)
        for row in resid_flat:                       # sequential fold, NaN passthrough
            proc = np.where(np.isnan(row), proc, (1 - lam) * proc + lam * row)
        state["sigma"][cols] = sigma
        state["boundary"][cols] = boundary
        state["process"][cols] = proc
        unstable = proc > boundary                   # one-sided, ewma.py:82-84
        state["mask"][cols[unstable]] = MASK_UNSTABLE
    elif monitor in ("cusum", "mosum"):
        # reference cusum.py:83-114 / mosum.py:104-139
        histsize = np.sum(~np.isnan(resid_flat), axis=0)
        sigma = nanstd(resid_flat, ddof=n_coef)
        with np.errstate(divide="ignore", invalid="ignore"):
            resid_norm = resid_flat / (sigma * np.sqrt(histsize))
        state["histsize"][cols] = histsize
        state["n"][cols] = histsize
        state["sigma"][cols] = sigma
        if monitor == "cusum":
            state["process"][cols] = nansum(resid_norm)
        else:
            winsize = np.floor(histsize * params["h"]).astype(np.int64)
            state["winsize"][cols] = winsize
            window_flat = mosum_init_window(resid_norm, winsize)
            window = np.zeros((window_flat.shape[0], K))
            window[:, cols] = window_flat
            state["window"] = window
            state["process"][cols] = nansum(window_flat)
    elif monitor == "ccdc":
        # reference ccdc.py:80-137
        state["rmse"][cols] = np.sqrt(nanmean(resid_flat ** 2))
        state["boundary"][cols] = params["boundary_static"]
    elif monitor == "iqr":
        # reference iqr.py:78-87
        q75, q25 = np.nanpercentile(resid_flat, [75, 25], axis=0)
        state["q25"][cols] = q25
        state["q75"][cols] = q75
        state["boundary"][cols] = params["boundary_static"]
    else:
        raise ValueError(f"Unknown monitor {monitor!r}")


# ---------------------------------------------------------------------------
# Sequential update
# ---------------------------------------------------------------------------

def update_process(state: dict, resid: np.ndarray, valid: np.ndarray,
                   params: dict) -> None:
    """One ``_update_process`` step for all K series (in place)."""
    monitor = params["monitor"]
    if monitor == "ewma":
        # ewma.py:90-116
        lam = params["lambda_"]
        new = np.where(np.isnan(resid), state["process"],
                       (1 - lam) * state["process"] + lam * resid)
        state["process"] = np.where(valid, new, state["process"])
    elif monitor == "cusum":
        # cusum.py:116-131
        critval = params["critval"]
        with np.errstate(divide="ignore", invalid="ignore"):
            state["n"] = state["n"] + valid
            x = state["n"] / state["histsize"]
            state["boundary"] = np.where(
                valid,
                np.sqrt(x * (x - 1) * (critval ** 2 + np.log(x / (x - 1)))),
                state["boundary"])
            resid_norm = resid / (state["sigma"] * np.sqrt(state["histsize"]))
        state["process"] = np.where(valid, state["process"] + resid_norm,
                                    state["process"])
    elif monitor == "mosum":
        # mosum.py:141-162 — per-series ring-buffer slot write
        critval = params["critval"]
        valid_idx = np.flatnonzero(valid)
        with np.errstate(divide="ignore", invalid="ignore"):
            slot = np.mod(state["n"] - state["histsize"], state["winsize"])[valid_idx]
            resid_norm = resid / (state["sigma"] * np.sqrt(state["histsize"]))
            state["window"][slot.astype(np.int64), valid_idx] = resid_norm[valid_idx]
            state["n"] = state["n"] + valid
            x = state["n"] / state["histsize"]
        log_out = np.ones_like(x)
        np.log(x, out=log_out, where=(x > np.exp(1)))
        state["boundary"] = np.where(valid, critval * np.sqrt(2 * log_out),
                                     state["boundary"])
        state["process"] = nansum(state["window"])
    elif monitor in ("ccdc", "iqr"):
        # ccdc.py:139-149 / iqr.py:89-102 — consecutive-outlier run length
        if monitor == "ccdc":
            with np.errstate(divide="ignore", invalid="ignore"):
                is_outlier = np.abs(resid) / state["rmse"] > params["sensitivity"]
        else:
            iqr = state["q75"] - state["q25"]
            lo = state["q25"] - params["sensitivity"] * iqr
            hi = state["q75"] + params["sensitivity"] * iqr
            is_outlier = np.logical_or(resid > hi, resid < lo)
        state["process"] = np.where(
            valid, state["process"] * is_outlier + is_outlier, state["process"])
    else:
        raise ValueError(f"Unknown monitor {monitor!r}")


def monitor_step(state: dict, y_obs: np.ndarray, date_days: int,
                 params: dict, update_mask: bool = True,
                 X_row: np.ndarray | None = None) -> None:
    """One full ``BaseNrt.monitor`` step (reference ``__init__.py:259-292``).

    Predict → residual → validity (+ extreme-outlier screen for EWMA) →
    process update → break confirm (mask=3 + detection_date stamp).
    """
    if X_row is None:
        X_row = regressors_for_days(np.array([date_days]), params["trend"],
                                    params["harmonic_order"])[0]
    resid = y_obs - predict(X_row, state["beta"])
    valid = np.logical_and(state["mask"] == MASK_MONITORED, np.isfinite(y_obs))
    if params["monitor"] == "ewma":
        # ewma.py:86-88
        extreme = np.abs(resid) > params["threshold_outlier"] * state["sigma"]
        valid = np.logical_and(~extreme, valid)
    update_process(state, resid, valid, params)
    if update_mask:
        with np.errstate(invalid="ignore"):
            is_break = np.abs(state["process"]) >= state["boundary"]
        to_update = np.logical_and(valid, is_break)
        state["mask"][to_update] = MASK_BREAK
        state["detection_date"][to_update] = int(date_days)


def run_monitor(state: dict, y_mat: np.ndarray, dates_days: np.ndarray,
                params: dict, update_mask: bool = True) -> dict:
    """Fold :func:`monitor_step` over the rows of a (M, K) observation
    matrix in chronological order (the reference's user-side loop,
    ``README.rst:104-106``).  The per-date design rows are precomputed in
    one vectorized call."""
    dates_days = np.asarray(dates_days, dtype=np.int64)
    X_mat = regressors_for_days(dates_days, params["trend"],
                                params["harmonic_order"])
    for row, d, x_row in zip(np.asarray(y_mat, dtype=np.float64), dates_days, X_mat):
        monitor_step(state, row, int(d), params, update_mask=update_mask,
                     X_row=x_row)
    return state
