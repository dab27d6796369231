"""Fit-time outlier screens (reference ``/root/reference/nrt/outliers.py``).

Both screens take the (M, K) observation matrix and return a copy with
outliers replaced by NaN; they are applied inside the fit UDF because they
need full-series residuals (not expressible as row predicates).
"""

from __future__ import annotations

import logging

import numpy as np

from nrt_spark.kernels.fit import ols, rirls
from nrt_spark.kernels.stats import nanstd

logger = logging.getLogger(__name__)


def shewhart_screen(X: np.ndarray, y: np.ndarray, L: float = 5.0, **_ignored):
    """Shewhart control-chart screen (Brooks et al. 2014; reference
    ``outliers.py:40-62``): OLS fit, then residuals beyond ``L * sigma``
    (sigma = per-series nanstd of residuals) become NaN."""
    _, residuals = ols(X, y)
    sigma = nanstd(residuals)
    out = y.copy()
    out[np.abs(residuals) > L * sigma] = np.nan
    return out


def ccdc_rirls_screen(X: np.ndarray, y: np.ndarray, green: np.ndarray,
                      swir: np.ndarray, scaling_factor: float = 1, **kwargs):
    """CCDC multispectral screen (Zhu & Woodcock 2014; reference
    ``outliers.py:65-95``): robust-fit green and SWIR bands, flag
    observations with green residual > 0.04*sf or SWIR residual < -0.04*sf.
    """
    _, g_resid = rirls(X, green, **kwargs)
    _, s_resid = rirls(X, swir, **kwargs)
    is_outlier = np.logical_or(g_resid > 0.04 * scaling_factor,
                               s_resid < -0.04 * scaling_factor)
    removed = np.count_nonzero(is_outlier) / np.count_nonzero(~np.isnan(green))
    if removed > 0.5:
        logger.warning('More than 50%% of pixels removed as outliers; '
                       'check scaling_factor.')
    out = y.copy()
    out[is_outlier] = np.nan
    return out
