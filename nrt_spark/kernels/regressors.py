"""Design-matrix construction for harmonic-trend regression.

Semantics match the reference (``/root/reference/nrt/utils.py:24-74``):
columns are [intercept, (days-since-1970 trend), cos(2*pi*k*dy),
sin(2*pi*k*dy) for k=1..harmonic_order] where ``dy`` is the decimal year
computed with the leap-aware formula ``year + (d - Jan1)/(Dec31 - Jan1)``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH = np.datetime64("1970-01-01")


def decimal_years(dates: pd.DatetimeIndex) -> np.ndarray:
    """Decimal-year representation of timestamps.

    Mirrors ``datetimeIndex_to_decimal_dates`` (reference
    ``nrt/utils.py:67-74``): the fractional part is the elapsed fraction of
    [Jan 1, Dec 31] of that year, so leap years divide by 365 days and
    normal years by 364 (an idiosyncrasy we keep for parity).
    """
    dates = pd.DatetimeIndex(dates)
    years = dates.year
    jan1 = pd.to_datetime({"year": years, "month": 1, "day": 1})
    dec31 = pd.to_datetime({"year": years, "month": 12, "day": 31})
    frac = (dates - jan1) / (dec31 - jan1)
    return np.asarray(years + frac, dtype=np.float64)


def _day_decimal_years(days: np.ndarray) -> np.ndarray:
    """``decimal_years`` of whole days since the epoch, without pandas.

    The same formula on ``datetime64[D]``: day counts are exact in
    float64 (so are pandas' nanosecond counts of whole days, a power of
    two times an odd factor below 2**53), so the quotient rounds to the
    same bits as ``decimal_years``'.
    """
    d = days.astype("datetime64[D]")
    year = d.astype("datetime64[Y]")
    jan1 = year.astype("datetime64[D]")
    dec31 = (year + 1).astype("datetime64[D]") - np.timedelta64(1, "D")
    frac = ((d - jan1).astype(np.float64)
            / (dec31 - jan1).astype(np.float64))
    return year.astype(np.int64) + 1970 + frac


def _design(trend_days, dy, trend: bool, harmonic_order: int) -> np.ndarray:
    """[intercept, (trend), cos block, sin block] from per-row day
    counts and decimal years (``dy`` is unused at harmonic order 0)."""
    n_cols = 1 + int(trend) + 2 * harmonic_order
    X = np.zeros((len(trend_days), n_cols), dtype=np.float64)
    X[:, 0] = 1.0
    if trend:
        X[:, 1] = trend_days
    if harmonic_order:
        # angle[k] = 2*pi*(k+1)*decimal_year, cos block then sin block
        angles = 2.0 * np.pi * dy[:, None] * np.arange(1, harmonic_order + 1)[None, :]
        X[:, 1 + int(trend):] = np.concatenate([np.cos(angles), np.sin(angles)], axis=1)
    return X


def build_regressors(dates, trend: bool = True, harmonic_order: int = 3) -> np.ndarray:
    """Build the (M, 1 + trend + 2*harmonic_order) design matrix X.

    Args:
        dates: anything convertible to a pandas DatetimeIndex (sorted
            ascending internally, as the reference does).
        trend: include a days-since-epoch linear trend column.
        harmonic_order: number of annual cos/sin harmonic pairs.
    """
    dates = pd.DatetimeIndex(dates).sort_values()
    return _design((dates - pd.Timestamp(1970, 1, 1)).days,
                   decimal_years(dates) if harmonic_order else None,
                   trend, harmonic_order)


def regressors_for_days(days: np.ndarray, trend: bool, harmonic_order: int) -> np.ndarray:
    """Design matrix from integer days-since-epoch (vectorized helper).

    Bit for bit ``build_regressors(EPOCH + days, ...)`` — used inside
    UDFs where timestamps arrive as int days — at a fixed cost of tens
    of microseconds instead of pandas' milliseconds per call.
    """
    days = np.sort(np.asarray(days, dtype=np.int64))
    return _design(days, _day_decimal_years(days) if harmonic_order else None,
                   trend, harmonic_order)
