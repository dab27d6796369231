"""Property-based kernel tests (hypothesis; numpy-only, fast)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from nrt_spark.kernels.stats import nanlstsq
from nrt_spark.tokens import tokens_to_matrix, values_to_tokens, GAP_TOKEN

finite = st.floats(min_value=-1.0, max_value=1.0, allow_nan=False)


@settings(max_examples=40, deadline=None)
@given(st.lists(finite, min_size=8, max_size=60),
       st.integers(min_value=0, max_value=2 ** 31 - 1))
def test_ewma_fold_equals_closed_form(vals, seed):
    """The sequential EWMA fold equals the power-weighted closed form
    (the SQL-oracle expression in queries.events_ewma)."""
    lam = 0.3
    r = np.array(vals)
    ewma = 0.0
    for v in r:
        ewma = (1 - lam) * ewma + lam * v
    n = len(r)
    closed = float(np.sum(r * lam * (1 - lam) ** (n - 1 - np.arange(n))))
    np.testing.assert_allclose(ewma, closed, rtol=1e-9, atol=1e-12)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2 ** 31 - 1),
       st.integers(min_value=2, max_value=5),
       st.integers(min_value=1, max_value=6))
def test_nanlstsq_pattern_grouping_invariant(seed, k_series, nan_tenths):
    """The stacked per-series normal-equation solve equals a naive solve
    on each series' observed rows, for any NaN pattern (zeroing the rows
    a series does not observe is the same as dropping them)."""
    rng = np.random.RandomState(seed % 100000)
    M = 40
    X = np.c_[np.ones(M), np.linspace(0, 1, M), np.cos(np.linspace(0, 6, M))]
    y = X @ rng.normal(size=(3, k_series)) + 0.1 * rng.normal(size=(M, k_series))
    y[rng.random_sample((M, k_series)) < nan_tenths / 20] = np.nan
    # keep every series solvable
    y[:6] = rng.normal(size=(6, k_series))
    beta = nanlstsq(X, y)
    for k in range(k_series):
        keep = ~np.isnan(y[:, k])
        Xs, ys = X[keep], y[keep, k]
        want = np.linalg.solve(Xs.T @ Xs, Xs.T @ ys)
        np.testing.assert_allclose(beta[:, k], want, rtol=1e-8, atol=1e-10)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.integers(min_value=-30000, max_value=30000) |
                st.just(GAP_TOKEN), max_size=80))
def test_token_roundtrip_property(toks):
    """decode -> re-encode is the identity on any token array."""
    t = np.asarray(toks, dtype=np.int32)
    y = tokens_to_matrix([t])[:, 0] if len(t) else np.array([])
    back = values_to_tokens(y)
    np.testing.assert_array_equal(back, t)


@settings(max_examples=25, deadline=None)
@given(st.sampled_from(["ewma", "cusum", "mosum", "iqr", "ccdc"]),
       st.integers(min_value=1, max_value=28),
       st.integers(min_value=0, max_value=10 ** 6))
def test_monitor_chunked_equals_full(monitor, cut, seed):
    """Sequential-update invariant: feeding the monitoring period in two
    chunks through run_monitor lands byte-exactly where one call lands —
    the property that makes incremental/streaming ingest correct."""
    import copy

    from nrt_spark.kernels.monitors import (fit_state, resolve_params,
                                            run_monitor)
    from nrt_spark.tokens import grid_days

    rng = np.random.Generator(np.random.PCG64(seed))
    M, K = 90, 7
    y = 0.4 + 0.05 * rng.standard_normal((M, K))
    y[rng.random((M, K)) < 0.1] = np.nan
    days = grid_days(M)
    params = resolve_params(monitor, trend=False,
                            **({"method": "OLS"}
                               if monitor in ("cusum", "mosum", "ccdc")
                               else {}))
    hist = 60
    full = fit_state(y[:hist], days[:hist], params)
    chunked = copy.deepcopy(full)
    run_monitor(full, y[hist:], days[hist:], params)
    c = hist + cut
    run_monitor(chunked, y[hist:c], days[hist:c], params)
    run_monitor(chunked, y[c:], days[c:], params)
    for key in full:
        a, b = np.asarray(full[key]), np.asarray(chunked[key])
        if a.dtype.kind == "f":
            np.testing.assert_array_equal(np.nan_to_num(a, nan=-1.5),
                                          np.nan_to_num(b, nan=-1.5),
                                          err_msg=f"{monitor}.{key}")
        else:
            np.testing.assert_array_equal(a, b, err_msg=f"{monitor}.{key}")


def _pin_inputs(K=60, n_obs=130):
    """K generator series (harmonic signal, gaps, planted breaks and cloud
    outliers, green/swir bands) as (M, K) matrices on the token grid."""
    import pandas as pd

    from nrt_spark.datagen import _gen_batch
    from nrt_spark.tokens import grid_days

    rng = np.random.default_rng(11)
    ids = pd.DataFrame({"doc_id": [f"doc{k}" for k in range(K)],
                        "seed64": rng.integers(-2 ** 63, 2 ** 63 - 1, K),
                        "src_u": rng.random(K)})
    pdf = _gen_batch(ids, n_obs, break_frac=0.5, gap_frac=0.08, noise=0.02,
                     bands=True, outlier_frac=0.05)
    return grid_days(n_obs), tuple(tokens_to_matrix(list(pdf[c]))
                                   for c in ("tokens", "green_tokens",
                                             "swir_tokens"))


_PIN_CASES = {
    "ewma": ("ewma", {}),
    "ewma-notrend": ("ewma", {"trend": False}),
    "cusum": ("cusum", {"method": "OLS"}),
    "cusum-notrend": ("cusum", {"method": "OLS", "trend": False}),
    "mosum": ("mosum", {"method": "OLS"}),
    "mosum-notrend": ("mosum", {"method": "OLS", "trend": False}),
    "ccdc": ("ccdc", {}),
    "ccdc-ols": ("ccdc", {"method": "OLS"}),
    "iqr": ("iqr", {}),
    "rirls": ("cusum", {"method": "RIRLS"}),
    "ccdc-rirls-screen": ("ccdc", {"screen_outliers": "CCDC_RIRLS"}),
}


@pytest.mark.parametrize("case", list(_PIN_CASES))
def test_monitor_state_independent_of_batch_width(case, monkeypatch):
    """A series' fitted and monitored state is bit-identical whatever
    other series share its batch: K=60 in one call equals the
    concatenation of slices of width 1..7 on every state array.  This is
    what lets the engine (one batch per hash bucket) equal the oracle
    (one batch for everything) byte for byte."""
    import functools

    from nrt_spark.kernels import monitors
    from nrt_spark.kernels.monitors import (fit_state, resolve_params,
                                            run_monitor)

    # The design matrix depends on the dates alone; build it once per
    # grid instead of in each of the ~300 calls below.
    build = monitors.regressors_for_days
    cached = functools.lru_cache(
        lambda d, trend, order: build(np.frombuffer(d, dtype=np.int64),
                                      trend, order))
    monkeypatch.setattr(monitors, "regressors_for_days",
                        lambda days, trend, order: cached(
                            np.asarray(days, dtype=np.int64).tobytes(),
                            trend, order))
    monitor, overrides = _PIN_CASES[case]
    params = resolve_params(monitor, **overrides)
    days, (y, green, swir) = _pin_inputs()
    hist = 100

    def run(cols):
        bands = ({"green": green[:hist, cols], "swir": swir[:hist, cols]}
                 if params["screen_outliers"] == "CCDC_RIRLS" else {})
        state = fit_state(y[:hist, cols], days[:hist], params, **bands)
        return run_monitor(state, y[hist:, cols], days[hist:], params)

    def bits(a):
        a = np.asarray(a)
        return (np.where(np.isnan(a), np.nan, a).view(np.int64)
                if a.dtype.kind == "f" else a)

    K = y.shape[1]
    full = run(np.arange(K))
    depth = full["window"].shape[0]
    for width in range(1, 8):
        parts = [run(np.arange(K)[i:i + width]) for i in range(0, K, width)]
        for key, want in full.items():
            got = np.concatenate(
                [np.pad(p[key], ((0, depth - len(p[key])), (0, 0)))
                 if key == "window" else p[key] for p in parts], axis=-1)
            np.testing.assert_array_equal(bits(got), bits(want),
                                          err_msg=f"{key} at width {width}")


@settings(max_examples=25, deadline=None)
@given(st.integers(min_value=0, max_value=10 ** 6),
       st.integers(min_value=2, max_value=4))
def test_recresid_equals_direct_refit(seed, k):
    """recresid maintains (X'X)^-1 with rank-1 updates; the t-th value
    must equal the standardized one-step-ahead prediction error from a
    FULL OLS refit on rows < t (the definition, computed independently
    with lstsq)."""
    from nrt_spark.kernels.efp import recresid

    rng = np.random.Generator(np.random.PCG64(seed))
    n = 30
    X = np.column_stack([np.ones(n),
                         rng.standard_normal((n, k - 1))])
    y = X @ rng.standard_normal(k) + 0.1 * rng.standard_normal(n)
    span = k + 1
    got = recresid(X, y, span)
    for t in range(span, n):
        b, *_ = np.linalg.lstsq(X[:t], y[:t], rcond=None)
        e = y[t] - X[t] @ b
        f = 1.0 + X[t] @ np.linalg.inv(X[:t].T @ X[:t]) @ X[t]
        np.testing.assert_allclose(got[t], e / np.sqrt(f), rtol=1e-8,
                                   atol=1e-10)


@settings(max_examples=25, deadline=None)
@given(st.data())
def test_advance_scatter_matches_per_row_fold(data):
    """The vectorized observation scatter in streaming._advance (one
    fancy assignment + np.maximum.at) must agree with the per-row
    reference fold for every mix of duplicate (doc, day) rows, NaN
    values, unknown doc_ids and late (behind-watermark) observations."""
    import pandas as pd

    from nrt_spark.kernels.monitors import fit_state, resolve_params
    from nrt_spark.state import state_to_pdf
    from nrt_spark.streaming import _advance

    K = data.draw(st.integers(min_value=1, max_value=6))
    n_obs = data.draw(st.integers(min_value=0, max_value=25))
    rng = np.random.default_rng(data.draw(
        st.integers(min_value=0, max_value=2 ** 31 - 1)))
    params = resolve_params("ewma", trend=False)
    hist = rng.normal(10, 1, (40, K))
    state = fit_state(hist, np.arange(0, 200, 5, dtype=np.int64), params)
    doc_ids = np.array([f"d{i}" for i in range(K)])
    last = rng.integers(190, 210, K).astype(np.int64)
    pdf = state_to_pdf(state, doc_ids, 0, last)

    docs = data.draw(st.lists(
        st.sampled_from(list(doc_ids) + ["UNKNOWN"]),
        min_size=n_obs, max_size=n_obs))
    days = data.draw(st.lists(st.integers(min_value=180, max_value=260),
                              min_size=n_obs, max_size=n_obs))
    vals = [data.draw(st.one_of(st.just(float("nan")),
                                st.floats(min_value=-50, max_value=50,
                                          allow_nan=False)))
            for _ in range(n_obs)]
    obs = pd.DataFrame({"doc_id": docs, "day": days, "value": vals})

    got = _advance(pdf.copy(deep=True), obs.copy(), params, 0)

    # reference: the pre-vectorization per-row fold
    from nrt_spark.kernels.monitors import run_monitor
    from nrt_spark.state import pdf_to_state

    ref_pdf = pdf.copy(deep=True)
    kstate = pdf_to_state(ref_pdf)
    last_day = ref_pdf["last_day"].to_numpy(dtype=np.int64)
    doc_pos = {d: i for i, d in enumerate(ref_pdf["doc_id"])}
    obs2 = obs.sort_values(["day", "value"], na_position="first",
                           kind="mergesort")
    udays = np.sort(obs2["day"].unique()).astype(np.int64)
    y = np.full((len(udays), K), np.nan)
    day_pos = {d: i for i, d in enumerate(udays)}
    for doc, day, val in zip(obs2["doc_id"], obs2["day"], obs2["value"]):
        k = doc_pos.get(doc)
        if k is not None:
            y[day_pos[day], k] = val
    y[udays[:, None] <= last_day[None, :]] = np.nan
    run_monitor(kstate, y, udays, params)
    new_last = last_day.copy()
    if len(obs2):
        per_doc_max = obs2.groupby("doc_id")["day"].max()
        for doc, d in per_doc_max.items():
            k = doc_pos.get(doc)
            if k is not None and int(d) > new_last[k]:
                new_last[k] = int(d)
    want = state_to_pdf(kstate, ref_pdf["doc_id"].to_numpy(), 0, new_last)

    for col in ("mask", "process", "detection_date", "last_day", "n"):
        np.testing.assert_array_equal(
            got[col].to_numpy(), want[col].to_numpy(), err_msg=col)


@given(st.lists(st.floats(min_value=-1e6, max_value=1e6,
                          allow_nan=False), min_size=3, max_size=200),
       st.integers(min_value=3, max_value=50))
@settings(max_examples=60, deadline=None)
def test_lttb_select_invariants(values, n_out):
    """LTTB selection on ANY finite series: strictly increasing
    indices, endpoints pinned, size = min(n_out, n), and determinism."""
    import numpy as np

    from nrt_spark.rollup import lttb_select

    v = np.asarray(values, dtype=np.float64)
    days = np.arange(len(v), dtype=np.int64) * 5 + 16436
    idx = lttb_select(days, v, n_out)
    assert len(idx) == min(n_out, len(v))
    assert idx[0] == 0 and idx[-1] == len(v) - 1
    assert (np.diff(idx) > 0).all()
    np.testing.assert_array_equal(idx, lttb_select(days, v, n_out))
