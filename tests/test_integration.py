"""Integration suite mirroring the reference's
tests/integration_tests/test_monitor.py: for each monitor, fit on the
history cube -> assert coefficient counts -> monitor all dates ->
report; plus the state round-trip equality contract.

Reference beta-count expectations (conftest.py:27-74, test_monitor.py,
test_ccdc.py:30): coefficients = 1 + trend + 2*harmonic_order.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from nrt_spark.datagen import generate_tokens
from nrt_spark.engine import NrtEngine

HISTORY_END = "2016-05-10"

#: (monitor, engine kwargs, expected n_coef) — mirrors the reference's
#: parametrization: EWMA(trend=False, harmonic 2) -> 5,
#: IQR(harmonic_order=1, trend=False) -> 3, CUSUM/MOSUM (trend=True) -> 6,
#: CCDC (trend=True, harmonic 2) -> 6
CASES = [
    ("ewma", dict(trend=False), 5),
    ("iqr", dict(trend=False, harmonic_order=1), 3),
    ("cusum", dict(method="OLS"), 6),
    ("mosum", dict(method="OLS"), 6),
    ("ccdc", dict(method="OLS"), 6),
]


@pytest.fixture(scope="module")
def tokens(spark):
    df = generate_tokens(spark, 50, n_obs=130).cache()
    df.count()
    return df


@pytest.mark.parametrize("monitor,kwargs,n_coef", CASES,
                         ids=[c[0] for c in CASES])
def test_fit_monitor_report_cycle(spark, tokens, monitor, kwargs, n_coef):
    eng = NrtEngine(spark, monitor, num_buckets=8, **kwargs)
    state = eng.fit(tokens, history_end=HISTORY_END)
    betas = state.select(F.size("beta").alias("k")).distinct().collect()
    assert [r["k"] for r in betas] == [n_coef]
    final = eng.monitor(state, tokens)
    rep = NrtEngine.report(final,
                           layers=("mask", "detection_date", "process"))
    pdf = rep.toPandas()
    assert len(pdf) == 50
    assert set(pdf["mask"].unique()) <= {0, 1, 2, 3, 4}
    # monitored series have finite process values
    mon = pdf[pdf["mask"].isin([1, 3])]
    assert np.isfinite(mon["process"].to_numpy(dtype=float)).all()


def test_state_equality_contract(spark, tokens, tmp_path):
    """save -> load -> identical state (the reference's __eq__ /
    netCDF round-trip contract, nrt/monitor/__init__.py:123-139)."""
    eng = NrtEngine(spark, "mosum", num_buckets=8, trend=False, method="OLS")
    state = eng.monitor(eng.fit(tokens, history_end=HISTORY_END), tokens)
    eng.save_state(state, str(tmp_path / "s"))
    restored = eng.load_state(str(tmp_path / "s"))
    a = state.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = restored.toPandas().sort_values("doc_id").reset_index(drop=True)
    assert list(a.columns) == sorted(a.columns, key=list(a.columns).index)
    for col in a.columns:
        if col in ("beta", "window"):
            for x, y in zip(a[col], b[col]):
                np.testing.assert_array_equal(
                    np.asarray(x, dtype=float), np.asarray(y, dtype=float),
                    err_msg=col)
        else:
            av, bv = a[col].to_numpy(), b[col].to_numpy()
            if av.dtype.kind == "f":
                np.testing.assert_array_equal(np.nan_to_num(av, nan=-1),
                                              np.nan_to_num(bv, nan=-1),
                                              err_msg=col)
            else:
                np.testing.assert_array_equal(av, bv, err_msg=col)


def test_session_warmup_runs_clean_and_once(spark, monkeypatch):
    """The session factory's runtime bootstrap (_warm_runtime) must run
    without error on an existing session, touch no user tables (it only
    uses spark.range), and be gated to once per application id."""
    from nrt_spark import session as S

    S._warm_runtime(spark)          # runs the ritual on the live session
    # a normal query is unaffected afterwards
    assert spark.range(10).count() == 10
    # the get_spark gate records the app id at most once
    app_id = spark.sparkContext.applicationId
    S._WARMED.add(app_id)
    before = set(S._WARMED)
    monkeypatch.setenv("NRT_SESSION_WARMUP", "1")   # restored at teardown
    again = S.get_spark(cores=4, app_name="nrt_spark_tests",
                        shuffle_partitions=8)
    assert again.sparkContext.applicationId == app_id
    assert S._WARMED == before   # no duplicate warm-up entry
