"""Spark engine vs single-process numpy oracle.

The oracle runs the *same* kernels on the whole collected token table in
one batch; the engine runs them distributed over hash buckets.  Because
every kernel is per-series, results must match exactly (not approximately)
— this is the tier-parity guarantee the north rule requires.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from nrt_spark.datagen import generate_tokens
from nrt_spark.engine import NrtEngine
from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.state import STATE_COLUMNS
from nrt_spark.tokens import decode_long, grid_days, tokens_to_matrix

HISTORY_END = "2016-05-10"  # grid position 99 (inclusive)
N_DOCS = 60
N_OBS = 130


@pytest.fixture(scope="module")
def tokens(spark):
    df = generate_tokens(spark, N_DOCS, n_obs=N_OBS).cache()
    df.count()
    return df


def _collect(df) -> pd.DataFrame:
    return df.toPandas().sort_values("doc_id").reset_index(drop=True)


def _assert_same_state(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Every STATE_COLUMNS column equal, row for row."""
    for col in STATE_COLUMNS:
        if col in ("beta", "window"):
            assert len(a[col]) == len(b[col]), col
            for x, yv in zip(a[col], b[col]):
                np.testing.assert_array_equal(np.asarray(x), np.asarray(yv),
                                              err_msg=col)
        else:
            np.testing.assert_array_equal(a[col].to_numpy(),
                                          b[col].to_numpy(), err_msg=col)


def _oracle(tokens_pdf: pd.DataFrame, monitor: str, **overrides):
    tokens_pdf = tokens_pdf.sort_values("doc_id").reset_index(drop=True)
    params = resolve_params(monitor, **overrides)
    y = tokens_to_matrix(list(tokens_pdf["tokens"]))
    days = grid_days(N_OBS)
    he = int(np.datetime64(HISTORY_END, "D").astype(int))
    hist = days <= he
    state = fit_state(y[hist], days[hist], params)
    run_monitor(state, y[~hist], days[~hist], params)
    return tokens_pdf["doc_id"].to_numpy(), state


ENGINE_OVERRIDES = {
    "ewma": {"trend": False, "sensitivity": 7.0},
    "cusum": {"trend": False, "method": "OLS"},
    "mosum": {"trend": False, "method": "OLS"},
    "ccdc": {"method": "OLS"},
    "iqr": {"trend": False},
}


@pytest.mark.parametrize("monitor", ["ewma", "cusum", "mosum", "ccdc", "iqr"])
def test_engine_matches_oracle(spark, tokens, monitor):
    eng = NrtEngine(spark, monitor, num_buckets=8, **ENGINE_OVERRIDES[monitor])
    state_df = eng.fit(tokens, history_end=HISTORY_END)
    final = eng.monitor(state_df, tokens).toPandas().sort_values(
        "doc_id").reset_index(drop=True)

    doc_ids, ostate = _oracle(tokens.toPandas(), monitor,
                              **ENGINE_OVERRIDES[monitor])
    assert list(final["doc_id"]) == list(doc_ids)
    np.testing.assert_array_equal(final["mask"].to_numpy(dtype=np.uint8),
                                  ostate["mask"])
    np.testing.assert_array_equal(final["process"].to_numpy(),
                                  ostate["process"])
    np.testing.assert_array_equal(
        final["detection_date"].to_numpy(dtype=np.int64),
        ostate["detection_date"])
    b_spark = final["boundary"].to_numpy()
    np.testing.assert_array_equal(np.where(np.isnan(b_spark), -1, b_spark),
                                  np.where(np.isnan(ostate["boundary"]), -1,
                                           ostate["boundary"]))
    # at least one break must have been detected for the test to be useful
    assert (final["mask"].to_numpy() == 3).any()


def test_incremental_monitor_equals_single_shot(spark, tokens):
    from pyspark.sql import functions as F

    eng = NrtEngine(spark, "ewma", num_buckets=8, trend=False, sensitivity=7.0)
    state0 = eng.fit(tokens, history_end=HISTORY_END).cache()

    one_shot = eng.monitor(state0, tokens).toPandas().sort_values(
        "doc_id").reset_index(drop=True)

    part1 = tokens.withColumn("tokens", F.slice("tokens", 1, 115))
    mid = eng.monitor(state0, part1)
    two_shot = eng.monitor(mid, tokens).toPandas().sort_values(
        "doc_id").reset_index(drop=True)

    for col in ["mask", "process", "boundary", "n", "detection_date",
                "last_day"]:
        np.testing.assert_array_equal(
            one_shot[col].to_numpy(), two_shot[col].to_numpy(), err_msg=col)


def test_state_save_load_roundtrip(spark, tokens, tmp_path):
    eng = NrtEngine(spark, "cusum", num_buckets=8, trend=False, method="OLS")
    state = eng.fit(tokens, history_end=HISTORY_END)
    path = str(tmp_path / "state")
    eng.save_state(state, path)
    restored = eng.load_state(path)
    a = state.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = restored.toPandas().sort_values("doc_id").reset_index(drop=True)
    for col in a.columns:
        if col in ("beta", "window"):
            for x, yv in zip(a[col], b[col]):
                np.testing.assert_array_equal(np.asarray(x), np.asarray(yv))
        else:
            pd.testing.assert_series_equal(a[col], b[col], check_names=False)


def test_datagen_deterministic(spark):
    a = generate_tokens(spark, 20, n_obs=50).toPandas().sort_values("doc_id")
    b = generate_tokens(spark, 20, n_obs=50).toPandas().sort_values("doc_id")
    assert list(a["source"]) == list(b["source"])
    for x, yv in zip(a["tokens"], b["tokens"]):
        np.testing.assert_array_equal(np.asarray(x), np.asarray(yv))
    # skewed sources present
    assert (a["source"] == "src0").sum() > 5


def test_report_projection(spark, tokens):
    eng = NrtEngine(spark, "iqr", num_buckets=8, trend=False)
    state = eng.fit(tokens, history_end=HISTORY_END)
    rep = eng.report(eng.monitor(state, tokens))
    assert rep.columns == ["doc_id", "mask", "detection_date", "process"]
    assert rep.count() == N_DOCS
    with pytest.raises(ValueError):
        eng.report(state, layers=("mask", "bogus"))


def test_ccdc_multivariate_screen(spark):
    """CCDC default pipeline: CCDC_RIRLS screen over green/swir bands +
    CCDC-stable fit, engine vs oracle; planted clouds must be screened
    (lower rmse than the unscreened fit)."""
    toks = generate_tokens(spark, 24, n_obs=N_OBS, bands=True,
                           outlier_frac=0.05, break_frac=0.0).cache()
    eng = NrtEngine(spark, "ccdc", num_buckets=4,
                    method="CCDC-stable", screen_outliers="CCDC_RIRLS")
    got = (eng.fit(toks, history_end=HISTORY_END).toPandas()
           .sort_values("doc_id").reset_index(drop=True))

    pdf = toks.toPandas().sort_values("doc_id").reset_index(drop=True)
    y = tokens_to_matrix(list(pdf["tokens"]))
    g = tokens_to_matrix(list(pdf["green_tokens"]), max_len=y.shape[0])
    s = tokens_to_matrix(list(pdf["swir_tokens"]), max_len=y.shape[0])
    days = grid_days(N_OBS)
    he = int(np.datetime64(HISTORY_END, "D").astype(int))
    hist = days <= he
    params = resolve_params("ccdc", method="CCDC-stable",
                            screen_outliers="CCDC_RIRLS")
    ostate = fit_state(y[hist], days[hist], params,
                       green=g[hist], swir=s[hist])
    np.testing.assert_array_equal(got["rmse"].to_numpy(), ostate["rmse"])
    np.testing.assert_array_equal(got["mask"].to_numpy(dtype=np.uint8),
                                  ostate["mask"])

    unscreened = fit_state(y[hist], days[hist],
                           resolve_params("ccdc", method="CCDC-stable"))
    both = (ostate["mask"] == 1) & (unscreened["mask"] == 1)
    assert both.sum() > 10
    assert (ostate["rmse"][both] < unscreened["rmse"][both]).mean() > 0.8


def test_engine_roc_fit(spark, tokens):
    """ROC stable-history fit through the engine (reverse-ordered
    rec-CUSUM per series; Spark parallelizes across buckets)."""
    eng = NrtEngine(spark, "cusum", num_buckets=8, trend=False, method="ROC")
    got = (eng.fit(tokens, history_end=HISTORY_END).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pdf = tokens.toPandas().sort_values("doc_id").reset_index(drop=True)
    y = tokens_to_matrix(list(pdf["tokens"]))
    days = grid_days(N_OBS)
    hist = days <= int(np.datetime64(HISTORY_END, "D").astype(int))
    ostate = fit_state(y[hist], days[hist],
                       resolve_params("cusum", trend=False, method="ROC"))
    np.testing.assert_array_equal(got["mask"].to_numpy(dtype=np.uint8),
                                  ostate["mask"])
    np.testing.assert_array_equal(
        got["fit_start"].to_numpy(dtype=np.int64), ostate["fit_start"])
    # some series fit a truncated (stable) history
    assert (got["fit_start"].to_numpy() > 16436).any()


def test_salted_source_stats(spark, tokens):
    from nrt_spark.skew import salted_source_stats, plain_source_stats

    a = salted_source_stats(tokens, salts=8).toPandas() \
        .sort_values("source").reset_index(drop=True)
    b = plain_source_stats(tokens).toPandas() \
        .sort_values("source").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    # the skew is real: top source holds a large share
    assert a["n_docs"].max() / a["n_docs"].sum() > 0.3


def test_engine_rirls_fit(spark, tokens):
    """Robust IRLS fit method through the engine vs oracle."""
    eng = NrtEngine(spark, "iqr", num_buckets=8, trend=False, method="RIRLS")
    got = (eng.fit(tokens, history_end=HISTORY_END).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pdf = tokens.toPandas().sort_values("doc_id").reset_index(drop=True)
    y = tokens_to_matrix(list(pdf["tokens"]))
    days = grid_days(N_OBS)
    hist = days <= int(np.datetime64(HISTORY_END, "D").astype(int))
    ostate = fit_state(y[hist], days[hist],
                       resolve_params("iqr", trend=False, method="RIRLS"))
    got_beta = np.stack([np.asarray(b) for b in got["beta"]], axis=1)
    np.testing.assert_array_equal(got_beta, ostate["beta"])
    np.testing.assert_array_equal(got["q25"].to_numpy(), ostate["q25"])


def test_catalog_backend_fallback(spark, tokens, tmp_path):
    """Without an Iceberg runtime the catalog writes partitioned parquet
    with the same physical layout; the Iceberg path activates only when
    a SparkCatalog is configured AND loadable."""
    from nrt_spark.catalog import iceberg_available, write_table, read_table

    assert not iceberg_available(spark)  # no Iceberg jar in this env
    p = str(tmp_path / "tbl")
    write_table(tokens.limit(10), p, partition_cols=("source",))
    import pathlib

    assert any(pathlib.Path(p).glob("source=*"))
    assert read_table(spark, p).count() == 10


def test_monitor_obs_long_form_equals_token_monitor(spark, tokens):
    """Long-form incremental observations produce the exact same final
    state as re-shipping full token arrays: every state column, for each
    OLS monitor."""
    from pyspark.sql import functions as F

    obs = decode_long(tokens).filter(F.col("ts") > HISTORY_END)
    for monitor in ("ewma", "cusum", "mosum"):
        eng = NrtEngine(spark, monitor, num_buckets=8,
                        **ENGINE_OVERRIDES[monitor])
        state0 = eng.fit(tokens, history_end=HISTORY_END).cache()
        via_tokens = _collect(eng.monitor(state0, tokens))
        via_obs = _collect(eng.monitor_obs(state0, obs))
        assert len(via_tokens) == N_DOCS, monitor
        _assert_same_state(via_tokens, via_obs)
        state0.unpersist()


def test_fit_monitor_single_pass_equals_two_phase(spark, tokens):
    eng = NrtEngine(spark, "cusum", num_buckets=8, trend=False, method="OLS")
    two = eng.monitor(eng.fit(tokens, history_end=HISTORY_END), tokens) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    one = eng.fit_monitor(tokens, history_end=HISTORY_END) \
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    for col in ["mask", "process", "boundary", "n", "detection_date",
                "last_day", "histsize", "sigma"]:
        np.testing.assert_array_equal(two[col].to_numpy(),
                                      one[col].to_numpy(), err_msg=col)


def test_fit_monitor_ccdc_screen_equals_two_phase(spark, tokens):
    """fit_monitor with the CCDC default screen reads the band columns
    like fit does (same per-bucket fit), and refuses a table without
    them on the driver: the call raises, so no job runs."""
    toks = generate_tokens(spark, 24, n_obs=N_OBS, bands=True,
                           outlier_frac=0.05, break_frac=0.0).cache()
    eng = NrtEngine(spark, "ccdc", num_buckets=4,
                    method="CCDC-stable", screen_outliers="CCDC_RIRLS")
    two = _collect(eng.monitor(eng.fit(toks, history_end=HISTORY_END), toks))
    one = _collect(eng.fit_monitor(toks, history_end=HISTORY_END))
    assert len(one) == 24
    _assert_same_state(two, one)
    toks.unpersist()

    for call in (eng.fit, eng.fit_monitor):
        with pytest.raises(ValueError, match="green_tokens"):
            call(tokens, history_end=HISTORY_END)


def test_monitor_degenerate_buckets(spark, tokens, tmp_path):
    """monitor, monitor_bucketed and monitor_obs agree on degenerate
    inputs: a bucket with state rows but no token/observation rows comes
    back unchanged (also when its bucket directory holds no token file),
    a state doc_id absent from the inputs keeps its state, and every
    other series advances exactly as with the full input."""
    from pyspark.sql import functions as F

    from nrt_spark.engine import with_bucket, write_tokens_bucketed

    eng = NrtEngine(spark, "cusum", num_buckets=8, trend=False,
                    method="OLS")
    state0 = eng.fit(tokens, history_end=HISTORY_END).cache()
    s0 = _collect(state0)
    empty_bucket = int(s0["bucket"].iloc[0])
    gone = s0.loc[s0["bucket"] != empty_bucket, "doc_id"].iloc[0]
    kept = (with_bucket(tokens, 8)
            .filter((F.col("bucket") != empty_bucket)
                    & (F.col("doc_id") != gone))
            .drop("bucket"))
    state_path, tok_path = str(tmp_path / "state"), str(tmp_path / "tok")
    eng.save_state(state0, state_path)
    write_tokens_bucketed(kept, tok_path, num_buckets=8)
    obs = decode_long(kept).filter(F.col("ts") > HISTORY_END)

    full = _collect(eng.monitor(state0, tokens))
    results = {
        "monitor": _collect(eng.monitor(state0, kept)),
        "monitor_bucketed": _collect(
            eng.monitor_bucketed(state_path, tok_path)),
        "monitor_obs": _collect(eng.monitor_obs(state0, obs)),
    }
    (tmp_path / "tok" / f"bucket={empty_bucket}").mkdir()
    results["monitor_bucketed, empty bucket dir"] = _collect(
        eng.monitor_bucketed(state_path, tok_path))

    untouched = ((s0["bucket"] == empty_bucket)
                 | (s0["doc_id"] == gone)).to_numpy()
    assert 1 < untouched.sum() < N_DOCS
    for name, got in results.items():
        assert list(got["doc_id"]) == list(s0["doc_id"]), name
        _assert_same_state(got[untouched].reset_index(drop=True),
                           s0[untouched].reset_index(drop=True))
        _assert_same_state(got[~untouched].reset_index(drop=True),
                           full[~untouched].reset_index(drop=True))
    state0.unpersist()


def test_monitor_duplicate_doc_rows_raise(spark, tokens, tmp_path):
    """Duplicate doc_id token rows fail loudly, with the same ValueError,
    on the cogroup and the bucketed monitor."""
    from pyspark.errors import PythonException

    from nrt_spark.engine import write_tokens_bucketed

    eng = NrtEngine(spark, "ewma", num_buckets=8, trend=False)
    state = eng.fit(tokens, history_end=HISTORY_END)
    dup = tokens.union(tokens.limit(1))
    state_path, tok_path = str(tmp_path / "state"), str(tmp_path / "tok")
    eng.save_state(state, state_path)
    write_tokens_bucketed(dup, tok_path, num_buckets=8)
    msg = r"ValueError: monitor\(\) expects one token row per doc_id"
    with pytest.raises(PythonException, match=msg):
        eng.monitor(state, dup).collect()
    with pytest.raises(PythonException, match=msg):
        eng.monitor_bucketed(state_path, tok_path).collect()


def test_auto_buckets(spark, tokens):
    b = NrtEngine.auto_buckets(tokens, n_obs=N_OBS)
    # small table -> floor at 2x parallelism
    assert b == 2 * spark.sparkContext.defaultParallelism
    eng = NrtEngine(spark, "ewma", num_buckets=b, trend=False)
    assert eng.fit(tokens, history_end=HISTORY_END).count() == N_DOCS


@pytest.mark.parametrize("num_buckets", [3, 7, 8])
def test_bucketed_fastpath_parity(spark, tokens, tmp_path, num_buckets):
    """The storage-partitioned (zero-shuffle) fit/monitor must be
    byte-identical to the cogrouped path: same buckets, same kernels,
    alignment by layout instead of Exchange.  The pass runs one task
    per core (fewer buckets than cores: one task per bucket), each over
    a contiguous range of buckets; 3, 7 and 8 buckets on local[4] are
    fewer than, not a multiple of, and a multiple of the cores."""
    from nrt_spark.engine import write_tokens_bucketed

    path = str(tmp_path / "tokens_bucketed")
    write_tokens_bucketed(tokens, path, num_buckets=num_buckets)

    eng = NrtEngine(spark, "cusum", num_buckets=num_buckets, trend=False,
                    method="OLS")
    tasks = min(num_buckets, spark.sparkContext.defaultParallelism)
    shuffled = eng.fit(tokens, history_end=HISTORY_END)
    bucketed = eng.fit_bucketed(path, history_end=HISTORY_END)
    assert bucketed.rdd.getNumPartitions() == tasks
    a = shuffled.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = bucketed.toPandas().sort_values("doc_id").reset_index(drop=True)
    for col in a.columns:
        if col in ("beta", "window"):
            for x, yv in zip(a[col], b[col]):
                np.testing.assert_array_equal(np.asarray(x), np.asarray(yv))
        else:
            pd.testing.assert_series_equal(a[col], b[col],
                                           check_names=False)

    state_path = str(tmp_path / "state")
    eng.save_state(bucketed, state_path)
    mon_shuffled = eng.monitor(shuffled, tokens)
    mon_bucketed = eng.monitor_bucketed(state_path, path)
    assert mon_bucketed.rdd.getNumPartitions() == tasks
    a = mon_shuffled.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = mon_bucketed.toPandas().sort_values("doc_id").reset_index(drop=True)
    for col in ["doc_id", "mask", "process", "boundary", "n",
                "detection_date", "last_day"]:
        np.testing.assert_array_equal(a[col].to_numpy(), b[col].to_numpy(),
                                      err_msg=col)


def test_bucketed_fastpath_missing_bucket(spark, tmp_path):
    """Buckets with no documents (empty hash cells) are skipped, not
    fabricated — a 3-doc table over 8 buckets leaves most cells empty."""
    from nrt_spark.engine import write_tokens_bucketed

    toks = generate_tokens(spark, 3, n_obs=50)
    path = str(tmp_path / "tok3")
    write_tokens_bucketed(toks, path, num_buckets=8)
    eng = NrtEngine(spark, "ewma", num_buckets=8, trend=False)
    state = eng.fit_bucketed(path, history_end=HISTORY_END)
    assert state.count() == 3


def test_bucketed_more_buckets_than_engine_raise(spark, tokens, tmp_path):
    """A bucketed table or state snapshot with bucket directories the
    engine never reads (written with more buckets) fails on the driver
    before any job, instead of silently dropping those series."""
    from nrt_spark.engine import write_tokens_bucketed

    tok8, tok16 = str(tmp_path / "tok8"), str(tmp_path / "tok16")
    write_tokens_bucketed(tokens, tok8, num_buckets=8)
    write_tokens_bucketed(tokens, tok16, num_buckets=16)
    eng8 = NrtEngine(spark, "ewma", num_buckets=8, trend=False)
    eng16 = NrtEngine(spark, "ewma", num_buckets=16, trend=False)
    st8, st16 = str(tmp_path / "st8"), str(tmp_path / "st16")
    eng8.save_state(eng8.fit_bucketed(tok8, history_end=HISTORY_END), st8)
    eng16.save_state(eng16.fit_bucketed(tok16, history_end=HISTORY_END),
                     st16)

    calls = {
        "fit_bucketed tokens": lambda: eng8.fit_bucketed(
            tok16, history_end=HISTORY_END),
        "monitor_bucketed tokens": lambda: eng8.monitor_bucketed(st8, tok16),
        "monitor_bucketed state": lambda: eng8.monitor_bucketed(st16, tok8),
    }
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup
    for name, call in calls.items():
        before = jobs(None)
        with pytest.raises(ValueError, match="num_buckets=8"):
            call()
        assert jobs(None) == before, name
    assert eng8.monitor_bucketed(st8, tok8).count() == N_DOCS


def test_bucketed_monitor_idempotent(spark, tokens, tmp_path):
    """Re-running monitor_bucketed over the same token table is a no-op:
    every observation sits at or behind last_day, so state is unchanged
    (the crash-rerun semantics the resumable job relies on)."""
    from nrt_spark.engine import write_tokens_bucketed

    path = str(tmp_path / "tok")
    write_tokens_bucketed(tokens, path, num_buckets=8)
    eng = NrtEngine(spark, "ewma", num_buckets=8, trend=False)
    st = eng.fit_bucketed(path, history_end=HISTORY_END)
    eng.save_state(st, str(tmp_path / "s0"))
    once = eng.monitor_bucketed(str(tmp_path / "s0"), path)
    eng.save_state(once, str(tmp_path / "s1"))
    twice = eng.monitor_bucketed(str(tmp_path / "s1"), path)
    a = once.toPandas().sort_values("doc_id").reset_index(drop=True)
    b = twice.toPandas().sort_values("doc_id").reset_index(drop=True)
    for col in ["mask", "process", "detection_date", "last_day", "n"]:
        np.testing.assert_array_equal(a[col].to_numpy(), b[col].to_numpy(),
                                      err_msg=col)


def test_bucketed_monitor_under_extreme_source_skew(spark, tmp_path):
    """The engine.py scale claim under stress: with 95% of documents in
    ONE hot source (worse than zipf s->1), hash-bucketing on doc_id
    still yields near-uniform bucket sizes — source skew never reaches
    the shuffle/group key — and the bucketed fit+monitor runs to
    completion with every doc reported, matching the cogrouped path's
    mask counts."""
    import pyarrow.parquet as pq
    from pathlib import Path

    from pyspark.sql import functions as F
    from nrt_spark.engine import write_tokens_bucketed

    n_docs, buckets = 2000, 16
    toks = generate_tokens(spark, n_docs, n_obs=N_OBS)
    # crush the source distribution: ~95% land on src_hot
    toks = toks.withColumn(
        "source",
        F.when(F.pmod(F.xxhash64("doc_id"), F.lit(20)) != 0,
               F.lit("src_hot")).otherwise(F.col("source"))).cache()
    src = {r["source"]: r["cnt"] for r in
           toks.groupBy("source").agg(F.count("*").alias("cnt")).collect()}
    assert max(src.values()) / n_docs > 0.9          # skew is real

    path = str(tmp_path / "tok_skew")
    write_tokens_bucketed(toks, path, num_buckets=buckets)
    sizes = {}
    for d in Path(path).glob("bucket=*"):
        b = int(d.name.split("=")[1])
        sizes[b] = sum(pq.ParquetFile(f).metadata.num_rows
                       for f in d.glob("*.parquet"))
    assert sum(sizes.values()) == n_docs
    mean = n_docs / buckets
    # binomial(n_docs, 1/buckets): mean 125, sigma ~11; 1.5x mean is
    # >5 sigma — would only trip if source skew leaked into the key
    assert max(sizes.values()) < 1.5 * mean, sizes
    assert min(sizes.values()) > 0.5 * mean, sizes

    eng = NrtEngine(spark, "cusum", num_buckets=buckets, trend=False,
                    method="OLS")
    state = eng.fit_bucketed(path, history_end=HISTORY_END)
    sp = str(tmp_path / "st_skew")
    eng.save_state(state, sp)
    got = eng.monitor_bucketed(sp, path).groupBy("mask").count().collect()
    got = {r["mask"]: r["count"] for r in got}
    want = (eng.monitor(eng.fit(toks, history_end=HISTORY_END), toks)
            .groupBy("mask").count().collect())
    want = {r["mask"]: r["count"] for r in want}
    assert got == want and sum(got.values()) == n_docs
    toks.unpersist()
