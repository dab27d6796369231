"""Seeded benchmark inputs, written with numpy + pyarrow (no Spark).

Every array here is a pure function of ``(seed, size)``: the same seed
gives byte-identical files.  The series model follows the engine's own
synthetic data (harmonic signal + gaussian noise + ~8% cloud gaps + a
planted break in half the series, quantized to int32 tokens with ``-1``
as the gap token), so the program sees inputs of the shape it was built
for.  The program receives only the parquet files written here.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from nrt_spark.kernels.regressors import regressors_for_days
from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days, values_to_tokens

GAP_FRAC = 0.08
BREAK_FRAC = 0.5
NOISE = 0.02


def doc_ids(seed: int, n: int) -> np.ndarray:
    """Series keys; the seed is part of the key, so it also moves every
    series to another hash bucket."""
    return np.array([f"s{seed}-{i:07d}" for i in range(n)], dtype=object)


def series_tokens(seed: int, n_series: int, n_obs: int) -> np.ndarray:
    """(n_series, n_obs) int32 token matrix."""
    rng = np.random.default_rng([seed, n_series, n_obs])
    X = regressors_for_days(grid_days(n_obs), trend=False, harmonic_order=2)
    beta = np.column_stack([
        0.3 + 0.4 * rng.random(n_series),        # level
        0.05 + 0.15 * rng.random(n_series),      # cos1
        -0.05 + 0.1 * rng.random(n_series),      # sin1
        0.02 * rng.standard_normal(n_series),    # cos2
        0.02 * rng.standard_normal(n_series),    # sin2
    ])
    v = beta @ X.T + NOISE * rng.standard_normal((n_series, n_obs))
    broken = rng.random(n_series) < BREAK_FRAC
    start = (n_obs * (0.5 + 0.4 * rng.random(n_series))).astype(np.int64)
    drop = 0.1 + 0.2 * rng.random(n_series)
    after = np.arange(n_obs)[None, :] >= start[:, None]
    v -= np.where(broken[:, None] & after, drop[:, None], 0.0)
    v[rng.random((n_series, n_obs)) < GAP_FRAC] = np.nan
    return values_to_tokens(np.clip(v, -3.0, 3.0))


def token_table(seed: int, docs: np.ndarray, toks: np.ndarray) -> pa.Table:
    """The engine's token-table schema: one row per series."""
    rng = np.random.default_rng([seed, 7])
    # zipf-ish producer skew, as in the engine's generator
    src = (10 * rng.random(len(docs)) ** 3).astype(np.int64)
    n_obs = toks.shape[1]
    return pa.table({
        "doc_id": pa.array(docs, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(np.arange(0, toks.size + 1, n_obs, dtype=np.int32)),
            pa.array(toks.ravel(), pa.int32())),
        "n_tok": pa.array(np.full(len(docs), n_obs, dtype=np.int32)),
        "source": pa.array([f"src{s}" for s in src], pa.string()),
    })


def write_tokens(path: Path, seed: int, n_series: int, n_obs: int,
                 n_files: int = 4) -> int:
    """Write a token table as ``n_files`` parquet files; returns the
    number of observations (non-gap tokens)."""
    docs = doc_ids(seed, n_series)
    toks = series_tokens(seed, n_series, n_obs)
    path.mkdir(parents=True, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(n_series), n_files)):
        pq.write_table(token_table(seed, docs[part], toks[part]),
                       path / f"part-{i:03d}.parquet")
    return int((toks != GAP_TOKEN).sum())


def late_delta(path: Path, seed: int, n_series: int, n_obs: int,
               n_docs: int, n_points: int, recent: int) -> int:
    """Long-form late data ``(doc_id, ts, value)`` for ``upsert_tier``:
    extra observations on existing series at grid days the original
    acquisition missed (cloud gaps) among the last ``recent`` grid days;
    returns the row count."""
    rng = np.random.default_rng([seed, 11])
    docs = doc_ids(seed, n_series)
    toks = series_tokens(seed, n_series, n_obs)
    rows_doc, rows_day, rows_val = [], [], []
    for k in rng.choice(n_series, size=n_docs, replace=False):
        gaps = np.flatnonzero(toks[k, n_obs - recent:] == GAP_TOKEN)
        for j in n_obs - recent + gaps[:n_points]:
            rows_doc.append(docs[k])
            rows_day.append(grid_days(n_obs)[j])
            rows_val.append(np.rint(rng.uniform(0.2, 0.8) * SCALE) / SCALE)
    path.mkdir(parents=True, exist_ok=True)
    ts = np.array(rows_day, dtype="datetime64[D]").astype("datetime64[us]")
    pq.write_table(pa.table({
        "doc_id": pa.array(rows_doc, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "value": pa.array(rows_val, pa.float64()),
    }), path / "part-000.parquet")
    return len(rows_doc)


def acquisitions(seed: int, n_series: int, n_hist: int, n_acq: int,
                 late_frac: float) -> tuple[np.ndarray, np.ndarray, list]:
    """A history token matrix plus ``n_acq`` acquisition frames.

    Frame ``j`` holds every series observed on grid day ``n_hist + j``
    (cloud gaps are absent rows) plus, from the second frame on, a
    ``late_frac`` share of rows re-delivered from an earlier frame.
    Returns ``(docs, history_tokens, frames)`` where each frame is
    ``(doc_id, day, value, n_late)``.
    """
    docs = doc_ids(seed, n_series)
    toks = series_tokens(seed, n_series, n_hist + n_acq)
    days = grid_days(n_hist + n_acq)
    rng = np.random.default_rng([seed, 13])
    frames = []
    for j in range(n_acq):
        col = toks[:, n_hist + j]
        seen = col != GAP_TOKEN
        f_doc = docs[seen]
        f_day = np.full(seen.sum(), days[n_hist + j], dtype=np.int32)
        f_val = col[seen] / SCALE
        n_late = 0
        if j:
            prev = frames[int(rng.integers(0, j))]
            pick = rng.random(len(prev[0])) < late_frac
            n_late = int(pick.sum())
            f_doc = np.concatenate([f_doc, prev[0][pick]])
            f_day = np.concatenate([f_day, prev[1][pick]])
            f_val = np.concatenate([f_val, prev[2][pick]])
        frames.append((f_doc, f_day, f_val, n_late))
    return docs, toks[:, :n_hist], frames


def write_frame(path: Path, frame) -> None:
    doc, day, val, _ = frame
    pq.write_table(pa.table({
        "doc_id": pa.array(doc, pa.string()),
        "day": pa.array(day, pa.int32()),
        "value": pa.array(val, pa.float64()),
    }), path)
