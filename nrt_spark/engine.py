"""The distributed fit/monitor engine.

Spark-first re-expression of the reference's fit -> monitor -> report
lifecycle (nrt/monitor/__init__.py).  Each step is ONE per-bucket
pure-pandas function over the same (M, K) matrix the reference
vectorizes over (``__init__.py:192``), so the numpy kernels are shared
verbatim with the single-process oracle:

- :func:`fit_bucket`: token rows -> state rows (band-aware, history cut
  on the positional grid);
- :func:`advance_bucket`: state rows + dense ``(y, days, new_last)`` ->
  new state rows (``last_day`` late-data mask, ``run_monitor``).

The entry points only build their input: ``fit``/``fit_monitor`` as a
grouped UDF after one shuffle on the bucket key; ``monitor`` (tokens on
the token grid, :func:`dense_from_tokens`) and ``monitor_obs``
(long-form points on the observed days, :func:`dense_from_obs`, shared
with the streaming operator) as a *cogrouped* UDF — one shuffle per
side, no join stage; ``fit_bucketed``/``monitor_bucketed`` as
``range(B) -> mapInPandas`` over bucket-partitioned files, no Exchange:
one task per core, each over a contiguous range of buckets, one bucket
at a time.
``report`` is a plain projection of the state table.

Scale design: ``doc_id`` is hash-bucketed (``pmod(xxhash64(doc_id), B)``),
which (a) bounds the pandas group size to ~n_docs/B series regardless of
source skew, (b) is a deterministic function of the key so state and
observations co-bucket by construction, and (c) maps 1:1 onto Iceberg
``bucket(doc_id)`` storage partitioning on a real cluster (making the
state<->obs alignment a storage-partitioned join with zero shuffle).
Incremental monitoring is idempotent: state rows carry ``last_day`` and
observations at or before it are masked out exactly like NaN gaps.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from nrt_spark.kernels.monitors import fit_state, resolve_params, run_monitor
from nrt_spark.state import STATE_SCHEMA, STATE_COLUMNS, pdf_to_state, state_to_pdf
from nrt_spark.tokens import grid_days, tokens_to_matrix

#: band columns the CCDC_RIRLS screen reads beside ``tokens``
BANDS = ["green_tokens", "swir_tokens"]


def _day_number(date_str: str | None) -> int | None:
    if date_str is None:
        return None
    return int(np.datetime64(date_str, "D").astype(int))


def _needs_bands(params: dict) -> bool:
    return params.get("screen_outliers") == "CCDC_RIRLS"


def with_bucket(df: DataFrame, num_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int"))


def write_tokens_bucketed(tokens_df: DataFrame, path: str,
                          num_buckets: int) -> None:
    """Write the token table hash-partitioned on ``bucket(doc_id)`` —
    the parquet analog of Iceberg's ``bucket(N, doc_id)`` transform.

    A table written this way pays the bucket shuffle ONCE at ingest;
    every subsequent fit/monitor pass reads it via the zero-shuffle
    bucketed fastpath (:meth:`NrtEngine.fit_bucketed` /
    :meth:`NrtEngine.monitor_bucketed`) because state and observations
    align by storage layout, not by an Exchange.
    """
    (with_bucket(tokens_df, num_buckets)
     .repartition(num_buckets, "bucket")
     .write.partitionBy("bucket").mode("overwrite").parquet(path))


def fit_bucket(toks: pd.DataFrame, bucket: int, params: dict,
               history_end_day: int | None = None,
               update_mask: bool | None = None) -> pd.DataFrame:
    """One bucket's fit: token rows -> state rows.

    Rows are ordered by doc_id and decoded onto the positional grid; the
    band matrices ride along when the CCDC_RIRLS screen needs them.
    ``history_end_day`` (inclusive) cuts the grid to the history period,
    and ``last_day`` is the end of the fitted grid.  With ``update_mask``
    set (``fit_monitor``'s single pass), the rows after the cut are then
    folded through ``run_monitor`` on the fitted kernel state — no
    state-row round trip — and ``last_day`` is the end of the full grid.
    """
    if not len(toks):
        return pd.DataFrame(columns=STATE_COLUMNS)
    toks = toks.sort_values("doc_id").reset_index(drop=True)
    y = tokens_to_matrix(list(toks["tokens"]))
    days = grid_days(y.shape[0])
    green = swir = None
    if _needs_bands(params):
        green, swir = (tokens_to_matrix(list(toks[c]), max_len=y.shape[0])
                       for c in BANDS)
    fit_y, fit_days = y, days
    if history_end_day is not None:
        hist = days <= history_end_day
        fit_y, fit_days = y[hist], days[hist]
        if green is not None:
            green, swir = green[hist], swir[hist]
    state = fit_state(fit_y, fit_days, params, green=green, swir=swir)
    if update_mask is not None:
        # the cut is a prefix of the ascending grid
        n = len(fit_days)
        run_monitor(state, y[n:], days[n:], params, update_mask=update_mask)
        fit_days = days
    last = np.full(len(toks), int(fit_days[-1]) if len(fit_days) else 0)
    return state_to_pdf(state, toks["doc_id"].to_numpy(), bucket, last)


def advance_bucket(state_pdf: pd.DataFrame, y: np.ndarray, days: np.ndarray,
                   new_last: np.ndarray, bucket: int, params: dict,
                   update_mask: bool = True) -> pd.DataFrame:
    """One bucket's monitor advance: state rows + dense observations ->
    new state rows.

    ``y`` is (D, K) with its columns in ``state_pdf`` row order, ``days``
    its ascending (D,) day grid and ``new_last`` the (K,) post-advance
    ``last_day``.  Observations at or before a series' ``last_day``
    behave exactly like NaN gaps (reference W8 semantics), so a re-run
    is a no-op.  Empty state yields no rows; no observation days return
    the state unchanged.  ``y`` is overwritten.
    """
    if not len(state_pdf):
        return pd.DataFrame(columns=STATE_COLUMNS)
    if not len(days):
        return state_pdf[STATE_COLUMNS]
    last_day = state_pdf["last_day"].to_numpy(dtype=np.int64, na_value=0)
    y[days[:, None] <= last_day[None, :]] = np.nan
    state = pdf_to_state(state_pdf)
    run_monitor(state, y, days, params, update_mask=update_mask)
    return state_to_pdf(state, state_pdf["doc_id"].to_numpy(), bucket,
                        new_last)


def dense_from_tokens(state_pdf: pd.DataFrame, toks: pd.DataFrame):
    """Full-series ``(doc_id, tokens)`` rows reindexed onto the state's
    doc_ids, on the token grid -> ``(y, days, new_last)``.  A series
    without a token row is all gaps; each series' ``last_day`` moves to
    the end of its own token row."""
    dupes = toks["doc_id"][toks["doc_id"].duplicated()]
    if len(dupes):
        raise ValueError(
            "monitor() expects one token row per doc_id per call; "
            f"duplicates include {sorted(set(dupes))[:3]}")
    tokens = toks.set_index("doc_id")["tokens"].reindex(state_pdf["doc_id"])
    token_lists = [t if t is not None and not isinstance(t, float) else []
                   for t in tokens]
    y = tokens_to_matrix(token_lists)
    new_last = np.maximum(
        state_pdf["last_day"].to_numpy(dtype=np.int64, na_value=0),
        np.array([grid_days(len(t))[-1] if len(t) else 0
                  for t in token_lists]))
    return y, grid_days(y.shape[0]), new_last


def dense_from_obs(state_pdf: pd.DataFrame, obs: pd.DataFrame):
    """Long-form ``(doc_id, day, value)`` rows scattered onto the
    observed days -> ``(y, days, new_last)``.  Rows for doc_ids outside
    the state are dropped.  Only series observed here advance their
    ``last_day``: a batch-wide max would mask other series'
    later-arriving earlier observations as late."""
    # duplicate (doc, day) rows: the scatter below is last-write-wins,
    # so order the rows deterministically (max value wins; NaN loses) —
    # arrival order depends on partition layout and must not decide
    obs = obs.sort_values(["day", "value"], na_position="first",
                          kind="mergesort")
    days = np.sort(obs["day"].unique()).astype(np.int64)
    y = np.full((len(days), len(state_pdf)), np.nan)
    # one vectorized scatter instead of a per-observation Python loop
    # (the only per-point Python between scan and sink on the
    # incremental path)
    doc_idx = pd.Index(state_pdf["doc_id"]).get_indexer(obs["doc_id"])
    keep = doc_idx >= 0
    obs_day = obs["day"].to_numpy(dtype=np.int64)
    vals = obs["value"].to_numpy(dtype=np.float64)
    # fancy assignment writes rows in order, so with duplicate
    # (day, doc) pairs the LAST row — the deterministic max — wins
    y[np.searchsorted(days, obs_day)[keep], doc_idx[keep]] = vals[keep]
    new_last = state_pdf["last_day"].to_numpy(dtype=np.int64, na_value=0,
                                              copy=True)
    np.maximum.at(new_last, doc_idx[keep], obs_day[keep])
    return y, days, new_last


def _read_bucket(path: str, bucket: int, columns: list) -> pd.DataFrame:
    """One bucket's rows of a table partitioned on ``bucket`` (local or
    shared filesystem via pyarrow; no SparkSession on executors).  An
    empty hash cell — no directory, or one without parquet files —
    has no rows."""
    import pyarrow.parquet as pq

    files = sorted(str(f) for f in
                   (Path(path) / f"bucket={bucket}").glob("*.parquet"))
    if not files:
        return pd.DataFrame(columns=columns)
    return pq.read_table(files, columns=columns).to_pandas()


def _load_bucket_state(state_path: str, bucket: int) -> pd.DataFrame:
    """One bucket's rows of a bucket-partitioned state snapshot
    (``NrtEngine.save_state``), ordered by doc_id."""
    pdf = _read_bucket(state_path, bucket,
                       [c for c in STATE_COLUMNS if c != "bucket"])
    pdf["bucket"] = bucket
    return pdf[STATE_COLUMNS].sort_values("doc_id").reset_index(drop=True)


def _bucketed_columns(tokens_path: str) -> list:
    import pyarrow.parquet as pq

    sample = next(iter(Path(tokens_path).glob("bucket=*/*.parquet")), None)
    if sample is None:
        raise FileNotFoundError(
            f"no bucketed parquet files under {tokens_path} "
            "(expected bucket=*/...parquet from write_tokens_bucketed)")
    return pq.read_schema(sample).names


def _check_bucket_dirs(path: str, num_buckets: int) -> None:
    """Raise on the driver when ``path`` holds a ``bucket=b`` directory
    an engine with ``num_buckets`` would never read (``b >=
    num_buckets``): its series would be dropped silently."""
    extra = sorted(b for b in (int(d.name.split("=", 1)[1])
                               for d in Path(path).glob("bucket=*"))
                   if b >= num_buckets)
    if extra:
        raise ValueError(
            f"{path} has bucket directories {extra[:3]} beyond the "
            f"engine's num_buckets={num_buckets}; write and read the "
            "table with the same bucket count")


def _fit_columns(params: dict, table_columns) -> list:
    """The token columns a fit reads.  The band arrays ride along only
    when the screen needs them (they double the shuffle volume); a
    missing band column is checked on the DRIVER against
    ``table_columns()`` — an immediate ValueError, not an opaque
    field-not-found inside a Spark task."""
    if not _needs_bands(params):
        return ["doc_id", "tokens"]
    if not set(BANDS) <= set(table_columns()):
        raise ValueError("CCDC_RIRLS screen requires green_tokens and "
                         "swir_tokens columns in the token table")
    return ["doc_id", "tokens", *BANDS]


class NrtEngine:
    """Distributed monitor over a pre-tokenized sequence table.

    Args:
        spark: session.
        monitor: one of ewma/cusum/mosum/ccdc/iqr.
        num_buckets: series are hash-bucketed into this many groups; each
            grouped UDF call processes one bucket as an (M, K) matrix.
            Size so that a bucket (~n_docs/B series x M obs x 8 bytes)
            fits comfortably in executor memory; at 10^12 series this is
            a large constant (e.g. 2^20) set once and reused by the
            Iceberg table's bucket partitioning.
        **params: monitor overrides (sensitivity, lambda_, method, ...).
    """

    def __init__(self, spark: SparkSession, monitor: str = "ewma",
                 num_buckets: int = 64, **params):
        self.spark = spark
        self.monitor_name = monitor
        self.num_buckets = int(num_buckets)
        self.params = resolve_params(monitor, **params)

    @staticmethod
    def auto_buckets(tokens_df: DataFrame, n_obs: int = 130,
                     target_group_mb: int = 256,
                     parallelism: int | None = None) -> int:
        """Pick a bucket count so each grouped-UDF call holds a
        comfortably-sized (M, K) matrix.

        Sizing rule: K_per_bucket ~ target_group_mb / (n_obs * 8 bytes *
        ~4x working-set factor), rounded so buckets >= 2x parallelism
        (keeps every core busy and AQE happy).  At 10^12 series this
        lands around 2^20 buckets — set once and baked into the Iceberg
        table's bucket(doc_id) partition transform.
        """
        n_docs = tokens_df.count()
        bytes_per_doc = n_obs * 8 * 4
        docs_per_bucket = max(1, (target_group_mb << 20) // bytes_per_doc)
        p = parallelism or tokens_df.sparkSession.sparkContext \
            .defaultParallelism
        return max(2 * p, -(-n_docs // docs_per_bucket))

    # ------------------------------------------------------------------
    def _fit_grouped(self, tokens_df: DataFrame, he_day: int | None,
                     update_mask: bool | None) -> DataFrame:
        params = self.params
        cols = _fit_columns(params, lambda: tokens_df.columns)

        def fit_fn(key, pdf):
            return fit_bucket(pdf, int(key[0]), params, he_day, update_mask)

        bucketed = with_bucket(tokens_df.select(*cols), self.num_buckets)
        return bucketed.groupBy("bucket").applyInPandas(fit_fn, STATE_SCHEMA)

    def _cogroup(self, state_df: DataFrame, rows_df: DataFrame, dense,
                 update_mask: bool) -> DataFrame:
        """Advance each state bucket on ``dense(state_pdf, rows_pdf)``,
        with ``rows_df`` cogrouped by bucket."""
        params = self.params

        def step_fn(key, state_pdf, rows_pdf):
            state_pdf = state_pdf.sort_values("doc_id").reset_index(drop=True)
            return advance_bucket(state_pdf, *dense(state_pdf, rows_pdf),
                                  int(key[0]), params, update_mask)

        rows = with_bucket(rows_df, self.num_buckets)
        return state_df.groupBy("bucket").cogroup(
            rows.groupBy("bucket")).applyInPandas(step_fn, STATE_SCHEMA)

    def _map_buckets(self, per_bucket) -> DataFrame:
        """``range(B) -> mapInPandas`` with one task per core: each task
        yields ``per_bucket(b)`` for a contiguous range of bucket ids,
        one bucket at a time — NO Exchange anywhere (pinned in
        tests/test_plan_shapes.py).  Every Python task pays a fixed
        setup cost before the UDF body runs, so a task per bucket would
        pay it B times per pass; memory per task is still one bucket."""

        def gen(batches):
            for pdf in batches:
                for b in pdf["id"]:
                    out = per_bucket(int(b))
                    if len(out):
                        yield out

        tasks = min(self.num_buckets,
                    self.spark.sparkContext.defaultParallelism)
        buckets = self.spark.range(0, self.num_buckets, 1,
                                   numPartitions=tasks)
        return buckets.mapInPandas(gen, STATE_SCHEMA)

    # ------------------------------------------------------------------
    def fit(self, tokens_df: DataFrame, history_end: str | None = None
            ) -> DataFrame:
        """Fit history models for every series; returns the state table.

        ``history_end`` (YYYY-MM-DD, inclusive) truncates each series to
        the history period; observations after it are left for
        ``monitor``.  The cut happens inside the UDF on the positional
        grid, so no explode/join is needed.
        """
        return self._fit_grouped(tokens_df, _day_number(history_end), None)

    def fit_monitor(self, tokens_df: DataFrame, history_end: str,
                    update_mask: bool = True) -> DataFrame:
        """Fit on the history window and monitor the remainder in ONE
        grouped pass (one shuffle, one UDF invocation per bucket).

        Equivalent to ``monitor(fit(tokens, history_end), tokens)`` —
        verified byte-exact in tests — but with half the shuffles; use it
        whenever the series' full extent is already in hand (bulk
        backfill/reprocessing).  The two-phase path remains for
        incremental arrivals.
        """
        he_day = _day_number(history_end)
        if he_day is None:
            raise ValueError("history_end is required for fit_monitor")
        return self._fit_grouped(tokens_df, he_day, update_mask)

    def monitor(self, state_df: DataFrame, tokens_df: DataFrame,
                update_mask: bool = True) -> DataFrame:
        """Advance state with all observations newer than each series'
        ``last_day``; returns the updated state table.

        Cogrouped by bucket: each task receives the bucket's state rows
        and token rows, aligns them on doc_id in pandas, and folds the
        sequential update in time order (vectorized across the bucket's
        series, sequential over time — the reference's axis order).
        """
        return self._cogroup(state_df, tokens_df.select("doc_id", "tokens"),
                             dense_from_tokens, update_mask)

    def monitor_obs(self, state_df: DataFrame, obs_df: DataFrame,
                    update_mask: bool = True) -> DataFrame:
        """Advance state with *long-form* observations
        ``(doc_id string, ts timestamp | day int, value double)`` — the
        shape incremental ingest delivers at scale (new acquisitions
        arrive as points, not re-shipped full series).  Semantics are
        identical to :meth:`monitor` (same kernels, same ``last_day``
        late-data masking); shares its input scatter with the streaming
        operator."""
        if "day" not in obs_df.columns:
            obs_df = obs_df.withColumn(
                "day", F.datediff("ts", F.lit("1970-01-01")))
        return self._cogroup(state_df, obs_df.select("doc_id", "day", "value"),
                             dense_from_obs, update_mask)

    # ------------------------------------------------------------------
    def fit_bucketed(self, tokens_path: str, history_end: str | None = None
                     ) -> DataFrame:
        """Zero-shuffle fit over a bucket-partitioned token table
        (written by :func:`write_tokens_bucketed`, or any Iceberg
        ``bucket(N, doc_id)`` layout on a shared filesystem).

        The plan is ``range(B) -> mapInPandas`` with one task per core:
        each task runs a contiguous range of buckets, one bucket at a
        time, reading only that bucket's parquet files and running
        :func:`fit_bucket` like :meth:`fit`, so the result is
        byte-identical.  This is the cluster-shape the docstring at the
        top of this module promises: pay the bucket shuffle once at
        ingest, never per pass.

        The table must have been written with this engine's
        ``num_buckets``.  A ``bucket=b`` directory with
        ``b >= num_buckets`` raises ``ValueError`` before any job runs;
        a table written with FEWER buckets cannot be told apart from one
        with empty hash cells by its directory names, so it is read
        as-is: its series keep the bucket id of the directory they sit
        in, which need not be ``pmod(xxhash64(doc_id), num_buckets)``.
        """
        _check_bucket_dirs(tokens_path, self.num_buckets)
        params, he_day = self.params, _day_number(history_end)
        cols = _fit_columns(params, lambda: _bucketed_columns(tokens_path))
        return self._map_buckets(lambda b: fit_bucket(
            _read_bucket(tokens_path, b, cols), b, params, he_day))

    def monitor_bucketed(self, state_path: str, tokens_path: str,
                         update_mask: bool = True) -> DataFrame:
        """Zero-shuffle monitor: state snapshot AND token table are both
        bucket-partitioned on the same ``pmod(xxhash64(doc_id), B)``
        key, so obs ⋈ state aligns by storage layout — each task runs a
        contiguous range of buckets, reading one bucket's state + token
        files at a time and folding the sequential update.  No
        Exchange, no cogroup, no join in the plan; on a real cluster
        this is the storage-partitioned join Iceberg's bucket transform
        enables, expressed directly.  Byte-identical to :meth:`monitor`
        (same input, same :func:`advance_bucket`).  Bucket directories
        beyond ``num_buckets`` in either table raise ``ValueError`` as
        in :meth:`fit_bucketed`.
        """
        for path in (state_path, tokens_path):
            _check_bucket_dirs(path, self.num_buckets)
        params = self.params

        def advance(b: int) -> pd.DataFrame:
            state_pdf = _load_bucket_state(state_path, b)
            toks = _read_bucket(tokens_path, b, ["doc_id", "tokens"])
            y, days, new_last = dense_from_tokens(state_pdf, toks)
            return advance_bucket(state_pdf, y, days, new_last, b, params,
                                  update_mask)

        return self._map_buckets(advance)

    # ------------------------------------------------------------------
    @staticmethod
    def report(state_df: DataFrame,
               layers: tuple = ("mask", "detection_date", "process")
               ) -> DataFrame:
        """Reference ``report()`` analog: per-series result projection
        (``nrt/monitor/__init__.py:324-381`` minus the raster geometry)."""
        valid = {"mask", "detection_date", "process"}
        if not set(layers) <= valid:
            raise ValueError("invalid layer(s) requested")
        return state_df.select("doc_id", *layers)

    # ------------------------------------------------------------------
    def save_state(self, state_df: DataFrame, path: str) -> None:
        """Checkpoint: bucket-partitioned snapshot (Iceberg table when a
        catalog is configured, parquet otherwise — the engine analog of
        the reference's ``to_netcdf``; see nrt_spark.catalog)."""
        from nrt_spark.catalog import write_table

        write_table(state_df, path, partition_cols=("bucket",))

    def load_state(self, path: str) -> DataFrame:
        from nrt_spark.catalog import read_table

        return read_table(self.spark, path)
