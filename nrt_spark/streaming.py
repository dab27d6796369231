"""Structured Streaming monitor: per-bucket stateful sequential updates.

The batch engine's cogrouped monitor re-expressed as a stateful
streaming operator, ``applyInPandasWithState``:

- **key = bucket** (hash of doc_id), not doc_id: each state value holds
  the *whole bucket's* per-series state (pickled kernel-state blob), so
  updates stay vectorized across the bucket's series exactly like the
  batch path — per-key Python cost is amortized over ~n_docs/B series.
- **initial state** is the batch ``fit`` state table snapshot
  (``NrtEngine.save_state`` writes it partitioned by bucket); each key
  loads its own ``bucket=K`` partition with pyarrow on first sight —
  the streaming job literally resumes from the batch checkpoint
  artifact.
- **late/out-of-order data**: within a micro-batch, observations are
  folded in day order; observations at or before a series' ``last_day``
  are masked like NaN gaps (reference W7/W8: nrt's contract is
  no-late-data, so anything behind the per-series high-watermark is
  dropped).
- **one advance**: each micro-batch goes through the batch engine's
  own per-bucket functions — ``engine.dense_from_obs`` scatters the
  long-form rows onto the observed days and ``engine.advance_bucket``
  folds them (``_advance``), exactly as ``NrtEngine.monitor_obs`` does.

Emits one row per (micro-batch, doc_id) with the post-batch mask /
process / detection_date — the streaming ``report()``.
"""

from __future__ import annotations

import pickle
from pathlib import Path
from typing import Iterator

import numpy as np
import pandas as pd

from nrt_spark.engine import (
    _load_bucket_state, advance_bucket, dense_from_obs, with_bucket)
from nrt_spark.state import STATE_COLUMNS

OUTPUT_SCHEMA = ("doc_id string, mask tinyint, process double, "
                 "detection_date int, last_day int")
STATE_BLOB_SCHEMA = "blob binary"
OBS_SCHEMA = "doc_id string, day int, value double"


def _advance(state_pdf: pd.DataFrame, obs: pd.DataFrame, params: dict,
             bucket: int, update_mask: bool = True) -> pd.DataFrame:
    """Fold a micro-batch of (doc_id, day, value) through bucket
    ``bucket``'s monitor state (``engine.monitor_obs``'s advance)."""
    return advance_bucket(state_pdf, *dense_from_obs(state_pdf, obs), bucket,
                          params, update_mask)


def _report_rows(state_pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": state_pdf["doc_id"],
        "mask": state_pdf["mask"].astype("int8"),
        "process": state_pdf["process"].astype(float),
        "detection_date": state_pdf["detection_date"].astype("int32"),
        "last_day": state_pdf["last_day"].astype("int32"),
    })


def rollup_stream(obs_stream, tier: str = "day",
                  watermark: str = "3 days"):
    """Streaming continuous aggregate: tumbling-window tier rollup with
    a watermark for late data.

    The streaming twin of ``rollup.rollup_raw``: per (doc_id, window)
    count/sum/min/max over event time; rows later than ``watermark``
    behind the max seen event time are dropped (bounded state — the
    requirement for running this over an unbounded acquisition stream).
    ``last``/``mean`` finalization happens on read (max_by is not
    streaming-aggregatable; mean = vsum/n is a projection).

    Args:
        obs_stream: streaming DataFrame (doc_id string, ts timestamp,
            value double).
        tier: day/week/month (rollup.TIERS key).
        watermark: late-data horizon, e.g. "3 days".

    Returns:
        streaming DataFrame (doc_id, bucket_start, n, vsum, vmin, vmax,
        mean); use outputMode "update" (or "append" to emit only
        watermark-finalized buckets).
    """
    from pyspark.sql import functions as F

    # tumbling windows are fixed-length: day/week only (calendar months
    # are variable-length — the month tier streams through the stateful
    # operator, see rollup_stream_month).  The week window gets a +4d
    # phase so buckets start on ISO Mondays like date_trunc('week')
    # (epoch day 0 was a Thursday).
    if tier == "day":
        win, start = "1 day", "0 seconds"
    elif tier == "week":
        win, start = "7 days", "4 days"
    else:
        raise ValueError("rollup_stream supports day/week tiers "
                         "(calendar months are variable-length: use "
                         "rollup_stream_month)")
    agg = (
        obs_stream.withWatermark("ts", watermark)
        .groupBy("doc_id", F.window("ts", win, win, start).alias("w"))
        .agg(F.count("value").alias("n"),
             F.sum("value").alias("vsum"),
             F.min("value").alias("vmin"),
             F.max("value").alias("vmax"))
    )
    return agg.select(
        "doc_id", F.col("w.start").alias("bucket_start"), "n", "vsum",
        "vmin", "vmax", (F.col("vsum") / F.col("n")).alias("mean"))


MONTH_OUTPUT_SCHEMA = ("doc_id string, bucket_start timestamp, n long, "
                       "vsum double, vmin double, vmax double, "
                       "mean double, final boolean")
_MONTH_STATE_SCHEMA = "blob binary"


def _parse_days(watermark: str) -> int:
    parts = watermark.split()
    if len(parts) != 2 or parts[1] not in ("day", "days"):
        raise ValueError("watermark must be 'N days'")
    return int(parts[0])


def _fault_tripped(fault_file: "str | None", parse, batch_max) -> bool:
    """Shared kill/restart-soak seam for the stateful operators: True
    when ``fault_file`` exists, parses via ``parse``, and the batch's
    max event value reached the threshold.  Callers raise AFTER their
    ``state.update`` call — the soak proves buffered state from the
    failed attempt never leaks into the checkpoint."""
    if fault_file is None:
        return False
    try:
        threshold = parse(Path(fault_file).read_text())
    except (OSError, ValueError):
        return False
    return batch_max >= threshold


def rollup_stream_month(obs_stream, watermark: str = "3 days",
                        fault_file: "str | None" = None):
    """Streaming CALENDAR-month continuous aggregate.

    Tumbling ``window()`` aggregation needs fixed-length windows, so the
    variable-length month tier runs through a stateful operator instead
    (``applyInPandasWithState`` keyed by doc_id).  Each state value
    holds only the series' OPEN months (a handful of floats), giving
    bounded state on an unbounded stream:

    - every micro-batch folds its rows into the per-month
      (n, vsum, vmin, vmax) partials and emits a snapshot of each month
      TOUCHED in that batch (``final = false`` — update semantics; open
      months with no new rows are not re-emitted);
    - months whose end is more than ``watermark`` behind the series'
      max event time are emitted once more with ``final = true`` and
      EVICTED from state;
    - rows older than ``watermark`` behind the series' own
      high-watermark are dropped (per-series late-data contract, same
      as the streaming monitor's ``last_day``).

    The last snapshot per (doc_id, month) equals the batch
    ``rollup_raw(month)`` buckets (n/vmin/vmax exactly; vsum/mean to
    float-fold order, see tests).

    ``fault_file`` is the same TEST SEAM :func:`monitor_stream` has
    (never set in production wiring): when given and the file exists,
    its content is an ISO timestamp; a micro-batch whose observations
    reach it raises AFTER the state-update call, so the kill/restart
    soak can assert checkpoint recovery lands on the batch result.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    delay = pd.Timedelta(days=_parse_days(watermark))

    def step(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        doc_id = key[0]
        if state.exists:
            months, max_ts = pickle.loads(state.get[0])
        else:
            months, max_ts = {}, None
        obs = pd.concat(list(pdfs), ignore_index=True)
        obs = obs[obs["value"].notna()]
        if max_ts is not None:
            obs = obs[obs["ts"] >= max_ts - delay]       # late-data drop
        touched = set()
        if len(obs):
            new_max = obs["ts"].max()
            max_ts = new_max if max_ts is None else max(max_ts, new_max)
            mkey = obs["ts"].dt.to_period("M")
            for period, grp in obs.groupby(mkey):
                v = grp["value"].to_numpy()
                n, vs = len(v), float(np.sum(v))
                vmin, vmax = float(np.min(v)), float(np.max(v))
                cur = months.get(period)
                if cur is None:
                    months[period] = [n, vs, vmin, vmax]
                else:
                    cur[0] += n
                    cur[1] += vs
                    cur[2] = min(cur[2], vmin)
                    cur[3] = max(cur[3], vmax)
                touched.add(period)
        rows, finalized = [], []
        for period, (n, vs, vmin, vmax) in sorted(months.items()):
            is_final = (max_ts is not None
                        and period.end_time < max_ts - delay)
            if is_final or period in touched:
                rows.append((doc_id, period.start_time, n, vs, vmin,
                             vmax, vs / n, bool(is_final)))
            if is_final:
                finalized.append(period)
        for period in finalized:
            del months[period]
        state.update((pickle.dumps((months, max_ts), protocol=4),))
        if len(obs) and _fault_tripped(fault_file, pd.Timestamp,
                                       obs["ts"].max()):
            raise RuntimeError(
                "injected stream fault: batch reached the kill-ts "
                "threshold (kill/restart soak)")
        if rows:
            yield pd.DataFrame(rows, columns=[
                "doc_id", "bucket_start", "n", "vsum", "vmin", "vmax",
                "mean", "final"])

    return obs_stream.groupBy("doc_id").applyInPandasWithState(
        step,
        outputStructType=MONTH_OUTPUT_SCHEMA,
        stateStructType=_MONTH_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def monitor_stream(obs_stream, state_path: str, params: dict,
                   num_buckets: int, fault_file: "str | None" = None):
    """Wire a streaming observation source to the stateful monitor.

    Args:
        obs_stream: streaming DataFrame ``(doc_id string, day int,
            value double)`` — ``day`` = days since 1970-01-01.
        state_path: bucket-partitioned state snapshot written by
            ``NrtEngine.save_state`` after ``fit``.
        params: ``resolve_params(...)`` output.
        num_buckets: must equal the engine's ``num_buckets``.
        fault_file: TEST SEAM for the kill/restart soak (never set in
            production wiring).  When given and the file exists, its
            content is an integer day threshold; a micro-batch whose
            observations reach that day raises AFTER the state-update
            call — simulating a worker dying mid-commit, so the test
            can assert that the restarted-from-checkpoint query lands
            byte-exactly on the batch engine's result (buffered state
            from the failed attempt must not leak).

    Returns:
        streaming DataFrame (doc_id, mask, process, detection_date,
        last_day), one row per doc per micro-batch.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def step(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        bucket = int(key[0])
        if state.exists:
            state_pdf = pickle.loads(state.get[0])
        else:
            state_pdf = _load_bucket_state(state_path, bucket)
            if not len(state_pdf):
                return
        obs = pd.concat(list(pdfs), ignore_index=True)
        new_pdf = _advance(state_pdf, obs, params, bucket)
        state.update((pickle.dumps(new_pdf[STATE_COLUMNS], protocol=4),))
        if len(obs) and _fault_tripped(fault_file, int,
                                       int(obs["day"].max())):
            raise RuntimeError(
                "injected stream fault: batch reached the kill-day "
                "threshold (kill/restart soak)")
        yield _report_rows(new_pdf)

    keyed = with_bucket(obs_stream, num_buckets)
    return keyed.groupBy("bucket").applyInPandasWithState(
        step,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_BLOB_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _make_upsert_sink(base_path: str, tier: str, checkpoint: str):
    """The foreachBatch sink behind :func:`rollup_stream_upsert`,
    exposed so tests can drive the redelivery-skip branch directly.
    The marker ledger is NAMESPACED by the checkpoint: batch ids are
    only unique per checkpoint, so a bare ``<id>.done`` would let a
    different stream's (or a fresh temp checkpoint's) batch 0 collide
    with a stale marker and silently drop new data."""
    import hashlib

    from nrt_spark.rollup import upsert_tier

    ns = hashlib.sha256(checkpoint.encode()).hexdigest()[:12]
    ledger = Path(base_path) / f"tier={tier}" / "_batches" / ns

    def sink(batch_df, batch_id: int):
        marker = ledger / f"{batch_id}.done"
        if marker.exists():
            return                      # redelivered batch: already merged
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        # the marker is the upsert's OWN commit token: the merge's
        # atomic commit point creates it (one rename on the same
        # filesystem), so marker-exists ⇔ batch-merged with no torn
        # window between commit and marker; a crash mid-merge rolls
        # back (recover_tier) and the redelivered batch re-applies once
        upsert_tier(spark, base_path, tier, batch_df,
                    commit_token=marker)

    return sink


def rollup_stream_upsert(obs_stream, base_path: str, tier: str,
                         checkpoint: str):
    """Stream observations INTO a maintained tier table: every
    micro-batch folds through :func:`nrt_spark.rollup.upsert_tier`
    (create-or-merge, staged atomic swap of only the touched
    periods) via ``foreachBatch``.

    Redelivery protection: Structured Streaming may re-run a batch
    after a crash; a checkpoint-namespaced per-batch marker ledger
    (``<tier>/_batches/<ns>/<id>.done``) makes the sink skip batches it
    already applied — without it the merge would double-count, because
    upsert is additive, not idempotent.  ``checkpoint`` is REQUIRED and
    must be stable for the stream's lifetime: the checkpoint's offset
    log is what makes batch ids meaningful, and re-ingesting an
    already-merged source under a FRESH checkpoint double-counts by
    design (as with any additive sink).  The marker doubles as the
    upsert's ``commit_token``: the merge's atomic commit point creates
    it in one same-filesystem rename, so there is no window where the
    merge committed but the marker is missing (or vice versa) — a
    crash anywhere either rolls the table back (batch re-applies once
    on redelivery) or left the marker (batch skipped).  Exactly-once
    on plain parquet; Iceberg's MERGE INTO is the catalog-native form.
    State here is in the TABLE, not the stream — no watermark needed,
    arbitrarily late data merges exactly (last_ts decides ``last``).

    Returns the started StreamingQuery.
    """
    if not checkpoint:
        raise ValueError("rollup_stream_upsert requires a stable "
                         "checkpoint location (batch ids — and the "
                         "redelivery ledger — are per-checkpoint)")
    sink = _make_upsert_sink(base_path, tier, checkpoint)
    return (obs_stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True).start())


def sessionize_stream(event_stream, gap: str = "6 hours",
                      watermark: str = "1 hour"):
    """Streaming sessionization with Spark's NATIVE session windows:
    events within ``gap`` of each other merge into one growing session;
    a session finalizes (and emits, in append mode) once the event-time
    watermark passes its close.  The stateful analog of the batch
    gaps-and-islands query (queries.sessionize_events) — same 6h-gap
    semantics, except an event at EXACTLY the gap boundary starts a new
    session here (session windows are half-open) while the batch
    ``> gap`` rule keeps it; real microsecond event times never sit on
    the boundary.

    Args:
        event_stream: streaming DataFrame (user_id, ts, event_id).

    Returns:
        streaming DataFrame (user_id, session_start, session_end,
        n_events) — one row per FINALIZED session.
    """
    from pyspark.sql import functions as F

    return (event_stream
            .withWatermark("ts", watermark)
            .groupBy("user_id", F.session_window("ts", gap))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events"))
