"""Streaming monitor vs the batch engine: feeding the monitor period as
file-source micro-batches through applyInPandasWithState must land in
exactly the batch engine's final state."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from nrt_spark.datagen import generate_tokens
from nrt_spark.engine import NrtEngine
from nrt_spark.kernels.monitors import resolve_params
from nrt_spark.streaming import monitor_stream
from nrt_spark.tokens import decode_long

HISTORY_END = "2016-05-10"
N_DOCS = 40


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("stream")
    toks = generate_tokens(spark, N_DOCS, n_obs=130).cache()
    toks.count()
    eng = NrtEngine(spark, "cusum", num_buckets=4, trend=False, method="OLS")
    state0 = eng.fit(toks, history_end=HISTORY_END).cache()
    state0.count()
    eng.save_state(state0, str(tmp / "state0"))

    # long-form monitor-period observations, split into 3 chunk files
    obs = (decode_long(toks)
           .withColumn("day", F.datediff("ts", F.lit("1970-01-01")))
           .filter(F.col("ts") > HISTORY_END)
           .select("doc_id", "day", "value"))
    days = sorted(r["day"] for r in obs.select("day").distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    src = tmp / "src"
    src.mkdir()
    for i, (lo, hi) in enumerate([(0, cuts[0]), (cuts[0], cuts[1]),
                                  (cuts[1], 10 ** 9)]):
        (obs.filter((F.col("day") > lo) & (F.col("day") <= hi))
            .coalesce(1).write.parquet(str(src / f"chunk{i}")))
    return toks, eng, state0, obs, src, tmp


def test_stream_matches_batch(spark, setup):
    toks, eng, state0, obs, src, tmp = setup
    params = resolve_params("cusum", trend=False, method="OLS")

    stream = (spark.readStream.schema("doc_id string, day int, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src) + "/chunk*"))
    out = monitor_stream(stream, str(tmp / "state0"), params, num_buckets=4)
    q = (out.writeStream.format("memory").queryName("mon_out")
         .option("checkpointLocation", str(tmp / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    # last emitted row per doc = final streaming state
    got = (spark.sql("SELECT * FROM mon_out")
           .groupBy("doc_id")
           .agg(F.max_by("mask", "last_day").alias("mask"),
                F.max_by("process", "last_day").alias("process"),
                F.max_by("detection_date", "last_day").alias("detection_date"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))

    want = (eng.monitor(state0, toks).toPandas()
            .sort_values("doc_id").reset_index(drop=True))

    assert len(got) == N_DOCS
    np.testing.assert_array_equal(got["mask"].to_numpy(dtype=np.int64),
                                  want["mask"].to_numpy(dtype=np.int64))
    np.testing.assert_array_equal(got["process"].to_numpy(),
                                  want["process"].to_numpy())
    np.testing.assert_array_equal(
        got["detection_date"].to_numpy(dtype=np.int64),
        want["detection_date"].to_numpy(dtype=np.int64))


def test_monitor_stream_kill_restart(spark, setup, tmp_path):
    """Exactly-once evidence for the applyInPandasWithState monitor
    (the soak the upsert sink already had): kill the stateful operator
    mid-batch — AFTER its state.update call, i.e. with buffered state
    mutations in flight — at TWO points (batch 0, then batch 1 after a
    clean batch 0), restart from the same checkpoint each time, and
    assert the fully drained report is byte-identical to the batch
    engine.  A leak of the failed attempt's state, a lost replay, or a
    double-applied batch would each break the process values exactly."""
    from pyspark.errors import StreamingQueryException

    toks, eng, state0, obs, src, tmp = setup
    params = resolve_params("cusum", trend=False, method="OLS")
    chunk_min_day = [
        spark.read.parquet(str(src / f"chunk{i}")).agg(
            F.min("day")).first()[0]
        for i in range(3)
    ]
    fault = tmp_path / "fault_day"
    ck, outp = tmp_path / "ck", tmp_path / "rows"

    def start():
        stream = (spark.readStream
                  .schema("doc_id string, day int, value double")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(src) + "/chunk*"))
        out = monitor_stream(stream, str(tmp / "state0"), params,
                             num_buckets=4, fault_file=str(fault))
        return (out.writeStream.format("parquet")
                .option("path", str(outp))
                .option("checkpointLocation", str(ck))
                .trigger(availableNow=True).start())

    # kill point 1: die inside batch 0 (nothing committed yet)
    fault.write_text(str(chunk_min_day[0]))
    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    # kill point 2: batch 0 replays and commits, die inside batch 1
    fault.write_text(str(chunk_min_day[1]))
    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(300)
    # final restart: checkpoint resumes AFTER batch 0, replays batch 1
    fault.unlink()
    q = start()
    assert q.awaitTermination(300), "restarted stream did not drain"

    # the batch read respects the file sink's _spark_metadata log, so
    # orphan files from the killed attempts are excluded (exactly-once)
    got = (spark.read.parquet(str(outp))
           .groupBy("doc_id")
           .agg(F.max_by("mask", "last_day").alias("mask"),
                F.max_by("process", "last_day").alias("process"),
                F.max_by("detection_date", "last_day")
                .alias("detection_date"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = (eng.monitor(state0, toks).toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    assert len(got) == N_DOCS
    np.testing.assert_array_equal(got["mask"].to_numpy(dtype=np.int64),
                                  want["mask"].to_numpy(dtype=np.int64))
    np.testing.assert_array_equal(got["process"].to_numpy(),
                                  want["process"].to_numpy())
    np.testing.assert_array_equal(
        got["detection_date"].to_numpy(dtype=np.int64),
        want["detection_date"].to_numpy(dtype=np.int64))


@pytest.mark.parametrize("tier", ["day", "week"])
def test_rollup_stream_matches_batch(spark, setup, tier):
    """Streaming tumbling-window rollup (with watermark) lands on the
    batch tier exactly — including week buckets aligned to ISO Mondays."""
    import pandas as pd
    from nrt_spark.streaming import rollup_stream
    from nrt_spark.rollup import rollup_raw

    toks, eng, state0, obs, src, tmp = setup
    long_src = tmp / f"roll_src_{tier}"
    long_df = decode_long(toks).select("doc_id", "ts", "value")
    long_df.coalesce(2).write.parquet(str(long_src))

    stream = (spark.readStream
              .schema("doc_id string, ts timestamp, value double")
              .parquet(str(long_src)))
    out = rollup_stream(stream, tier=tier, watermark="10 days")
    q = (out.writeStream.format("memory").queryName(f"roll_{tier}")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp / f"roll_ck_{tier}"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = (spark.sql(f"SELECT doc_id, bucket_start, n, mean, vmin, vmax "
                     f"FROM roll_{tier}")
           .toPandas().sort_values(["doc_id", "bucket_start"])
           .reset_index(drop=True))
    want = (rollup_raw(long_df, tier)
            .select("doc_id", "bucket_start", "n", "mean", "vmin", "vmax")
            .toPandas().sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    np.testing.assert_array_equal(
        got["bucket_start"].to_numpy(), want["bucket_start"].to_numpy())
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    np.testing.assert_allclose(
        got["mean"].to_numpy(dtype=float), want["mean"].to_numpy(dtype=float),
        rtol=1e-12, equal_nan=True)


def test_rollup_stream_rejects_month(spark, setup):
    from nrt_spark.streaming import rollup_stream

    toks, eng, state0, obs, src, tmp = setup
    empty = tmp / "empty_src"
    empty.mkdir(exist_ok=True)
    stream = (spark.readStream
              .schema("doc_id string, ts timestamp, value double")
              .parquet(str(empty)))
    with pytest.raises(ValueError, match="day/week"):
        rollup_stream(stream, tier="month")


def test_per_series_watermark(spark, setup):
    """Regression: the streaming high-watermark is PER SERIES.  A series
    with no observation in one micro-batch must not have its watermark
    advanced by other series' observations (that silently dropped its
    own later-arriving earlier-day data)."""
    import pandas as pd
    from nrt_spark.streaming import _load_bucket_state, _advance
    from nrt_spark.kernels.monitors import resolve_params

    toks, eng, state0, obs, src, tmp = setup
    params = resolve_params("cusum", trend=False, method="OLS")
    state_pdf = _load_bucket_state(str(tmp / "state0"), 0)
    ok = state_pdf[state_pdf["mask"] == 1]["doc_id"].tolist()
    assert len(ok) >= 2
    a, b = ok[0], ok[1]
    init = dict(zip(state_pdf["doc_id"], state_pdf["last_day"]))

    batch1 = pd.DataFrame({"doc_id": [a], "day": [init[a] + 100],
                           "value": [0.5]})
    s1 = _advance(state_pdf, batch1, params, 0)
    last1 = dict(zip(s1["doc_id"], s1["last_day"]))
    assert last1[a] == init[a] + 100
    assert last1[b] == init[b], "series B's watermark moved without data"

    # B's first obs arrives later, at a day before A's — must be folded
    proc1 = dict(zip(s1["doc_id"], s1["process"]))
    batch2 = pd.DataFrame({"doc_id": [b], "day": [init[b] + 5],
                           "value": [9.0]})
    s2 = _advance(s1, batch2, params, 0)
    last2 = dict(zip(s2["doc_id"], s2["last_day"]))
    proc2 = dict(zip(s2["doc_id"], s2["process"]))
    assert last2[b] == init[b] + 5
    assert proc2[b] != proc1[b], "series B's observation was dropped"
    assert proc2[a] == proc1[a]


def test_rollup_stream_month_matches_batch(spark, setup):
    """Calendar-month streaming tier (stateful operator): the last
    emitted snapshot per (doc, month) must equal the batch
    rollup_raw(month) buckets, and months behind the watermark must be
    finalized (emitted with final=true and evicted from state)."""
    import pandas as pd
    from nrt_spark.streaming import rollup_stream_month
    from nrt_spark.rollup import rollup_raw

    toks, eng, state0, obs, src, tmp = setup
    long_df = decode_long(toks).select("doc_id", "ts", "value")
    msrc = tmp / "month_src"
    # three day-ordered chunks so months close across micro-batches
    days = sorted(r[0] for r in long_df.select("ts").distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    for i, (lo, hi) in enumerate([(None, cuts[0]), (cuts[0], cuts[1]),
                                  (cuts[1], None)]):
        part = long_df
        if lo is not None:
            part = part.filter(F.col("ts") > lo)
        if hi is not None:
            part = part.filter(F.col("ts") <= hi)
        part.coalesce(1).write.parquet(str(msrc / f"chunk{i}"))

    stream = (spark.readStream
              .schema("doc_id string, ts timestamp, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(msrc) + "/chunk*"))
    q = (rollup_stream_month(stream, watermark="3 days")
         .writeStream.format("memory").queryName("roll_month")
         .option("checkpointLocation", str(tmp / "month_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    emitted = spark.sql("SELECT * FROM roll_month").toPandas()
    assert emitted["final"].any(), "watermark never finalized a month"
    # last snapshot per (doc, month) = the one with the largest n
    got = (emitted.sort_values("n")
           .groupby(["doc_id", "bucket_start"], as_index=False).last()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = (rollup_raw(long_df, "month").filter("n > 0")
            .select("doc_id", "bucket_start", "n", "vsum", "vmin", "vmax",
                    "mean")
            .toPandas().sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["bucket_start"].to_numpy(),
                                  want["bucket_start"].to_numpy())
    np.testing.assert_array_equal(got["n"].to_numpy(),
                                  want["n"].to_numpy())
    for col in ("vmin", "vmax"):
        np.testing.assert_array_equal(got[col].to_numpy(dtype=float),
                                      want[col].to_numpy(dtype=float))
    # vsum folds incrementally across micro-batches (pairwise partials),
    # so mean matches to float-fold order, not bit-exactly
    np.testing.assert_allclose(got["mean"].to_numpy(dtype=float),
                               want["mean"].to_numpy(dtype=float),
                               rtol=1e-12)
    # finalized months were evicted: each (doc, month) finalizes at most once
    fin = emitted[emitted["final"]]
    assert not fin.duplicated(["doc_id", "bucket_start"]).any()


def test_rollup_stream_month_kill_restart(spark, setup, tmp_path):
    """Kill/restart soak for the SECOND applyInPandasWithState operator
    (the calendar-month tier): die mid-batch AFTER the state update at
    two points, restart from the same checkpoint, and the drained
    last-snapshot-per-month must equal the batch rollup — state
    recovery, late-data watermark and finalize/evict all surviving the
    restarts.  File sink (its metadata log excludes killed attempts'
    output; the memory sink cannot recover a checkpoint)."""
    from pyspark.errors import StreamingQueryException

    from nrt_spark.rollup import rollup_raw
    from nrt_spark.streaming import rollup_stream_month

    toks, eng, state0, obs, src, tmp = setup
    long_df = decode_long(toks).select("doc_id", "ts", "value")
    days = sorted(r[0] for r in long_df.select("ts").distinct().collect())
    cuts = [days[len(days) // 3], days[2 * len(days) // 3]]
    msrc = tmp_path / "src"
    bounds = [(None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)]
    chunk_min = []
    for i, (lo, hi) in enumerate(bounds):
        part = long_df
        if lo is not None:
            part = part.filter(F.col("ts") > lo)
        if hi is not None:
            part = part.filter(F.col("ts") <= hi)
        part.coalesce(1).write.parquet(str(msrc / f"chunk{i}"))
        chunk_min.append(part.agg(F.min("ts")).first()[0])

    fault = tmp_path / "fault_ts"
    ck, outp = tmp_path / "ck", tmp_path / "rows"

    def start():
        stream = (spark.readStream
                  .schema("doc_id string, ts timestamp, value double")
                  .option("maxFilesPerTrigger", "1")
                  .parquet(str(msrc) + "/chunk*"))
        return (rollup_stream_month(stream, watermark="3 days",
                                    fault_file=str(fault))
                .writeStream.format("parquet")
                .option("path", str(outp))
                .option("checkpointLocation", str(ck))
                .trigger(availableNow=True).start())

    # kill 1: inside batch 0; kill 2: inside batch 1 after a committed
    # batch 0 (state must come back from the checkpoint, not the seed)
    for kill_ts in (chunk_min[0], chunk_min[1]):
        fault.write_text(str(kill_ts))
        q = start()
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(300)
    fault.unlink()
    q = start()
    assert q.awaitTermination(300), "restarted stream did not drain"

    emitted = spark.read.parquet(str(outp)).toPandas()
    assert emitted["final"].any()
    got = (emitted.sort_values("n")
           .groupby(["doc_id", "bucket_start"], as_index=False).last()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = (rollup_raw(long_df, "month").filter("n > 0")
            .select("doc_id", "bucket_start", "n", "vsum", "vmin",
                    "vmax", "mean")
            .toPandas().sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    for col in ("vmin", "vmax"):
        np.testing.assert_array_equal(got[col].to_numpy(dtype=float),
                                      want[col].to_numpy(dtype=float))
    np.testing.assert_allclose(got["mean"].to_numpy(dtype=float),
                               want["mean"].to_numpy(dtype=float),
                               rtol=1e-12)
    # each (doc, month) finalized at most once despite the restarts
    fin = emitted[emitted["final"]]
    assert not fin.duplicated(["doc_id", "bucket_start"]).any()


def test_advance_duplicate_obs_deterministic(spark, setup):
    """Duplicate (doc, day) observations within a micro-batch resolve
    identically regardless of arrival order (max value wins, NaN loses)
    — partition layout must never decide a monitor update."""
    import pandas as pd
    from nrt_spark.streaming import _load_bucket_state, _advance
    from nrt_spark.kernels.monitors import resolve_params

    toks, eng, state0, obs, src, tmp = setup
    params = resolve_params("cusum", trend=False, method="OLS")
    state_pdf = _load_bucket_state(str(tmp / "state0"), 0)
    doc = state_pdf[state_pdf["mask"] == 1]["doc_id"].iloc[0]
    day = int(state_pdf["last_day"].max()) + 10

    b1 = pd.DataFrame({"doc_id": [doc] * 3, "day": [day] * 3,
                       "value": [0.2, float("nan"), 0.7]})
    b2 = b1.iloc[::-1].reset_index(drop=True)
    s1 = _advance(state_pdf, b1, params, 0)
    s2 = _advance(state_pdf, b2, params, 0)
    p1 = dict(zip(s1["doc_id"], s1["process"]))[doc]
    p2 = dict(zip(s2["doc_id"], s2["process"]))[doc]
    assert p1 == p2 and not np.isnan(p1)


def test_rollup_stream_upsert_matches_batch(spark, tmp_path):
    """Streamed micro-batch upserts land the tier exactly where one
    batch rollup lands (state lives in the TABLE, so arbitrarily late
    data merges exactly), and a redelivered batch id is skipped."""
    import os

    from nrt_spark.datagen import generate_tokens
    from nrt_spark.rollup import rollup_raw
    from nrt_spark.streaming import rollup_stream_upsert
    from nrt_spark.tokens import decode_long

    long_df = decode_long(generate_tokens(spark, 20, n_obs=40))
    src = tmp_path / "src"
    # chunk1 holds the EARLIER half and arrives SECOND: the upsert sink
    # must merge late data exactly (no watermark drop)
    (long_df.filter("ts >= '2015-04-01'").coalesce(1)
     .write.parquet(str(src / "chunk0")))
    (long_df.filter("ts < '2015-04-01'").coalesce(1)
     .write.parquet(str(src / "chunk1")))
    for i, chunk in enumerate(("chunk0", "chunk1")):
        for f in (src / chunk).glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i * 10,) * 2)

    stream = (spark.readStream
              .schema("doc_id string, ts timestamp, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "chunk*")))
    out = tmp_path / "tiers"
    q = rollup_stream_upsert(stream, str(out), "day",
                             checkpoint=str(tmp_path / "ck"))
    assert q.awaitTermination(120)
    q.stop()

    got = (spark.read.parquet(str(out / "tier=day"))
           .drop("period", "last_ts").toPandas()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = (rollup_raw(long_df, "day").toPandas()
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))[got.columns]
    assert len(got) == len(want)
    for col in ("n", "vmin", "vmax", "last"):
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy(), err_msg=col)
    np.testing.assert_allclose(got["vsum"].to_numpy(dtype=float),
                               want["vsum"].to_numpy(dtype=float),
                               rtol=1e-12)

    # redelivery: drive the SINK closure directly with an
    # already-marked batch id — it must return before merging (a
    # same-checkpoint stream restart would be vacuous here: the offset
    # log yields no batches, so the ledger branch would never run)
    from nrt_spark.streaming import _make_upsert_sink

    ck = str(tmp_path / "ck")
    sink = _make_upsert_sink(str(out), "day", ck)
    import hashlib
    ns = hashlib.sha256(ck.encode()).hexdigest()[:12]
    ledger = out / "tier=day" / "_batches" / ns
    markers = sorted(int(p.stem) for p in ledger.glob("*.done"))
    assert len(markers) >= 2
    before = got["n"].sum()
    redelivered = spark.read.parquet(str(src / "chunk1"))
    sink(redelivered, markers[-1])          # marked id -> skipped
    mid = spark.read.parquet(str(out / "tier=day")).toPandas()["n"].sum()
    assert mid == before
    sink(redelivered, markers[-1] + 1)      # NEW id -> merges (additive)
    after = spark.read.parquet(str(out / "tier=day")).toPandas()["n"].sum()
    assert after == before + redelivered.filter("value IS NOT NULL").count()


def test_upsert_sink_crash_is_exactly_once(spark, tmp_path, monkeypatch):
    """The redelivery marker is the upsert's own commit token (created
    by the merge's atomic commit rename): a kill mid-merge leaves no
    marker and a rolled-back table, so the redelivered batch applies
    exactly once — no torn batch-vs-marker window on plain parquet."""
    import hashlib
    from pathlib import Path

    import numpy as np

    from nrt_spark.datagen import generate_tokens
    from nrt_spark.rollup import recover_tier, rollup_raw
    from nrt_spark.streaming import _make_upsert_sink
    from nrt_spark.tokens import decode_long

    long_df = decode_long(generate_tokens(spark, 15, n_obs=40)).cache()
    b0 = long_df.filter("ts < '2015-04-01'")
    b1 = long_df.filter("ts >= '2015-04-01'")
    out = tmp_path / "tiers"
    ck = str(tmp_path / "ck")
    sink = _make_upsert_sink(str(out), "day", ck)
    ns = hashlib.sha256(ck.encode()).hexdigest()[:12]
    ledger = out / "tier=day" / "_batches" / ns

    sink(b0, 0)                                     # bootstrap batch
    assert (ledger / "0.done").exists()

    # kill batch 1 mid-publish (first rename inside the tier dir)
    real_rename = Path.rename
    calls = {"n": 0}

    def boom(self, target):
        if str(self).startswith(str(out)):
            calls["n"] += 1
            if calls["n"] == 1:
                raise RuntimeError("injected kill")
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", boom)
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="injected"):
        sink(b1, 1)
    monkeypatch.setattr(Path, "rename", real_rename)
    # commit never happened: no marker, manifest still present
    assert not (ledger / "1.done").exists()
    assert (out / "tier=day" / ".upsert_manifest.json").exists()

    sink(b1, 1)                                     # redelivery
    assert (ledger / "1.done").exists()
    sink(b1, 1)                                     # second redelivery: skip

    got = (spark.read.parquet(str(out / "tier=day"))
           .drop("period", "last_ts").toPandas()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = (rollup_raw(long_df, "day").toPandas()
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))[got.columns]
    assert len(got) == len(want)
    for col in ("n", "vmin", "vmax", "last"):
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy(), err_msg=col)
    np.testing.assert_allclose(got["vsum"].to_numpy(dtype=float),
                               want["vsum"].to_numpy(dtype=float),
                               rtol=1e-12)
    assert recover_tier(str(out), "day") == "clean"
    long_df.unpersist()


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Native session-window streaming sessionization over out-of-order
    chunks equals the batch session_window aggregation row-for-row, and
    its per-user session counts agree with the gaps-and-islands batch
    query (no exact-6h boundary events in this data)."""
    import os

    import numpy as np

    from nrt_spark import queries as Q
    from nrt_spark.streaming import sessionize_stream

    sf = "/root/testdata/sf0.01"
    ev = (spark.read.parquet(f"{sf}/events.parquet")
          .select("user_id", "ts", "event_id"))
    src = tmp_path / "src"
    # later half arrives FIRST; watermark delay is sized so the
    # out-of-order chunk is still inside the lateness horizon
    split = ev.selectExpr(
        "percentile(unix_seconds(CAST(ts AS TIMESTAMP)), 0.5) AS c") \
        .first()["c"]
    (ev.filter(F.unix_seconds(F.col("ts").cast("timestamp")) > split)
       .coalesce(1)
       .write.parquet(str(src / "chunk0")))
    (ev.filter(F.unix_seconds(F.col("ts").cast("timestamp")) <= split)
       .coalesce(1)
       .write.parquet(str(src / "chunk1")))
    for i, chunk in enumerate(("chunk0", "chunk1")):
        for f in (src / chunk).glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i * 10,) * 2)
    # sentinel far in the future for a throwaway user: advances the
    # watermark past every real session CLOSE (last event + 6h gap) so
    # append mode emits them all — hence 401 days vs the 400-day delay
    spark.createDataFrame(
        [(int(-1), ev.agg(F.max("ts")).first()[0]
          + __import__("datetime").timedelta(days=401), int(-1))],
        "user_id long, ts timestamp, event_id long"
    ).coalesce(1).write.parquet(str(src / "chunk2"))
    for f in (src / "chunk2").glob("*.parquet"):
        os.utime(f, (1_700_000_020,) * 2)

    stream = (spark.readStream
              .schema("user_id long, ts timestamp, event_id long")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "chunk*")))
    out = sessionize_stream(stream, gap="6 hours",
                            watermark="400 days")
    q = (out.writeStream.format("memory").queryName("sess_out")
         .outputMode("append").trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    q.stop()
    got = (spark.table("sess_out").filter("user_id >= 0").toPandas()
           .sort_values(["user_id", "session_start"])
           .reset_index(drop=True))

    want = (ev.groupBy("user_id", F.session_window("ts", "6 hours"))
            .agg(F.count("*").alias("n_events"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events")
            .toPandas().sort_values(["user_id", "session_start"])
            .reset_index(drop=True))
    assert len(got) == len(want) and len(got) > 0
    for col in got.columns:
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy(), err_msg=col)

    gi = {r["user_id"]: (r["n_sessions"], r["n_events"]) for r in
          Q.sessionize_events(spark, sf).collect()}
    agg = got.groupby("user_id").agg(n_sessions=("n_events", "size"),
                                     n_events=("n_events", "sum"))
    for uid, row in agg.iterrows():
        assert gi[uid] == (row["n_sessions"], row["n_events"]), uid


def test_compaction_during_streaming_upsert(spark, tmp_path):
    """Round-6 verdict #5: small-file compaction running CONCURRENTLY
    with the streaming upsert sink must not lose periods or rows —
    compact_partition now takes the same per-tier flock as the upsert
    writers, so the two serialize per partition.  The final tier must
    equal one batch rollup of all the data, byte-for-byte in the exact
    columns, with the compaction thread having raised nothing."""
    import os
    import threading
    import time as _time

    from nrt_spark.datagen import generate_tokens
    from nrt_spark.rollup import compact_tiers, rollup_raw
    from nrt_spark.streaming import rollup_stream_upsert
    from nrt_spark.tokens import decode_long

    long_df = decode_long(generate_tokens(spark, 25, n_obs=60)).cache()
    long_df.count()
    src = tmp_path / "src"
    cuts = ["2015-03-01", "2015-06-01", "2015-09-01"]
    windows = ([f"ts < '{cuts[0]}'"]
               + [f"ts >= '{lo}' AND ts < '{hi}'"
                  for lo, hi in zip(cuts, cuts[1:])]
               + [f"ts >= '{cuts[-1]}'"])
    for i, w in enumerate(windows):
        (long_df.filter(w).coalesce(1)
         .write.parquet(str(src / f"chunk{i}")))
        for f in (src / f"chunk{i}").glob("*.parquet"):
            os.utime(f, (1_700_000_000 + i * 10,) * 2)

    out = tmp_path / "tiers"
    stream = (spark.readStream
              .schema("doc_id string, ts timestamp, value double")
              .option("maxFilesPerTrigger", "1")
              .parquet(str(src / "chunk*")))

    stats_log, errs, stop = [], [], threading.Event()

    def compact_loop():
        try:
            while not stop.is_set():
                if (out / "tier=day").exists():
                    stats_log.append(
                        compact_tiers(spark, str(out), target_mb=128))
                _time.sleep(0.2)
        except Exception as exc:                      # surfaced below
            errs.append(exc)

    t = threading.Thread(target=compact_loop)
    t.start()
    try:
        q = rollup_stream_upsert(stream, str(out), "day",
                                 checkpoint=str(tmp_path / "ck"))
        assert q.awaitTermination(180)
        q.stop()
        # let at least one compaction round observe the final state
        _time.sleep(0.5)
    finally:
        stop.set()
        t.join()
    assert not errs, errs
    assert stats_log                       # compaction genuinely ran
    final = compact_tiers(spark, str(out), target_mb=128)
    assert final                           # and the tier still exists

    got = (spark.read.parquet(str(out / "tier=day"))
           .drop("period", "last_ts").toPandas()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = (rollup_raw(long_df, "day").toPandas()
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))[got.columns]
    assert len(got) == len(want)
    for col in ("n", "vmin", "vmax", "last"):
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy(), err_msg=col)
    np.testing.assert_allclose(got["vsum"].to_numpy(dtype=float),
                               want["vsum"].to_numpy(dtype=float),
                               rtol=1e-12)
    long_df.unpersist()


@pytest.mark.slow
@pytest.mark.skipif(os.environ.get("NRT_SOAK") != "1",
                    reason="state-scale soak: set NRT_SOAK=1 (round-6 "
                           "verdict #4; ~90s at 100k keys)")
def test_monitor_stream_state_scale_soak(spark, tmp_path):
    """Round-6 verdict #4: the stateful monitor carrying >=100k series
    of state across micro-batches — the kill/restart soak proves
    exactly-once at test scale, this proves the SCALE axis.  Drives
    tools/monitor_state_soak.run_soak, whose own asserts require the
    drained streaming report to be byte-identical to the batch engine
    for every one of the 100k docs (mask, process, detection_date).
    The 1M-key foreground run is recorded in BENCH.md (state store
    ~294 B/series, one blob per bucket => 64 store keys at any scale)."""
    import sys
    from pathlib import Path as _P

    sys.path.insert(0, str(_P(__file__).resolve().parent.parent / "tools"))
    from monitor_state_soak import run_soak

    res = run_soak(spark, n_docs=100_000, num_buckets=64, n_chunks=3,
                   workdir=tmp_path / "soak")
    assert res["mismatches"] == 0
    assert res["compared_docs"] == 100_000
    # one pickled blob per bucket: state-store KEY count equals the
    # bucket count, independent of series count (the scale invariant)
    assert all(b["state_rows"] == 64 for b in res["batches"])
