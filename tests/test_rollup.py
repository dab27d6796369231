"""Rollup tiers, gap-fill, retention, compression, lineage — Spark vs a
single-process pandas/numpy oracle (byte-exact where the north rule
demands it)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from nrt_spark.datagen import generate_tokens
from nrt_spark.tokens import decode_long, grid_days
from nrt_spark import rollup as R
from nrt_spark.compress import compress_tier, decompress_tier, compression_stats


@pytest.fixture(scope="module")
def tokens(spark):
    df = generate_tokens(spark, 40, n_obs=146).cache()  # 2 years
    df.count()
    return df


@pytest.fixture(scope="module")
def long_df(tokens):
    return decode_long(tokens).cache()


def _oracle_long(tokens_pdf: pd.DataFrame) -> pd.DataFrame:
    rows = []
    for _, r in tokens_pdf.iterrows():
        toks = np.asarray(r["tokens"], dtype=np.float64)
        days = grid_days(len(toks))
        vals = np.where(toks == -1, np.nan, toks / 10000.0)
        for d, v in zip(days, vals):
            rows.append((r["doc_id"],
                         np.datetime64("1970-01-01") + np.timedelta64(int(d), "D"),
                         None if np.isnan(v) else float(v)))
    return pd.DataFrame(rows, columns=["doc_id", "ts", "value"])


def _oracle_rollup(long_pdf: pd.DataFrame, unit: str) -> pd.DataFrame:
    """Left-to-right ts-ordered aggregation (the determinism contract)."""
    pdf = long_pdf.copy()
    ts = pd.to_datetime(pdf["ts"])
    if unit == "day":
        pdf["bucket_start"] = ts.dt.floor("D")
    elif unit == "week":
        pdf["bucket_start"] = (ts - pd.to_timedelta((ts.dt.dayofweek), "D")).dt.floor("D")
    elif unit == "month":
        pdf["bucket_start"] = ts.dt.to_period("M").dt.to_timestamp()
    out = []
    for (doc, b), grp in pdf.sort_values(["doc_id", "ts"]).groupby(
            ["doc_id", "bucket_start"], sort=True):
        v = grp["value"].to_numpy(dtype=np.float64)
        keep = ~np.isnan(v)
        vv = v[keep]
        n = int(keep.sum())
        vsum = 0.0
        for x in vv:  # left-to-right fold: same op order as Spark partials
            vsum += x
        out.append((doc, b, n,
                    vsum if n else None,
                    (vsum / n) if n else None,
                    vv.min() if n else None,
                    vv.max() if n else None,
                    vv[-1] if n else None))
    return pd.DataFrame(out, columns=["doc_id", "bucket_start", "n", "vsum",
                                      "mean", "vmin", "vmax", "last"])


@pytest.mark.parametrize("tier", ["day", "week", "month"])
def test_rollup_matches_oracle_exactly(spark, tokens, long_df, tier):
    tiers = R.rollup_tiers(long_df)
    got = (tiers[tier].toPandas()
           .sort_values(["doc_id", "bucket_start"]).reset_index(drop=True))
    want = _oracle_rollup(_oracle_long(tokens.toPandas()), tier)
    want = want.sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["n"].to_numpy(), want["n"].to_numpy())
    for col in ["vmin", "vmax", "last"]:
        np.testing.assert_array_equal(
            got[col].to_numpy(dtype=np.float64),
            want[col].to_numpy(dtype=np.float64), err_msg=col)
    # vsum/mean: byte-exact because fold order matches (no cross-partition
    # split of a doc's points in this layout)
    np.testing.assert_array_equal(
        got["vsum"].to_numpy(dtype=np.float64),
        want["vsum"].to_numpy(dtype=np.float64), err_msg="vsum")


@pytest.mark.parametrize("tier", ["week", "month"])
def test_cascade_composes_from_day(spark, long_df, tier):
    """Incremental-maintenance path: counts/extremes/last exact, float
    sums within ~1 ulp of the flat fold (merge order differs)."""
    day = R.rollup_raw(long_df, "day")
    direct = R.rollup_raw(long_df, tier).toPandas().sort_values(
        ["doc_id", "bucket_start"]).reset_index(drop=True)
    cascaded = R.rollup_cascade(day, tier).toPandas().sort_values(
        ["doc_id", "bucket_start"]).reset_index(drop=True)
    assert len(direct) == len(cascaded)
    for col in ["n", "vmin", "vmax", "last"]:
        np.testing.assert_array_equal(
            direct[col].to_numpy(dtype=np.float64),
            cascaded[col].to_numpy(dtype=np.float64), err_msg=col)
    np.testing.assert_allclose(
        direct["mean"].to_numpy(dtype=np.float64),
        cascaded["mean"].to_numpy(dtype=np.float64), rtol=1e-12)


def test_gapfill_forward_fill(spark, long_df):
    day = R.rollup_raw(long_df, "day")
    filled = R.gapfill(day, "day").cache()
    pdf = filled.filter(F.col("doc_id") == filled.select("doc_id").first()[0]) \
        .orderBy("bucket_start").toPandas()
    # dense daily scaffold (5-day cadence -> 4 of 5 days are gap-filled)
    deltas = pdf["bucket_start"].diff().dropna().dt.days.unique()
    assert list(deltas) == [1]
    assert pdf["gap_filled"].mean() > 0.5
    # forward fill: no null means after the first observed bucket
    first_obs = pdf.index[~pdf["gap_filled"]][0]
    assert pdf["mean"].iloc[first_obs:].notna().all()
    # rows with real observations keep their original values (buckets
    # that exist but hold only gap obs — n=0, mean NULL — are legitimately
    # forward-filled, the cloud-mask semantic)
    orig = day.toPandas().set_index(["doc_id", "bucket_start"])["mean"]
    sub = pdf[(~pdf["gap_filled"]) & (pdf["n"] > 0)]
    assert len(sub)
    for _, r in sub.iterrows():
        assert r["mean"] == orig.loc[(r["doc_id"], r["bucket_start"])]


def test_retention_partition_drop(spark, long_df, tmp_path):
    day = R.rollup_raw(long_df, "day")
    R.write_tier(day, str(tmp_path), "day")
    import pathlib

    parts_before = len(list((tmp_path / "tier=day").glob("period=*")))
    dropped = R.expire_tier(str(tmp_path), "day", keep_after="2015-07")
    parts_after = len(list((tmp_path / "tier=day").glob("period=*")))
    assert dropped and parts_after == parts_before - len(dropped)
    remaining = spark.read.parquet(str(tmp_path / "tier=day"))
    assert remaining.filter("bucket_start < '2015-07-01'").count() == 0
    assert remaining.count() > 0


def test_compress_roundtrip(spark, long_df):
    day = R.rollup_raw(long_df, "day")
    blocks = compress_tier(day, value_col="mean").cache()
    stats = compression_stats(blocks)
    assert stats["total_points"] == day.count()
    # well below raw 16 bytes/point (8B ts + 8B float)
    assert stats["bytes_per_point"] < 12
    back = decompress_tier(blocks).toPandas().sort_values(
        ["doc_id", "bucket_start"]).reset_index(drop=True)
    orig = day.select("doc_id", "bucket_start", F.col("mean").alias("value")) \
        .toPandas().sort_values(["doc_id", "bucket_start"]).reset_index(drop=True)
    assert len(back) == len(orig)
    np.testing.assert_array_equal(back["value"].to_numpy(),
                                  orig["value"].to_numpy())
    np.testing.assert_array_equal(back["bucket_start"].to_numpy(),
                                  orig["bucket_start"].to_numpy())


def test_lineage_resumable_job(spark, long_df, tmp_path):
    from nrt_spark.lineage import ResumableJob, read_lineage

    mp = str(tmp_path / "metrics")
    calls = {"a": 0, "b": 0}

    def make(step):
        def fn():
            calls[step] += 1
            out = R.rollup_raw(long_df, "day")
            out.write.mode("overwrite").parquet(str(tmp_path / step))
            return spark.read.parquet(str(tmp_path / step))
        return fn

    job = ResumableJob(spark, "job1", mp)
    assert job.step("a", make("a")) and job.step("b", make("b"))
    # crash-and-restart: same job_id skips both
    job2 = ResumableJob(spark, "job1", mp)
    assert not job2.step("a", make("a")) and not job2.step("b", make("b"))
    assert calls == {"a": 1, "b": 1}
    # force=True re-runs a completed step (the --full-refresh contract:
    # an operator-requested recompute must not silently no-op)
    assert job2.step("a", make("a"), force=True)
    assert calls["a"] == 2
    lin = read_lineage(spark, mp).toPandas()
    assert set(lin["step"]) == {"a", "b"}
    assert (lin["rows"] > 0).any()


def test_partition_pruning_on_tier_read(spark, long_df, tmp_path):
    """Time-slice reads of a period-partitioned tier table must prune
    partitions at the scan (SURVEY O2: Iceberg days(ts) analog)."""
    day = R.rollup_raw(long_df, "day")
    R.write_tier(day, str(tmp_path), "day")
    df = (spark.read.parquet(str(tmp_path / "tier=day"))
          .filter("period >= '2016-01'"))
    plan = df._jdf.queryExecution().toString()
    assert "PartitionFilters" in plan and "period" in plan
    # the pruned read returns only the kept periods
    assert df.filter("bucket_start < '2016-01-01'").count() == 0


def test_compaction_merges_small_files(spark, long_df, tmp_path):
    """Small-file compaction: a fragmented tier partition is rewritten
    into the target file count with identical data; already-compact
    partitions are skipped (idempotent)."""
    from nrt_spark.rollup import compact_tiers, rollup_raw, write_tier

    day = rollup_raw(long_df, "day").repartition(16)   # fragment it
    write_tier(day, str(tmp_path), "day")
    part = next((tmp_path / "tier=day").glob("period=*"))
    n_before = len(list(part.glob("*.parquet")))
    assert n_before >= 8
    before = (spark.read.parquet(str(part))
              .toPandas().sort_values(["doc_id", "bucket_start"])
              .reset_index(drop=True))

    stats = compact_tiers(spark, str(tmp_path), target_mb=128)
    key = str(part.relative_to(tmp_path))
    assert stats[key]["files_before"] == n_before
    assert stats[key]["files_after"] == 1 and not stats[key]["skipped"]
    after = (spark.read.parquet(str(part))
             .toPandas().sort_values(["doc_id", "bucket_start"])
             .reset_index(drop=True))
    assert len(after) == len(before)
    np.testing.assert_array_equal(after["n"].to_numpy(),
                                  before["n"].to_numpy())
    np.testing.assert_array_equal(after["vsum"].to_numpy(),
                                  before["vsum"].to_numpy())
    # second pass is a no-op
    stats2 = compact_tiers(spark, str(tmp_path), target_mb=128)
    assert stats2[key]["skipped"]


def test_compaction_crash_recovery(spark, long_df, tmp_path):
    """Killing compaction at either dangerous point must converge on
    re-run: stale staging is discarded, and a partition stranded
    mid-swap (backup exists, live dir gone) is restored.  Staging and
    backup live in DOT-prefixed dirs so Spark partition discovery never
    sees them as data."""
    import shutil
    from nrt_spark.rollup import compact_partition, rollup_raw, write_tier

    day = rollup_raw(long_df, "day").repartition(8)
    write_tier(day, str(tmp_path), "day")
    part = next((tmp_path / "tier=day").glob("period=*"))
    rows = spark.read.parquet(str(part)).count()
    root_rows = spark.read.parquet(str(tmp_path / "tier=day")).count()

    # crash state A: staged copy written, swap never happened
    staged = part.parent / f".{part.name}.compact"
    shutil.copytree(part, staged)
    # partition discovery over the table root must not see the staging
    assert spark.read.parquet(str(tmp_path / "tier=day")).count() == root_rows
    s = compact_partition(spark, str(part), target_mb=128)
    assert not staged.exists() and not s["skipped"]
    assert spark.read.parquet(str(part)).count() == rows

    # crash state B: died between the two renames (live dir missing)
    backup = part.parent / f".{part.name}.old"
    part.rename(backup)
    s2 = compact_partition(spark, str(part), target_mb=128)
    assert part.exists() and not backup.exists()
    assert spark.read.parquet(str(part)).count() == rows
    assert s2["skipped"]          # already compacted above

    # guards
    import pytest as _pytest
    with _pytest.raises(ValueError, match="positive"):
        compact_partition(spark, str(part), target_mb=0)
    with _pytest.raises(ValueError, match="object stores"):
        compact_partition(spark, "hdfs://nn/x", target_mb=64)


def test_upsert_tier_matches_full_recompute(spark, long_df, tmp_path):
    """Incremental maintenance contract: init the tier from the first
    90% of observations, upsert the late 10%, and land exactly where a
    full recompute lands (n/vmin/vmax/last exact; vsum/mean to float
    merge tolerance) — and only the touched periods are rewritten."""
    from pyspark.sql import functions as F
    from nrt_spark.rollup import rollup_raw, upsert_tier, write_tier

    split_ts = long_df.selectExpr(
        "percentile(unix_seconds(ts), 0.9) AS c").first()["c"]
    early = long_df.filter(F.unix_seconds("ts") <= split_ts)
    late = long_df.filter(F.unix_seconds("ts") > split_ts)
    assert late.count() > 0

    write_tier(rollup_raw(early, "day", with_last_ts=True),
               str(tmp_path), "day")
    all_periods = {p.name for p in (tmp_path / "tier=day").glob("period=*")}
    import os
    mtimes = {p: os.path.getmtime(str(tmp_path / "tier=day" / p))
              for p in all_periods}

    stats = upsert_tier(spark, str(tmp_path), "day", late)
    assert stats["buckets_after"] >= stats["buckets_before"]
    # buckets_before is read from footers: the rows the touched periods
    # held before the merge
    assert stats["buckets_before"] == rollup_raw(early, "day").filter(
        F.date_format("bucket_start", "yyyy-MM").isin(stats["periods"])
    ).count()

    got = (spark.read.parquet(str(tmp_path / "tier=day"))
           .drop("period", "last_ts")
           .toPandas().sort_values(["doc_id", "bucket_start"])
           .reset_index(drop=True))
    want = (rollup_raw(long_df, "day")
            .toPandas().sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))[got.columns]
    assert len(got) == len(want)
    for col in ("n", "vmin", "vmax", "last"):
        np.testing.assert_array_equal(got[col].to_numpy(),
                                      want[col].to_numpy(), err_msg=col)
    np.testing.assert_allclose(got["vsum"].to_numpy(dtype=float),
                               want["vsum"].to_numpy(dtype=float),
                               rtol=1e-12)
    # untouched periods were not rewritten (staged swap touches only
    # the delta's periods)
    touched = set(f"period={p}" for p in stats["periods"])
    for p in all_periods - touched:
        assert os.path.getmtime(str(tmp_path / "tier=day" / p)) \
            == mtimes[p], f"{p} rewritten"


def test_upsert_tier_requires_last_ts(spark, long_df, tmp_path):
    from nrt_spark.rollup import rollup_raw, upsert_tier, write_tier

    write_tier(rollup_raw(long_df, "day"), str(tmp_path), "day")
    with pytest.raises(ValueError, match="with_last_ts"):
        upsert_tier(spark, str(tmp_path), "day", long_df.limit(10))


@pytest.mark.parametrize("order", [(0, 1, 2), (2, 1, 0), (1, 0, 2)])
def test_upsert_tier_any_arrival_order(spark, long_df, tmp_path, order):
    """Property: the SAME 3-way random split applied in different
    permutations (identity, full reversal, and a pairwise swap — so
    order varies while content is held fixed, and different batches
    exercise the bootstrap path) lands the tier exactly where one batch
    rollup lands — arrival order never decides (last_ts resolves
    `last`)."""
    from pyspark.sql import functions as F
    from nrt_spark.rollup import rollup_raw, upsert_tier

    part = F.pmod(F.xxhash64(F.concat_ws("|", "doc_id",
                                         F.col("ts").cast("string"))),
                  F.lit(3))
    batches = [long_df.filter(part == i) for i in range(3)]
    base = str(tmp_path / ("s" + "".join(map(str, order))))
    for i in order:
        upsert_tier(spark, base, "day", batches[i])
    got = (spark.read.parquet(f"{base}/tier=day")
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


def test_upsert_tier_kill_injection(spark, long_df, tmp_path, monkeypatch,
                                    caplog):
    """Crash the staged upsert commit at every phase and show the table
    either rolls back exactly (pre-commit kills — the retry then
    re-applies the delta once) or only leaves sweepable debris
    (post-commit cleanup kill).  Closes the round-3 crash window where
    a kill inside the dynamic-partition-overwrite commit could lose the
    touched periods."""
    import os as _os
    from pathlib import Path

    from pyspark.sql import functions as F
    from nrt_spark.rollup import (recover_tier, rollup_raw, upsert_tier,
                                  write_tier)

    split_ts = long_df.selectExpr(
        "percentile(unix_seconds(ts), 0.9) AS c").first()["c"]
    early = long_df.filter(F.unix_seconds("ts") <= split_ts)
    late = long_df.filter(F.unix_seconds("ts") > split_ts).cache()
    assert late.count() > 0
    base = str(tmp_path)
    write_tier(rollup_raw(early, "day", with_last_ts=True), base, "day")

    def snapshot():
        return (spark.read.parquet(f"{base}/tier=day")
                .drop("period").toPandas()
                .sort_values(["doc_id", "bucket_start"])
                .reset_index(drop=True))

    pre = snapshot()

    # phase A: die after staging, before the manifest exists
    real_replace = _os.replace

    def boom_replace(src, dst, *a, **k):
        if str(dst).endswith(".upsert_manifest.json"):
            raise RuntimeError("injected: pre-manifest kill")
        return real_replace(src, dst, *a, **k)

    monkeypatch.setattr(_os, "replace", boom_replace)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_tier(spark, base, "day", late)
    monkeypatch.setattr(_os, "replace", real_replace)
    assert recover_tier(base, "day") == "cleaned"   # staging discarded
    pd.testing.assert_frame_equal(snapshot(), pre)  # no lost periods
    assert recover_tier(base, "day") == "clean"     # idempotent

    # phase B: die between the per-period publish renames (every
    # injection point up to the first two periods' swaps)
    real_rename = Path.rename
    for kill_at in (1, 2, 3):
        calls = {"n": 0}

        def boom_rename(self, target, _k=kill_at):
            if str(self).startswith(base):
                calls["n"] += 1
                if calls["n"] == _k:
                    raise RuntimeError("injected: mid-publish kill")
            return real_rename(self, target)

        monkeypatch.setattr(Path, "rename", boom_rename)
        with pytest.raises(RuntimeError, match="injected"):
            upsert_tier(spark, base, "day", late)
        monkeypatch.setattr(Path, "rename", real_rename)
        # manifest survived the kill -> full rollback to pre-state
        assert (Path(base) / "tier=day" / ".upsert_manifest.json").exists()
        assert recover_tier(base, "day") == "rolled_back"
        pd.testing.assert_frame_equal(snapshot(), pre)

    # a crashed upsert's retry ALSO self-recovers (recover_tier runs on
    # entry): kill once more, then retry without manual recovery
    calls = {"n": 0}

    def boom_once(self, target):
        if str(self).startswith(base):
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected")
        return real_rename(self, target)

    monkeypatch.setattr(Path, "rename", boom_once)
    with pytest.raises(RuntimeError, match="injected"):
        upsert_tier(spark, base, "day", late)
    monkeypatch.setattr(Path, "rename", real_rename)
    stats = upsert_tier(spark, base, "day", late)   # retry, no manual fix
    assert stats["periods"]

    # phase C (fresh tier dir): die during post-commit cleanup -> the
    # batch reports success, only sweepable debris remains
    import shutil as _shutil

    base2 = str(tmp_path / "c")
    write_tier(rollup_raw(early, "day", with_last_ts=True), base2, "day")
    real_rmtree = _shutil.rmtree

    def boom_rmtree(p, *a, **k):
        if str(p).endswith(".upsert_stage"):
            raise OSError("injected: cleanup kill")
        return real_rmtree(p, *a, **k)

    monkeypatch.setattr(_shutil, "rmtree", boom_rmtree)
    with caplog.at_level("WARNING", logger="nrt_spark.rollup"):
        stats2 = upsert_tier(spark, base2, "day", late)
    monkeypatch.setattr(_shutil, "rmtree", real_rmtree)
    assert stats2["periods"]
    # the swallow is logged, so persistent cleanup failures are visible
    assert any("left debris" in r.message for r in caplog.records)
    assert (Path(base2) / "tier=day" / ".upsert_stage").exists()
    assert recover_tier(base2, "day") == "cleaned"  # sweeps the debris
    got2 = (spark.read.parquet(f"{base2}/tier=day")
            .drop("period", "last_ts").toPandas()
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))

    got = snapshot().drop(columns="last_ts")
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
    pd.testing.assert_frame_equal(got2, got)        # phase-C tier agrees
    late.unpersist()


def test_upsert_tier_lock_single_writer(spark, long_df, tmp_path,
                                        monkeypatch):
    """The .upsert.lock flock guard: while another writer HOLDS the
    lock, upsert_tier and standalone recover_tier wait out the bounded
    timeout then fail loudly (instead of a concurrent recover rolling
    back the holder's in-flight commit); once released — which the
    kernel also does automatically when a holder dies — acquisition
    succeeds, with no staleness probing or lock stealing to race."""
    import fcntl
    import json as _json
    import os as _os

    from nrt_spark.rollup import (TierLockedError, recover_tier,
                                  rollup_raw, upsert_tier, write_tier)

    monkeypatch.setenv("NRT_TIER_LOCK_TIMEOUT", "0.3")
    base = str(tmp_path)
    write_tier(rollup_raw(long_df, "day", with_last_ts=True), base, "day")
    lock = tmp_path / "tier=day" / ".upsert.lock"

    # hold the flock (an independent fd conflicts even in-process) and
    # record holder info like a real writer would
    lock.write_text(_json.dumps({"pid": 999999, "host": "other-writer"}))
    fd = _os.open(lock, _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
    try:
        with pytest.raises(TierLockedError, match="locked by another"):
            upsert_tier(spark, base, "day", long_df.limit(5))
        with pytest.raises(TierLockedError, match="other-writer"):
            recover_tier(base, "day")
    finally:
        _os.close(fd)                       # = holder finished or died

    # a leftover lock FILE without a holder is just diagnostics — the
    # flock is gone, so the next writer acquires immediately
    assert lock.exists()
    stats = upsert_tier(spark, base, "day", long_df.limit(5))
    assert stats["periods"]
    assert lock.exists()                    # never unlinked (by design)


def _stage_tasks(spark, fn) -> list:
    """Tasks run by each stage of the jobs ``fn`` starts (a skipped
    stage runs none)."""
    import uuid

    sc = spark.sparkContext
    group = f"stage-tasks-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    st = sc.statusTracker()
    return [st.getStageInfo(s).numCompletedTasks
            for j in st.getJobIdsForGroup(group)
            for s in st.getJobInfo(j).stageIds]


def test_upsert_tier_small_delta_is_aqe_sized(spark, long_df, tmp_path):
    """An upsert of a small delta runs no stage wider than one task per
    core and leaves at most that many files in each touched period.  A
    persisted delta would keep the session's 64 initial shuffle
    partitions: 64 tasks per stage that reads it, 64 files per period."""
    from nrt_spark.rollup import rollup_raw, upsert_tier, write_tier

    split_ts = long_df.selectExpr(
        "percentile(unix_seconds(ts), 0.9) AS c").first()["c"]
    base = str(tmp_path)
    write_tier(rollup_raw(long_df.filter(F.unix_seconds("ts") <= split_ts),
                          "day", with_last_ts=True), base, "day")
    # an uncached source, as a streamed micro-batch or a read delta is
    delta = spark.createDataFrame(
        long_df.filter(F.unix_seconds("ts") > split_ts).toPandas())
    stats = {}
    tasks = _stage_tasks(spark, lambda: stats.update(
        upsert_tier(spark, base, "day", delta)))
    cores = spark.sparkContext.defaultParallelism
    assert tasks and max(tasks) <= cores, tasks
    assert stats["periods"]
    for p in stats["periods"]:
        files = list((tmp_path / "tier=day" / f"period={p}")
                     .glob("*.parquet"))
        assert 1 <= len(files) <= cores, (p, len(files))


def test_stage_and_publish_refuses_other_periods(spark, long_df, tmp_path):
    """The commit guard: a frame that stages a period the caller did not
    list (a nondeterministic delta evaluated a second time inside the
    merge), or misses one it did, raises before the manifest — nothing
    is committed, the table is unchanged and no staged rows are left."""
    from nrt_spark.rollup import (_stage_and_publish, _upsert_paths,
                                  recover_tier, rollup_raw, write_tier)

    base = str(tmp_path)
    day = rollup_raw(long_df, "day", with_last_ts=True)
    write_tier(day, base, "day")
    tier = tmp_path / "tier=day"

    def listing():
        return sorted((str(f.relative_to(tier)), f.stat().st_mtime_ns)
                      for f in tier.rglob("*"))

    before = listing()
    frame = day.withColumn("period",
                           F.date_format("bucket_start", "yyyy-MM"))
    periods = sorted(r["period"] for r in
                     frame.select("period").distinct().collect())
    assert len(periods) >= 2
    for listed in (periods[:-1], periods + ["2099-01"]):
        with pytest.raises(RuntimeError, match="nothing was committed"):
            _stage_and_publish(tier, frame, listed, None)
        assert not any(p.exists() for p in _upsert_paths(tier))
        assert listing() == before
    assert recover_tier(base, "day") == "clean"


def test_tier_lock_waits_out_transient_hold(tmp_path):
    """Bounded BLOCKING acquire: an expected-transient hold (the
    co-deployed streaming upserter committing a micro-batch) is waited
    out instead of crashing one of the two writers — the acquirer
    succeeds as soon as the holder releases within the timeout."""
    import fcntl
    import os as _os
    import threading
    import time as _time

    from nrt_spark.rollup import _tier_lock

    tier = tmp_path / "tier=day"
    tier.mkdir()
    lock = tier / ".upsert.lock"
    lock.touch()
    fd = _os.open(lock, _os.O_RDWR)
    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)

    def release_soon():
        _time.sleep(0.4)
        _os.close(fd)

    t = threading.Thread(target=release_soon)
    t.start()
    t0 = _time.monotonic()
    with _tier_lock(tier, timeout=5.0):
        waited = _time.monotonic() - t0
    t.join()
    assert 0.3 <= waited < 5.0              # blocked, then acquired


def test_tier_lock_malformed_env_timeout_falls_back(tmp_path, monkeypatch,
                                                    caplog):
    """A malformed NRT_TIER_LOCK_TIMEOUT must not raise a bare
    ValueError deep inside an upsert — it logs a warning naming the
    variable and falls back to the default timeout."""
    import logging

    from nrt_spark.rollup import _tier_lock

    monkeypatch.setenv("NRT_TIER_LOCK_TIMEOUT", "ten-seconds")
    tier = tmp_path / "tier=day"
    with caplog.at_level(logging.WARNING, logger="nrt_spark.rollup"):
        with _tier_lock(tier):          # uncontended: acquires instantly
            pass
    assert any("NRT_TIER_LOCK_TIMEOUT" in r.message for r in caplog.records)


def test_write_tier_dynamic_prunes_stale_partitions(spark, long_df,
                                                    tmp_path):
    """dynamic=True + prune_stale=True restores full-overwrite
    SEMANTICS (a narrower rerun prunes uncovered periods) while leaving
    root protocol files untouched; the DEFAULT (prune_stale=False)
    preserves uncovered periods — they may be streaming-upserted late
    data this batch never saw."""
    from pyspark.sql import functions as F

    from nrt_spark.rollup import rollup_raw, write_tier

    base = str(tmp_path)
    day = rollup_raw(long_df, "day")
    write_tier(day, base, "day", dynamic=True)
    periods = sorted(p.name for p in
                     (tmp_path / "tier=day").glob("period=*"))
    assert len(periods) >= 2
    marker = tmp_path / "tier=day" / ".upsert.lock"
    marker.write_text("{}")                 # root protocol file

    keep = periods[0].split("=", 1)[1]
    narrower = day.filter(
        F.date_format("bucket_start", "yyyy-MM") == keep)
    # default: uncovered periods SURVIVE (streaming-owned data safe)
    write_tier(narrower, base, "day", dynamic=True)
    assert sorted(p.name for p in
                  (tmp_path / "tier=day").glob("period=*")) == periods
    # full-refresh: uncovered periods pruned
    write_tier(narrower, base, "day", dynamic=True, prune_stale=True)
    left = sorted(p.name for p in
                  (tmp_path / "tier=day").glob("period=*"))
    assert left == [f"period={keep}"]
    # ... from one AQE-sized materialization: at most one file per core
    # (a persisted input keeps the 64 initial shuffle partitions)
    n_files = len(list((tmp_path / "tier=day" / left[0]).glob("*.parquet")))
    assert 1 <= n_files <= spark.sparkContext.defaultParallelism, n_files
    assert marker.exists()                  # protocol file survived
    assert (spark.read.parquet(f"{base}/tier=day")
            .select("period").distinct().count() == 1)
    # NULL bucket_start rows land in Hive's default partition; the
    # prune must map them (written-set None vs on-disk sentinel) and
    # never delete the partition its own write just produced
    nulled = narrower.limit(1).withColumn(
        "bucket_start", F.lit(None).cast("timestamp"))
    write_tier(narrower.unionByName(nulled), base, "day",
               dynamic=True, prune_stale=True)
    assert (tmp_path / "tier=day" /
            "period=__HIVE_DEFAULT_PARTITION__").exists()


def test_upsert_recovery_never_touches_compaction_backups(spark, long_df,
                                                          tmp_path):
    """The two staged-swap protocols use disjoint backup namespaces:
    recover_tier must NOT sweep compact_partition's '.period=P.old'
    (mid-compaction-crash it is the only copy of the partition), and
    compaction's recovery must still restore it afterwards."""
    from nrt_spark.rollup import (compact_partition, recover_tier,
                                  rollup_raw, upsert_tier, write_tier)

    write_tier(rollup_raw(long_df, "day", with_last_ts=True),
               str(tmp_path), "day")
    tier = tmp_path / "tier=day"
    part = sorted(tier.glob("period=*"))[0]
    rows = spark.read.parquet(str(part)).count()
    # simulate a compaction crash between the two renames: live gone,
    # compact-namespace backup holds the only copy
    backup = part.parent / f".{part.name}.old"
    part.rename(backup)

    assert recover_tier(str(tmp_path), "day") == "clean"
    assert backup.exists(), "recover_tier swept a compaction backup"

    # an upsert (entry recovery + empty delta) must also leave it alone
    upsert_tier(spark, str(tmp_path), "day", long_df.limit(0))
    assert backup.exists()

    # compaction's own crash recovery then restores the partition
    s = compact_partition(spark, str(part), target_mb=1024)
    assert part.exists() and not backup.exists()
    assert spark.read.parquet(str(part)).count() == rows
    # post-compaction invariant: at most ceil(bytes/1GiB)=1 data file
    # unless the restore already had one (then it was a clean skip)
    n_files = len(list(part.glob("*.parquet")))
    assert n_files == 1 or (s["skipped"] and n_files == s["files_before"])


def test_lttb_select_properties():
    """LTTB kernel invariants: endpoints pinned, output size honored,
    a planted spike survives downsampling, identity when n_out >= n,
    deterministic."""
    from nrt_spark.rollup import lttb_select

    rng = np.random.default_rng(11)
    days = np.arange(500, dtype=np.int64)
    vals = rng.normal(0, 0.1, 500)
    vals[237] = 50.0                       # the feature to preserve
    idx = lttb_select(days, vals, 20)
    assert len(idx) == 20 and idx[0] == 0 and idx[-1] == 499
    assert (np.diff(idx) > 0).all()        # strictly increasing
    assert 237 in idx, "spike lost by downsampling"
    np.testing.assert_array_equal(idx, lttb_select(days, vals, 20))
    # identity when the budget covers the series
    np.testing.assert_array_equal(lttb_select(days[:10], vals[:10], 20),
                                  np.arange(10))
    with pytest.raises(ValueError, match="n_out"):
        lttb_select(days, vals, 2)


def test_lttb_downsample_spark_matches_kernel(spark, long_df):
    """The distributed operator reproduces the single-process kernel
    per series (grouping, in-group sort, gap exclusion)."""
    from nrt_spark.rollup import lttb_downsample, lttb_select

    got = (lttb_downsample(long_df, n_out=10).toPandas()
           .sort_values(["doc_id", "ts"]).reset_index(drop=True))
    pdf = long_df.toPandas()
    rows = []
    for doc, grp in pdf.groupby("doc_id", sort=True):
        grp = grp.sort_values(["ts", "value"], kind="mergesort")
        grp = grp[grp["value"].notna()]
        xs = grp["ts"].to_numpy("datetime64[us]").astype(np.int64)
        idx = lttb_select(xs, grp["value"].to_numpy(np.float64), 10)
        rows.append(grp.iloc[idx][["doc_id", "ts", "value"]])
    want = (pd.concat(rows).sort_values(["doc_id", "ts"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    np.testing.assert_array_equal(got["value"].to_numpy(),
                                  want["value"].to_numpy())
    np.testing.assert_array_equal(got["ts"].to_numpy(),
                                  want["ts"].to_numpy())


def test_lttb_subsecond_resolution(spark):
    """On sub-second data the x axis must keep microsecond spacing: a
    [s]-truncated axis collapses distinct timestamps into tied x values
    and the selection then depends on truncation, not real spacing.
    Asserts the operator matches the µs-axis kernel AND that the µs
    selection genuinely differs from the truncated one here (so this
    test would catch a regression to the [s] axis)."""
    import datetime as dt

    from nrt_spark.rollup import lttb_downsample, lttb_select

    base = dt.datetime(2024, 1, 1)
    rng = np.random.Generator(np.random.PCG64(7))
    n = 60
    ts = [base + dt.timedelta(milliseconds=137 * i) for i in range(n)]
    vals = rng.standard_normal(n).round(3)
    pdf = pd.DataFrame({"doc_id": "d0", "ts": ts, "value": vals})
    xs_us = pdf["ts"].to_numpy("datetime64[us]").astype(np.int64)
    xs_s = pdf["ts"].to_numpy("datetime64[s]").astype(np.int64)
    want = lttb_select(xs_us, vals, 12)
    assert not np.array_equal(want, lttb_select(xs_s, vals, 12)), \
        "data not probative: truncated axis picks the same points"

    df = spark.createDataFrame(pdf)
    got = (lttb_downsample(df, n_out=12).toPandas()
           .sort_values("ts").reset_index(drop=True))
    np.testing.assert_array_equal(
        got["ts"].to_numpy("datetime64[us]").astype(np.int64),
        np.sort(xs_us[want]))


def test_lttb_tokens_fastpath_parity(spark, tokens, long_df):
    """The zero-shuffle token-layout LTTB equals the generic grouped
    path bit-for-bit, and its plan has NO Exchange."""
    from nrt_spark.rollup import lttb_downsample, lttb_downsample_tokens

    a = (lttb_downsample(long_df, n_out=10).toPandas()
         .sort_values(["doc_id", "ts"]).reset_index(drop=True))
    b = (lttb_downsample_tokens(tokens, n_out=10).toPandas()
         .sort_values(["doc_id", "ts"]).reset_index(drop=True))
    assert len(a) == len(b)
    np.testing.assert_array_equal(a["value"].to_numpy(),
                                  b["value"].to_numpy())
    np.testing.assert_array_equal(a["ts"].to_numpy(), b["ts"].to_numpy())
    plan = (lttb_downsample_tokens(tokens, n_out=10)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_gapfill_linear_interpolation(spark, long_df):
    """method='linear' matches pandas' time-linear interpolation on the
    dense scaffold (edges fall back to the available side), and
    observed buckets pass through untouched."""
    day = R.rollup_raw(long_df, "day")
    got = (R.gapfill(day, "day", fill_cols=("mean",), method="linear")
           .toPandas().sort_values(["doc_id", "bucket_start"])
           .reset_index(drop=True))
    want_rows = []
    base = day.toPandas()
    for doc, grp in base.groupby("doc_id", sort=True):
        grp = grp.set_index("bucket_start").sort_index()
        dense = grp.reindex(pd.date_range(grp.index.min(),
                                          grp.index.max(), freq="D"))
        s = dense["mean"].interpolate(method="index",
                                      limit_direction="both")
        want_rows.append(pd.DataFrame({
            "doc_id": doc, "bucket_start": dense.index, "mean": s.values}))
    want = (pd.concat(want_rows)
            .sort_values(["doc_id", "bucket_start"])
            .reset_index(drop=True))
    assert len(got) == len(want)
    np.testing.assert_allclose(got["mean"].to_numpy(dtype=float),
                               want["mean"].to_numpy(dtype=float),
                               rtol=1e-12)
    # observed buckets unchanged
    obs = got[~got["gap_filled"]].set_index(["doc_id", "bucket_start"])
    orig = base.dropna(subset=["mean"]) \
        .set_index(["doc_id", "bucket_start"])
    shared = obs.index.intersection(orig.index)
    np.testing.assert_array_equal(obs.loc[shared, "mean"].to_numpy(),
                                  orig.loc[shared, "mean"].to_numpy())


def test_recover_tier_legacy_backup_fallback(spark, long_df, tmp_path):
    """A manifest written by the short-lived pre-namespace code version
    paired with a '.period=P.old' backup still rolls back correctly:
    with a manifest present that name can only be an upsert backup."""
    import json

    from nrt_spark.rollup import recover_tier, rollup_raw, write_tier

    write_tier(rollup_raw(long_df, "day", with_last_ts=True),
               str(tmp_path), "day")
    tier = tmp_path / "tier=day"
    part = sorted(tier.glob("period=*"))[0]
    period = part.name.split("=", 1)[1]
    rows = spark.read.parquet(str(part)).count()
    # simulate the old protocol's crash state: live renamed to the
    # legacy backup name, manifest present, swap never finished
    part.rename(tier / f".period={period}.old")
    (tier / ".upsert_manifest.json").write_text(
        json.dumps({"periods": {period: True}}))

    assert recover_tier(str(tmp_path), "day") == "rolled_back"
    assert part.exists()
    assert not (tier / f".period={period}.old").exists()
    assert not (tier / ".upsert_manifest.json").exists()
    assert spark.read.parquet(str(part)).count() == rows
