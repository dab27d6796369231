"""Tiered continuous aggregates: rollup -> downsample -> gap-fill -> retention.

The north-rule centerpiece: rolled-up point tables per retention tier over
the decoded token series.  Design:

- **Tier cascade**: the day tier aggregates the raw decoded series (one
  shuffle); every coarser tier re-aggregates the previous tier, not the
  raw data (``vsum``/``n`` are kept so means compose exactly).  At 100 TB
  this means the expensive shuffle happens once; week/month tiers run
  over ~1/7 and ~1/30 of the day-tier rows.
- **Determinism**: the token table holds one row per series, so after the
  explode all observations of a doc sit in one partition in positional
  order; partial aggregation folds them left-to-right, which is the same
  op order as the numpy oracle (byte-exact tier parity, verified in
  tests).
- **Gap-fill**: per-series dense bucket scaffold via ``sequence()`` +
  left join + ``last(..., ignoreNulls)`` forward-fill, all Catalyst.
- **Retention**: tier tables are written partitioned by period; expiry
  is a partition drop, not a rewrite.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import socket
import time
from pathlib import Path

from pyspark.sql import DataFrame, functions as F

log = logging.getLogger(__name__)

#: tier name -> (date_trunc unit, sequence interval)
TIERS = {
    "day": ("day", "interval 1 day"),
    "week": ("week", "interval 7 days"),
    "month": ("month", "interval 1 month"),
}
#: coarser tier -> the finer tier it re-aggregates.  week and month both
#: cascade from day: ISO weeks span month boundaries, so month-from-week
#: would mis-assign cross-boundary weeks.
TIER_PARENT = {"week": "day", "month": "day"}

ROLLUP_COLS = ["doc_id", "bucket_start", "n", "vsum", "mean", "vmin",
               "vmax", "last"]


def rollup_raw(long_df: DataFrame, tier: str = "day",
               with_last_ts: bool = False) -> DataFrame:
    """Aggregate the decoded long series into a tier's tumbling buckets.

    Output: (doc_id, bucket_start, n, vsum, mean, vmin, vmax, last);
    gap (NULL) observations count toward nothing (n counts non-null).
    ``with_last_ts`` appends the timestamp behind ``last`` — required
    for tiers that will be incrementally maintained (:func:`upsert_tier`
    merges ``last`` exactly by comparing the carried timestamps, so
    arrival order never decides).
    """
    unit, _ = TIERS[tier]
    valid_ts = F.when(F.col("value").isNotNull(), F.col("ts"))
    out = (
        long_df
        .groupBy("doc_id", F.date_trunc(unit, "ts").alias("bucket_start"))
        .agg(
            F.count("value").alias("n"),
            F.sum("value").alias("vsum"),
            F.min("value").alias("vmin"),
            F.max("value").alias("vmax"),
            F.max_by("value", valid_ts).alias("last"),
            F.max(valid_ts).alias("last_ts"),
        )
        .withColumn("mean", F.col("vsum") / F.col("n"))
    )
    cols = ROLLUP_COLS + (["last_ts"] if with_last_ts else [])
    return out.select(*cols)


def rollup_cascade(day_df: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier into a coarser one (no raw re-scan).

    Means compose because ``vsum`` and ``n`` are summed; ``last`` is the
    last child bucket's last value.  NOTE: the float sum here merges
    already-shuffled child subtotals, so ``vsum``/``mean`` can differ
    from the flat fold by ~1 ulp and are NOT bit-reproducible across
    runs — use this path for incremental tier maintenance, and
    :func:`rollup_raw` when byte-exact parity is required (n, vmin,
    vmax, last are exact on both paths).
    """
    unit, _ = TIERS[tier]
    return (
        day_df
        .groupBy("doc_id", F.date_trunc(unit, "bucket_start").alias("bucket_start"))
        .agg(
            F.sum("n").alias("n"),
            F.sum("vsum").alias("vsum"),
            F.min("vmin").alias("vmin"),
            F.max("vmax").alias("vmax"),
            F.max_by("last", F.when(F.col("last").isNotNull(),
                                    F.col("bucket_start"))).alias("last"),
        )
        .withColumn("mean", F.col("vsum") / F.col("n"))
        .select(*ROLLUP_COLS)
    )


def rollup_tiers(long_df: DataFrame) -> dict[str, DataFrame]:
    """All tiers, each aggregated from the raw decoded stream.

    With the one-row-per-series token layout, every (doc, bucket) group's
    points live in a single input partition in positional order, so each
    tier's float fold is a deterministic left-to-right reduction —
    byte-exact against the numpy oracle.  (The cascade path trades that
    determinism for not re-scanning raw data; see
    :func:`rollup_cascade`.)
    """
    return {tier: rollup_raw(long_df, tier) for tier in TIERS}


def gapfill(rollup_df: DataFrame, tier: str,
            fill_cols: tuple = ("mean", "last"),
            method: str = "locf") -> DataFrame:
    """Densify each series to every tier bucket in its own [min, max]
    range and fill the requested value columns.

    ``method='locf'`` (default) forward-fills — the cloud-mask
    semantic; ``method='linear'`` interpolates between the previous
    and next OBSERVED bucket, weighted by bucket distance (edge
    buckets fall back to the available side) — the dashboard/regridding
    semantic every timeseries store ships next to LOCF.

    Pure Catalyst either way: per-doc ``sequence()`` scaffold
    (explode), left join back, then ordered windows —
    ``last(ignoreNulls)`` for LOCF; LOCF plus a forward
    ``first(ignoreNulls)`` pass (value and bucket timestamp) for the
    interpolation weights.  Rows added by the scaffold carry
    ``gap_filled = true``.
    """
    from pyspark.sql import Window as W

    if method not in ("locf", "linear"):
        raise ValueError(f"unknown gapfill method {method!r}")
    unit, interval = TIERS[tier]
    spans = rollup_df.groupBy("doc_id").agg(
        F.min("bucket_start").alias("b0"), F.max("bucket_start").alias("b1"))
    scaffold = spans.select(
        "doc_id",
        F.explode(F.expr(f"sequence(b0, b1, {interval})")).alias("bucket_start"))
    joined = scaffold.join(rollup_df, ["doc_id", "bucket_start"], "left")
    wb = (W.partitionBy("doc_id").orderBy("bucket_start")
          .rowsBetween(W.unboundedPreceding, 0))
    wf = (W.partitionBy("doc_id").orderBy("bucket_start")
          .rowsBetween(0, W.unboundedFollowing))
    out = joined.withColumn("gap_filled", F.col("n").isNull())
    for c in fill_cols:
        if method == "locf":
            out = out.withColumn(c, F.last(c, ignorenulls=True).over(wb))
            continue
        obs_ts = F.when(F.col(c).isNotNull(), F.col("bucket_start"))
        pv = F.last(c, ignorenulls=True).over(wb)
        pt = F.last(obs_ts, ignorenulls=True).over(wb)
        nv = F.first(c, ignorenulls=True).over(wf)
        nt = F.first(obs_ts, ignorenulls=True).over(wf)
        frac = (F.unix_seconds("bucket_start") - F.unix_seconds(pt)) \
            / (F.unix_seconds(nt) - F.unix_seconds(pt))
        out = out.withColumn(
            c,
            F.when(F.col(c).isNotNull(), F.col(c))
            .when(pv.isNull(), nv)          # before first obs: backfill
            .when(nv.isNull(), pv)          # after last obs: ffill
            .otherwise(pv + (nv - pv) * frac))
    return out.withColumn("n", F.coalesce("n", F.lit(0)))


def write_tier(df: DataFrame, base_path: str, tier: str,
               dynamic: bool = False, prune_stale: bool = False) -> None:
    """Persist a tier table partitioned by calendar period so retention
    expiry is a partition drop (Iceberg ``days(ts)`` partitioning analog).

    ``dynamic=True`` switches to dynamic partition overwrite: only the
    ``period=*`` partitions present in ``df`` are replaced and the tier
    ROOT is left alone — required when the tier dir also carries
    protocol files (``.upsert.lock``, staged-commit state) that a full
    ``mode("overwrite")`` would silently delete out from under a
    concurrent writer.

    ``prune_stale`` decides what happens to on-disk periods the new
    data does NOT cover, and the right answer depends on who else
    writes the tier — so it is explicit, not implied by ``dynamic``:

    - ``False`` (default): untouched periods survive.  REQUIRED when a
      streaming :func:`upsert_tier` sink shares the tier — a period it
      legitimately created from late data may be absent from this
      batch's input, and pruning it would destroy the only copy.
    - ``True``: untouched periods are deleted, restoring full-
      overwrite semantics (the tier equals exactly the rollup of
      ``df``) — for authoritative recomputes, where leftover months
      from a previous wider run would poison downstream cascades.

    Callers must hold the tier's writer lock in dynamic mode.  NULL
    ``bucket_start`` rows land in Hive's default partition; the prune
    maps them correctly and never deletes a just-written partition.
    """
    out = (df.withColumn("period",
                         F.date_format("bucket_start", "yyyy-MM")))
    if not dynamic:
        out.write.mode("overwrite").partitionBy("period") \
            .parquet(f"{base_path}/tier={tier}")
        return
    if prune_stale and "://" in base_path:
        # the prune walks the driver's LOCAL filesystem; on a URI path
        # it would silently match nothing and leave the stale months
        # the caller explicitly asked to remove
        raise ValueError(
            "write_tier(prune_stale=True) prunes via local filesystem "
            "paths; object stores need the catalog-native overwrite "
            "(catalog.py)")
    if prune_stale:
        # persist so the written-period set comes from the SAME
        # materialization as the write (no second run of the full
        # upstream plan inside the writer-lock window, no chance of a
        # divergent set under a non-deterministic source)
        out = out.persist()
    try:
        out.write.mode("overwrite").partitionBy("period") \
            .option("partitionOverwriteMode", "dynamic") \
            .parquet(f"{base_path}/tier={tier}")
        if not prune_stale:
            return
        written = set()
        for r in out.select("period").distinct().collect():
            # NULL periods are written under Hive's default-partition
            # sentinel — map them or the prune would delete the
            # partition this very write just produced
            written.add("__HIVE_DEFAULT_PARTITION__"
                        if r["period"] is None else r["period"])
        for d in Path(f"{base_path}/tier={tier}").glob("period=*"):
            if d.name.split("=", 1)[1] not in written:
                log.warning("write_tier: pruning stale partition %s "
                            "(not present in the new data)", d)
                shutil.rmtree(d)
    finally:
        if prune_stale:
            out.unpersist()


def _upsert_paths(tier_path: Path) -> tuple[Path, Path, Path]:
    """(staging dir, manifest file, tmp manifest) for upsert_tier's
    staged commit — all dot-prefixed so Spark partition discovery and
    this module's ``period=*`` globs never see in-flight state."""
    return (tier_path / ".upsert_stage",
            tier_path / ".upsert_manifest.json",
            tier_path / ".upsert_manifest.tmp")


def _upsert_backup(tier_path: Path, period: str) -> Path:
    """Backup dir for one period during the upsert publish.  The name
    is namespaced ``.upsert.period=P.old`` — deliberately DISJOINT from
    :func:`compact_partition`'s ``.period=P.old`` backups, so neither
    operation's crash recovery can sweep (and lose) the other's only
    copy of a partition."""
    return tier_path / f".upsert.period={period}.old"


class TierLockedError(RuntimeError):
    """Another writer holds the tier's upsert lock.  Raised instead of
    proceeding because a concurrent :func:`recover_tier` would roll back
    (and delete the staging of) the other writer's in-flight commit."""


#: default seconds a writer waits for the tier lock before failing
#: loudly; override per-deployment via $NRT_TIER_LOCK_TIMEOUT.  The
#: default must cover the LONGEST legitimate hold, not typical
#: contention: a co-deployed compaction rewrites a whole partition
#: under this lock (minutes for a multi-GB period), and timing out a
#: healthy streaming upserter against it would kill the streaming
#: query for doing exactly what the architecture co-deploys it to do.
TIER_LOCK_TIMEOUT = 600.0


@contextlib.contextmanager
def _tier_lock(tier_path: Path, timeout: "float | None" = None):
    """Single-writer guard for the staged-swap protocol: an ``flock``
    on ``.upsert.lock`` in the tier dir, held across
    recover → stage → publish → cleanup.

    The staged-swap paths (staging dir, manifest, backups) are fixed
    per-tier names, so two concurrent upserts — or a standalone
    ``recover_tier`` during one — would corrupt a publish on a shared
    filesystem.  Contention BLOCKS (bounded): the architecture
    deliberately co-deploys writers on one tier root — a streaming
    upsert sink's micro-batch commits overlap the batch job's startup
    recovery sweep and its lock-holding ``tier_tables`` cascade — so an
    expected-transient hold is waited out (poll + 100ms backoff) up to
    ``timeout`` seconds (default :data:`TIER_LOCK_TIMEOUT`, env
    ``NRT_TIER_LOCK_TIMEOUT``); only then does it fail loudly
    (:class:`TierLockedError` with the holder's recorded pid/host),
    which after a full timeout indicates a stuck writer, a deployment
    error — not ordinary contention.

    Why flock and not a create-exclusively lock FILE: the kernel
    releases an flock the instant its holder dies, so a crashed writer
    never wedges the tier and there is NO staleness probe — which also
    removes the probe's races (two stealers observing the same dead
    holder can each unlink the other's freshly created lock file and
    both "win"; an EPERM from ``os.kill`` is ambiguous; a kill between
    create and write leaves an unreadable lock).  The lock file itself
    is never deleted (unlinking an flocked path lets a second writer
    lock a NEW inode under the same name); its JSON content is purely
    diagnostic.  Cross-host: flock propagates on NFSv4 — on filesystems
    without remote flock semantics the guard is same-host only, like
    any advisory lock.
    """
    import fcntl

    if timeout is None:
        raw = os.environ.get("NRT_TIER_LOCK_TIMEOUT")
        if raw is None:
            timeout = TIER_LOCK_TIMEOUT
        else:
            # validate here, once, with a message naming the variable —
            # a bare float() ValueError would otherwise surface deep
            # inside every upsert/compaction as a cryptic stack
            try:
                timeout = float(raw)
            except ValueError:
                log.warning(
                    "NRT_TIER_LOCK_TIMEOUT=%r is not a number; "
                    "falling back to the default %ss",
                    raw, TIER_LOCK_TIMEOUT)
                timeout = TIER_LOCK_TIMEOUT
    tier_path.mkdir(parents=True, exist_ok=True)
    lock = tier_path / ".upsert.lock"
    fd = os.open(lock, os.O_CREAT | os.O_RDWR)
    try:
        deadline = time.monotonic() + timeout
        next_report = time.monotonic() + 5.0
        while True:
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                break
            except OSError:
                now = time.monotonic()
                if now >= deadline:
                    try:
                        holder = json.loads(lock.read_text())
                    except (OSError, ValueError):
                        holder = {}
                    raise TierLockedError(
                        f"tier {tier_path} is locked by another upsert "
                        f"writer ({holder or 'holder info unavailable'}) "
                        f"and was not released within {timeout}s; a "
                        f"crashed holder's lock is released by the "
                        f"kernel automatically, so a full timeout means "
                        f"the holder is alive and stuck (or the timeout "
                        f"is too short for its commit)") from None
                if now >= next_report:
                    # the wait can legitimately run minutes (a partition
                    # compaction under the same lock) — say who we are
                    # waiting on so the pipeline reads blocked, not hung
                    try:
                        holder = json.loads(lock.read_text())
                    except (OSError, ValueError):
                        holder = {}
                    log.warning(
                        "waiting on tier lock %s held by %s "
                        "(%.0fs left before TierLockedError)",
                        lock, holder or "unknown", deadline - now)
                    next_report = now + 30.0
                time.sleep(min(0.1, max(0.0, deadline - time.monotonic())))
        os.ftruncate(fd, 0)
        os.write(fd, json.dumps(
            {"pid": os.getpid(), "host": socket.gethostname()}).encode())
        os.fsync(fd)
        yield
    finally:
        os.close(fd)          # releases the flock; the file stays


def recover_tier(base_path: str, tier: str, _locked: bool = False) -> str:
    """Crash recovery for :func:`upsert_tier`'s staged commit; safe (and
    cheap) to call any time — :func:`upsert_tier` runs it on entry.

    The commit protocol makes every crash land in one of two states:

    - **manifest present** → the publish never committed.  Roll BACK:
      every period is restored from its ``.upsert.period=P.old`` backup
      (kept until commit, so rollback is always possible), periods that did
      not pre-exist are deleted, staging is discarded.  The table is
      byte-identical to before the upsert and the caller's retry
      re-applies the delta exactly once.
    - **manifest absent** → either nothing was in flight, or the upsert
      committed and crashed during cleanup.  Discard stale staging /
      backups; the live table is correct.

    Standalone calls take the tier's single-writer lock (see
    :func:`_tier_lock`) so recovery can never roll back another
    writer's in-flight commit; ``_locked`` is internal — set only by
    callers that already hold the tier's lock (:func:`upsert_tier` on
    entry, and ``rollup_job``'s locked ``tier_tables`` step).

    Returns "clean", "rolled_back", or "cleaned" (post-commit debris).
    """
    tier_path = Path(base_path) / f"tier={tier}"
    if not _locked:
        if not tier_path.exists():
            return "clean"                 # nothing to lock or recover
        with _tier_lock(tier_path):
            return recover_tier(base_path, tier, _locked=True)
    staging, manifest, tmp_manifest = _upsert_paths(tier_path)
    if manifest.exists():
        entries = json.loads(manifest.read_text())["periods"]
        for period, existed in entries.items():
            live = tier_path / f"period={period}"
            backup = _upsert_backup(tier_path, period)
            if not backup.exists():
                # manifest written by the short-lived pre-namespace code
                # version used '.period=P.old'; with a manifest present
                # that name can only be an upsert backup (an in-flight
                # compaction of the same period during an upsert is a
                # caller error), so honor it for the rollback
                legacy = tier_path / f".period={period}.old"
                if legacy.exists():
                    backup = legacy
            if backup.exists():
                if live.exists():
                    shutil.rmtree(live)
                backup.rename(live)
            elif not existed and live.exists():
                # new period already swapped in (no backup to restore)
                shutil.rmtree(live)
        if staging.exists():
            shutil.rmtree(staging)
        if tmp_manifest.exists():
            tmp_manifest.unlink()
        manifest.unlink()                  # last: re-entrant until here
        return "rolled_back"
    debris = False
    if staging.exists():                   # died before the manifest
        shutil.rmtree(staging)
        debris = True
    if tmp_manifest.exists():              # died between write and rename
        tmp_manifest.unlink()
        debris = True
    for backup in tier_path.glob(".upsert.period=*.old"):
        # upsert backups without a manifest ⇒ the commit happened
        # (manifest removal IS the commit point) and we died during
        # cleanup.  compact_partition's '.period=*.old' backups are a
        # different namespace and are NEVER touched here — they may be
        # the only copy of a partition mid-compaction-crash.
        shutil.rmtree(backup)
        debris = True
    return "cleaned" if debris else "clean"


def upsert_tier(spark, base_path: str, tier: str,
                delta_long: DataFrame,
                commit_token: "Path | str | None" = None) -> dict:
    """Incrementally fold late/new observations into a written tier —
    the continuous-aggregate maintenance step: no raw re-scan, no full
    rewrite.

    The tier must have been written ``with_last_ts`` (the timestamp
    behind ``last``): every aggregate then merges EXACTLY regardless of
    arrival order — n and vsum add, vmin/vmax fold, ``last`` is decided
    by the carried timestamps, never by which batch came first.  vsum
    adds already-folded subtotals, so like :func:`rollup_cascade` it can
    differ from a flat re-fold by ~1 ulp (documented trade of the
    incremental path).

    Scale shape: the delta's calendar periods select the affected
    partitions; only THOSE are read, merged (one shuffle on
    (doc_id, bucket_start)) and staged — cost ∝ touched periods, not
    table size.  On Iceberg this is MERGE INTO with partition
    predicates.

    Commit protocol (plain parquet): the merged periods are written to a
    dot-prefixed staging directory, a manifest records the touched
    periods, each period is published by rename with its previous
    content kept as a backup, and the atomic removal of the manifest is
    the commit point (the same staged-swap idea
    :func:`compact_partition` uses, extended with rollback so an
    ADDITIVE operation is never half-applied).  A crash anywhere is
    repaired by :func:`recover_tier`: before the commit point the table
    rolls back to its exact prior state (the retry re-applies the delta
    once); after it, only debris is removed.  ``commit_token``, if
    given, is a marker file path that the commit point atomically
    creates (the manifest is renamed onto it): token exists ⇔ the merge
    committed, which is what makes the streaming sink's redelivery
    ledger exactly-once on plain parquet.

    Returns {"periods": [...], "buckets_before": n, "buckets_after": m}.
    """
    if "://" in base_path:
        raise ValueError(
            "upsert_tier drives local/shared-filesystem layouts; object "
            "stores need the Iceberg MERGE INTO path (catalog.py)")
    # single-writer guard: the staged-swap paths are fixed per-tier
    # names, so a second concurrent writer (or a recover_tier call
    # mid-commit) would corrupt the publish — fail loudly instead
    with _tier_lock(Path(base_path) / f"tier={tier}"):
        return _upsert_tier_locked(spark, base_path, tier, delta_long,
                                   commit_token)


def _upsert_tier_locked(spark, base_path: str, tier: str,
                        delta_long: DataFrame,
                        commit_token: "Path | str | None") -> dict:
    """Body of :func:`upsert_tier`, run under the tier's writer lock."""
    # repair any crashed previous upsert BEFORE reading the table or
    # deciding create-vs-merge — a rolled-back table is then exactly
    # the pre-crash committed state
    recover_tier(base_path, tier, _locked=True)
    token = Path(commit_token) if commit_token is not None else None
    delta = rollup_raw(delta_long, tier, with_last_ts=True) \
        .withColumn("period", F.date_format("bucket_start", "yyyy-MM")) \
        .persist()
    periods = sorted(r["period"] for r in
                     delta.select("period").distinct().collect())
    if not periods:
        delta.unpersist()
        if token is not None:
            token.parent.mkdir(parents=True, exist_ok=True)
            token.touch()
        return {"periods": [], "buckets_before": 0, "buckets_after": 0}
    tier_path = f"{base_path}/tier={tier}"
    # create-vs-merge discriminator: COMMITTED content, not bare dir
    # existence — a crashed bootstrap leaves the dir with only staged
    # junk, and the merge path would then wedge every retry on an
    # unreadable table instead of re-bootstrapping.  The bootstrap goes
    # through the SAME staged publish as the merge (rollback deletes
    # the new periods, the token is created by the commit rename), so
    # the exactly-once contract holds for the first batch too.
    if not any(Path(tier_path).glob("period=*")):
        n = _stage_and_publish(Path(tier_path), delta, periods, token)
        delta.unpersist()
        return {"periods": periods, "buckets_before": 0,
                "buckets_after": n}
    existing = (spark.read.option("basePath", tier_path).parquet(tier_path)
                .filter(F.col("period").isin(periods)))
    if "last_ts" not in existing.columns:
        raise ValueError(
            "upsert_tier requires a tier written with_last_ts=True; "
            "rewrite the tier with rollup_raw(..., with_last_ts=True)")
    buckets_before = existing.count()
    e = existing.select(
        "doc_id", "bucket_start",
        *[F.col(c).alias(f"e_{c}") for c in
          ("n", "vsum", "vmin", "vmax", "last", "last_ts")])
    d = delta.select(
        "doc_id", "bucket_start",
        *[F.col(c).alias(f"d_{c}") for c in
          ("n", "vsum", "vmin", "vmax", "last", "last_ts")])
    j = e.join(d, ["doc_id", "bucket_start"], "full_outer")

    def both(fn, c):
        return fn(F.col(f"e_{c}"), F.col(f"d_{c}"))

    delta_wins = (F.col("e_last_ts").isNull()
                  | (F.col("d_last_ts") > F.col("e_last_ts")))
    merged = j.select(
        "doc_id", "bucket_start",
        (F.coalesce("e_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
        .alias("n"),
        # all-gap buckets keep a NULL vsum (not 0.0) to match rollup_raw
        F.when(F.coalesce("e_n", F.lit(0)) + F.coalesce("d_n", F.lit(0)) > 0,
               F.coalesce("e_vsum", F.lit(0.0))
               + F.coalesce("d_vsum", F.lit(0.0))).alias("vsum"),
        both(F.least, "vmin").alias("vmin"),
        both(F.greatest, "vmax").alias("vmax"),
        F.when(F.col("d_last_ts").isNotNull() & delta_wins,
               F.col("d_last")).otherwise(F.col("e_last")).alias("last"),
        both(F.greatest, "last_ts").alias("last_ts"),
    ).withColumn("mean", F.when(F.col("n") > 0,
                                F.col("vsum") / F.col("n"))) \
     .withColumn("period", F.date_format("bucket_start", "yyyy-MM")) \
     .select(*ROLLUP_COLS, "last_ts", "period")
    buckets_after = _stage_and_publish(Path(tier_path), merged, periods,
                                       token)
    delta.unpersist()
    return {"periods": periods, "buckets_before": buckets_before,
            "buckets_after": buckets_after}


def _stage_and_publish(tp: Path, frame: DataFrame, periods: list[str],
                       token: "Path | None") -> int:
    """upsert_tier's staged-swap commit, shared by the bootstrap and
    merge paths.  Returns the published row count.

    ``frame`` (which must carry a ``period`` column covering exactly
    ``periods``) is written NEXT TO the live partitions, so its lineage
    can safely re-read them on task retry and a crash during the write
    leaves the table untouched.  Then: manifest (atomic tmp+rename) →
    per-period rename publish with backups kept → COMMIT POINT = the
    manifest's atomic retirement.  With a ``token`` the manifest
    BECOMES the token in that one rename, so token-exists ⇔ committed
    with no window between them."""
    staging, manifest, tmp_manifest = _upsert_paths(tp)
    tp.mkdir(parents=True, exist_ok=True)
    frame.write.mode("overwrite").partitionBy("period") \
        .parquet(str(staging))
    # row count from the staged footers: metadata-only, no second job
    import pyarrow.parquet as pq
    n_rows = sum(pq.ParquetFile(f).metadata.num_rows
                 for f in staging.glob("period=*/*.parquet"))
    # manifest = the in-flight record recover_tier rolls back from;
    # written atomically (tmp + rename) AFTER staging is complete
    entries = {p: (tp / f"period={p}").exists() for p in periods}
    tmp_manifest.write_text(json.dumps({"periods": entries}))
    os.replace(tmp_manifest, manifest)
    for period in periods:
        live = tp / f"period={period}"
        backup = _upsert_backup(tp, period)
        if live.exists():
            live.rename(backup)            # kept until the commit point
        staged_p = staging / f"period={period}"
        if not staged_p.exists():          # defensive: the frame always
            raise RuntimeError(            # covers every delta period
                f"staged partition missing: {staged_p}")
        staged_p.rename(live)
    if token is not None:
        token.parent.mkdir(parents=True, exist_ok=True)
        try:
            os.replace(manifest, token)
        except OSError:
            # token on a different filesystem: commit first, then mark.
            # A crash between the two re-applies this one batch
            # (at-least-once) — never data loss, which is why the
            # commit must precede the token here.  Co-locate tokens
            # with the tier (the streaming sink does) to get the
            # atomic single-rename path instead.
            manifest.unlink()
            token.touch()
    else:
        manifest.unlink()
    # cleanup is post-commit and best-effort: the merge IS committed,
    # so a cleanup failure must not fail the batch (a lineage/ledger
    # retry would double-apply it); recover_tier sweeps the debris —
    # but log it, so a PERSISTENT failure (e.g. permissions) that would
    # silently accumulate backups is visible to the operator
    try:
        shutil.rmtree(staging)
        for period in periods:
            backup = _upsert_backup(tp, period)
            if backup.exists():
                shutil.rmtree(backup)
    except OSError as exc:
        log.warning("post-commit cleanup of %s left debris (%s); "
                    "recover_tier will re-sweep, but investigate if "
                    "this repeats — backups accumulate", tp, exc)
    return n_rows


def compact_partition(spark, path: str, target_mb: int = 128,
                      lock: bool = True) -> dict:
    """Small-file compaction for one written partition directory: rewrite
    its parquet files into ``ceil(bytes / target_mb)`` files.

    The cluster-scale failure mode this prevents: incremental rollup
    jobs append a few small files per run, and a year of runs turns a
    partition into thousands of KB-sized files whose open/footer cost
    dominates scans.  Compaction reads the partition once, writes the
    right-sized files to a DOT-PREFIXED staging directory (invisible to
    Spark partition discovery and to the glob patterns this module
    uses), then publishes via rename.  Crash recovery runs first: a
    stale staging dir is discarded, and a partition stranded mid-swap
    (backup present, live dir missing) is restored before anything
    else happens — so re-running after a kill at any point converges.
    On object stores use the catalog's rewrite (e.g. Iceberg
    ``rewrite_data_files``); this operates on local/NFS paths only.

    SERIALIZED with the upsert writers: compaction renames the same
    live partition directory a co-deployed streaming upsert sink (or
    the batch job's tier_tables step) publishes into, so it takes the
    PARENT directory's single-writer flock (:func:`_tier_lock`) for
    the duration of the read + swap.  The parent is the right lock
    root for both layouts this function is applied to — and the lock
    must sit OUTSIDE the renamed directory (an flock file inside it
    would be renamed away mid-swap, orphaning the held inode so a
    later writer could acquire a fresh lock file while the old one is
    still held):

    - ``.../tier=X/period=Y`` (the ``write_tier``/``upsert_tier``
      layout): the parent IS the tier dir, so this is exactly the
      upsert protocol's lock — compactor and co-deployed upserter
      contend on one file.  (Compacting the ``tier=X`` LEVEL of this
      layout is a structural no-op: the tier dir holds only
      ``period=`` subdirs, no parquet files, so it reports ``skipped``
      without taking the swap path.)
    - ``.../blocks/tier=X`` (the compressed-blocks layout, where tier
      is the LEAF partition with parquet files directly inside): no
      upsert protocol exists on this layout — the blocks dir is only
      ever fully overwritten by the job's serial ``rollup_blocks``
      step — so the parent (blocks-root) lock serializes concurrent
      compactors, the only concurrent writers possible there.

    Per-partition acquire/release keeps holds short, so a concurrent
    upserter waits at most one partition's rewrite.  ``lock=False`` is
    for callers that already hold the tier lock.

    Returns:
        {files_before, files_after, bytes, skipped}
    """
    if target_mb <= 0:
        raise ValueError("target_mb must be positive")
    if "://" in path:
        raise ValueError(
            "compact_partition renames local/NFS directories; on object "
            "stores use the table format's rewrite (Iceberg "
            "rewrite_data_files)")
    p = Path(path)
    if lock:
        with _tier_lock(p.parent):
            return compact_partition(spark, path, target_mb, lock=False)
    staged = p.parent / f".{p.name}.compact"
    backup = p.parent / f".{p.name}.old"
    # crash recovery (idempotent): stale staging is garbage; a missing
    # live dir with a backup means we died between the two renames
    if staged.exists():
        shutil.rmtree(staged)
    if backup.exists():
        if p.exists():
            shutil.rmtree(backup)          # died before backup cleanup
        else:
            backup.rename(p)               # died mid-swap: restore
    files = sorted(p.glob("*.parquet"))
    total = sum(f.stat().st_size for f in files)
    n_out = max(1, -(-total // (target_mb << 20)))
    if len(files) <= n_out:
        return {"files_before": len(files), "files_after": len(files),
                "bytes": total, "skipped": True}
    (spark.read.parquet(str(p)).coalesce(int(n_out))
     .write.mode("overwrite").parquet(str(staged)))
    p.rename(backup)
    staged.rename(p)
    shutil.rmtree(backup)
    after = len(list(p.glob("*.parquet")))
    return {"files_before": len(files), "files_after": after,
            "bytes": total, "skipped": False}


def compact_tiers(spark, base_path: str, target_mb: int = 128) -> dict:
    """Compact every tier partition under ``base_path`` (the layout
    ``write_tier`` produces: tier=X/period=YYYY-MM).  Returns per-
    partition stats keyed by relative path."""
    stats = {}
    for part in sorted(Path(base_path).glob("tier=*/period=*")):
        stats[str(part.relative_to(base_path))] = compact_partition(
            spark, str(part), target_mb)
    return stats


def expire_tier(base_path: str, tier: str, keep_after: str) -> list[str]:
    """Retention: drop whole partition directories whose period is older
    than ``keep_after`` (YYYY-MM).  Returns the dropped partition names.

    This is the parquet stand-in for an Iceberg
    ``expire_snapshots``/``DROP PARTITION`` metadata operation — no data
    rewrite, O(#partitions) filesystem work.
    """
    tier_dir = Path(base_path) / f"tier={tier}"
    dropped = []
    for p in sorted(tier_dir.glob("period=*")):
        period = p.name.split("=", 1)[1]
        if period < keep_after:
            shutil.rmtree(p)
            dropped.append(p.name)
    return dropped


def lttb_select(days: "np.ndarray", values: "np.ndarray",
                n_out: int) -> "np.ndarray":
    """Largest-Triangle-Three-Buckets downsampling for ONE series:
    returns the indices of the ``n_out`` points that best preserve the
    series' visual shape (Steinarsson 2013, the visualization-grade
    downsample every timeseries store ships alongside tier means).

    Deterministic: NaN gaps are excluded by the caller; equal triangle
    areas resolve to the FIRST maximal point (np.argmax), and bucket
    boundaries come from integer linspace — any process reproduces the
    same selection.  First and last points are always kept.
    """
    import numpy as np

    n = len(values)
    if n_out < 3:
        raise ValueError("lttb needs n_out >= 3 (first + last + 1)")
    if n_out >= n:
        return np.arange(n)
    # bucket boundaries over the interior points (exclusive of the
    # pinned first/last), classic LTTB layout
    bounds = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    out = np.empty(n_out, dtype=np.int64)
    out[0] = 0
    a = 0                                   # last selected point
    x = days.astype(np.float64)
    for i in range(n_out - 2):
        lo, hi = bounds[i], bounds[i + 1]
        nxt_lo, nxt_hi = bounds[i + 1], (n if i == n_out - 3
                                         else bounds[i + 2])
        # the "third point" is the NEXT bucket's average
        cx = x[nxt_lo:nxt_hi].mean()
        cy = values[nxt_lo:nxt_hi].mean()
        # triangle area vs the previously selected point, vectorized
        # over this bucket's candidates
        area = np.abs((x[a] - cx) * (values[lo:hi] - values[a])
                      - (x[a] - x[lo:hi]) * (cy - values[a]))
        a = lo + int(np.argmax(area))
        out[i + 1] = a
    out[-1] = n - 1
    return out


def lttb_downsample(long_df: DataFrame, n_out: int = 20) -> DataFrame:
    """Per-series LTTB downsample of the decoded long stream — the
    shape-preserving companion to the tier rollups (a dashboard pulls
    ``n_out`` points per series instead of every bucket).

    Plan shape: ONE shuffle on ``doc_id`` (the same key every other
    per-series stage uses — on the bucketed/Iceberg layout it
    disappears into storage partitioning), then a vectorized numpy
    kernel per series inside ``applyInPandas``.  Gap (NULL) points are
    dropped before selection, mirroring how a renderer treats missing
    samples.  Output: (doc_id, ts, value), the selected points only.
    """
    import numpy as np
    import pandas as pd

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # stable sort + value tiebreaker: duplicate timestamps (late /
        # re-delivered points) must not make the selection depend on
        # shuffle arrival order
        pdf = pdf.sort_values(["ts", "value"], kind="mergesort")
        keep = pdf["value"].notna().to_numpy()
        pdf = pdf[keep]
        if not len(pdf):
            return pdf
        # microsecond x axis: on sub-second data a [s]-truncated axis
        # collapses distinct timestamps to tied x values, making the
        # selection depend on truncation instead of real spacing
        xs = pdf["ts"].to_numpy(dtype="datetime64[us]").astype(np.int64)
        idx = lttb_select(xs, pdf["value"].to_numpy(np.float64), n_out)
        return pdf.iloc[idx]

    return (long_df.select("doc_id", "ts", "value")
            .groupBy("doc_id")
            .applyInPandas(pick,
                           "doc_id string, ts timestamp, value double"))


def lttb_downsample_tokens(tokens_df: DataFrame,
                           n_out: int = 20) -> DataFrame:
    """Token-layout LTTB fastpath: the token table already holds one
    row per series, so the downsample is a single ``mapInPandas`` pass
    with ZERO shuffle — decode, gap-drop and select happen per Arrow
    batch, and the per-series kernel runs over plain numpy slices
    instead of one pandas group per series (the generic
    :func:`lttb_downsample` pays ~0.5 ms of grouped-map machinery per
    series, which at 100k+ series dominates the math ~25x).

    Bit-identical output to ``lttb_downsample(decode_long(tokens))``
    (parity-tested): same microsecond-resolution x axis, same kernel,
    same tie rule; a NULL ``tokens`` row, like an all-gap one, yields
    no rows.
    """
    import numpy as np
    import pandas as pd

    from nrt_spark.tokens import GAP_TOKEN, SCALE, grid_days, token_array

    def gen(batches):
        for pdf in batches:
            docs, tss, vals = [], [], []
            for doc, tok in zip(pdf["doc_id"], pdf["tokens"]):
                t = token_array(tok)
                days = grid_days(len(t))
                keep = t != GAP_TOKEN
                d, v = days[keep], t[keep].astype(np.float64) / SCALE
                if not len(d):
                    continue
                # x axis in µs to stay bit-identical with the generic
                # path (LTTB areas scale uniformly, but keep both axes
                # equal so tie-rounding can never diverge)
                idx = lttb_select(d * 86400 * 1_000_000, v, n_out)
                docs.append(np.repeat(doc, len(idx)))
                tss.append(d[idx] * 86400)
                vals.append(v[idx])
            if docs:
                yield pd.DataFrame({
                    "doc_id": np.concatenate(docs),
                    "ts": np.concatenate(tss).astype("datetime64[s]"),
                    "value": np.concatenate(vals),
                })

    return tokens_df.select("doc_id", "tokens").mapInPandas(
        gen, "doc_id string, ts timestamp, value double")
