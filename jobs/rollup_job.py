#!/usr/bin/env python3
"""Production job entrypoint: spark-submit --py-files nrt_spark.zip
jobs/rollup_job.py [options]

Runs the full checkpoint-resumable pipeline:

  token table -> fit(monitor) -> monitor -> state snapshot
              -> tier rollup + Gorilla blocks -> block table
  with per-step lineage in a metrics table (re-running the same
  --job-id skips completed steps).

Input is either an existing parquet token table (--input) or the
deterministic synthetic generator (--n-docs).  Prints one JSON summary
line on completion.

Packaging: ``python jobs/rollup_job.py --make-pyfiles dist/`` writes the
nrt_spark.zip to ship with --py-files.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import zipfile
from pathlib import Path

# allow running both via spark-submit --py-files and from the repo root
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def make_pyfiles(out_dir: str) -> str:
    """Zip the nrt_spark package for --py-files distribution."""
    pkg = Path(__file__).resolve().parent.parent / "nrt_spark"
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    zip_path = out / "nrt_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for py in sorted(pkg.rglob("*.py")):
            zf.write(py, py.relative_to(pkg.parent))
    return str(zip_path)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--make-pyfiles", metavar="DIR",
                    help="write nrt_spark.zip to DIR and exit")
    ap.add_argument("--input", help="parquet token table path")
    ap.add_argument("--n-docs", type=int, default=10000,
                    help="synthesize this many series when no --input")
    ap.add_argument("--n-obs", type=int, default=130)
    ap.add_argument("--output", required=False, default="/tmp/nrt_out",
                    help="output root (state/, blocks/, metrics/)")
    ap.add_argument("--monitor", default="ewma",
                    choices=["ewma", "cusum", "mosum", "ccdc", "iqr"])
    ap.add_argument("--history-end", default="2016-05-10")
    ap.add_argument("--num-buckets", type=int, default=64)
    ap.add_argument("--job-id", default="job0",
                    help="resume key: completed steps are skipped")
    ap.add_argument("--compact-target-mb", type=int, default=0,
                    help="when > 0, add a small-file compaction step "
                         "over the block partitions")
    ap.add_argument("--full-refresh", action="store_true",
                    help="tier_tables prunes period partitions absent "
                         "from this run's input (authoritative "
                         "recompute). Default preserves them — they "
                         "may be streaming-upserted late data")
    ap.add_argument("--bucketed-layout", action="store_true",
                    help="write the token table bucket-partitioned on "
                         "doc_id as an explicit (resumable) ingest step, "
                         "then run the ZERO-SHUFFLE fit/monitor fastpath "
                         "over it — the Iceberg bucket(N, doc_id) shape")
    args = ap.parse_args(argv)

    if args.make_pyfiles:
        print(make_pyfiles(args.make_pyfiles))
        return 0

    from pyspark.sql import SparkSession

    # spark.driver.memory only takes effect at JVM launch, so under
    # spark-submit the submit conf wins; as a plain script it stops the
    # LOCAL driver JVM from capping at 1g (which made parquet writers
    # thrash row groups at >=500k series)
    spark = (SparkSession.builder.appName("nrt_rollup_job")
             .config("spark.driver.memory",
                     os.environ.get("NRT_JOB_DRIVER_MEM", "8g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from nrt_spark.datagen import generate_tokens
    from nrt_spark.engine import NrtEngine
    from nrt_spark.fastpath import rollup_compress_tokens
    from nrt_spark.lineage import ResumableJob

    out = args.output
    t0 = time.time()
    if args.input:
        tokens = spark.read.parquet(args.input)
    else:
        tokens = generate_tokens(
            spark, args.n_docs, n_obs=args.n_obs,
            partitions=spark.sparkContext.defaultParallelism)
    tokens = tokens.persist()
    n_tokens_rows = tokens.count()

    eng = NrtEngine(spark, args.monitor, num_buckets=args.num_buckets,
                    **({"trend": False, "method": "OLS"}
                       if args.monitor in ("cusum", "mosum") else {}))
    job = ResumableJob(spark, args.job_id, f"{out}/metrics")

    from nrt_spark.rollup import (TIERS, _tier_lock, recover_tier,
                                  rollup_cascade, rollup_raw, write_tier)
    from nrt_spark.tokens import decode_long

    # crash recovery FIRST, before any step runs: a previous run (or a
    # streaming upsert sink sharing this tiers root) killed mid-commit
    # leaves a staged tier publish; repair every tier so a rerun never
    # reads — or writes next to — half-published state.  No-op ("clean")
    # in the common case.
    tiers_root = f"{out}/tiers"
    recovered = {t: recover_tier(tiers_root, t) for t in TIERS
                 if Path(f"{tiers_root}/tier={t}").exists()}

    def tier_tables():
        # day tier carries last_ts so late data can later be folded in
        # via upsert_tier (the streaming sink path); week/month cascade
        # from the WRITTEN day tier — no raw re-scan.  Writes use
        # DYNAMIC partition overwrite so the tier roots' protocol files
        # are never clobbered; periods the batch input does not cover
        # are PRESERVED by default (they may be streaming-owned late
        # data) — --full-refresh opts into pruning them for an
        # authoritative recompute.  The DAY lock is held for the WHOLE
        # step: the cascade re-reads the day tier, and a streaming
        # upserter slipping in between the day write and that read
        # would rename files out from under the captured scan.  Lock
        # order day -> week -> month is fixed, so no deadlock with any
        # same-ordered writer.  Recovery runs again UNDER each held
        # lock: a streaming upserter that crashed mid-publish after our
        # startup sweep (its flock auto-released) leaves a manifest +
        # backups that a LATER recovery would roll back over the data
        # we are about to write.
        prune = bool(args.full_refresh)
        with _tier_lock(Path(tiers_root) / "tier=day"):
            recover_tier(tiers_root, "day", _locked=True)
            write_tier(rollup_raw(decode_long(tokens), "day",
                                  with_last_ts=True), tiers_root, "day",
                       dynamic=True, prune_stale=prune)
            day = (spark.read.parquet(f"{tiers_root}/tier=day")
                   .drop("period"))
            for t in ("week", "month"):
                with _tier_lock(Path(tiers_root) / f"tier={t}"):
                    recover_tier(tiers_root, t, _locked=True)
                    write_tier(rollup_cascade(day, t), tiers_root, t,
                               dynamic=True, prune_stale=prune)
        return None

    # --full-refresh must actually run: a resumed job-id would
    # otherwise skip the completed step and silently never prune
    ran_tiers = job.step("tier_tables", tier_tables,
                         force=bool(args.full_refresh))

    if args.bucketed_layout:
        from nrt_spark.engine import write_tokens_bucketed

        def ingest_bucketed():
            # the ONLY shuffle of the monitoring loop: paid once at
            # ingest; every fit/monitor pass after it is Exchange-free
            write_tokens_bucketed(tokens, f"{out}/tokens_bucketed",
                                  args.num_buckets)
            return None

        ran_ingest = job.step("ingest_bucketed", ingest_bucketed)

        def fit_and_monitor():
            state = eng.fit_bucketed(f"{out}/tokens_bucketed",
                                     history_end=args.history_end)
            eng.save_state(state, f"{out}/state_fit")
            state = eng.monitor_bucketed(f"{out}/state_fit",
                                         f"{out}/tokens_bucketed")
            eng.save_state(state, f"{out}/state")
            return eng.load_state(f"{out}/state")
    else:
        def fit_and_monitor():
            state = eng.fit(tokens, history_end=args.history_end)
            state = eng.monitor(state, tokens)
            eng.save_state(state, f"{out}/state")
            return eng.load_state(f"{out}/state")

    def rollup_blocks():
        blocks = rollup_compress_tokens(tokens)
        blocks.write.mode("overwrite").partitionBy("tier") \
            .parquet(f"{out}/blocks")
        return spark.read.parquet(f"{out}/blocks")

    ran_monitor = job.step("fit_monitor", fit_and_monitor)
    ran_rollup = job.step("rollup_blocks", rollup_blocks)
    ran_compact = None
    if args.compact_target_mb > 0:
        from nrt_spark.rollup import compact_partition

        def compact_blocks():
            for part in sorted(Path(f"{out}/blocks").glob("tier=*")):
                compact_partition(spark, str(part),
                                  args.compact_target_mb)
            return None

        ran_compact = job.step("compact_blocks", compact_blocks)

    from nrt_spark.compress import compression_stats

    stats = compression_stats(spark.read.parquet(f"{out}/blocks"))
    state = spark.read.parquet(f"{out}/state")
    masks = {str(r["mask"]): r["count"] for r in
             state.groupBy("mask").count().collect()}
    print(json.dumps({
        "job_id": args.job_id,
        "rows_in": n_tokens_rows,
        "steps_executed": {**({"ingest_bucketed": ran_ingest}
                              if args.bucketed_layout else {}),
                           "tier_tables": ran_tiers,
                           "fit_monitor": ran_monitor,
                           "rollup_blocks": ran_rollup,
                           **({"compact_blocks": ran_compact}
                              if ran_compact is not None else {})},
        "tiers_recovered": recovered,
        "mask_counts": masks,
        "rolled_points": stats["total_points"],
        "bytes_per_point": round(stats["bytes_per_point"], 3),
        "wall_sec": round(time.time() - t0, 2),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
