#!/usr/bin/env python3
"""``chmod`` processes, process-tree CPU and wall per local Spark write
on a ``get_spark`` session.

Before the session starts, a logging ``chmod`` wrapper (a shell script
that appends its arguments to a log and execs the real ``chmod``) goes
first on ``PATH``, so every ``chmod`` Hadoop's local filesystem forks
shows up as one log line.  Each write then runs ``--reps`` times:

- ``partitioned``: ``spark.range(100, numPartitions=3)`` written with
  ``partitionBy`` on ``id % 3`` (9 part files in 3 directories);
- ``save_state``: ``NrtEngine.save_state`` of an ewma fit of 64 series
  in 16 buckets (the fit is checkpointed first, so only the write runs);
- ``stream_checkpoint``: a streaming query that runs one ``availableNow``
  micro-batch from a parquet directory to the ``noop`` sink with a fresh
  checkpoint location, so the only files written are the checkpoint's.

Usage:
    python tools/fs_spawn_cost.py [--reps 5] [--cores 4] [--stock]

``--stock`` leaves ``spark.hadoop.fs.file.impl`` unset, as a session
without the compiled filesystem jar does, for a before/after on one
host.  Prints one JSON line with, per write, the medians over
``--reps`` of ``chmod_per_write``, ``tree_cpu_s_per_write`` (driver,
JVM and everything they fork, from ``/proc``) and ``wall_s_per_write``.
The CPU and wall include the wrapper's own ``sh`` start, so they
slightly overstate what a ``chmod`` costs without it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


def _wrap_chmod(tmp: Path) -> Path:
    """Put a logging ``chmod`` first on ``PATH``; returns its log."""
    real = shutil.which("chmod")
    wrap, log = tmp / "bin", tmp / "chmod.log"
    wrap.mkdir()
    (wrap / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {real} "$@"\n')
    (wrap / "chmod").chmod(0o755)
    log.touch()
    os.environ["PATH"] = os.pathsep.join([str(wrap), os.environ["PATH"]])
    return log


def _writes(spark, tmp: Path) -> dict:
    """name -> fn(out_dir) running that write once into ``out_dir``."""
    from pyspark.sql import functions as F

    from nrt_spark.datagen import generate_tokens
    from nrt_spark.engine import NrtEngine

    table = spark.range(100, numPartitions=3).withColumn("p", F.col("id") % 3)
    eng = NrtEngine(spark, "ewma", num_buckets=16, trend=False)
    state = eng.fit(generate_tokens(spark, 64, n_obs=130),
                    history_end="2016-05-10").localCheckpoint()
    src = str(tmp / "stream_src")
    spark.range(10).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def stream(out: str) -> None:
        (spark.readStream.schema(schema).parquet(src).writeStream
         .format("noop").option("checkpointLocation", out)
         .trigger(availableNow=True).start().awaitTermination())

    return {
        "partitioned": lambda out: table.write.partitionBy("p").parquet(out),
        "save_state": lambda out: eng.save_state(state, out),
        "stream_checkpoint": stream,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--stock", action="store_true",
                    help="leave spark.hadoop.fs.file.impl unset")
    args = ap.parse_args()

    os.environ.setdefault("NRT_SESSION_WARMUP", "0")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = Path(tempfile.mkdtemp(prefix="fs_spawn_cost-"))
    log = _wrap_chmod(tmp)
    from nrt_spark import session
    from perfbench.probes import ProcTree

    if args.stock:
        # what a session gets when the jar cannot be built
        session._local_fs_jar = lambda *a: None
    spark = session.get_spark(cores=args.cores, app_name="fs_spawn_cost",
                              driver_memory="2g")
    tree = ProcTree()
    try:
        writes = _writes(spark, tmp)
        out = {"cores": args.cores, "reps": args.reps,
               "fs_file_impl": spark.sparkContext.getConf().get(
                   "spark.hadoop.fs.file.impl", None),
               "writes": {}}
        for name, write in writes.items():
            write(str(tmp / f"{name}-warm"))        # plans and JIT, discarded
            runs = []
            for i in range(args.reps):
                lines0 = log.read_text().count("\n")
                cpu0, t0 = tree.cpu_s(), time.perf_counter()
                write(str(tmp / f"{name}-{i}"))
                runs.append((log.read_text().count("\n") - lines0,
                             tree.cpu_s() - cpu0, time.perf_counter() - t0))
            out["writes"][name] = {
                key: round(statistics.median(r[j] for r in runs), 4)
                for j, key in enumerate(("chmod_per_write",
                                         "tree_cpu_s_per_write",
                                         "wall_s_per_write"))}
        print(json.dumps(out))
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
