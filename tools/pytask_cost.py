#!/usr/bin/env python3
"""Fixed cost of one Python task: a trivial ``mapInPandas`` at 4 and 16
tasks on a ``get_spark`` session.

For each task count it runs an identity ``mapInPandas`` over
``spark.range(T, numPartitions=T)`` several times and reads the CPU of
the whole process tree (driver, JVM, Python daemon and workers;
``/proc`` utime+stime+cutime+cstime) around each run.  A separate job
then reports, from inside every task, the time of one
``importlib.invalidate_caches()`` (the call
``pyspark.worker_util.setup_spark_files`` makes once per task), the
worker's cached ``zipimporter`` entries and where it imported pyspark
from.

Usage:
    python tools/pytask_cost.py [--tasks 4 16] [--reps 3] [--cores 4]
        [--daemon-module pyspark.daemon]

``--daemon-module pyspark.daemon`` runs Spark's stock daemon instead of
the session default, for a before/after on one host.  Prints one JSON
line: ``tree_cpu_s_per_task`` per task count (median over ``--reps``),
``marginal_cpu_s_per_task`` (the CPU difference between the largest and
smallest task count per extra task) and the workers' report.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

PROBE_SCHEMA = ("pid long, invalidate_s double, pyspark_file string, "
                "zipimporters array<string>")


def identity(batches):
    yield from batches


def probe(batches):
    """One row per task: a timed ``invalidate_caches()`` and import state."""
    import importlib
    import sys as _sys
    import zipimport

    import pandas as pd
    import pyspark

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    took = time.perf_counter() - t0
    zips = sorted(k for k, v in _sys.path_importer_cache.items()
                  if isinstance(v, zipimport.zipimporter))
    yield pd.DataFrame({"pid": [os.getpid()], "invalidate_s": [took],
                        "pyspark_file": [pyspark.__file__],
                        "zipimporters": [zips]})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--tasks", type=int, nargs="+", default=[4, 16])
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--daemon-module", default=None,
                    help="spark.python.daemon.module override")
    args = ap.parse_args()

    os.environ.setdefault("NRT_SESSION_WARMUP", "0")
    os.environ.setdefault("OPENBLAS_NUM_THREADS", "1")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from nrt_spark.session import get_spark
    from perfbench.probes import ProcTree

    extra = ({"spark.python.daemon.module": args.daemon_module}
             if args.daemon_module else None)
    spark = get_spark(cores=args.cores, app_name="pytask_cost",
                      driver_memory="2g", extra_conf=extra)
    tree = ProcTree()
    try:
        def run(tasks: int) -> tuple:
            df = spark.range(tasks, numPartitions=tasks).mapInPandas(
                identity, "id long")
            cpu0, t0 = tree.cpu_s(), time.perf_counter()
            df.collect()
            return tree.cpu_s() - cpu0, time.perf_counter() - t0

        run(args.cores)   # daemon start and worker imports, discarded
        out = {"cores": args.cores,
               "daemon_module": spark.sparkContext.getConf().get(
                   "spark.python.daemon.module", "pyspark.daemon"),
               "tree_cpu_s_per_task": {}, "wall_s": {}}
        cpu_by_tasks = {}
        for tasks in args.tasks:
            runs = [run(tasks) for _ in range(args.reps)]
            cpu_by_tasks[tasks] = statistics.median(r[0] for r in runs)
            out["tree_cpu_s_per_task"][str(tasks)] = round(
                cpu_by_tasks[tasks] / tasks, 4)
            out["wall_s"][str(tasks)] = round(
                statistics.median(r[1] for r in runs), 3)
        lo, hi = min(args.tasks), max(args.tasks)
        if hi > lo:
            out["marginal_cpu_s_per_task"] = round(
                (cpu_by_tasks[hi] - cpu_by_tasks[lo]) / (hi - lo), 4)
        rows = spark.range(hi, numPartitions=hi).mapInPandas(
            probe, PROBE_SCHEMA).collect()
        out["worker"] = {
            "tasks": len(rows),
            "processes": len({r.pid for r in rows}),
            "invalidate_caches_s_median": round(
                statistics.median(r.invalidate_s for r in rows), 5),
            "pyspark_files": sorted({r.pyspark_file for r in rows}),
            "zipimporters": sorted({z for r in rows for z in r.zipimporters}),
        }
        print(json.dumps(out))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
