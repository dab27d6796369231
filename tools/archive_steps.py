#!/usr/bin/env python3
"""Per-step cost of the benchmark's ``archive`` cycle: Spark jobs, tasks,
wall, JVM CPU and JIT compilation time.

It runs perfbench's ``archive`` workload (``perfbench/workloads.py``,
class ``Archive``) with perfbench's seeded inputs and session
configuration, in one session: the warm-up cycle on the smaller table
(cycle 0), then ``--cycles`` cycles on the full table.  The workload's
tracer is replaced by one that records, around each step of a cycle
(``rollup.tier_day``, ``rollup.tier_cascade``, ``fastpath.blocks_write``,
``rollup.upsert``, ``compress.decompress``, ``rollup.lttb``):

- ``jobs`` and ``tasks``: Spark jobs started, and tasks of their stages
  that ran (skipped stages excluded), from the status store;
- ``wall_s``;
- ``jvm_cpu_s``: utime + stime of the JVM process alone, from
  ``/proc/<pid>/stat`` (the Python workers it forks are not included);
- ``jit_ms``: the JVM's ``CompilationMXBean`` total compilation time.

Usage:
    python tools/archive_steps.py [--cycles 3] [--seed 1] [--series 6000]

Prints one JSON line per step and one per cycle (``"step": "cycle"``,
the sums).  No perfbench file is changed; the run's files live in a
temporary directory that is removed at the end.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

_TICK = os.sysconf("SC_CLK_TCK")
FIELDS = ("jobs", "tasks", "wall_s", "jvm_cpu_s", "jit_ms")


def _own_cpu_s(pid: int) -> float:
    """utime + stime of one process, children excluded."""
    raw = Path(f"/proc/{pid}/stat").read_bytes()
    f = raw[raw.rindex(b")") + 2:].split()
    return (int(f[11]) + int(f[12])) / _TICK


class StepTracer:
    """Stands in for perfbench's tracer: ``span(name)`` records one
    step's jobs, tasks, wall, JVM CPU and JIT time into ``rows``."""

    def __init__(self, spark):
        from perfbench.probes import SparkStatus

        jvm = spark.sparkContext._jvm
        self.status = SparkStatus(spark)
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self.jit = jvm.java.lang.management.ManagementFactory \
            .getCompilationMXBean()
        self.cycle = 0
        self.rows: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        mark = self.status.mark()
        cpu0, jit0 = _own_cpu_s(self.pid), self.jit.getTotalCompilationTime()
        w0, t0 = time.time(), time.perf_counter()
        yield self
        wall = time.perf_counter() - t0
        cpu1, jit1 = _own_cpu_s(self.pid), self.jit.getTotalCompilationTime()
        delta = self.status.since(mark, w0, time.time())
        row = {"cycle": self.cycle, "step": name,
               "jobs": self.status.mark()[0] - mark[0],
               "tasks": int(delta["tasks"]), "wall_s": round(wall, 3),
               "jvm_cpu_s": round(cpu1 - cpu0, 3), "jit_ms": jit1 - jit0}
        self.rows.append(row)
        print(json.dumps(row), flush=True)

    def end_cycle(self) -> None:
        rows = [r for r in self.rows if r["cycle"] == self.cycle]
        total = {k: round(sum(r[k] for r in rows), 3) for k in FIELDS}
        print(json.dumps({"cycle": self.cycle, "step": "cycle", **total}),
              flush=True)
        self.cycle += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--cycles", type=int, default=3,
                    help="cycles on the full table after the warm-up")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--series", type=int, default=6_000,
                    help="series in the full table (perfbench: 6000)")
    args = ap.parse_args(argv)

    from perfbench.run import _environment, _session, _stop

    work = Path(tempfile.mkdtemp(prefix="archive_steps-"))
    try:
        _environment(work)              # thread pins before numpy loads
        from perfbench import workloads

        spark = _session(work)
        try:
            tracer = StepTracer(spark)
            (work / "archive").mkdir()
            wl = workloads.Archive(spark, work / "archive", args.seed,
                                   args.series / workloads.ARCHIVE_SERIES,
                                   tracer)
            wl.generate()
            wl.prepare()                        # cycle 0: the warm-up
            tracer.end_cycle()
            for i in range(1, args.cycles + 1):
                wl.op(i)
                tracer.end_cycle()
        finally:
            _stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
