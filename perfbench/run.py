#!/usr/bin/env python3
"""Benchmark of the nrt_spark engine: one workload per run.

    python3 perfbench/run.py --workload archive --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run it from anywhere; the engine is found next to this directory.  A
run starts one local[4] session, writes its seeded inputs, discards
warm-up iterations, runs a closed loop with one client for at least
``--seconds`` seconds (whole iterations), then checks the outputs.

It prints readable lines (``metric`` and ``workload`` lines, each with
its unit), then, as its last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  The traced run also writes its spans to
``.perfbench_out/``.

``--smoke`` runs every workload at tiny scale in one session, untraced
and traced, and fails unless every declared metric appears with its
unit and every correctness check passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CORES = 4
DRIVER_MEMORY = "2g"
WORKLOADS = ("archive", "backfill", "nrt_stream")
#: a run that has not finished by then is killed (the limit is 180 s)
TIME_LIMIT_S = 170

#: end-to-end metric -> unit, from the untraced run
END_TO_END = {"setup_s": "s", "iter_p50_s": "s", "obs_per_s": "obs/s",
              "cpu_s_per_iter": "s", "peak_rss_mb": "MB"}
#: per-layer metric -> unit, from the traced run.  Every workload
#: reports every one; a layer the workload does not call reads 0.
#: Values are per timed iteration unless noted in ``perfbench/README.md``.
#: nrt_stream's ``streaming.*`` readouts are printed as workload lines.
PER_LAYER = {
    "session.get_spark_s": "s", "gen.inputs_s": "s", "setup.prepare_s": "s",
    "rollup.tier_day_s": "s", "rollup.tier_cascade_s": "s",
    "rollup.upsert_s": "s", "rollup.lttb_s": "s",
    "fastpath.blocks_write_s": "s", "fastpath.bytes_written": "B",
    "gorilla.encode_s": "s", "gorilla.decode_s": "s",
    "compress.decompress_s": "s",
    "engine.fit_s": "s", "engine.monitor_s": "s",
    "engine.fit_bucketed_s": "s", "engine.monitor_bucketed_s": "s",
    "engine.save_state_s": "s",
    "kernels.fit_state_s": "s", "kernels.run_monitor_s": "s",
    "tokens.to_matrix_s": "s", "state.roundtrip_s": "s",
    "spark.driver_only_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.python_run_s": "s",
    "spark.jvm_gc_s": "s", "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B", "spark.spill_bytes": "B",
    "spark.python_bytes_sent": "B", "spark.python_bytes_received": "B",
    "spark.tasks": "count",
    "proc.tree_cpu_s": "s", "proc.kernel_cpu_share": "fraction",
    "proc.driver_peak_rss_mb": "MB", "proc.jvm_peak_rss_mb": "MB",
    "proc.workers_peak_rss_mb": "MB",
    "host.numpy_m_elems_s": "M/s", "trace.iter_p50_s": "s",
    "trace.overhead_s": "s",
}


def _environment(work: Path) -> None:
    """Pin threads, keep every file the run writes inside the checkout,
    and let the Python workers import the engine from any cwd."""
    for var in ("OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS", "OMP_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # the session's own synthetic warm-up would take two thirds of the
    # set-up; each workload's discarded iterations warm its own plans
    os.environ["NRT_SESSION_WARMUP"] = "0"
    # pandas deprecation notices from inside pyspark's own serializers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    for sub, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        (work / sub).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(work / sub)
    sys.path.insert(0, str(ROOT))


def _session(work: Path):
    from nrt_spark.session import get_spark

    keep = "1000000"
    return get_spark(
        cores=CORES, app_name="perfbench", driver_memory=DRIVER_MEMORY,
        extra_conf={
            # the status store must keep every job of the run
            "spark.ui.retainedJobs": keep,
            "spark.ui.retainedStages": keep,
            "spark.sql.ui.retainedExecutions": keep,
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
            # the heap is committed and touched up front, so the tree's
            # footprint does not depend on when the collector grew it;
            # temporary files stay in the run directory (the JVM's
            # perf-data file ignores tmpdir, so it is switched off)
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
                "-Djava.net.preferIPv4Stack=true "
                f"-Djava.io.tmpdir={work / 'tmp'}",
        })


def _stop(spark) -> None:
    """Stop the session, then the JVM the gateway launched, and wait."""
    sc = spark.sparkContext
    proc = getattr(sc._gateway, "proc", None)
    spark.stop()
    sc._gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()           # the gateway exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _watchdog(seconds: int, tree) -> None:
    """Kill the whole process tree and exit if a run overstays: a hung
    job must not outlive the run's time limit."""
    def fire(signum, frame):
        print(f"perfbench: no result after {seconds} s; stopping",
              file=sys.stderr)
        for pid in tree.descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        os._exit(3)

    signal.signal(signal.SIGALRM, fire)
    signal.alarm(seconds)


def run_workload(name: str, spark, work: Path, seed: int, seconds: float,
                 trace: bool, scale: float, tree) -> dict:
    """Set up (warm-up included), time and check one workload."""
    from perfbench import workloads
    from perfbench.probes import SparkStatus, Tracer, host_steal_s

    wdir = work / name
    shutil.rmtree(wdir, ignore_errors=True)
    wdir.mkdir(parents=True)
    status = SparkStatus(spark) if trace else None
    tracer = Tracer(status, tree if trace else None)
    wl = workloads.WORKLOADS[name](spark, wdir, seed, scale, tracer)
    try:
        gen_s, prep_s = wl.setup()
        walls, obs = [], 0
        mark = status.mark() if trace else None
        steal0, overhead0 = host_steal_s(), tracer.overhead_s
        cpu0, t_start, t_wall0 = tree.cpu_s(), time.perf_counter(), time.time()
        # a closed loop of whole iterations, until the window is full
        while time.perf_counter() - t_start < seconds:
            t0 = time.perf_counter()
            with tracer.span("iteration"):
                obs += wl.op(len(walls) + 1)
            walls.append(time.perf_counter() - t0)
        window = time.perf_counter() - t_start
        cpu = tree.cpu_s() - cpu0
        steal = host_steal_s() - steal0
        n = len(walls)
        layers = {}
        if trace:
            delta = status.since(mark, t_wall0, time.time())
            overhead = tracer.overhead_s - overhead0
            delta["driver_only_s"] = max(0.0, delta["driver_only_s"]
                                         - overhead)
            layers = {f"spark.{k}": v / n for k, v in delta.items()}
            layers["trace.overhead_s"] = overhead / n
        extra = wl.summary()
        wl.stop()
        n_checks, failures = wl.check()
        if trace:
            n_replay_checks, replay_failures = wl.replay()
            n_checks += n_replay_checks
            failures += replay_failures
    finally:
        wl.stop()
    e2e = {"setup_s": gen_s + prep_s, "iter_p50_s": statistics.median(walls),
           "obs_per_s": obs / window, "cpu_s_per_iter": cpu / n}
    extra.update({"timed_iterations": (n, "count"), "window_s": (window, "s"),
                  "host.steal_share": (steal / (window * CORES), "fraction"),
                  "setup.prepare_s": (prep_s, "s")})
    if trace:
        layers.update(_span_means(tracer.spans, n))
        layers.update(wl.replays)
        layers.update({
            "gen.inputs_s": gen_s, "setup.prepare_s": prep_s,
            "proc.tree_cpu_s": cpu / n,
            "proc.kernel_cpu_share": wl.replays.get("kernels_s", 0.0)
            / (cpu / n),
            "trace.iter_p50_s": statistics.median(walls),
        })
    return {"attempted": n + n_checks, "failures": failures, "e2e": e2e,
            "layers": layers, "extra": extra, "spans": tracer.spans}


def _span_means(spans: list, n: int) -> dict:
    """Wall per timed iteration of each span directly under an
    iteration, keyed ``<module>.<call>_s``."""
    roots = {s["id"] for s in spans if s["name"] == "iteration"}
    out: dict = {}
    for s in spans:
        if s["parent"] in roots:
            key = s["name"] + "_s"
            out[key] = out.get(key, 0.0) + (s["end"] - s["start"]) / n
    return out


def _result(res: dict, tree, trace: bool, session_s: float) -> dict:
    if trace:
        m = dict(res["layers"])
        m["session.get_spark_s"] = session_s
        for role in ("driver", "jvm", "workers"):
            m[f"proc.{role}_peak_rss_mb"] = tree.peak_mb(role)
        from bench import run_numpy_control
        # the host control of the repo's frozen benchmark, at a size
        # that takes a fraction of a second
        m["host.numpy_m_elems_s"] = run_numpy_control(elems=4_000_000)
        metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        m = dict(res["e2e"])
        m["setup_s"] += session_s
        m["peak_rss_mb"] = tree.peak_mb()
        res["extra"].update({f"proc.{role}_peak_rss_mb": (tree.peak_mb(role),
                                                          "MB")
                             for role in ("driver", "jvm", "workers")})
        metrics = {k: {"value": float(m[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    return {"correct": not res["failures"], "attempted": res["attempted"],
            "failed": len(res["failures"]), "metrics": metrics}


def _print_report(name: str, res: dict, result: dict, seed: int) -> None:
    print(f"# workload {name} seed {seed} cores local[{CORES}] nproc "
          f"{os.cpu_count()} driver_memory {DRIVER_MEMORY}")
    for k, v in result["metrics"].items():
        print(f"metric {k} {v['value']:.6g} {v['unit']}")
    for k, (v, unit) in res["extra"].items():
        print(f"workload {k} {v:.6g} {unit}")
    rate = result["failed"] / result["attempted"]
    print(f"workload error_rate {rate:.6g} fraction")
    for f in res["failures"]:
        print(f"FAILED {f}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny-scale self-test of every workload")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")
    if not (ROOT / "nrt_spark" / "__init__.py").is_file():
        print(f"perfbench: the nrt_spark package is missing under {ROOT}",
              file=sys.stderr)
        return 2

    # one directory per run, so runs started side by side never share
    # (or delete) each other's files
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    _environment(work)
    from perfbench.probes import ProcTree

    try:
        with ProcTree() as tree:
            if not args.smoke:
                _watchdog(TIME_LIMIT_S, tree)
            t0 = time.perf_counter()
            spark = _session(work)
            session_s = time.perf_counter() - t0
            try:
                if args.smoke:
                    return _smoke(spark, work, args.seed, tree, session_s)
                res = run_workload(args.workload, spark, work, args.seed,
                                   args.seconds, bool(args.trace), 1.0, tree)
            finally:
                _stop(spark)
        result = _result(res, tree, bool(args.trace), session_s)
        if args.trace:
            out = ROOT / ".perfbench_out"
            out.mkdir(exist_ok=True)
            (out / f"spans-{args.workload}-{args.seed}.json").write_text(
                json.dumps(res["spans"]))
        _print_report(args.workload, res, result, args.seed)
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:                # another run still uses it
            pass


def _smoke(spark, work: Path, seed: int, tree, session_s: float) -> int:
    bad = 0
    for name in WORKLOADS:
        for trace in (False, True):
            res = run_workload(name, spark, work, seed, 0.5, trace, 0.02,
                               tree)
            result = _result(res, tree, trace, session_s)
            want = PER_LAYER if trace else END_TO_END
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            ok = got == want and result["correct"]
            bad += not ok
            print(f"smoke {name} trace={int(trace)} "
                  f"{'ok' if ok else 'FAILED'} {res['failures']}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
