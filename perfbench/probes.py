"""Readouts taken from outside the program: the process tree from
``/proc``, Spark's status store, and in-memory trace spans.

Nothing here changes how the program runs.  The status store works
with ``spark.ui.enabled=false``; it is fed asynchronously by the
listener bus, so every read first waits for the bus to drain.
"""

from __future__ import annotations

import os
import threading
import time
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------- /proc
def _stat(pid: int):
    """(ppid, cpu seconds incl. reaped children) or None."""
    try:
        raw = Path(f"/proc/{pid}/stat").read_bytes()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    f = raw[raw.rindex(b")") + 2:].split()
    cpu = sum(int(x) for x in f[11:15]) / _TICK   # utime stime cutime cstime
    return int(f[1]), cpu


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared with other processes
    count in shares, so the Python workers forked from one daemon do not
    count the daemon's pages once each, as their RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _role(pid: int, root: int) -> str:
    """driver, jvm or workers.  Read on every sample: the launcher
    script becomes the JVM by exec, which changes ``comm``."""
    if pid == root:
        return "driver"
    try:
        comm = Path(f"/proc/{pid}/comm").read_text().strip()
    except OSError:
        return "workers"
    return "jvm" if comm == "java" else "workers"


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    host's CPUs (``steal`` in ``/proc/stat``): a control for host
    contention, which no program change moves."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class ProcTree:
    """CPU and memory of this process and every descendant: the Python
    driver, the Spark JVM and the Python workers the JVM forks.

    A process's CPU includes the children it has reaped (cutime,
    cstime), so CPU of workers that exited stays in the total through
    their parent.  One sampling thread records the peak of the summed
    proportional set size, in total and per role.
    """

    def __init__(self, interval: float = 0.2):
        self.root = os.getpid()
        self.interval = interval
        self.peak = {"total": 0, "driver": 0, "jvm": 0, "workers": 0}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _tree(self) -> dict:
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = _stat(int(d))
                if s is not None:
                    stats[int(d)] = s
        kids: dict = {}
        for pid, (ppid, _) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in stats:
                out[pid] = stats[pid]
                todo.extend(kids.get(pid, ()))
        return out

    def descendants(self) -> list:
        return [pid for pid in self._tree() if pid != self.root]

    def cpu_s(self) -> float:
        return sum(cpu for _, cpu in self._tree().values())

    def sample(self) -> None:
        sums = {"driver": 0, "jvm": 0, "workers": 0}
        for pid in self._tree():
            sums[_role(pid, self.root)] += _pss(pid)
        sums["total"] = sum(sums.values())
        for k, v in sums.items():
            self.peak[k] = max(self.peak[k], v)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    def peak_mb(self, role: str = "total") -> float:
        return self.peak[role] / 2**20


# --------------------------------------------------------- status store
#: formatted SQL-metric units -> bytes or seconds
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1, "m": 60, "h": 3600}
#: SQL metrics of the Python exec nodes (MapInPandas,
#: FlatMapGroupsInPandas, ...): the Arrow boundary plus the UDF body
_PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_received",
    "time to run Python workers": "python_run_s",
}
FIELDS = ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
          "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "tasks",
          "python_bytes_sent", "python_bytes_received", "python_run_s")


def _parse_metric(text: str) -> float:
    """A formatted size or timing metric: ``'total (...)\\n1.2 MiB (...)'``
    or ``'1.2 MiB'``."""
    num, unit = text.split("\n")[-1].split()[:2]
    return float(num.replace(",", "")) * _UNITS[unit]


class SparkStatus:
    """Per-interval deltas from Spark's status store.

    Job, stage and SQL-execution ids only grow, so a mark is three
    cursors and :meth:`since` reads only what was added after it.
    """

    def __init__(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_job = 0
        self.drain()
        while self._job(self._next_job) is not None:
            self._next_job += 1

    def drain(self) -> None:
        self._bus.waitUntilEmpty(60_000)

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Exception:              # py4j: NoSuchElementException
            return None

    def mark(self) -> tuple:
        self.drain()
        while self._job(self._next_job) is not None:
            self._next_job += 1
        return self._next_job, int(self._sql.executionsCount())

    def since(self, mark: tuple, t0: float, t1: float) -> dict:
        """Totals over jobs and SQL executions started after ``mark``;
        ``driver_only_s`` is ``t1 - t0`` minus the union of job spans."""
        job0, exec0 = mark
        self.drain()
        out = dict.fromkeys(FIELDS, 0.0)
        spans, stages = [], set()
        j = job0
        while (job := self._job(j)) is not None:
            j += 1
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime() / 1e3,
                              end.get().getTime() / 1e3))
            it = job.stageIds().iterator()
            while it.hasNext():
                stages.add(int(it.next()))
        self._next_job = max(self._next_job, j)
        for sid in sorted(stages):
            s = self._store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["jvm_gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["tasks"] += s.numTasks()
        n_exec = int(self._sql.executionsCount())
        if n_exec > exec0:
            it = self._sql.executionsList(exec0, n_exec - exec0).iterator()
            while it.hasNext():
                self._python_metrics(it.next(), out)
        out["driver_only_s"] = max(0.0, (t1 - t0) - _covered(spans, t0, t1))
        return out

    def _python_metrics(self, execution, out: dict) -> None:
        values = self._sql.executionMetrics(execution.executionId())
        seen = set()
        it = execution.metrics().iterator()
        while it.hasNext():
            m = it.next()
            key = _PYTHON_METRICS.get(m.name())
            acc = m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            v = values.get(acc)
            if v.isDefined():
                out[key] += _parse_metric(v.get())


def _covered(spans: list, t0: float, t1: float) -> float:
    """Length of the union of ``spans`` clipped to ``[t0, t1]``."""
    total, end = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


# ---------------------------------------------------------------- spans
class Tracer:
    """In-memory spans: name, start, end, parent, and the status-store
    deltas recorded while the span was open.  Disabled, :meth:`span`
    only yields, so an untraced run pays one attribute test per call.

    Recording a span's deltas takes driver time of its own (the listener
    bus drains, py4j reads); ``overhead_s`` sums it, and each span's
    ``driver_only_s`` excludes what its child spans spent recording."""

    def __init__(self, status: SparkStatus | None, tree: ProcTree | None):
        self.enabled = status is not None
        self.status = status
        self.tree = tree
        self.spans: list = []
        self.overhead_s = 0.0
        self._stack: list = []

    def span(self, name: str):
        return _Span(self, name)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self.t = tracer
        self.name = name

    def __enter__(self):
        t = self.t
        if not t.enabled:
            return self
        o0 = time.perf_counter()
        self.parent = t._stack[-1] if t._stack else None
        self.id = len(t.spans)
        t.spans.append(None)
        t._stack.append(self.id)
        self.mark = t.status.mark()
        self.cpu0 = t.tree.cpu_s()
        t.overhead_s += time.perf_counter() - o0
        self.overhead0 = t.overhead_s
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        t = self.t
        if not t.enabled:
            return False
        t1 = time.time()
        o0 = time.perf_counter()
        inner = t.overhead_s - self.overhead0
        t._stack.pop()
        delta = t.status.since(self.mark, self.t0, t1)
        delta["driver_only_s"] = max(0.0, delta["driver_only_s"] - inner)
        t.spans[self.id] = {
            "id": self.id, "name": self.name, "parent": self.parent,
            "start": self.t0, "end": t1, "trace_overhead_s": inner,
            "tree_cpu_s": t.tree.cpu_s() - self.cpu0, **delta,
        }
        t.overhead_s += time.perf_counter() - o0
        return False
