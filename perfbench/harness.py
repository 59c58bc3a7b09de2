"""Process, Spark-session and measurement plumbing shared by the workloads.

Everything here acts on the benchmark's own process tree: the driver
Python process, the JVM it launches and the Python workers that JVM
forks. CPU time comes from ``/proc/<pid>/stat`` of that tree; Spark's
execution counters come from the JVM status store and codegen counters
through py4j (the UI and its HTTP port stay off).
"""

from __future__ import annotations

import gc
import os
import resource
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- /proc -------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces; everything after the last ')' is fixed-format
    rp = raw.rindex(")")
    comm = raw[raw.index("(") + 1 : rp]
    return [str(pid), comm] + raw[rp + 2 :].split()


def process_start_epoch() -> float:
    """Wall-clock time at which this process was started by the kernel."""
    fields = _stat_fields(os.getpid())
    start_ticks = int(fields[21])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / CLK_TCK


def _snapshot() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, cpu seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is None:
            continue
        cpu = sum(int(x) for x in f[13:17]) / CLK_TCK
        out[int(name)] = (int(f[3]), f[1], cpu)
    return out


def descendants(root: int, snap: dict | None = None) -> list[int]:
    snap = snap if snap is not None else _snapshot()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in snap.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), []):
            out.append(c)
            stack.append(c)
    return out


def tree_cpu() -> tuple[float, float]:
    """(CPU seconds of this process and every descendant,
    CPU seconds of the Python processes the JVM forked)."""
    snap = _snapshot()
    me = os.getpid()
    total = snap[me][2] if me in snap else 0.0
    workers = 0.0
    for pid in descendants(me, snap):
        ppid, comm, cpu = snap[pid]
        total += cpu
        if ppid != me and comm.startswith("python"):
            workers += cpu
    return total, workers


def peak_rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


# -- spans -------------------------------------------------------------------


class Tracer:
    """In-memory spans: name, start, end, parent span, op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, op: int | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": stack[-1] if stack else None,
                "op": op,
                "start": time.perf_counter() - self._t0,
                "end": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def total(self, name: str) -> float:
        """Summed duration of the finished spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)


# -- Spark -------------------------------------------------------------------


def start_spark(run_dir: str):
    """A local[nproc] session with the UI and progress bars off."""
    from jschon_spark import get_spark

    n = nproc()
    return get_spark(
        app_name="perfbench",
        cores=n,
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
        },
    )


class SparkCounters:
    """Deltas of Spark's execution and codegen counters between calls
    to :meth:`take`. Stages and jobs are told apart by id, so only the
    ones started since the previous call are summed."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = spark._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        self._codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._codegen_metrics = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._last_stage = -1
        self._last_job = -1
        self._cg = (0, 0)
        self.take()

    def _codegen_now(self) -> tuple[int, int]:
        return (
            self._codegen_metrics.METRIC_COMPILATION_TIME().getCount(),
            self._codegen.compileTime(),
        )

    def take(self) -> dict[str, float]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        out = {
            "exec.jobs": 0, "exec.stages": 0, "exec.tasks": 0,
            "exec.executor_run_s": 0.0, "exec.executor_cpu_s": 0.0,
            "exec.shuffle_write_mb": 0.0, "exec.spill_mb": 0.0,
        }
        jobs = self._store.jobsList(None)
        ids = [jobs.apply(i).jobId() for i in range(jobs.size())]
        out["exec.jobs"] = sum(1 for j in ids if j > self._last_job)
        self._last_job = max(ids, default=self._last_job)
        stages = self._store.stageList(None, False, False, self._no_quantiles, None)
        top = self._last_stage
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                continue
            top = max(top, sid)
            if st.status().toString() != "COMPLETE":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st.numCompleteTasks()
            out["exec.executor_run_s"] += st.executorRunTime() / 1e3
            out["exec.executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["exec.shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["exec.spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / 2**20
        self._last_stage = top
        cg = self._codegen_now()
        out["codegen.classes"] = cg[0] - self._cg[0]
        out["codegen.compile_s"] = (cg[1] - self._cg[1]) / 1e9
        self._cg = cg
        return out


def force_catalyst(df, tracer: Tracer, op: int) -> dict[str, float]:
    """Run optimization and physical planning of ``df``'s own
    QueryExecution, one span each, so the later action reuses them.

    Returns Spark's own phase times for that QueryExecution. Analysis
    ran eagerly when the DataFrame was built, so ``catalyst.analyze_s``
    is the analysis of the final plan only; the analysis of every
    intermediate DataFrame falls inside ``lowering.build`` or
    ``pipeline.call``.
    """
    qe = df._jdf.queryExecution()
    with tracer.span("catalyst.optimize", op):
        qe.optimizedPlan()
    with tracer.span("catalyst.physical", op):
        qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for metric, phase in (("catalyst.analyze_s", "analysis"),
                          ("catalyst.optimize_s", "optimization"),
                          ("catalyst.physical_s", "planning")):
        got = phases.get(phase)
        out[metric] = got.get().durationMs() / 1e3 if got.isDefined() else 0.0
    return out


def jvm_live_heap_mb(spark) -> float:
    """Heap in use after full collections, once it has stopped shrinking.

    Python's collector runs first, since py4j keeps a JVM object alive
    while its Python proxy lives. Spark's ContextCleaner then frees the
    blocks, shuffles and broadcasts of released RDDs on its own thread,
    which shows only a second or so later, so collections repeat for
    two seconds and the least reading counts.
    """
    mx = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = []
    for _ in range(8):
        gc.collect()
        mx.gc()
        used.append(mx.getHeapMemoryUsage().getUsed() / 2**20)
        time.sleep(0.25)
    return min(used)


def stop_spark(spark, timeout: float = 30.0) -> None:
    """Stop the session, the JVM and the Python workers, and wait until
    every process this one started has exited."""
    from pyspark import SparkContext

    tree = set(descendants(os.getpid()))
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout)
        _reap(tree, timeout)


def _running(pid: int) -> bool:
    f = _stat_fields(pid)
    return f is not None and f[2] != "Z"


def _reap(pids: set[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while True:
        alive = {p for p in pids if _running(p)}
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + timeout
        time.sleep(0.05)
