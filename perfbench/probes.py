"""Readers for Spark's own measurements, and the span recorder.

Everything here reads what Spark already records: the Catalyst phase
tracker of a QueryExecution, the SQL metrics on the executed plan's
nodes (PythonSQLMetrics among them), the application status store
(jobs and stages), and the streaming-progress events a
``StreamingQueryListener`` receives. Nothing is patched into the
program under test: the benchmark calls its public functions and reads
these afterwards, and only in traced runs.
"""

from __future__ import annotations

import json
import os
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

PHASES = ("analysis", "optimization", "planning")

# how long to wait for the listener bus to drain, and how many no-op
# jobs the scheduling-floor covariate takes the fastest of
LISTENER_WAIT_MS = 10_000
NOOP_REPS = 3

# SQL metric names of the Python-worker boundary (PythonSQLMetrics)
PYTHON_METRICS = {
    "pythonTotalTime": "python_total_ms",
    "pythonBootTime": "python_boot_ms",
    "pythonDataSent": "python_bytes_sent",
    "pythonDataReceived": "python_bytes_received",
    "pythonNumRowsReceived": "python_rows_received",
}


class Tracer:
    """In-memory spans: name, start, end, parent and request id.

    Times are epoch seconds, so spans built from Spark's own epoch-ms
    timestamps (Catalyst phases, job submission and completion) sit on
    the same axis as the benchmark's own. Written out once, at the end.
    """

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._next = 0

    def add(self, name: str, start: float, end: float, parent: int | None, request: str, **attrs) -> int:
        sid = self._next
        self._next += 1
        span = {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "request": request}
        if attrs:
            span["attrs"] = attrs
        self.spans.append(span)
        return sid

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def phase_spans(qe) -> dict[str, tuple[float, float]]:
    """Catalyst phase (start, end) in epoch seconds from a QueryExecution's tracker."""
    phases = qe.tracker().phases()
    out = {}
    for p in PHASES:
        opt = phases.get(p)
        if opt.isDefined():
            s = opt.get()
            out[p] = (s.startTimeMs() / 1000.0, s.endTimeMs() / 1000.0)
    return out


def plan_metrics(qe) -> dict[str, float]:
    """Sum of the Python-boundary SQL metrics over every node of the
    executed plan, descending into subqueries and adaptive stages."""
    totals = {v: 0.0 for v in PYTHON_METRICS.values()}
    stack = [qe.executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue
        metrics = node.metrics()
        it = metrics.iterator()
        while it.hasNext():
            kv = it.next()
            key = PYTHON_METRICS.get(kv._1())
            if key is not None:
                totals[key] += float(kv._2().value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
        subs = node.subqueries()
        for i in range(subs.size()):
            stack.append(subs.apply(i))
    return totals


def wait_listener_bus(spark) -> None:
    """Block until the listener bus has delivered every posted event, so
    the status store holds the jobs that just ended."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def covered_ms(intervals) -> float:
    """Length in ms of the union of (start, end) intervals in seconds."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total * 1000.0


def job_stats(spark, job_ids, window=None) -> tuple[dict[str, float], list[dict]]:
    """Totals over ``job_ids`` from the application status store, plus
    one span record per job; with ``window`` = (start, end) in epoch
    seconds, only jobs submitted inside it count. ``job_ms`` is the wall
    time during which at least one of the jobs ran: the union of their
    [submission, completion] intervals, since adaptive query stages and
    broadcasts run jobs side by side. Call after
    :func:`wait_listener_bus`."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tot = {
        "jobs": 0, "stages": 0, "tasks": 0, "job_ms": 0.0, "task_run_ms": 0.0, "task_cpu_ms": 0.0,
        "gc_ms": 0.0, "shuffle_write_bytes": 0.0, "shuffle_read_bytes": 0.0,
    }
    jobs = []
    for jid in job_ids:
        job = store.job(int(jid))
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if window and (start is None or not window[0] <= start <= window[1]):
            continue
        tot["jobs"] += 1
        if start is not None and end is not None:
            jobs.append({"job": int(jid), "start": start, "end": end})
        stage_ids = job.stageIds()
        for i in range(stage_ids.size()):
            attempts = store.stageData(stage_ids.apply(i), False, None, False, None)
            for a in range(attempts.size()):
                st = attempts.apply(a)
                if st.status().toString() == "SKIPPED":
                    continue
                tot["stages"] += 1
                tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                tot["task_run_ms"] += st.executorRunTime()
                tot["task_cpu_ms"] += st.executorCpuTime() / 1e6
                tot["gc_ms"] += st.jvmGcTime()
                tot["shuffle_write_bytes"] += st.shuffleWriteBytes()
                tot["shuffle_read_bytes"] += st.shuffleReadBytes()
    tot["job_ms"] = covered_ms((j["start"], j["end"]) for j in jobs)
    return tot, jobs


def all_job_ids(spark) -> list[int]:
    """Ids of every job the status store still holds."""
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    return [jobs.apply(i).jobId() for i in range(jobs.size())]


def noop_job_s(spark) -> float:
    """Fastest of NOOP_REPS one-task no-op jobs: the per-query scheduling
    floor of the platform at this moment, recorded as a covariate."""
    df = spark.range(1)
    best = float("inf")
    for _ in range(NOOP_REPS):
        t0 = time.perf_counter()
        df.select("*").toArrow()
        best = min(best, time.perf_counter() - t0)
    return best


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


class TreeCpu:
    """CPU time of this process and everything below it: the Python
    driver, the JVM and the Python workers, in ns, from each process's
    CPU clock. The kernel's CPU clock leaves out the time the hypervisor
    gave the CPU to other guests (paravirtual steal accounting), so on a
    shared host it does not stretch with their load the way wall time
    does. ``refresh`` finds the processes; ``read`` is one system call
    per process."""

    def __init__(self) -> None:
        self.pids = [os.getpid()]

    def refresh(self) -> None:
        self.pids = descendants(os.getpid())

    def read(self) -> dict[int, int]:
        out = {}
        for pid in self.pids:
            try:
                out[pid] = time.clock_gettime_ns(((~pid) << 3) | 2)
            except OSError:
                pass
        return out

    @staticmethod
    def ms(a: dict[int, int], b: dict[int, int]) -> float:
        """CPU ms spent between readings ``a`` and ``b``; a process only
        in ``b`` started in between."""
        return sum(v - a.get(pid, 0) for pid, v in b.items()) / 1e6


def jvm_counters(spark) -> dict[str, float]:
    """Running totals of the driver JVM: JIT compile time, Spark's
    whole-stage-codegen (Janino) compilations, and GC count and time.
    Differences over a measured window are recorded as covariates: they
    show when a run spent its window compiling or collecting."""
    jvm = spark.sparkContext._jvm
    mf = jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    out = {
        "jit_ms": float(mf.getCompilationMXBean().getTotalCompilationTime()),
        "codegen_compiles": float(jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()),
        "gc_count": 0.0,
        "gc_ms": 0.0,
    }
    for i in range(gcs.size()):
        out["gc_count"] += gcs.get(i).getCollectionCount()
        out["gc_ms"] += gcs.get(i).getCollectionTime()
    return out


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress event (``recentProgress`` keeps
    only the last 100) and lets a caller wait for the next one."""

    def __init__(self) -> None:
        self.events: list[dict] = []
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._cond:
            self.events.append(p)
            self._cond.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._cond.notify_all()

    def wait_for(self, count: int, timeout: float) -> bool:
        """Wait until at least ``count`` progress events have arrived."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while len(self.events) < count:
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cond.wait(left)
        return True
