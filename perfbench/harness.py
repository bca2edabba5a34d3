"""Benchmark plumbing: run directory, host-sized SparkSession, span
tracing with Spark status-store counters, percentiles and memory.

Nothing here reaches inside the engine: spans wrap the benchmark's own
calls into the package's public functions, and the Spark counters come
from the status store, read per operation through a job group.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import os
import resource
import shutil
import threading
import time
import uuid
from contextlib import contextmanager

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- statistics ---------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in (0, 1]); a value that was measured."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def median(values) -> float:
    return percentile(values, 0.5)


# -- host sizing --------------------------------------------------------------

def host_cpus() -> int:
    """Cores this process may run on (what ``nproc`` reports)."""
    return len(os.sched_getaffinity(0))


def host_mem_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """Driver heap sized to the machine: an eighth of RAM, clamped to 1-4
    GiB, leaving room for the Python side and the other tenants."""
    return max(1024, min(4096, host_mem_bytes() // (8 << 20)))


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    :func:`cpu_times` readings: the noise floor of a run on a shared VM."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))


def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _hwm_kb(jvm_pid)) / 1024.0


# -- run directory and session --------------------------------------------------

class RunDir:
    """Scratch root for one run inside the checkout, removed on close.
    Spark's local dirs, the JVM temp dir, the warehouse and every lake,
    landing and checkpoint path live under it."""

    def __init__(self, workload: str):
        self.base = os.path.join(REPO_ROOT, ".perfbench")
        self.root = os.path.join(self.base, f"run-{workload}-{os.getpid()}-{uuid.uuid4().hex[:6]}")
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(self.root, sub), exist_ok=True)
        os.environ["TMPDIR"] = os.path.join(self.root, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.root, "spark-local")

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def close(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)


def make_session(run: RunDir, app: str, cpus: int, mem_mb: int, trace: bool):
    from end_to_end_data_lakehouse_pipeline_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        "spark.local.dir": run.path("spark-local"),
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        # keep every job and stage of the run in the status store
        conf["spark.ui.retainedJobs"] = "1000000"
        conf["spark.ui.retainedStages"] = "1000000"
    spark = get_spark(app, cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# -- tracing ------------------------------------------------------------------

class Tracer:
    """Spans around the benchmark's calls into the engine, plus Spark
    counters per operation. Disabled, every method is a no-op, so the
    untraced run measures the workload alone.

    A span records name, start, end, its parent and the trace (one
    operation) it belongs to. Spark work done inside a span opened with
    ``spark=`` runs under the span's own job group; the group's jobs and
    stages are read from the status store after the run, once the
    listener bus has drained."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def new_trace(self) -> str:
        return uuid.uuid4().hex[:12]

    @contextmanager
    def span(self, name: str, trace_id: str | None = None, spark=None, **attrs):
        if not self.enabled:
            yield None
            return
        t_in = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "trace": trace_id or (parent["trace"] if parent else None), **attrs}
        if spark is not None:
            rec["group"] = f"pb-{sid}"
            spark.sparkContext.setJobGroup(rec["group"], name)
        stack.append(rec)
        self.overhead_s += time.perf_counter() - t_in
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            t_out = time.perf_counter()
            stack.pop()
            if spark is not None:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)
            self.overhead_s += time.perf_counter() - t_out

    @contextmanager
    def wrap(self, owner, attr: str, name: str):
        """While open, every call to ``owner.<attr>`` runs inside a span
        ``name``. Times a layer's public function when another layer calls
        it (the MERGE inside ``jobs.run_silver``) without touching either
        layer's code; the original is put back on exit."""
        if not self.enabled:
            yield
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    @contextmanager
    def extra(self):
        """Time work done only for tracing (extra reads of engine state)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def resolve_counters(self, spark) -> None:
        """Attach status-store totals to every span that ran Spark work."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        jsc = spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = spark.sparkContext.statusTracker()
        for rec in self.spans:
            if "group" not in rec:
                continue
            c = dict(jobs=0, tasks=0, task_busy_s=0.0, input_bytes=0, input_records=0,
                     shuffle_bytes=0, spill_bytes=0)
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                c["jobs"] += 1
                job = store.job(jid)
                stages = job.stageIds()
                for i in range(stages.size()):
                    try:
                        st = store.lastStageAttempt(stages.apply(i))
                    except Exception:  # stage never ran (skipped) or evicted
                        continue
                    c["tasks"] += st.numCompleteTasks()
                    c["task_busy_s"] += st.executorRunTime() / 1000.0
                    c["input_bytes"] += st.inputBytes()
                    c["input_records"] += st.inputRecords()
                    c["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            rec["spark"] = c
        self.overhead_s += time.perf_counter() - t0

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def self_time(self, rec: dict) -> float:
        """Span duration minus the time its direct children cover."""
        kids = [s for s in self.spans if s["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - sum(k["end"] - k["start"] for k in kids)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for rec in sorted(self.spans, key=lambda s: s["start"]):
                out = dict(rec, self_s=self.self_time(rec))
                f.write(json.dumps(out) + "\n")


# -- result ---------------------------------------------------------------------

class Outcome:
    """Attempted / failed operation counts plus the failure messages. A
    failure is recorded, never raised, so one bad operation cannot abort
    the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self._lock = threading.Lock()

    def ok(self, n: int = 1) -> None:
        with self._lock:
            self.attempted += n

    def fail(self, what: str, msg: str) -> None:
        with self._lock:
            self.attempted += 1
            self.failed += 1
            if len(self.errors) < 50:
                self.errors.append(f"{what}: {msg}"[:500])

    def check(self, what: str, good: bool, msg: str = "") -> bool:
        if good:
            self.ok()
        else:
            self.fail(what, msg or "mismatch")
        return good
