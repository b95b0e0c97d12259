"""In-memory tracing for the benchmark, and readers of Spark-owned counters.

Spans are recorded only by the benchmark's own code, around its calls
into the engine's public functions; nothing inside the engine is
instrumented.
Spark's own counters are read from outside the engine:

* ``StatusTracker`` job ids, for jobs started inside a span;
* ``StreamingQuery.recentProgress``, for the micro-batch duration split;
* the SQL metrics of the executed plan of a DataFrame the benchmark ran.

A disabled tracer records nothing and adds no Spark work, which is how
end-to-end metrics are measured.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    """Spans and samples kept in memory until the run ends.

    ``span`` records ``(name, start, end, parent)``; ``sample`` appends a
    number to a named series.  Both are no-ops when ``enabled`` is false.
    ``overhead_s`` accumulates the time the benchmark spends on tracing
    work (plan walks, extra counting jobs) so a traced run can report it.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.samples: dict[str, list[float]] = {}
        self.overhead_s = 0.0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p)

    def sample(self, name: str, value: float) -> None:
        if self.enabled:
            self.samples.setdefault(name, []).append(float(value))

    @contextmanager
    def overhead(self):
        """Time tracing-only work, so it can be reported and subtracted."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def reset(self, prefixes: tuple[str, ...]) -> None:
        """Drop spans and samples whose name starts with ``prefixes``, and
        the overhead so far: set-up repetitions keep only the last one."""
        self.spans = [s for s in self.spans if not s[0].startswith(prefixes)]
        self.samples = {k: v for k, v in self.samples.items() if not k.startswith(prefixes)}
        self.overhead_s = 0.0

    def durations(self, name: str) -> list[float]:
        return [t1 - t0 for n, t0, t1, _ in self.spans if n == name]


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# ---------------------------------------------------------------- Spark ----


def last_job_id(spark) -> int:
    """Highest job id the status tracker knows in the calling thread's job
    group (a streaming query runs its batches under its run id).  Job ids
    are sequential per SparkContext, so the difference across a span is
    the number of jobs it ran."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = sc.getLocalProperty("spark.jobGroup.id")
    ids = list(tracker.getJobIdsForGroup(group)) + list(tracker.getActiveJobsIds())
    return max(ids) if ids else -1


def progress_durations(query) -> list[dict]:
    """``durationMs`` of every micro-batch in ``query.recentProgress``."""
    return [
        (p if isinstance(p, dict) else json.loads(p.json)).get("durationMs", {})
        for p in query.recentProgress
    ]


_SCAN_KEYS = ("numFiles", "filesSize", "numOutputRows")
_SUM_KEYS = ("shuffleBytesWritten", "spillSize")


def _metric(node, key: str):
    opt = node.metrics().get(key)
    return opt.get().value() if opt.isDefined() else None


def _walk(node):
    """Yield every node of an executed physical plan, descending into the
    final adaptive plan and its query stages.  A reused exchange is a leaf,
    so the work it reuses is counted once."""
    stack = [node]
    while stack:
        n = stack.pop()
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(n.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(n.plan())
            continue
        yield cls, n
        children = n.children()
        for i in range(children.size()):
            stack.append(children.apply(i))


def plan_metrics(df) -> dict:
    """SQL metrics of the plan ``df`` last executed through its own
    ``QueryExecution`` (``collect``/``toPandas`` on ``df`` itself)."""
    plan = df._jdf.queryExecution().executedPlan()
    out = {"scan_files": 0, "scan_bytes": 0, "rows_scanned": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for cls, node in _walk(plan):
        if cls.startswith("FileSourceScanExec") or cls.startswith("BatchScanExec"):
            files, size, rows = (_metric(node, k) for k in _SCAN_KEYS)
            out["scan_files"] += files or 0
            out["scan_bytes"] += size or 0
            out["rows_scanned"] += rows or 0
        shuffled, spilled = (_metric(node, k) for k in _SUM_KEYS)
        out["shuffle_bytes"] += shuffled or 0
        out["spill_bytes"] += spilled or 0
    return out


# ------------------------------------------------------------ filesystem ----


def dir_stats(path: str) -> dict:
    """Data files, bytes and ``dt=`` partitions of a parquet table dir."""
    files = size = 0
    parts = set()
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
            base = os.path.basename(root)
            if base.startswith("dt="):
                parts.add(base)
    return {"files": files, "bytes": size, "partitions": len(parts)}


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(c) for c in fh.read().split()]
    except OSError:
        pass
    return out


def cpu_seconds() -> float:
    """User plus system CPU time of this process and every live descendant
    (the JVM, its Python workers), reaped children included.  Steal time
    is not charged to a process, so this reads the same on a quiet and on
    a contended host."""
    tick = os.sysconf("SC_CLK_TCK")
    total, stack, seen = 0, [os.getpid()], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack += _children(pid)
    return total / tick


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """VmHWM of this Python driver plus its direct children (the py4j
    JVM), in MiB."""
    me = os.getpid()
    return (_hwm_kb(me) + sum(_hwm_kb(c) for c in _children(me))) / 1024.0


def retained_heap_mb(spark) -> float:
    """JVM heap still in use once full collections stop freeing memory, in
    MiB: what the driver keeps once the work is done (caches, broadcasts,
    leaks).  One round of collections sometimes leaves ~11 MiB that the
    context cleaner only releases afterwards, so rounds repeat until one
    frees less than 1 MiB."""
    import gc

    gc.collect()  # drop Python-side py4j references first
    jvm = spark.sparkContext._jvm
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = float("inf")
    for _ in range(6):
        for _ in range(3):
            jvm.java.lang.System.gc()
            time.sleep(0.2)  # lets the context cleaner release what the last GC freed
        before, used = used, heap.getHeapMemoryUsage().getUsed() / 2**20
        if before - used < 1.0:
            break
    return used
