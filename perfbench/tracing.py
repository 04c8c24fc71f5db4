"""Spans, Spark status-store reads and /proc counters for the benchmark.

Everything here observes the engine from outside: spans are recorded by
the benchmark around its own calls into the package, stage metrics come
from Spark's public status tracker and status store, and process CPU and
memory come from ``/proc``.  Nothing here starts a Spark job.
"""

from __future__ import annotations

import json
import os
import resource
import statistics
import threading
import uuid
from dataclasses import asdict, dataclass, field


# --------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: str
    parent_id: str | None
    trace_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder; ``enabled=False`` makes every call a no-op
    that still returns a span id, so the timed code is the same shape in
    the traced and untraced runs."""

    def __init__(self, enabled: bool, trace_id: str | None = None):
        self.enabled = enabled
        self.trace_id = trace_id or uuid.uuid4().hex
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    @staticmethod
    def new_id() -> str:
        return uuid.uuid4().hex[:16]

    def add(self, name: str, start: float, end: float,
            parent_id: str | None = None, span_id: str | None = None,
            **attrs) -> str:
        span_id = span_id or self.new_id()
        if self.enabled:
            with self._lock:
                self.spans.append(
                    Span(name, start, end, span_id, parent_id, self.trace_id, attrs)
                )
        return span_id

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """Span duration minus the part of its interval that its children
    cover (children are clipped to the parent; overlaps count once)."""
    clipped = [
        (max(c.start, span.start), min(c.end, span.end)) for c in children
    ]
    return (span.end - span.start) - union_length(clipped)


# ---------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def percentile(values: list[float], p: int) -> float:
    """p-th percentile (1..99) with ``statistics.quantiles``' default
    (exclusive) method; a single value is its own percentile."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[p - 1]


def geomean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else 0.0


# -------------------------------------------------------------- status store


STAGE_FIELDS = (
    "exec_run_ms", "exec_cpu_ms", "gc_ms", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "input_records",
)


def drain_listener_bus(spark) -> None:
    """Wait until Spark's listener bus has delivered every event, so the
    status store holds the stages of the jobs that just returned."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_stage_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks and summed stage metrics for one job group,
    plus each stage's [submission, completion] interval in epoch seconds.
    Skipped stages (reused shuffle output) are not counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = {k: 0 for k in ("jobs", "stages", "tasks", *STAGE_FIELDS)}
    intervals: list[tuple[float, float]] = []
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            sd = store.lastStageAttempt(stage_id)
            if sd.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["exec_run_ms"] += sd.executorRunTime()
            out["exec_cpu_ms"] += sd.executorCpuTime() / 1e6
            out["gc_ms"] += sd.jvmGcTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["input_records"] += sd.inputRecords()
            sub, done = sd.submissionTime(), sd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append(
                    (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                )
    out["intervals"] = intervals
    return out


# ---------------------------------------------------------------------- /proc


_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2:].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat_fields(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_s(pid: int, reaped: bool = False) -> float:
    """utime + stime of ``pid`` (plus its reaped children's when asked)."""
    st = _stat_fields(pid)
    if st is None:
        return 0.0
    ticks = int(st[11]) + int(st[12])
    if reaped:
        ticks += int(st[13]) + int(st[14])
    return ticks / _CLK


class ProcMonitor:
    """CPU and peak memory of the engine's processes: the JVM, the driver
    Python process and the ``pyspark.daemon`` worker tree.

    A background thread samples the workers' VmHWM, because workers may
    exit before the run ends; CPU is read at phase boundaries with
    :meth:`cpu`.
    """

    def __init__(self, jvm_pid: int, interval: float = 0.5):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.worker_hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "ProcMonitor":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def workers(self) -> list[int]:
        return [
            p for p in descendants(self.jvm_pid) if "pyspark" in _cmdline(p)
        ]

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        for p in self.workers():
            self.worker_hwm_kb[p] = max(self.worker_hwm_kb.get(p, 0), vm_hwm_kb(p))

    def cpu(self) -> dict[str, float]:
        """Cumulative CPU seconds per process group.  The daemon reaps
        the workers it forks, so the tree total is every daemon's own
        and reaped time plus the live workers' own time."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        py = 0.0
        for p in self.workers():
            st = _stat_fields(p)
            is_daemon = st is not None and int(st[1]) == self.jvm_pid
            py += cpu_s(p, reaped=is_daemon)
        return {
            "jvm_cpu_s": cpu_s(self.jvm_pid),
            "pyworker_cpu_s": py,
            "driver_py_cpu_s": ru.ru_utime + ru.ru_stime,
        }

    def peak_rss_mb(self) -> float:
        self.sample()
        driver_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (
            vm_hwm_kb(self.jvm_pid) + driver_kb + sum(self.worker_hwm_kb.values())
        ) / 1024.0
