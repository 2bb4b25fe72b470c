"""Spans around calls into the package's layers, measured from outside.

A span wraps one call into a layer's public function.  In a traced run
each span gets its own Spark job group; after the round, the jobs of
that group are read from the JVM status store (UI off is fine) and
attributed to the span: job count, task count, executor run time,
shuffle read+write bytes, disk spill, and the part of the span's wall
time no job interval covers (`driver_s`: planning, collects, driver-side
numpy and py4j).  With tracing off a span only times the call, and sets
no job group, so the untraced run issues exactly the same Spark jobs.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_METRICS = ("s", "driver_s", "jobs", "tasks", "executor_run_s", "shuffle_mb", "spill_mb")
SPAN_UNITS = {
    "s": "s", "driver_s": "s", "jobs": "count", "tasks": "count",
    "executor_run_s": "s", "shuffle_mb": "MB", "spill_mb": "MB",
}


@dataclass
class Span:
    name: str
    group: str | None
    start: float  # epoch seconds, comparable with the JVM's job timestamps
    end: float
    wall_s: float
    stats: dict = field(default_factory=dict)
    detail: str = ""  # what the call was, e.g. which query


class Tracer:
    """Collects spans in memory; `traced` switches job-group attribution."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.traced = False
        self.spans: list[Span] = []
        self._pending: list[Span] = []
        self._n = 0

    @contextmanager
    def span(self, name: str, detail: str = ""):
        group = None
        if self.traced:
            group = f"perfbench-{os.getpid()}-{self._n}"
            self._n += 1
            self._sc.setJobGroup(group, name)
        start, p0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - p0
            if group is not None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            span = Span(name, group, start, start + wall, wall, detail=detail)
            self.spans.append(span)
            if group is not None:
                self._pending.append(span)

    def resolve(self) -> None:
        """Attribute Spark work to the spans recorded since the last call.
        Run between rounds: it waits for the listener bus to drain so the
        status store holds every job those spans started."""
        if not self._pending:
            return
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self._sc.statusTracker()
        no_status = self._sc._jvm.java.util.ArrayList()
        no_quantiles = self._sc._gateway.new_array(self._sc._jvm.double, 0)
        for span in self._pending:
            intervals = []
            stats = dict.fromkeys(SPAN_METRICS[2:], 0.0)
            for jid in tracker.getJobIdsForGroup(span.group):
                job = store.job(jid)
                stats["jobs"] += 1
                sub, done = job.submissionTime(), job.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                stage_ids = job.stageIds().iterator()
                while stage_ids.hasNext():
                    attempts = store.stageData(
                        stage_ids.next(), False, no_status, False, no_quantiles
                    )
                    for i in range(attempts.size()):
                        st = attempts.apply(i)
                        if str(st.status()) == "SKIPPED":
                            continue
                        stats["tasks"] += st.numCompleteTasks()
                        stats["executor_run_s"] += st.executorRunTime() / 1e3
                        stats["shuffle_mb"] += (
                            st.shuffleReadBytes() + st.shuffleWriteBytes()
                        ) / 1e6
                        stats["spill_mb"] += st.diskBytesSpilled() / 1e6
            stats["s"] = span.wall_s
            stats["driver_s"] = max(
                0.0, span.wall_s - _covered(intervals, span.start, span.end)
            )
            span.stats = stats
        self._pending.clear()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def descendants(root_pid: int) -> list[int]:
    """Pids of every live descendant of `root_pid`, read from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    found, stack = [], list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(children.get(pid, ()))
    return found


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, own and reaped children) used so far by
    `root_pid` and every live descendant.  Python workers that exit are
    counted through the process that reaped them."""
    total = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident set sizes (VmHWM) of `root_pid` and every
    descendant — the python driver, the JVM and the python workers."""
    total_kb = 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
