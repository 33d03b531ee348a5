"""In-memory span tracing, Spark job accounting and process memory readings.

Spans are recorded by the benchmark around its own calls into the engine's
public functions; the engine itself is not instrumented. A span is
(name, start, end, parent, op): ``op`` is the id of the measured operation
the span belongs to, so every span of one region query, cutout request or
join shares it. Spans stay in memory and are written out once, at the end
of the run.

With tracing off, ``Tracer.span`` returns a shared no-op context manager,
so an untraced run pays one attribute lookup and one call per span site.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass

_NULL = contextlib.nullcontext()


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: str | None = None


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.op: str | None = None

    def span(self, name: str):
        if not self.enabled:
            return _NULL
        return self._span(name)

    @contextlib.contextmanager
    def _span(self, name: str):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent=parent, op=self.op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part of it its children cover
        (children run sequentially inside their parent, so their union is
        the merged list of their intervals)."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(s.sid, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.sid] = (s.end - s.start) - covered
        return out

    def nesting_violations(self) -> int:
        """Spans whose children's self times add up to more than the span
        itself (1 us slack for clock granularity); 0 for a sound trace."""
        st = self.self_times()
        child_sum: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_sum[s.parent] = child_sum.get(s.parent, 0.0) + st[s.sid]
        return sum(1 for s in self.spans
                   if child_sum.get(s.sid, 0.0) > (s.end - s.start) + 1e-6)

    def self_time_by_layer(self) -> dict[str, float]:
        st = self.self_times()
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + st[s.sid]
        return out

    def write(self, path: str) -> None:
        st = self.self_times()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.sid, "name": s.name, "op": s.op,
                    "parent": s.parent, "start": s.start, "end": s.end,
                    "self_s": st[s.sid],
                }) + "\n")


class JobAccounting:
    """Tags each measured operation with its own Spark job group and, when
    asked, counts the jobs, stages and tasks the group ran through the
    status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext

    def begin(self, op: str, description: str) -> None:
        self.sc.setJobGroup(op, description, interruptOnCancel=False)

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, op: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(op)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None:  # skipped stage (shuffle reuse): no tasks ran
                    continue
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "failed_tasks": failed}


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_by_process(jvm_pid: int | None) -> dict[str, float]:
    """High-water RSS (VmHWM, MB) of this driver process, the JVM and every
    process under the JVM (the Python worker daemon and its workers)."""
    out = {"driver": _status_kb(os.getpid(), "VmHWM") / 1024.0}
    if jvm_pid:
        out["jvm"] = _status_kb(jvm_pid, "VmHWM") / 1024.0
        for p in _descendants(jvm_pid):
            out[f"worker-{p}"] = _status_kb(p, "VmHWM") / 1024.0
    return out


def peak_rss_mb(by_process: dict[str, float]) -> float:
    """Sum of the per-process peaks: an upper bound on the peak of the
    total."""
    return sum(by_process.values())


def cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time between two readings that the hypervisor gave
    to other guests: a run with a high share ran on a contended host."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def busy_cpu_s(before: list[int], after: list[int]) -> float:
    """CPU seconds, over all CPUs of the host, spent neither idle, waiting
    for I/O nor stolen between two readings."""
    d = [b - a for a, b in zip(before, after)]
    return (sum(d) - d[3] - d[4] - d[7]) / os.sysconf("SC_CLK_TCK")
