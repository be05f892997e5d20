"""Measurement probes: process-tree CPU and memory from /proc, host steal
time, Spark job/stage/task counts from the status tracker, and spans."""

from __future__ import annotations

import os
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_path(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            s = f.read()
    except OSError:
        return None
    return s[s.rindex(")") + 2 :].split()


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def descendants(root: int) -> list[int]:
    """Live descendants of ``root`` (children first found by a /proc scan)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(pid: int) -> float:
    """utime+stime of the process plus its reaped children, in seconds."""
    st = _stat(pid)
    return sum(int(x) for x in st[11:15]) / _TICK if st else 0.0


class ProcessTree:
    """CPU and memory of the Spark JVM (``jvm_pid``), its descendants (the
    Python worker daemon and workers) and this Python process."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def cpu(self) -> tuple[float, float]:
        """(JVM cpu-s, Python cpu-s: this process plus workers), cumulative."""
        py = sum(_cpu_s(p) for p in descendants(self.jvm_pid)) + _cpu_s(os.getpid())
        return _cpu_s(self.jvm_pid), py

    def compiler_threads(self) -> dict[str, float]:
        """cpu-s so far of each live JIT compiler thread of the JVM."""
        out = {}
        base = f"/proc/{self.jvm_pid}/task"
        for tid in os.listdir(base):
            try:
                with open(f"{base}/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():
                        continue
            except OSError:
                continue
            st = _stat_path(f"{base}/{tid}/stat")
            if st:
                out[tid] = (int(st[11]) + int(st[12])) / _TICK
        return out

    def peak_rss_mb(self) -> tuple[float, float]:
        """(JVM, Python workers) high-water resident set, MB (VmHWM)."""
        def hwm(pid: int) -> float:
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            return int(line.split()[1]) / 1024
            except OSError:
                pass
            return 0.0

        return hwm(self.jvm_pid), sum(hwm(p) for p in descendants(self.jvm_pid))


def steal_s() -> float:
    """Host-wide steal time so far (/proc/stat), seconds."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


class JobCounter:
    """Counts the Spark jobs, stages and tasks a span submitted.

    The benchmark sets no job groups, so every job is in the null group,
    including the ones the pipeline's read-back threads submit."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def _drain(self) -> None:
        # the status store is fed by the listener bus; wait until it has
        # seen every event so counts do not depend on listener lag
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self) -> set[int]:
        self._drain()
        return set(self.tracker.getJobIdsForGroup(None))

    def counts(self, before: set[int]) -> dict[str, int]:
        jobs = sorted(self.job_ids() - before)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = self.tracker.getStageInfo(s)
                if si and si.numCompletedTasks > 0:
                    stages += 1
                    tasks += si.numCompletedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


class Tracer:
    """In-memory spans: name, op id, parent, start, end and counts. With
    ``enabled`` false every call is a cheap no-op, so the untraced run
    executes the same code path."""

    def __init__(self, enabled: bool, jobs: JobCounter | None = None):
        self.enabled = enabled
        self.jobs = jobs
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # per op id: seconds the tracer itself spent inside `*.op` spans
        self.overhead: dict[int, float] = {}

    def _charge(self, op: int, seconds: float) -> None:
        if any(self.spans[k]["name"].endswith(".op") for k in self._stack):
            self.overhead[op] = self.overhead.get(op, 0.0) + seconds

    def span(self, name: str, op: int, **attrs):
        return _Span(self, name, op, attrs)

    def self_times(self) -> dict[str, float]:
        """Per span name, the summed duration not covered by child spans."""
        kids: dict[int, list[dict]] = {}
        for i, s in enumerate(self.spans):
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered, last = 0.0, s["start"]
            for c in sorted(kids.get(i, []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], last), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    last = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class _Span:
    def __init__(self, tr: Tracer, name: str, op: int, attrs: dict):
        self.tr, self.name, self.op, self.attrs = tr, name, op, attrs
        self.rec: dict = {}

    def __enter__(self):
        tr = self.tr
        if tr.enabled:
            c0 = time.perf_counter()
            self.before = tr.jobs.job_ids() if tr.jobs else set()
            self.rec = {
                "name": self.name, "op": self.op,
                "parent": tr._stack[-1] if tr._stack else None,
                "start": time.perf_counter(), **self.attrs,
            }
            tr.spans.append(self.rec)
            tr._stack.append(len(tr.spans) - 1)
            tr._charge(self.op, time.perf_counter() - c0)
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        tr = self.tr
        if tr.enabled:
            c0 = self.rec["end"] = time.perf_counter()
            if tr.jobs:
                self.rec.update(tr.jobs.counts(self.before))
            tr._charge(self.op, time.perf_counter() - c0)
            tr._stack.pop()
        return False
