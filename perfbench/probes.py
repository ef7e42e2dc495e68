"""Measurements taken from outside the program: process clocks and
memory from ``/proc``, Spark's job and storage counters through the
public status API, and spans around calls into the program's layers."""

from __future__ import annotations

import os
import time
from collections import defaultdict
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int | str) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    return raw[raw.rindex(")") + 2:].split()  # fields from 3 (state) on


def since_process_start_s() -> float:
    """Wall seconds since this process was created (10 ms resolution)."""
    start = int(_stat_fields("self")[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def cpu_s(pid: int, children: bool = False) -> float:
    """utime + stime of ``pid``; with ``children``, also the CPU of its
    exited and reaped children."""
    f = _stat_fields(pid)
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def descendants(pid: int) -> list[int]:
    kids = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                kids[int(_stat_fields(d)[1])].append(int(d))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


class EngineProbe:
    """Counters of one SparkSession, read through public APIs: the
    driver JVM and its Python worker processes from ``/proc``, jobs,
    stages and tasks of a job group from ``statusTracker()``, persisted
    RDDs and their memory from the SparkContext."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm_pid = int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def cpu(self) -> tuple[float, float]:
        """(JVM CPU s, Python worker CPU s) so far. Workers are the
        JVM's Python descendants (the worker daemon and the workers it
        forks), each with its reaped children; the JVM's other children,
        such as the shell commands Hadoop's local filesystem forks, are
        in neither number."""
        workers = 0.0
        for pid in descendants(self.jvm_pid):
            try:
                with open(f"/proc/{pid}/comm") as fh:
                    if fh.read().startswith("python"):
                        workers += cpu_s(pid, children=True)
            except (FileNotFoundError, ProcessLookupError):
                continue
        return cpu_s(self.jvm_pid), workers

    def peak_rss_mb(self) -> float:
        return hwm_mb(self.jvm_pid) + hwm_mb("self")

    def job_counts(self, group: str) -> tuple[int, int, int]:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                st = tracker.getStageInfo(sid)
                if st:
                    stages += 1
                    tasks += st.numTasks
        return len(jobs), stages, tasks

    def cached(self) -> tuple[int, float]:
        """(persisted RDDs, MB of them held in memory)."""
        jsc = self.sc._jsc
        frames = jsc.getPersistentRDDs().size()
        mem = sum(info.memSize() for info in jsc.sc().getRDDStorageInfo())
        return frames, mem / 2**20


class Spans:
    """In-memory spans: (name, parent, start, end) per op, kept until
    the run ends. ``patch`` and ``wrap`` replace a module attribute for
    the life of the recorder; ``close`` restores it."""

    def __init__(self):
        self.spans: list[tuple[str, str | None, float, float]] = []
        self._stack: list[str] = []
        self._patched: list[tuple[object, str, object]] = []
        self.probe_s = 0.0  # bookkeeping time spent inside spans

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        try:
            yield
        finally:
            self._stack.pop()
            t1 = time.perf_counter()
            self.spans.append((name, parent, t0, t1))
            self.probe_s += time.perf_counter() - t1

    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str) -> None:
        fn = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self.patch(owner, attr, traced)

    def close(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def take(self) -> list[tuple[str, str | None, float, float]]:
        out, self.spans = self.spans, []
        return out


def self_time(spans, name: str) -> float:
    """Sum over spans called ``name`` of their duration minus the part
    their direct children cover."""
    total = 0.0
    for n, _, t0, t1 in spans:
        if n != name:
            continue
        covered = sum(
            c1 - c0 for _, cp, c0, c1 in spans
            if cp == name and c0 >= t0 and c1 <= t1
        )
        total += (t1 - t0) - covered
    return total
