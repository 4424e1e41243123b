"""Spans and Spark job accounting, installed from outside the program.

A ``Tracer`` wraps public entry points of the package with spans. Each span
records its name, start, end and parent; spans stay in memory and are
summarised when the run ends. While a span is open its name is the Spark job
group, so ``statusTracker().getJobIdsForGroup`` attributes every job to the
innermost open span. ``JobCounter`` reads the same groups for the untraced
runs, where one group covers a whole drain or suite pass. ``ProcessCpu``
reads the CPU time the run's processes have used, for the end-to-end
metrics.
"""

from __future__ import annotations

import functools
import os
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class JobCounter:
    """Spark jobs, tasks and failed tasks per job group, read through the
    status tracker (retention limits are raised in the session config)."""

    def __init__(self, sc, tag: str) -> None:
        self.sc = sc
        self.tag = tag

    def group(self, name: str) -> str:
        return f"{self.tag}:{name}"

    def set(self, name: str | None) -> None:
        if name is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(self.group(name), name)

    def counts(self, name: str) -> tuple[int, int, int]:
        """(jobs, tasks completed, tasks failed) for one group."""
        tracker = self.sc.statusTracker()
        jobs = tasks = failed = 0
        for job_id in tracker.getJobIdsForGroup(self.group(name)):
            jobs += 1
            info = tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = tracker.getStageInfo(stage_id)
                if stage is not None:
                    tasks += stage.numCompletedTasks
                    failed += stage.numFailedTasks
        return jobs, tasks, failed


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
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
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file, or None when the
    process or thread has ended since it was listed."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    head, tail = raw.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


class ProcessCpu:
    """CPU seconds used so far by this process, the Spark JVM it started
    and the JVM's descendants (the Python workers), read from /proc, less
    the time of the JVM's JIT compiler threads.

    Time in which the host ran other tenants is not CPU time of these
    processes, so on a shared host this moves less than wall time, though
    it still rises when the neighbours slow the cores down. JIT compilation is left out because in a fresh JVM it is a third to
    two thirds of a pass's CPU, comes in bursts and falls by half over the
    first minute; ``jit_seconds`` reports it on its own. The session must
    keep a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``): the time of a compiler
    thread that exits stays in the process total where it can no longer be
    told apart."""

    TICKS_PER_S = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def seconds(self) -> float:
        jvm = self._jvm_pid()
        ticks = 0
        for pid in (os.getpid(), jvm, *descendants(jvm)):
            stat = _stat_fields(f"/proc/{pid}/stat")
            if stat:
                # utime, stime, cutime, cstime: a worker that exits and is
                # reaped moves into its parent's total, so the sum never drops
                ticks += sum(int(x) for x in stat[1][11:15])
        return ticks / self.TICKS_PER_S - self.jit_seconds(jvm)

    def jit_seconds(self, jvm: int | None = None) -> float:
        """CPU seconds of the JVM's JIT compiler threads so far."""
        tasks = f"/proc/{jvm or self._jvm_pid()}/task"
        ticks = 0
        for tid in os.listdir(tasks):
            stat = _stat_fields(f"{tasks}/{tid}/stat")
            # "C1 CompilerThread0", cut to 15 characters by the kernel
            if stat and "CompilerThre" in stat[0]:
                ticks += int(stat[1][11]) + int(stat[1][12])
        return ticks / self.TICKS_PER_S


class NullTracer:
    """Stands in for a ``Tracer`` in untraced passes."""

    def span(self, name: str):
        return nullcontext()


class Tracer:
    """Nested spans over wrapped functions and explicit ``span`` blocks.
    Jobs started outside every span fall into the ``root`` group."""

    def __init__(self, jobs: JobCounter, root: str = "uncovered") -> None:
        self.jobs = jobs
        self.root = root
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        self.jobs.set(name)
        try:
            yield
        finally:
            sp = self.spans[idx]
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.spans[parent].child_s += sp.duration
                self.jobs.set(self.spans[parent].name)
            else:
                self.jobs.set(self.root)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a spanned version. ``owner`` must be
        the object the caller resolves the name on: a class for methods, or
        the importing module for a function imported by name."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        self.patch(owner, attr, spanned)

    def patch(self, owner, attr: str, replacement) -> None:
        """Set ``owner.attr`` to ``replacement`` until ``uninstall``."""
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def uninstall(self) -> None:
        """Undo every patch and clear the job group, so that jobs run after
        the traced pass (its checks) are not charged to ``root``."""
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)
        self.jobs.set(None)

    def self_s(self) -> dict[str, float]:
        """Total self time per span name."""
        out: dict[str, float] = defaultdict(float)
        for sp in self.spans:
            out[sp.name] += sp.self_s
        return out

    def covered_s(self) -> float:
        """Time covered by outermost spans."""
        return sum(s.duration for s in self.spans if s.parent is None)
