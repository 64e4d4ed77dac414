"""Spans around calls into the program's layers, and Spark's own counters.

A span records a name, start, end and the span that was open when it
began. Spans stay in memory until the run ends. A layer's self time is
its spans' duration minus the part of each interval that child spans
cover, so a runner call that spends most of its time inside executor
calls is charged only for the rest.

Spark counters come from the status store, which works with the UI
disabled: the jobs launched inside a span are the ids above the highest
id seen when it opened, read from ``statusTracker``; their stages are
read with ``statusStore().lastStageAttempt``.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = 1 << 20


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Span | None = None
    jobs: list[int] = field(default_factory=list)


class Tracer:
    """Collects spans. Spans opened on a thread with no open span of its
    own (the runner's model pool) take the innermost span open on the
    thread that created the tracer as their parent."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main: list[Span] = []
        self._main_thread = threading.get_ident()

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main_thread:
            return self._main
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, jobs: bool = False):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main[-1] if self._main else None)
        first_job = _max_job(self.sc) + 1 if jobs else 0
        s = Span(name, time.perf_counter(), parent=parent)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()
            if jobs:
                s.jobs = _jobs_from(self.sc, first_job)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def wrapped(self, targets):
        """Within the block, every call to ``owner.attr`` for each
        ``(owner, attr, span name)`` in ``targets`` records a span."""
        originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
        for (owner, attr, fn), (_, _, name) in zip(originals, targets):
            setattr(owner, attr, self._traced(fn, name))
        try:
            yield
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    def _traced(self, fn, name: str):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, each span's duration minus the union of
        its children's intervals inside it."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[id(s.parent)].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, reach = 0.0, s.start
            for c in sorted(children[id(s)], key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out[s.name] += (s.end - s.start) - covered
        return dict(out)

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


def _max_job(sc) -> int:
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


def _jobs_from(sc, first: int) -> list[int]:
    return sorted(j for j in sc.statusTracker().getJobIdsForGroup() if j >= first)


def spark_counters(sc, job_ids: list[int]) -> dict[str, float]:
    """Work Spark did for ``job_ids``: jobs, completed stages and their
    tasks, executor run and CPU time, shuffle, spill, peak execution
    memory, the longest task and bytes written."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    quantile = sc._gateway.new_array(sc._gateway.jvm.double, 1)
    quantile[0] = 1.0
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    c = dict.fromkeys(
        ("stages", "tasks", "run_ms", "cpu_ns", "read", "write", "spill",
         "peak_mem", "max_task_ms", "output"), 0.0,
    )
    for sid in stage_ids:
        st = store.lastStageAttempt(sid)
        if str(st.status()) != "COMPLETE":
            continue
        c["stages"] += 1
        c["tasks"] += st.numTasks()
        c["run_ms"] += st.executorRunTime()
        c["cpu_ns"] += st.executorCpuTime()
        c["read"] += st.shuffleReadBytes()
        c["write"] += st.shuffleWriteBytes()
        c["spill"] += st.diskBytesSpilled()
        c["peak_mem"] = max(c["peak_mem"], st.peakExecutionMemory())
        c["output"] += st.outputBytes()
        summary = store.taskSummary(sid, st.attemptId(), quantile)
        if summary.isDefined():
            c["max_task_ms"] = max(c["max_task_ms"], summary.get().executorRunTime().apply(0))
    run_s = c["run_ms"] / 1e3
    cpu_s = c["cpu_ns"] / 1e9
    return {
        "spark.jobs": float(len(job_ids)),
        "spark.stages": c["stages"],
        "spark.tasks": c["tasks"],
        "spark.executor_run_s": run_s,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_ratio": cpu_s / run_s if run_s else 0.0,
        "spark.shuffle_read_mb": c["read"] / MB,
        "spark.shuffle_write_mb": c["write"] / MB,
        "spark.spill_mb": c["spill"] / MB,
        "spark.peak_exec_mem_mb": c["peak_mem"] / MB,
        "spark.max_task_s": c["max_task_ms"] / 1e3,
        "spark.output_mb": c["output"] / MB,
    }


def driver_peak_rss_mb(sc) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    import resource

    with open(f"/proc/{sc._gateway.proc.pid}/status") as fh:
        jvm_kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))
