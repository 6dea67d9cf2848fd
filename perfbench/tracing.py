"""Spans and Spark counters for the benchmark's traced runs.

Everything here is gathered from outside the engine: spans are recorded
around calls into its public functions, and Spark counters are read from
the status store per job group (``setJobGroup`` before a unit of work,
``statusTracker().getJobIdsForGroup`` after it). The store keeps only
the most recent 1000 jobs and stages, so counters are read once per unit
of work, right after it ends, and never as deltas of list sizes.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterator

from py4j.protocol import Py4JJavaError


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_start, cur_end = 0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_cpu_ms: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    # [submission, completion] of each job, in epoch milliseconds.
    intervals: list[tuple[int, int]] = field(default_factory=list)

    def busy_ms(self) -> float:
        """Length of the union of the job intervals."""
        return float(union_length(self.intervals))


def _opt_millis(opt) -> int | None:
    return opt.get().getTime() if opt.isDefined() else None


class Tracer:
    """Spans kept in memory and written out once, plus status-store reads."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self._stack: list[int] = []

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, op: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, time.perf_counter(), parent=parent)
        self.spans.append(sp)
        self._stack.append(len(self.spans) - 1)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_ms(self, index: int) -> float:
        """Span duration minus the part of it that its children cover."""
        sp = self.spans[index]
        covered = union_length([(c.start, c.end) for c in self.spans if c.parent == index])
        return (sp.end - sp.start - covered) * 1000.0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([sp.__dict__ for sp in self.spans], fh)

    # -- Spark counters ---------------------------------------------------
    @contextmanager
    def job_group(self, group: str) -> Iterator[None]:
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def read_group(self, group: str) -> GroupCounters:
        """Sum the retained jobs of one job group and their last stage
        attempts. Skipped stages (never submitted) have no attempt."""
        out = GroupCounters()
        seen_stages: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            try:
                job = self.store.job(jid)
            except Py4JJavaError:
                continue
            out.jobs += 1
            start, end = _opt_millis(job.submissionTime()), _opt_millis(job.completionTime())
            if start is not None and end is not None:
                out.intervals.append((start, end))
            stage_ids = job.stageIds()
            for i in range(stage_ids.length()):
                sid = stage_ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:
                    continue
                if st.numTasks() == 0 or str(st.status()) == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += st.numCompleteTasks()
                out.executor_cpu_ms += st.executorCpuTime() / 1e6
                out.shuffle_write_mb += st.shuffleWriteBytes() / 1e6
                out.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 1e6
        return out

    def persisted(self) -> tuple[int, float]:
        """(cached RDD count, their memory + disk MB) from the status store."""
        rdds = self.store.rddList(True)
        n, mb = rdds.length(), 0.0
        for i in range(n):
            r = rdds.apply(i)
            mb += (r.memoryUsed() + r.diskUsed()) / 1e6
        return n, mb

    def gc_ms(self) -> float:
        """Cumulative executor GC time (the driver is the executor in
        local mode)."""
        execs = self.store.executorList(True)
        return float(sum(execs.apply(i).totalGCTime() for i in range(execs.length())))
