"""Spans recorded around the benchmark's calls into the program, and the
Spark jobs each span fired.

A span is (id, name, op, parent, start, end).  While a span is open its
id is the thread's Spark job group, so every job Spark runs is attributed
to the innermost open span.  Spans live in memory; job and stage metrics
are read from Spark's status store (which is kept with the UI off) once
per op, after the op's action.  Nothing here runs when tracing is off.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from stats import clip, union_length


@dataclass
class Span:
    id: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float | None = None
    jobs: list = field(default_factory=list)   # [(job_id, start, end)]
    counts: dict = field(default_factory=dict)  # per-call counters

    @property
    def group(self) -> str:
        return f"perfbench-span-{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class JobStats:
    """Totals over a set of Spark jobs."""
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0

    def add(self, other: "JobStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._store = None
        self.bookkeeping_s = 0.0

    def bind(self, sc) -> None:
        """Attach a live SparkContext (job groups need one)."""
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.time()
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, op,
                 parent.id if parent else None, 0.0)
        self.spans.append(s)
        self._stack.append(s)
        if self._sc is not None:
            self._sc.setJobGroup(s.group, name)
        t1 = time.time()
        s.start = t1
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name)
                else:
                    self._sc._jsc.clearJobGroup()
            self.bookkeeping_s += (t1 - t0) + (time.time() - s.end)

    # ------------------------------------------------------------------ #
    # job attribution                                                    #
    # ------------------------------------------------------------------ #

    def collect_jobs(self, spans: list[Span]) -> JobStats:
        """Attach each span's jobs ``(id, start, end)`` and return the
        stage totals over all of them."""
        t0 = time.time()
        total = JobStats()
        tracker = self._sc._jsc.sc().statusTracker()
        for s in spans:
            for job_id in tracker.getJobIdsForGroup(s.group):
                job = self._store.job(int(job_id))
                start = job.submissionTime()
                end = job.completionTime()
                if start.isEmpty() or end.isEmpty():
                    continue
                s.jobs.append((int(job_id), start.get().getTime() / 1e3,
                               end.get().getTime() / 1e3))
                total.add(self._job_stats(job))
        self.bookkeeping_s += time.time() - t0
        return total

    def _job_stats(self, job) -> JobStats:
        st = JobStats(jobs=1)
        ids = job.stageIds()
        for i in range(ids.size()):
            try:
                stage = self._store.lastStageAttempt(int(ids.apply(i)))
            except Exception:      # evicted or never submitted
                continue
            if stage.status().toString() != "COMPLETE":
                continue           # skipped: its shuffle output was reused
            st.stages += 1
            st.tasks += stage.numCompleteTasks()
            st.task_run_s += stage.executorRunTime() / 1e3
            st.gc_s += stage.jvmGcTime() / 1e3
            st.shuffle_read_b += (stage.shuffleRemoteBytesRead()
                                  + stage.shuffleLocalBytesRead())
            st.shuffle_write_b += stage.shuffleWriteBytes()
            st.spill_b += stage.diskBytesSpilled()
        return st


def job_seconds(span: Span) -> float:
    """Wall time during which at least one of the span's own jobs ran."""
    return union_length(clip([(a, b) for _, a, b in span.jobs],
                             span.start, span.end))


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it covered by child spans."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.id]
    return span.duration - union_length(clip(kids, span.start, span.end))


def subtree(span: Span, spans: list[Span]) -> list[Span]:
    out, frontier = [span], [span.id]
    while frontier:
        kids = [c for c in spans if c.parent in frontier]
        out += kids
        frontier = [c.id for c in kids]
    return out
