"""Spans and Spark status-store reads for the traced run.

A ``Tracer`` keeps spans in memory (name, start, end, parent, op id) and
writes them as JSON lines when the run ends. ``group_stats`` reads what
Spark's in-process status store knows about the jobs of one job group:
jobs, stages, tasks, task run and CPU time, GC, shuffle and spill, and
the wall-clock interval each stage was running. It needs no UI and no
event log (``spark.ui.enabled=false`` is fine).
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


@dataclass
class GroupStats:
    """Spark-side counters of one job group (one operation)."""

    jobs: int = 0
    stages: int = 0
    skipped_stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_records: int = 0
    spill_mb: float = 0.0
    # (start, end) wall-clock epoch seconds of every stage that ran
    intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def stage_busy_s(self) -> float:
        return union_length(self.intervals)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


_MB = 1024.0 * 1024.0


def group_stats(spark, group: str) -> GroupStats:
    """Sum the status store's job and stage records for job ``group``."""
    jsc = spark.sparkContext._jsc.sc()
    store = jsc.statusStore()
    out = GroupStats()
    seen: set[int] = set()
    for jid in jsc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out.jobs += 1
        out.skipped_stages += job.numSkippedStages()
        for sid in job.stageIds().mkString(",").split(","):
            sid = int(sid)
            if sid in seen:
                continue
            seen.add(sid)
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += stage.numCompleteTasks()
            out.task_run_s += stage.executorRunTime() / 1e3
            out.task_cpu_s += stage.executorCpuTime() / 1e9
            out.gc_s += stage.jvmGcTime() / 1e3
            out.shuffle_write_mb += stage.shuffleWriteBytes() / _MB
            out.shuffle_read_mb += stage.shuffleReadBytes() / _MB
            out.shuffle_write_records += stage.shuffleWriteRecords()
            out.spill_mb += (stage.memoryBytesSpilled() + stage.diskBytesSpilled()) / _MB
            sub, done = stage.submissionTime(), stage.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    return out
