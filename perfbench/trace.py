"""Measurement helpers: order statistics, spans, Spark task counts and RSS.

Nothing here imports Spark; the Spark helpers take the SparkContext they
read from.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

# A tail percentile is reported only where this many samples lie beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it: the (n - 10)-th smallest value. Returns (value, percentile,
    n). With n <= 10 no percentile qualifies; the maximum is returned as
    percentile 100 (a run that short has failed ops and is not correct)."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return max(samples), 100.0, n
    rank = n - TAIL_BEYOND  # 1-based
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def median(samples: list[float]) -> float:
    return statistics.median(samples)


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records one span per wrapped call; spans stay in memory until the
    run ends. Spans nest by call order: a span opened inside another is
    its child."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.op)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span called ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def self_times(self) -> dict[int, float]:
        return self_times(self.spans)

    def by_name(self, name: str) -> list[float]:
        """Self time of every span called ``name``, in call order."""
        own = self.self_times()
        return [own[s.span_id] for s in self.spans if s.name == name]

    def as_records(self) -> list[dict]:
        own = self.self_times()
        return [
            {
                "id": s.span_id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "op": s.op,
                "self_s": own[s.span_id],
            }
            for s in self.spans
        ]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its children cover.
    Children may overlap each other; their covered time is the union of
    their intervals, clipped to the parent."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.span_id] = (s.end - s.start) - covered
    return out


@dataclass
class JobCounts:
    jobs: int
    stages: int
    tasks: int
    failed_tasks: int


def job_counts(sc, group: str) -> JobCounts:
    """Jobs, stages that ran, and tasks of one job group, from the
    SparkContext's status tracker. Stages skipped because their shuffle
    output was reused ran no task and are not counted."""
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = tasks = failed = 0
    for st in stages:
        info = tracker.getStageInfo(st)
        if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
            continue
        ran += 1
        tasks += info.numCompletedTasks
        failed += info.numFailedTasks
    return JobCounts(len(job_ids), ran, tasks, failed)


def _proc_tree(root: int) -> list[int]:
    parents: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rfind(b")") + 2 :].split()[1])
        parents.setdefault(ppid, []).append(int(entry))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(parents.get(pid, ()))
    return out


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of every live process in the
    tree under ``root`` (default: this process): the Python driver, the
    Spark JVM and its Python workers."""
    total_kb = 0
    for pid in _proc_tree(root if root is not None else os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def live_children(root: int | None = None) -> list[int]:
    return _proc_tree(root if root is not None else os.getpid())[1:]
