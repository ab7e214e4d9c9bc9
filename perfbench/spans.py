"""Spans recorded around calls into the program's layers, a parser for
Spark's uncompressed JSON event log, and the attribution of Spark jobs
to spans by time window.

A span is ``(layer, kind, start, end, parent)`` with wall-clock times in
epoch seconds, the clock Spark stamps its events with. A job belongs to
the innermost span whose window holds the job's submission time; group
ids are not used, because streaming micro-batches and helper threads
set their own.
"""

from __future__ import annotations

import functools
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    layer: str
    kind: str
    start: float
    end: float = 0.0
    parent: int | None = None


class Recorder:
    """Collects spans in memory; off (and free) until ``enabled``."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self._stack: list[int] = []

    def open(self, layer: str, kind: str = "") -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(layer, kind, time.time(), parent=parent))
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack.pop()

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            idx = self.open(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        return traced


class Patch:
    """Replace attributes with traced wrappers; ``restore`` undoes it."""

    def __init__(self, recorder: Recorder) -> None:
        self.recorder = recorder
        self._saved: list[tuple[object, str, object]] = []

    def wrap(self, owner: object, attr: str, layer: str) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self.recorder.wrap(orig, layer))

    def restore(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------ event log


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    task_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    output_bytes: int = 0


def event_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir``: Spark 4 writes a rolling
    ``eventlog_v2_<app>/events_<n>_<app>`` directory by default, a single
    ``<app>`` file when rolling is off."""
    out = []
    for root, _, files in os.walk(log_dir):
        for f in files:
            if f.startswith("appstatus_") or f.endswith(".crc"):
                continue
            out.append(os.path.join(root, f))

    def order(path: str) -> tuple[str, int]:
        base = os.path.basename(path)
        parts = base.split("_")
        n = int(parts[1]) if base.startswith("events_") and parts[1].isdigit() else 0
        return os.path.dirname(path), n

    return sorted(out, key=order)


def parse_event_log(log_dir: str) -> list[Job]:
    """Jobs with their windows and the task metrics of their stages."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in event_files(log_dir):
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    j = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, stages=list(ev["Stage IDs"]))
                    jobs[j.job_id] = j
                    for s in j.stages:
                        stage_job[s] = j.job_id
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if job is None or not m:
                        continue
                    job.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    job.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    job.output_bytes += m.get("Output Metrics", {}).get("Bytes Written", 0)
    for j in jobs.values():
        if not j.end:  # still running when the log was closed
            j.end = j.start
    return sorted(jobs.values(), key=lambda j: j.start)


# ------------------------------------------------------------ attribution


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[tuple[float, float]] = []
    for a, b in sorted(intervals):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        elif b > a:
            out.append((a, b))
    return out


def _subtract(span: tuple[float, float], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """``span`` minus the union of ``holes``."""
    out, cur = [], span[0]
    for a, b in _union(holes):
        if b <= cur or a >= span[1]:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def _length(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in intervals)


def _overlap(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    total = 0.0
    for x0, x1 in a:
        for y0, y1 in b:
            total += max(0.0, min(x1, y1) - max(x0, y0))
    return total


@dataclass
class LayerStats:
    calls: int = 0
    self_s: float = 0.0
    driver_s: float = 0.0
    jobs: int = 0
    task_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    output_bytes: int = 0
    by_kind: dict[str, float] = field(default_factory=dict)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[str, LayerStats]:
    """Per-layer totals.

    - ``self_s``: each span's wall time minus the part its children cover;
    - ``jobs`` and job metrics: jobs whose submission falls in the span's
      self time (the innermost enclosing span);
    - ``driver_s``: self time not covered by any job's run.
    Jobs submitted outside every span are not counted.
    """
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    job_iv = _union([(j.start, j.end) for j in jobs])
    out: dict[str, LayerStats] = {}
    owner: list[int | None] = [None] * len(jobs)
    for i, s in enumerate(spans):
        own = _subtract((s.start, s.end), [(spans[c].start, spans[c].end) for c in children.get(i, [])])
        st = out.setdefault(s.layer, LayerStats())
        st.calls += 1
        st.self_s += _length(own)
        st.driver_s += _length(own) - _overlap(own, job_iv)
        if s.kind:
            st.by_kind[s.kind] = st.by_kind.get(s.kind, 0.0) + (s.end - s.start)
        for k, j in enumerate(jobs):
            if any(a <= j.start < b for a, b in own):
                owner[k] = i
    for k, i in enumerate(owner):
        if i is None:
            continue
        st, j = out[spans[i].layer], jobs[k]
        st.jobs += 1
        st.task_cpu_s += j.task_cpu_s
        st.shuffle_bytes += j.shuffle_write_bytes
        st.output_bytes += j.output_bytes
    return out
