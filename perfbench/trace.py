"""In-memory spans recorded around calls into the program.

A span has a name, start and end (``time.perf_counter`` seconds), the
span that caused it, and the id of the workload run it belongs to.
Spans stay in memory; the caller writes them out when the run ends.

A traced tracer also tags every Spark job the span launches: entering
a span sets the thread's job group to ``bench-<span id>`` and leaving it
restores the parent's, so the status store can later attribute each
job (and its stages and tasks) to the innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

JOB_GROUP_PREFIX = "bench-"


@dataclass
class Span:
    span_id: int
    name: str
    run_id: int
    parent: int | None
    start: float
    end: float = float("nan")
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``spark`` given means Spark jobs are tagged per span."""

    def __init__(self, spark=None):
        self._sc = spark.sparkContext if spark is not None else None
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run_id = 0
        # seconds spent tagging jobs, per run id: the work tracing adds
        self.overhead: dict[int, float] = {}

    def _set_group(self, span_id: int | None) -> None:
        if self._sc is None:
            return
        t = time.perf_counter()
        if span_id is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"{JOB_GROUP_PREFIX}{span_id}", self.spans[span_id].name)
        self.overhead[self.run_id] = self.overhead.get(self.run_id, 0.0) + time.perf_counter() - t

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, self.run_id, parent, time.perf_counter())
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        self._set_group(sp.span_id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)

    def run_spans(self, run_id: int) -> list[Span]:
        return [s for s in self.spans if s.run_id == run_id]


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its children cover.

    Overlapping children count once (their union), and a child that
    runs past its parent counts only inside the parent's interval, so
    the self times of a tree add up to the root's duration."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.span_id: s.duration - covered(children.get(s.span_id, []), s.start, s.end)
        for s in spans
    }
