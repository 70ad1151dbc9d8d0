"""Spans recorded around the benchmark's calls into the program.

A span has a name, a start, an end and the span that caused it.  While
a span is open, every Spark job the driver thread launches carries the
span's id as its job group, so the event-log parser can attribute jobs
to spans.  Spans stay in memory until the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with event-log times
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``sc`` (a SparkContext) is tagged with each open
    span's id as the job group, or left alone when ``sc`` is None."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(f"pb{len(self.spans)}", name, parent.sid if parent else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._tag(parent)

    def _tag(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(s.sid, s.name)

    def subtree(self, sid: str) -> set[str]:
        """``sid`` and the ids of every span below it."""
        out = {sid}
        frontier = [sid]
        while frontier:
            kids = [s.sid for s in self.spans if s.parent in frontier]
            out.update(kids)
            frontier = kids
        return out


class _NoTrace:
    """Stands in for the tracer where nothing is measured."""

    def span(self, name: str, **attrs):
        return nullcontext()


NO_TRACE = _NoTrace()


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total = 0.0
    cur_lo = cur_hi = None
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


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part its children cover."""
    return span.duration - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )
