"""Spans recorded from the benchmark's own wrappers around the program's layers.

A span is (id, name, start, end, parent, op).  Spans stay in memory and are
summarised when the run ends.  The wrappers are installed on classes and
modules for the traced run only; the untraced run records nothing.

Each wrapper also sets ``spark.job.description`` to ``bench:<span id>`` for
the duration of the call, so every Spark job the call submits can be
attributed to its span from the event log.  The property is set inside the
wrapper because Spark local properties are per thread and
``SparkETLPipeline.run`` submits ``load`` and ``ensure_stations`` on pool
threads.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from dataclasses import dataclass

DESC_PREFIX = "bench:"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    op: int | None

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.

    Children that overlap one another (``load`` and ``ensure_stations`` run
    on two pool threads) cover their union once, so self time is the time
    the span spent on the blocking path itself.
    """
    return span.duration - union_length(
        [(c.start, c.end or c.start) for c in children], span.start, span.end or span.start
    )


class Recorder:
    """In-memory span store with a per-thread stack of open spans."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.current_op: Span | None = None
        #: add to a span time to get epoch seconds, as the event log uses
        self.epoch_offset = time.time() - time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_desc(self, value: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setLocalProperty("spark.job.description", value)

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.current_op
        op = self.current_op.id if self.current_op is not None else None
        with self._lock:
            span = Span(next(self._ids), name, time.perf_counter(), None, parent and parent.id, op)
            self.spans.append(span)
        stack.append(span)
        self._set_desc(f"{DESC_PREFIX}{span.id}")
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        stack.pop()
        self._set_desc(f"{DESC_PREFIX}{stack[-1].id}" if stack else None)

    def begin_op(self, name: str) -> Span:
        self.current_op = None
        span = self.open(name)
        span.op = span.id
        self.current_op = span
        return span

    def end_op(self, span: Span) -> None:
        self.close(span)
        self.current_op = None

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a function that records a span per call."""
        fn = getattr(owner, attr)
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = rec.open(name if not callable(name) else name(*args, **kwargs))
            try:
                return fn(*args, **kwargs)
            finally:
                rec.close(span)

        setattr(owner, attr, wrapper)

