"""Outside-in tracing for the benchmark: spans around calls into the
engine's public functions, Spark job counts per job group, and the
summary statistics the benchmark reports.

Spans are recorded by patching a function's name in the namespace of
the module that calls it, so the engine itself is not modified. Spans
are kept in memory; a layer's self time is its duration minus the
part of that interval its child spans cover.
"""

from __future__ import annotations

import functools
import itertools
import math
import time
from collections.abc import Callable, Iterator, Sequence
from contextlib import contextmanager
from dataclasses import dataclass

_MISSING = object()


@dataclass(frozen=True)
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent: int | None
    op: str  # spans of one operation (a cycle, a query) share this id

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: Sequence[tuple[float, float]]) -> float:
    """Length of the part of [start, end] that the union of
    `intervals` covers."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(span: Span, spans: Sequence[Span]) -> float:
    """`span`'s duration minus the time its direct children cover."""
    children = [(s.start, s.end) for s in spans if s.parent == span.span_id]
    return span.duration - covered(span.start, span.end, children)


class Tracer:
    """In-memory span recorder with name patching.

    `enabled` gates recording: a patched function called while the
    tracer is disabled runs with no span and no hook."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.op = ""
        self._ids = itertools.count()
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(name, start, end, sid, parent, self.op))

    def patch(
        self, target: object, attr: str, name: str,
        after: Callable[..., None] | None = None,
    ) -> None:
        """Replace `target.attr` with a wrapper that records a span
        named `name` and then calls `after(args, kwargs)` (outside the
        span) when tracing is enabled."""
        original = getattr(target, attr)

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return original(*args, **kwargs)
            with self.span(name):
                result = original(*args, **kwargs)
            if after is not None:
                after(args, kwargs)
            return result

        self._patches.append((target, attr, vars(target).get(attr, _MISSING)))
        setattr(target, attr, wrapper)

    def unpatch_all(self) -> None:
        while self._patches:
            target, attr, original = self._patches.pop()
            if original is _MISSING:
                delattr(target, attr)
            else:
                setattr(target, attr, original)

    def op_spans(self, op: str) -> list[Span]:
        return [s for s in self.spans if s.op == op]


def total(spans: Sequence[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def calls(spans: Sequence[Span], name: str) -> int:
    return sum(1 for s in spans if s.name == name)


def total_self(spans: Sequence[Span], name: str) -> float:
    return sum(self_time(s, spans) for s in spans if s.name == name)


class JobCounter:
    """Counts the Spark jobs each operation runs, by giving the
    operation its own job group."""

    def __init__(self, sc) -> None:
        self._sc = sc

    @contextmanager
    def group(self, group_id: str) -> Iterator[None]:
        self._sc.setJobGroup(group_id, group_id)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def count(self, group_id: str) -> int:
        # job-start events reach the status store through the async
        # listener bus; drain it so the count is exact
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(self._sc.statusTracker().getJobIdsForGroup(group_id))


TAIL_PERCENTILES = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def tail_percentile(samples: Sequence[float]) -> tuple[float, float] | None:
    """The highest percentile in TAIL_PERCENTILES that has at least ten
    samples beyond it, as (percentile, value) by the nearest-rank rule;
    None when even the median has fewer than ten samples above it."""
    ordered = sorted(samples)
    n = len(ordered)
    best = None
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            best = (p, ordered[rank - 1])
    return best

