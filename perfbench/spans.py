"""In-memory spans around the program's public calls, plus the small
statistics the benchmark reports (percentiles, self time, interval union).

A span is ``(id, parent, root, name, start, end)`` with epoch-second
timestamps, so spans line up with the Spark event log's millisecond clock.
Spans live in one list per process and are only turned into metrics after
the measured window ends.
"""

from __future__ import annotations

import math
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    parent: int | None
    root: str
    name: str
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Thread-aware span recorder.

    ``root(rid, name)`` opens a top-level span for one request or cell and
    makes it the current span of the calling thread; ``span(name)`` opens a
    child of the thread's current span and is a no-op when the thread has
    no open root, so wrapped calls made outside a traced request cost one
    attribute lookup.
    """

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _open(self, name: str, root: str, parent: int | None) -> Span:
        with self._lock:
            self._next += 1
            sp = Span(self._next, parent, root, name, time.time())
            self.spans.append(sp)
        return sp

    def current(self) -> Span | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextmanager
    def root(self, rid: str, name: str):
        sp = self._open(name, rid, None)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextmanager
    def span(self, name: str):
        parent = self.current()
        if parent is None:
            yield None
            return
        sp = self._open(name, parent.root, parent.id)
        self._local.stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._local.stack.pop()


def wrap(tracer: Tracer, owner, attr: str, name: str) -> None:
    """Replace ``owner.attr`` with a version that runs inside a span."""
    fn = getattr(owner, attr)

    def traced(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    traced.__wrapped__ = fn
    setattr(owner, attr, traced)


# -- statistics ---------------------------------------------------------------

def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


def geomean(values) -> float:
    xs = list(values)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals) -> float:
    """Total length covered by a set of ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in seconds: its duration minus the part of its
    interval that its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    out = {}
    for sp in spans:
        kids = [(max(s, sp.start), min(e, sp.end))
                for s, e in children.get(sp.id, ()) if e > sp.start and s < sp.end]
        out[sp.id] = (sp.end - sp.start) - union_length(kids)
    return out
