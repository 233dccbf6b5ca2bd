"""In-memory spans recorded around calls into the package's layers.

A span is (name, start, end, parent, run id). Spans stay in memory
while the workload runs and are written out once at the end. Because
Spark is lazy, a span on the Spark driver times only planning unless the
wrapped call runs an action; the runner therefore also forces each
layer on its own input (see ``layers.py``).
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run: str


class Tracer:
    """Collects spans; ``enabled = False`` makes every hook a no-op so
    untraced iterations pay one attribute read per wrapped call."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.run = ""
        self._stack = threading.local()
        self._next = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "ids", None)
        if stack is None:
            stack = self._stack.ids = []
        self._next += 1
        sid = self._next
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, start, end, parent, self.run))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def dump(self, path) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its child spans cover (overlapping children are
    merged, and children are clipped to the parent's interval)."""
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(kids.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    """Summed self time per span name."""
    names = {s.id: s.name for s in spans}
    out: dict[str, float] = {}
    for sid, t in self_times(spans).items():
        out[names[sid]] = out.get(names[sid], 0.0) + t
    return out


def total_by_name(spans: list[Span], name: str,
                  parent_name: str | None = None) -> float:
    """Summed duration of spans called ``name`` (optionally only those
    whose parent span is called ``parent_name``)."""
    names = {s.id: s.name for s in spans}
    return sum(
        s.end - s.start
        for s in spans
        if s.name == name
        and (parent_name is None or names.get(s.parent) == parent_name)
    )
