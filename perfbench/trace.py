"""Spans around the engine's public entry points, from outside the engine.

The traced run patches each layer's public functions and methods with a
wrapper that records a span (name, start, end, parent, op) and sets the
Spark job group to the span id, so every Spark job is attributed to the
innermost span that was open when it started. Spans stay in memory and
are written out once, when the run ends.

Patching follows name resolution: a function that another module bound
at import time (``from x import f``) is patched in that module too, and
methods are patched on their class. :func:`install` returns an undo
callable that restores every original.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    op: int | None
    start: float
    end: float = 0.0
    jobs: bool = True  # whether Spark jobs started inside carry its id
    counts: dict = field(default_factory=dict)


class Tracer:
    """Span recorder bound to one SparkContext (or None in tests)."""

    def __init__(self, sc=None, clock=time.perf_counter):
        self.sc = sc
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._op: int | None = None
        self.overhead_s = 0.0  # time spent in the tracer's own bookkeeping

    # -- spans ---------------------------------------------------------
    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    def _open(self, name: str, jobs: bool) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(
            id=f"pb{len(self.spans)}",
            name=name,
            parent=parent.id if parent else None,
            op=self._op,
            start=0.0,
            jobs=jobs,
        )
        self.spans.append(span)
        self._stack.append(span)
        if jobs:
            self._set_group(span)
        return span

    def _close(self, span: Span) -> None:
        self._stack.pop()
        if span.jobs:
            # hand the group back to the nearest enclosing span
            outer = next((s for s in reversed(self._stack) if s.jobs), None)
            self._set_group(outer)

    @contextmanager
    def span(self, name: str, jobs: bool = True):
        t0 = self.clock()
        s = self._open(name, jobs)
        t1 = self.clock()
        s.start = t1
        try:
            yield s
        finally:
            t2 = self.clock()
            s.end = t2
            self._close(s)
            self.overhead_s += (t1 - t0) + (self.clock() - t2)

    @contextmanager
    def op(self, index: int, name: str = "op"):
        """Root span of one timed operation (a sync pass, a curation
        run). Spans opened inside carry its index."""
        self._op = index
        try:
            with self.span(name) as s:
                yield s
        finally:
            self._op = None

    # -- patching ------------------------------------------------------
    def wrap(self, fn, name: str, jobs: bool = True, hook=None):
        """``hook(args, kwargs)``, if given, runs before the call and
        returns ``after(span, result)``, which runs once the span has
        closed; both count as tracer overhead, not as span time."""
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if hook is None:
                with tracer.span(name, jobs):
                    return fn(*args, **kwargs)
            t = tracer.clock()
            after = hook(args, kwargs)
            tracer.overhead_s += tracer.clock() - t
            with tracer.span(name, jobs) as s:
                out = fn(*args, **kwargs)
            t = tracer.clock()
            after(s, out)
            tracer.overhead_s += tracer.clock() - t
            return out

        traced.__perfbench_original__ = fn
        return traced

    def install(self, targets) -> callable:
        """Patch every ``(owner, attr, name, jobs, hook)`` target;
        returns the undo callable. An attribute patched twice (a
        function re-exported under the same object) is wrapped once."""
        undo = []
        seen: dict[int, object] = {}
        for owner, attr, name, jobs, hook in targets:
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            base = getattr(orig, "__perfbench_original__", orig)
            wrapped = seen.get(id(base))
            if wrapped is None:
                wrapped = self.wrap(base, name, jobs, hook)
                seen[id(base)] = wrapped
            setattr(owner, attr, wrapped)
            undo.append((owner, attr, orig))

        def restore():
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)

        return restore

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


# ----------------------------------------------------------------------
# span arithmetic
# ----------------------------------------------------------------------


def self_times(spans: list[Span]) -> dict[str, float]:
    """Span id -> self time: duration minus the part its children cover
    (children never overlap: the engine runs a pass on one thread)."""
    child = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
    return {s.id: (s.end - s.start) - child.get(s.id, 0.0) for s in spans}


def union_length(intervals) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
