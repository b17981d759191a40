"""Benchmark-side spans around the calls into each layer.

Nothing in the package is edited: ``Tracer.patch`` swaps a module or
class attribute for a wrapper for the duration of a traced call and
``Tracer.restore`` puts the original back.  Each span records its name,
parent, start and end, and while it is open the Spark job group is set
to its span id, so the event log maps every Spark job to the innermost
open span.

Self time of a span is its duration minus the part of its interval that
its child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    sid: str
    name: str
    parent: str | None
    start: float
    end: float = 0.0


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span id -> duration minus the union of its children's intervals."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


def outermost(spans: list[Span], layer: str) -> list[Span]:
    """Spans of ``layer`` whose ancestors are all outside the layer
    (a nested call, e.g. ``append`` delegating to ``overwrite``, is
    part of the outer call, not a second one)."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if s.name.split(".", 1)[0] != layer:
            continue
        p = s.parent
        while p is not None and by_id[p].name.split(".", 1)[0] != layer:
            p = by_id[p].parent
        if p is None:
            out.append(s)
    return out


class Tracer:
    def __init__(self, sc=None, clock=time.time):
        self.sc = sc            # SparkContext; None records spans only
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def _set_group(self, sid: str | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(JOB_GROUP, sid)

    def open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        span = Span(f"pb{len(self.spans)}", name, parent, self.clock())
        self.spans.append(span)
        self._stack.append(span)
        self._set_group(span.sid)
        return span

    def close(self, span: Span) -> None:
        span.end = self.clock()
        if self._stack.pop() is not span:
            raise RuntimeError(f"span {span.name} closed out of order")
        self._set_group(self._stack[-1].sid if self._stack else None)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, fn, name: str, hook=None):
        """``hook(span, args, kwargs)`` runs before the call and may
        return a callable run after it (both inside the span)."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                after = hook(s, args, kwargs) if hook else None
                out = fn(*args, **kwargs)
                if after:
                    after()
                return out

        return traced

    def patch(self, owner, attr: str, name: str, hook=None) -> None:
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(orig, name, hook))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)
