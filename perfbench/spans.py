"""In-memory spans around the calls the benchmark makes into each layer.

A span records its name, start, end, parent and the operation it
belongs to. Spans stay in memory and are written out once, when the run
ends. A layer's self time is its span's duration minus the time its
child spans cover.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Span:
    __slots__ = ("id", "name", "parent", "attrs", "t0", "t1", "children")

    def __init__(self, sid: int, name: str, parent: Span | None, attrs: dict) -> None:
        self.id = sid
        self.name = name
        self.parent = parent
        self.attrs = attrs
        self.t0 = time.perf_counter()
        self.t1 = self.t0
        self.children: list[Span] = []

    @property
    def duration(self) -> float:
        return self.t1 - self.t0

    def child(self, name: str) -> float:
        """Summed duration of the direct children called ``name``."""
        return sum(c.duration for c in self.children if c.name == name)

    @property
    def self_time(self) -> float:
        return self.duration - sum(c.duration for c in self.children)


class Tracer:
    """Span recorder. ``enabled`` only decides whether the traced run's
    extra probes (job groups, planner phases, storage probes) run and
    whether spans are written out; spans themselves are always timed the
    same way so both runs measure latency identically."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        s = Span(len(self.spans), name, parent, attrs)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()

    def records(self, origin: float) -> list[dict]:
        return [
            {
                "id": s.id,
                "name": s.name,
                "parent": s.parent.id if s.parent else None,
                "start_s": round(s.t0 - origin, 6),
                "end_s": round(s.t1 - origin, 6),
                "self_s": round(s.self_time, 6),
                **s.attrs,
            }
            for s in self.spans
        ]
