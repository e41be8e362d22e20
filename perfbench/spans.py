"""In-memory spans, self time and time-window attribution.

A span records one call into a layer: name (``<layer>.<op>``), start,
end, parent and request id.  Spans are kept in memory and written once
at the end of a run.  Spark jobs are attributed to spans by time window,
not by job group, because jobs launched on micro-batch threads do not
inherit the caller's group.

The pure functions here are unit-tested in ``test_perfbench.py``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float  # epoch seconds
    end: float = 0.0

    @property
    def layer(self) -> str:
        return layer_of(self.name)


def layer_of(name: str) -> str:
    """``txtable.merge`` -> ``txtable``; ``plans.analytics.q1`` ->
    ``plans.analytics`` (the layer is the name minus its last part)."""
    return name.rsplit(".", 1)[0] if "." in name else name


class Tracer:
    """Records spans when enabled; a disabled tracer costs one branch."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1] if self._stack else None,
            request=self.request,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
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
    """Each span's duration minus the part of it its children cover
    (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s.start), min(b, s.end))
            for a, b in kids.get(s.id, [])
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.id] = (s.end - s.start) - _covered(clipped)
    return out


def attribute(times: list[float], spans: list[Span]) -> list[int | None]:
    """For each event time, the id of the deepest span whose [start, end)
    window contains it (the latest-starting one among equals), or None."""
    depth: dict[int, int] = {}
    for s in spans:  # parents are recorded before their children
        depth[s.id] = 0 if s.parent is None else depth[s.parent] + 1
    out: list[int | None] = []
    for t in times:
        best = None
        for s in spans:
            if s.start <= t < s.end and (
                best is None
                or (depth[s.id], s.start) > (depth[best.id], best.start)
            ):
                best = s
        out.append(None if best is None else best.id)
    return out
