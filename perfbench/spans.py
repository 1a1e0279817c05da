"""In-memory span recorder for the benchmark's traced runs.

A span is one timed interval at a layer boundary: name, start, end, the
span that caused it, and the run it belongs to.  Spans stay in memory
and are written once, when the run ends.  Times are seconds on the
``time.perf_counter`` clock of the benchmark process; intervals reported
by the JVM in epoch milliseconds are mapped onto it with
:meth:`Tracer.from_epoch_ms`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the part of ``[lo, hi]`` covered by the union of ``intervals``."""
    total, reach = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= reach:
            continue
        total += b - max(a, reach)
        reach = b
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    return span.duration - covered([(c.start, c.end) for c in children], span.start, span.end)


class Tracer:
    """Collects spans for one benchmark run.  ``enabled=False`` makes every
    call a no-op, so the untraced passes run the same code."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # epoch seconds at perf_counter() == 0, for JVM timestamps
        self._epoch_offset = time.time() - time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        if parent is None and self._stack:
            parent = self._stack[-1]
        s = Span(len(self.spans), name, start, end, parent, self.run_id, attrs)
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, start: float | None = None, **attrs):
        """Time the block as a child of the innermost open span, from
        ``start`` if given, else from now.  Yields the attrs dict, which the
        block may fill in; the span is recorded even when the block raises."""
        start = time.perf_counter() if start is None else start
        if not self.enabled:
            yield attrs
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(sid, name, start, start, parent, self.run_id, attrs))
        self._stack.append(sid)
        try:
            yield attrs
        finally:
            self._stack.pop()
            self.spans[sid].end = time.perf_counter()

    def from_epoch_ms(self, ms: float) -> float:
        return ms / 1000.0 - self._epoch_offset

    def write(self, path: str) -> None:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        rows = []
        for s in self.spans:
            row = asdict(s)
            row["self"] = self_time(s, kids.get(s.id, []))
            rows.append(row)
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1, default=str)
