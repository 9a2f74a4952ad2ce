"""Spans and the metric math the benchmark reports.

Pure Python (no Spark), so ``perfbench/tests`` can test every formula.

A span is one timed call into a layer: a name, a start and an end
(``time.perf_counter`` seconds), the span that caused it, and the id of
the operation (query execution or catch-up) it belongs to.  Spans stay in
memory and are written out once, at the end of a run.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = math.nan
    parent: int | None = None
    op_id: str | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans.  ``span()`` nests under the innermost open
    span and inherits its ``op_id`` unless it is given one."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str | None = None, **attrs):
        parent = self._open[-1] if self._open else None
        if op_id is None and parent is not None:
            op_id = self.spans[parent].op_id
        idx = len(self.spans)
        s = Span(name, time.perf_counter(), parent=parent, op_id=op_id,
                 attrs=dict(attrs))
        self.spans.append(s)
        self._open.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def current(self) -> int | None:
        """Index of the innermost open span."""
        return self._open[-1] if self._open else None

    def add(self, name: str, start: float, end: float, parent: int | None,
            op_id: str | None = None, **attrs) -> int:
        """Record an interval measured elsewhere (another thread, or a
        progress report) under span index ``parent``; return its index."""
        self.spans.append(Span(name, start, end, parent, op_id, dict(attrs)))
        return len(self.spans) - 1

    def self_times(self) -> dict[str, float]:
        """Total self time per span name (see ``self_time``)."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            kids = [(c.start, c.end) for c in children.get(i, [])]
            out[s.name] = out.get(s.name, 0.0) + self_time(s.start, s.end, kids)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"id": i, **asdict(s)}) + "\n")


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Span duration minus the part of [start, end] that the union of the
    child intervals covers (overlapping children are counted once, and
    the parts of a child outside the span are ignored)."""
    covered, cur_s, cur_e = 0.0, None, None
    for cs, ce in sorted((max(cs, start), min(ce, end)) for cs, ce in children):
        if ce <= cs:
            continue
        if cur_e is None or cs > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = cs, ce
        else:
            cur_e = max(cur_e, ce)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def overhead_frac(traced_s: list[float], untraced_s: list[float]) -> float:
    """Tracing overhead: median traced wall / median untraced wall - 1,
    over operations of the same kind run with and without tracing.  A
    traced operation's wall includes its counter reads."""
    return statistics.median(traced_s) / statistics.median(untraced_s) - 1.0

