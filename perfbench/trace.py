"""In-memory span recorder for the benchmark's traced runs.

A span records a name, its layer, start and end (perf_counter seconds), the
span that caused it and the operation id it belongs to.  Spans stay in memory
and are written out once, when the run ends.  Spans are opened only in the
benchmark's own files, around calls into the engine's public functions; the
engine itself carries no instrumentation.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    op: str | None


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing.

    ``enabled`` may be flipped between operations: the traced run alternates
    traced and untraced operations so the tracing overhead is measured in the
    same process.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        outer_op = self._op
        if op is not None:
            self._op = op
        span = Span(sid, name, layer, time.perf_counter(), 0.0, parent, self._op)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._op = outer_op

    def self_times(self) -> dict[str, float]:
        """Seconds per layer: each span's duration minus the part its
        direct children cover (children never overlap: spans nest on one
        thread)."""
        child_time = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child_time[s.id]
        return out

    def median_s(self, name: str, ops: set[str] | None) -> float:
        """Median duration of the spans called ``name``, only those of the
        operations ``ops`` unless that is None (0 if none)."""
        d = [s.end - s.start for s in self.spans if s.name == name and (ops is None or s.op in ops)]
        return statistics.median(d) if d else 0.0

    def per_span_cost_s(self, n: int = 20000) -> float:
        """Measured cost of opening and closing one span."""
        probe = Tracer(True)
        t0 = time.perf_counter()
        for _ in range(n):
            with probe.span("probe", "probe"):
                pass
        return (time.perf_counter() - t0) / n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
