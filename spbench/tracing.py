"""In-memory spans around the benchmark's calls into engine layers.

A span records its name, its parent span, wall-clock bounds (epoch
seconds, used to attribute Spark event-log jobs to the span) and a
``perf_counter`` duration.  Self time is the span's duration minus the
durations of its direct children.  Spans stay in memory and are written
out with the run's result.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "t0": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["ms"] = (time.perf_counter() - p0) * 1000.0
            rec["t1"] = time.time()
            self._stack.pop()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name and "ms" in s]

    def self_ms(self, span: dict) -> float:
        children = sum(s["ms"] for s in self.spans if s["parent"] == span["id"] and "ms" in s)
        return span["ms"] - children


class NullTracer:
    """Stands in for Tracer in untraced runs: records nothing."""

    @contextmanager
    def span(self, name: str):
        yield None
