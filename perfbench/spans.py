"""In-memory spans recorded around the benchmark's calls into the package.

Spans are recorded from outside the package: each wraps one public call
(`Pipeline.run_batch`, a query, an export, ...) and is named after the
package module that owns the call. Wall-clock bounds (epoch seconds) let
the event-log reader attach Spark jobs to the span that submitted them.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str        # operation, e.g. "query.header"
    layer: str       # owning package module, e.g. "operators.query"
    start: float     # epoch seconds
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans of one benchmark run. Disabled tracers still time
    their spans (the workload needs the latencies) but keep nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        s = Span(name, layer, time.time(),
                 parent=self._stack[-1] if self._stack else None, attrs=attrs)
        t0 = time.perf_counter()
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = s.start + (time.perf_counter() - t0)
            if self.enabled:
                self._stack.pop()
