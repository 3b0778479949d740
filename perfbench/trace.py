"""In-memory spans for the traced run.

A span records its name, start, end, parent span and run id.  Spans are
kept in memory and written out once, when the run ends.  A span's self
time is its duration minus the part of it covered by child spans; a
layer reports the median over its spans (one per micro-batch or query
pass), and coverage uses their sum.  Nothing here is imported by the
package: the spans wrap calls made from the benchmark's own files.
"""

from __future__ import annotations

import json
import statistics
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    id: int = 0


@dataclass
class Tracer:
    """Collects spans; ``enabled=False`` makes every span a no-op so the
    untraced and traced runs share one code path."""

    enabled: bool = True
    run_id: str = field(default_factory=lambda: uuid.uuid4().hex[:12])
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = Span(
            name=name,
            start=time.perf_counter(),
            parent=self._stack[-1] if self._stack else None,
            run_id=self.run_id,
            id=len(self.spans),
        )
        self.spans.append(s)
        self._stack.append(s.id)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def _self(self) -> dict[str, list[float]]:
        """Self time of every span, grouped by name, in seconds."""
        child_time: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] += s.end - s.start
        out: dict[str, list[float]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append((s.end - s.start) - child_time[s.id])
        return out

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name, in seconds."""
        return {k: sum(v) for k, v in self._self().items()}

    def median_self_times(self) -> dict[str, float]:
        """Median self time of one span per name, in seconds."""
        return {k: float(statistics.median(v)) for k, v in self._self().items()}

    def coverage(self, wall_s: float) -> float:
        """Summed self time of every layer over the traced wall time."""
        return sum(self.self_times().values()) / wall_s if wall_s > 0 else 0.0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")
