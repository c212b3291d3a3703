"""In-memory spans around the calls into each layer.

A span has a name, start, end, parent span and the trace id of the op it
belongs to. Spans stay in memory and are written once, at the end of the
run, with each span's self time (its duration minus the part its child
spans cover).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, trace_id, parent, time.monotonic()))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx].end = time.monotonic()

    def self_times(self) -> list[float]:
        child_s = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.wall_s
        return [s.wall_s - c for s, c in zip(self.spans, child_s)]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, (s, self_s) in enumerate(zip(self.spans, self.self_times())):
                fh.write(json.dumps({"id": i, **asdict(s), "self_s": self_s}) + "\n")
