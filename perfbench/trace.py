"""In-memory span recorder for the traced run.

A span is (name, start, end, parent, run id), recorded by the
benchmark around its calls into each layer of the engine. Spans stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
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
    run: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans opened on one thread nest on that thread's stack. A span
    opened on a thread with an empty stack (a pipeline worker thread)
    takes the innermost span of the thread that called ``adopt`` as
    its parent."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._adopted: int | None = None

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def adopt(self):
        """Parent spans of other threads to this thread's current span."""
        stack = self._stack()
        self._adopted = stack[-1] if stack else None
        try:
            yield
        finally:
            self._adopted = None

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._adopted
        with self._lock:
            s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent, self.run_id, attrs)
            self.spans.append(s)
        stack.append(s.id)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.perf_counter()

    def _under(self, span: Span, root: Span) -> bool:
        while span.parent is not None:
            if span.parent == root.id:
                return True
            span = self.spans[span.parent]
        return False

    def total(self, name: str, under: Span | None = None) -> float:
        """Summed seconds of the spans called ``name`` (below ``under``)."""
        return sum(
            s.seconds for s in self.spans
            if s.name == name and (under is None or self._under(s, under))
        )

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its direct children cover
        (children on worker threads may overlap; their union counts)."""
        covered, edge = 0.0, span.start
        for c in sorted((c for c in self.spans if c.parent == span.id), key=lambda c: c.start):
            lo, hi = max(c.start, edge), min(c.end, span.end)
            if hi > lo:
                covered += hi - lo
                edge = hi
        return span.seconds - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")
