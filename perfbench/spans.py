"""In-memory spans recorded around calls into the package's public functions.

A span is (name, start, end, parent). Spans of one query or one set-up
share a root; the benchmark writes nothing until the run ends.
"""

from __future__ import annotations

import itertools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Recorder:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        s = Span(next(self._ids), name, parent.id if parent else None, time.time(), attrs=attrs)
        try:
            yield s
        finally:
            s.end = time.time()
            with self._lock:
                self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

