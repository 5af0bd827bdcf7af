"""In-memory spans recorded by the benchmark around calls into the program.

A span is (name, start, end, tag): ``tag`` is the Spark job description
active on the calling thread (``r3:extract-write``), which names the crawl
round the work belongs to even when it runs on a sink thread. Spans stay
in memory and are read once the job ends.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    tag: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def round(self) -> int | None:
        """Round number from an ``r<n>:...`` tag, else None."""
        head = self.tag.split(":", 1)[0]
        return int(head[1:]) if head[:1] == "r" and head[1:].isdigit() else None


class SpanLog:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()

    def add(self, span: Span) -> None:
        with self._lock:
            self.spans.append(span)

    @contextmanager
    def span(self, name: str, tag: str = "", **attrs):
        s = Span(name, time.perf_counter(), 0.0, tag, dict(attrs))
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.add(s)

    def named(self, name: str) -> list[Span]:
        with self._lock:
            return [s for s in self.spans if s.name == name]


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_seconds(parent: tuple[float, float], children) -> float:
    """The parent's duration minus the part of it its children cover.
    Children may overlap each other (sinks run on threads) and may
    outlive the parent (deferred sinks): both are clipped to the parent."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children]
    return (pe - ps) - union_seconds(clipped)
