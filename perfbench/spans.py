"""In-memory spans for the traced run.

A span records its name, start, end, parent and run id. Spans are taken
by the benchmark around calls into the program's public functions: the
benchmark's own calls, and, in the traced run only, module attributes
patched to a timing wrapper. Self time is a span's duration minus the
part covered by its children.
"""

from __future__ import annotations

import functools
import itertools
import json
import math
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass



def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]


class Tracer:
    """Collects spans. Parents follow the calling thread's open spans; a
    span opened on a thread with none open hangs off ``root`` (the
    orchestrator runs steps on pool threads)."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.root: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def span(self, name: str):
        return _SpanContext(self, name)

    def wrap(self, name: str, fn):
        """fn, timed as span ``name`` whenever it is called."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def patch(self, module, attr: str, name: str) -> None:
        setattr(module, attr, self.wrap(name, getattr(module, attr)))

    def self_times(self) -> dict[str, float]:
        return self_times(self.spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        t = self.tracer
        if not t.enabled:
            return None
        stack = t._stack()
        self.id = next(t._ids)
        self.parent = stack[-1] if stack else t.root
        stack.append(self.id)
        self.start = time.perf_counter()
        return self.id

    def __exit__(self, *exc):
        t = self.tracer
        if not t.enabled:
            return False
        end = time.perf_counter()
        t._stack().pop()
        with t._lock:
            t.spans.append(Span(self.id, self.name, self.start, end, self.parent, t.run_id))
        return False


def self_times(spans: list[Span]) -> dict[str, float]:
    """Self time summed per layer (the span name's first dotted part).
    Children running concurrently count once: a span's self time is its
    duration minus the union of its children's intervals, clipped to
    the span."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in children.get(s.id, [])]
        covered = union_length([(a, b) for a, b in clipped if b > a])
        out[s.layer] += (s.end - s.start) - covered
    return dict(out)
