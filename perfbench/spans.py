"""In-memory spans around calls into the program's public functions.

Wrappers are installed from the benchmark's own files by replacing a
module attribute (in every loaded module of the package that imported
it by name) with a timing wrapper. Each span records name, start,
end, parent span and the benchmark job id; the trace is written when
the run ends."""

from __future__ import annotations

import contextlib
import functools
import importlib
import sys
import threading
import time
from dataclasses import dataclass

from probes import union_length


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    job: int | None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.job: int | None = None
        self._root: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin_job(self, job: int, span_id: int | None = None) -> None:
        """Spans opened with an empty stack, on any thread (the
        JobQueue drain thread too), hang under ``span_id``."""
        self.job, self._root = job, span_id

    def open(self, name: str) -> Span:
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, time.perf_counter(), 0.0,
                        stack[-1] if stack else self._root, self.job)
            self.spans.append(span)
        stack.append(span.id)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack().pop()

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        finally:
            self.close(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of its interval its direct
    children cover (children clipped to the parent, overlaps merged)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s.id: s for s in spans}
    for s in spans:
        if s.parent is not None and s.parent in by_id:
            p = by_id[s.parent]
            kids.setdefault(p.id, []).append((max(s.start, p.start), min(s.end, p.end)))
    return {
        s.id: (s.end - s.start) - union_length([iv for iv in kids.get(s.id, []) if iv[1] > iv[0]])
        for s in spans
    }


def install(tracer: Tracer, package: str, targets: dict[str, tuple[str, str]]) -> None:
    """Wrap ``module.attr`` for each ``span name -> (module, attr)``,
    rebinding every loaded module of ``package`` that holds the same
    function object under that name."""
    for span_name, (mod_name, attr) in targets.items():
        original = getattr(importlib.import_module(mod_name), attr)
        traced = tracer.wrap(span_name, original)
        for name, mod in list(sys.modules.items()):
            if (name == package or name.startswith(package + ".")) and getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)
