"""In-memory spans around the benchmark's calls into program layers.

A disabled tracer returns every callable unchanged, so untraced runs
pay nothing. An enabled one records ``(name, start, end, parent)`` per
call and the time spent on its own bookkeeping, which is reported as
the tracing overhead.
"""

from __future__ import annotations

import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int]] = []
        self.overhead_s = 0.0
        self._first = 0
        self._local = threading.local()

    def reset(self) -> None:
        """Count only spans opened from now on (spans in flight stay
        valid)."""
        self._first = len(self.spans)
        self.overhead_s = 0.0

    def _window(self):
        return (
            (i, span) for i, span in enumerate(self.spans) if i >= self._first
        )

    def wrap(self, name: str, fn):
        if not self.enabled:
            return fn

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def span(self, name: str) -> "_Span":
        return _Span(self, name)

    def total(self, name: str) -> float:
        return sum(e - s for _, (n, s, e, _) in self._window() if n == name)

    def self_time(self, name: str) -> float:
        """Duration of ``name`` spans minus their direct children."""
        ids = {i for i, (n, *_) in self._window() if n == name}
        children = sum(e - s for _, (_, s, e, p) in self._window() if p in ids)
        return self.total(name) - children

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for name, s, e, parent in self.spans:
                f.write(json.dumps({"name": name, "start": s, "end": e,
                                    "parent": parent}) + "\n")


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self._t = tracer
        self._name = name

    def __enter__(self) -> "_Span":
        b = time.perf_counter()
        t = self._t
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        self._parent = stack[-1] if stack else -1
        self._index = len(t.spans)
        t.spans.append((self._name, 0.0, 0.0, self._parent))
        stack.append(self._index)
        self._start = time.perf_counter()
        t.overhead_s += self._start - b
        return self

    def __exit__(self, *exc) -> None:
        end = time.perf_counter()
        t = self._t
        t.spans[self._index] = (self._name, self._start, end, self._parent)
        t._local.stack.pop()
        t.overhead_s += time.perf_counter() - end
