"""Benchmark-side tracing: spans and counts recorded around calls into the
program's public functions, kept in memory and written as JSON at the end
of a traced run. Untraced runs use :data:`OFF`, which records nothing."""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import threading
import time
import uuid


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._ids = itertools.count(1)  # next() is atomic, spans come from two threads
        self._open = threading.local()  # per-thread stack of open span ids

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record [start, end] of the body; its parent is the span open in
        the same thread, if any."""
        stack = self._open.__dict__.setdefault("ids", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.record(name, start, time.time(), id=sid, parent=parent, **attrs)

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        attrs.setdefault("id", next(self._ids))
        attrs.setdefault("parent", None)
        self.spans.append({"name": name, "start": start, "end": end, "run_id": self.run_id, **attrs})

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans, "counts": self.counts, **extra}, f)


class _Off:
    """Tracer stand-in for untraced runs."""

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield

    def count(self, name, n=1):
        pass


OFF = _Off()


class JobCounter:
    """Counts Spark jobs through the public ``statusTracker``. Job ids are
    sequential, so the jobs launched since a mark are the ids from that
    mark up to the first id the tracker does not know yet."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self._next = 0

    def mark(self) -> int:
        time.sleep(0.05)  # let the listener bus deliver pending job starts
        while self.tracker.getJobInfo(self._next) is not None:
            self._next += 1
        return self._next

    def group(self, name: str) -> int:
        return len(self.tracker.getJobIdsForGroup(name))
