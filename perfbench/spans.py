"""Spans recorded by benchmark code around calls into the service's layers.

A span is ``{id, name, proc, start, end, parent, attrs}`` with times from
``time.perf_counter`` (CLOCK_MONOTONIC, shared by every process on the
host).  Spans stay in memory and are written out when the run ends; a span
whose call never returned is written with ``end: null``.  With tracing
off, ``span`` records nothing.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, proc: str, enabled: bool):
        self.proc = proc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: dict[str, dict] = {}
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        """Time the body; the enclosing span of this thread is the parent
        unless one is given.  Yields the span id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = f"{self.proc}-{next(self._ids)}"
        rec = {
            "id": sid, "name": name, "proc": self.proc, "start": time.perf_counter(),
            "end": None, "parent": parent or (stack[-1] if stack else None), "attrs": attrs,
        }
        with self._lock:
            self._open[sid] = rec
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                del self._open[sid]
                self.spans.append(rec)

    def record(self, name: str, start: float, end: float, parent: str | None = None, **attrs) -> None:
        """Add a span timed elsewhere (another process, or a sample)."""
        if self.enabled:
            with self._lock:
                self.spans.append({
                    "id": f"{self.proc}-{next(self._ids)}", "name": name, "proc": self.proc,
                    "start": start, "end": end, "parent": parent, "attrs": attrs,
                })

    def dump(self) -> list[dict]:
        """Finished spans, then the ones still open."""
        with self._lock:
            return list(self.spans) + [dict(r) for r in self._open.values()]


def write_spans(path, spans: list[dict]) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for s in spans:
            f.write(json.dumps(s) + "\n")
