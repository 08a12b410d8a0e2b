"""In-memory spans recorded around the benchmark's calls into each layer.

A span is (id, name, start, end, parent).  Spans stay in memory while the
benchmark runs and are written out once at the end.  A span's self time is
its duration minus the part of its interval that its children cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time


def covered(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total = 0.0
    cur_a = cur_b = None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans of one benchmark run.  A span's parent is the innermost span
    open when it starts, in any thread: foreachBatch callbacks arrive on
    another thread while the main thread waits inside its drain span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        with self._lock:
            sid = len(self.spans)
            rec = {"id": sid, "name": name,
                   "parent": self._open[-1] if self._open else None,
                   "start": time.perf_counter(), "end": None, **attrs}
            self.spans.append(rec)
            self._open.append(sid)
        try:
            yield rec
        finally:
            with self._lock:
                rec["end"] = time.perf_counter()
                self._open.remove(sid)

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a span named ``name``."""
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        return traced

    @contextlib.contextmanager
    def patched(self, owner, names: dict[str, str]):
        """Temporarily replace ``owner.<attr>`` by a traced wrapper, for
        each ``attr -> span name`` in ``names``."""
        saved = {a: getattr(owner, a) for a in names}
        try:
            for a, span_name in names.items():
                setattr(owner, a, self.wrap(saved[a], span_name))
            yield
        finally:
            for a, fn in saved.items():
                setattr(owner, a, fn)

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == sid]
        return (s["end"] - s["start"]) - covered(kids, s["start"], s["end"])

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name]

    def median(self, name: str) -> float:
        return statistics.median(self.durations(name))

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**s, "self": self.self_time(s["id"])})
                         + "\n")
