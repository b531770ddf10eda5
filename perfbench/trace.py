"""In-memory spans for the traced run, and the small statistics helpers.

A span is (id, name, start, end, parent). Spans stay in memory and are
written out once, when the run ends. A span's self time is its duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import statistics
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        # spans nest per thread: the stream's foreachBatch callbacks run on
        # another thread than the one that waits for the stream
        self._local = threading.local()

    def _new(self, name: str, start: float, end: float | None, parent: int | None) -> dict:
        with self._lock:
            rec = {"id": len(self.spans), "name": name, "start": start, "end": end, "parent": parent}
            self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = self._new(name, time.time(), None, stack[-1] if stack else None)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record a span measured elsewhere (an executor task, a callback)."""
        if self.enabled:
            self._new(name, start, end, parent)

    def self_times(self) -> dict[str, float]:
        """Sum of self time per span name, in seconds."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"] or c["start"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99), interpolated as statistics.quantiles does."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100)[q - 1]


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0
