"""In-memory spans around calls into the engine's layers.

A span is (id, name, layer, start, end, parent, run id). Spans stay in a
list until the run ends and are then written out as JSON. A disabled
tracer records nothing, so the untraced run pays no tracing cost.

Self time of a span is its duration minus the part of that interval its
child spans cover; a layer's self time is the sum over its spans.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            stack.pop()
            self.add(layer, name, start, time.time(), parent, sid)

    def add(self, layer: str, name: str, start: float, end: float,
            parent: int | None = None, sid: int | None = None) -> int:
        sid = sid if sid is not None else next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "name": name, "layer": layer, "start": start,
                               "end": end, "parent": parent, "run": self.run_id})
        return sid

    def add_trigger(self, progress: dict) -> None:
        """One span per trigger, with its phases laid end to end as children
        in the order Spark runs them (offsets, batch, planning, sink, commit)."""
        start = parse_ts(progress["timestamp"])
        dur = progress.get("durationMs", {})
        total = dur.get("triggerExecution", 0) / 1000.0
        tid = self.add("trigger", f"trigger:{progress.get('name') or progress['id']}",
                       start, start + total)
        t = start
        for key, layer in (("latestOffset", "sources"), ("walCommit", "trigger"),
                           ("getBatch", "sources"), ("queryPlanning", "trigger"),
                           ("addBatch", "sink"), ("commitOffsets", "trigger")):
            d = dur.get(key, 0) / 1000.0
            if d:
                self.add(layer, key, t, t + d, tid)
                t += d

    def self_times(self) -> dict[str, float]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []), s["start"], s["end"])
            out[s["layer"]] = out.get(s["layer"], 0.0) + max(0.0, s["end"] - s["start"] - covered)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _union_length(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def parse_ts(iso: str) -> float:
    """Spark progress timestamps: ``2024-01-01T00:00:00.000Z``."""
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class ProgressListener(StreamingQueryListener):
    """Collects every query's progress as parsed JSON (public listener API)."""

    def __init__(self):
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API name)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def take(self) -> list[dict]:
        with self._lock:
            out, self.progress = self.progress, []
        return out
