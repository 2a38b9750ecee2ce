"""In-memory span recorder for the traced run, plus self-time accounting.

A span is (id, parent, name, layer, thread, start, end). Spans are kept in
a list and written out once at the end. A span's self time is its duration
minus the part of it that its child spans cover. Time in a thread's window
covered by no span is reported as ``unattributed``; spans in layer ``idle``
mark deliberate waiting (schedule sleeps, think time).
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "layer": layer,
            "thread": threading.current_thread().name,
            "start": time.perf_counter(),
        }
        stack.append(sid)
        try:
            yield
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, layer: str, thread: str, start: float, end: float,
            parent: int | None = None) -> int:
        """Record a span measured elsewhere (perf_counter seconds)."""
        sid = next(self._ids)
        with self._lock:
            self.spans.append({"id": sid, "parent": parent, "name": name, "layer": layer,
                               "thread": thread, "start": start, "end": end})
        return sid

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name, layer):
                return fn(*a, **kw)

        return traced

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def self_times(self, t0: float, t1: float) -> dict[str, dict[str, float]]:
        """Per thread: layer -> self seconds inside [t0, t1], plus the
        ``unattributed`` remainder of that thread's window."""
        by_id = {s["id"]: s for s in self.spans}
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] in by_id:
                kids.setdefault(s["parent"], []).append(s)

        def clip(s):
            return max(s["start"], t0), min(s["end"], t1)

        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            a, b = clip(s)
            if b <= a:
                continue
            covered = _union([clip(k) for k in kids.get(s["id"], [])])
            row = out.setdefault(s["thread"], {})
            row[s["layer"]] = row.get(s["layer"], 0.0) + (b - a) - covered
        for thread, row in out.items():
            roots = [
                clip(s) for s in self.spans
                if s["thread"] == thread and s["parent"] not in by_id
            ]
            row["unattributed"] = max(0.0, (t1 - t0) - _union(roots))
        return out

    def dump(self, path: str, t_origin: float) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                r = dict(s, start=s["start"] - t_origin, end=s["end"] - t_origin)
                f.write(json.dumps(r) + "\n")


def _union(iv: list[tuple[float, float]]) -> float:
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(x for x in iv if x[1] > x[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot
