"""Spans around the benchmark's calls into the program.

A span records name, start, end, parent and run id. While a span is open
its Spark jobs run under a job group named by the span id, so the event
log and ``statusTracker`` attribute every job to exactly one span. Job
groups are thread-local: a span opened on another thread names its parent
explicitly. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import threading
import time
from contextlib import contextmanager


class Tracer:
    """``enabled=False`` makes every span a no-op, so untraced runs carry
    no tracing cost."""

    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._n = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(rec["id"], rec["name"])

    @contextmanager
    def span(self, name: str, parent: str | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        with self._lock:
            self._n += 1
            sid = f"{self.run_id}/{self._n}"
        if parent is None and stack:
            parent = stack[-1]["id"]
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, **attrs}
        stack.append(rec)
        self._set_group(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)
            with self._lock:
                self.spans.append(rec)

    def current(self) -> str | None:
        """Id of the innermost open span on this thread."""
        stack = self._stack()
        return stack[-1]["id"] if stack else None

    def job_ids(self, span_id: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(span_id))


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
