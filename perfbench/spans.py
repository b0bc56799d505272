"""In-memory span recorder for the traced run.

A span is (id, name, parent, start, end) around one call the benchmark
makes into a layer's public function. Spans stay in memory and are written
once, when the run ends. With tracing off `span` still times the block (the
benchmark needs the durations) but records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, enabled: bool, trace_id: str) -> None:
        self.enabled = enabled
        self.trace_id = trace_id
        self.records: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields a dict that receives `start`/`end` (epoch seconds) and
        `seconds` once the block finishes."""
        rec = {"name": name, **attrs}
        parent = self._stack[-1] if self._stack else None
        rec["start"] = time.time()
        t0 = time.perf_counter()
        span_id = len(self.records)
        if self.enabled:
            self.records.append(rec)
            rec.update(id=span_id, parent=parent, trace=self.trace_id)
            self._stack.append(span_id)
        try:
            yield rec
        finally:
            rec["seconds"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["seconds"]
            if self.enabled:
                self._stack.pop()

    def self_seconds(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time = [0.0] * len(self.records)
        for rec in self.records:
            if rec["parent"] is not None:
                child_time[rec["parent"]] += rec["seconds"]
        out: dict[str, float] = {}
        for rec, kids in zip(self.records, child_time):
            out[rec["name"]] = out.get(rec["name"], 0.0) + rec["seconds"] - kids
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {"spans": self.records, "self_seconds": self.self_seconds()},
                f,
                indent=1,
            )
