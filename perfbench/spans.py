"""In-memory spans for the traced run.

A span is (name, start, end, parent, trace id, attributes); spans of one
query or micro-batch share the trace id.  Nothing is written until
``dump`` at the end of the run.  Self time of a span is its duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, trace_id: str = "",
            parent: int | None = None, **attrs) -> int:
        """Record a finished span; returns its index (usable as a parent)."""
        if not self.enabled:
            return -1
        if parent is None and self._stack:
            parent = self._stack[-1]
        self.spans.append({
            "name": name, "start": start, "end": end, "parent": parent,
            "id": trace_id, "attrs": attrs,
        })
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, trace_id: str = "", **attrs):
        """Time the body as a span nested under the innermost open one."""
        if not self.enabled:
            yield None
            return
        idx = self.add(name, time.time(), 0.0, trace_id, **attrs)
        self._stack.append(idx)
        try:
            yield self.spans[idx]
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name, in seconds."""
        covered = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["parent"] >= 0:
                covered[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s["name"]] += (s["end"] - s["start"]) - covered[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
