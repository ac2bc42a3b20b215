"""In-memory spans recorded around calls into each layer.

A span holds name, layer, start, end, its parent span and the trace
id shared by every span of one pass.  Spans stay in memory; the CLI
writes them out once, when the run ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.trace_id = "setup"
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        rec = {"trace": self.trace_id, "id": len(self.spans),
               "parent": self._stack[-1] if self._stack else None,
               "name": name, "layer": layer,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()


def self_times(spans: list[dict]) -> dict:
    """Seconds per layer that no child span covers.  Spans are recorded
    by one thread, so a span's children never overlap each other and
    their summed durations are the part of the parent they cover."""
    child_s = {}
    for s in spans:
        if s["parent"] is not None:
            child_s[s["parent"]] = (child_s.get(s["parent"], 0.0)
                                    + s["end"] - s["start"])
    out = {}
    for s in spans:
        own = s["end"] - s["start"] - child_s.get(s["id"], 0.0)
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out
