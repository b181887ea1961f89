"""In-memory spans recorded around the benchmark's calls into each layer.

A span has a name, start, end, parent and run id, plus counters (the
Spark status-store totals of the call it wraps).  Spans stay in memory
until :meth:`Tracer.dump` writes them out at the end of a run.  With
tracing off, :meth:`Tracer.span` records nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Record one span; yields its counters dict for the caller to fill."""
        counters: dict = {}
        if not self.enabled:
            yield counters
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, "counters": counters}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield counters
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_seconds(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its children cover (children run sequentially)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (
                    s["end"] - s["start"] - child[s["id"]])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, default=str) + "\n")
