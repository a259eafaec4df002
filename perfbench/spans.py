"""In-memory span recorder for the traced run.

A span is one call into a layer (``session``, ``registry``, ``query``,
``framework``, ``spark`` ...) with its wall interval and its parent.  Spans
are kept in a list while the run measures and written out once at the end,
each with its self time (duration minus the union of its children).  With
tracing off the recorder does nothing, so the untraced run pays no cost.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from stats import self_time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.cost_s = 0.0  # the recorder's own bookkeeping time

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.time(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        self.cost_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            self._stack.pop()
            rec["end"] = time.time()
            self.cost_s += time.perf_counter() - t

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job read back from REST)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "layer": layer,
                               "parent": parent, "start": start, "end": end, **attrs})

    def with_self_times(self) -> list[dict]:
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return [{**s, "self_s": self_time((s["start"], s["end"]), children.get(s["id"], []))}
                for s in self.spans]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.with_self_times(), fh, indent=0)
