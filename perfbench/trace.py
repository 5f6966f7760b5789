"""In-memory spans recorded around the benchmark's calls into each
layer of the engine.

A span has a name (``<layer>.<call>``), a start, an end, a parent span
and the id of the op it belongs to. Spans stay in memory and are
written out once, at the end of the run. A disabled tracer records
nothing and costs one attribute check per call.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per layer: each span's duration minus the
        time its direct children cover (children run one after another
        on the one client thread, so their durations add up)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[layer_of(s["name"])] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def layer_of(span_name: str) -> str:
    """``sources.txlog.append`` -> ``sources.txlog``; ``plans.build``
    -> ``plans``."""
    parts = span_name.split(".")
    if parts[0] in ("sources", "streaming", "operators") and len(parts) > 2:
        return ".".join(parts[:2])
    return parts[0]
