"""In-memory spans and counts recorded around calls into the engine.

A disabled tracer records nothing, so the untraced run pays one branch per
call. Spans carry name, start, end, parent span and run id; they stay in
memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

from stats import self_times


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(s)
        self._stack.append(s["id"])
        try:
            yield
        finally:
            self._stack.pop()
            s["end"] = time.perf_counter()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def durations(self, name: str) -> list[float]:
        """Wall seconds of every finished span called ``name``."""
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def self_by_layer(self) -> dict[str, float]:
        """Self seconds summed per layer, the span-name prefix before '.'."""
        out: dict[str, float] = defaultdict(float)
        for sid, t in self_times(self.spans).items():
            out[self.spans[sid]["name"].split(".", 1)[0]] += t
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
            f.write(json.dumps({"run": self.run_id, "counts": self.counts}) + "\n")
