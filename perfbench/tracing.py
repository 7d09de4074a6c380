"""In-memory spans around the benchmark's own calls into each layer.

Nothing inside the program is instrumented: a span opens right before the
benchmark calls a layer's public function and closes when it returns.  A
span has a name (the layer), start, end, parent span and run id; spans are
written to JSON when the run ends.  A span's self time is its duration
minus the part of it that its child spans cover.  Span names are the
layers: core, operators.extract, operators.chunk, operators.enrich,
plans.sinks, plans.pipeline and streaming.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from typing import Iterator


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Self seconds summed per span name."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered = 0.0
            cursor = s["start"]
            for k in sorted(kids.get(s["id"], ()), key=lambda k: k["start"]):
                lo, hi = max(k["start"], cursor), min(k["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)
