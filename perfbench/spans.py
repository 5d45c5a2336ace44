"""In-memory span recorder for the traced run.

Spans are recorded around the benchmark's own calls into each engine layer
(name, start, end, parent, run id); nothing inside the engine is touched.
They stay in memory and are written once, as JSON lines, when the run ends.
A disabled tracer records nothing, so the untraced run pays one
context-manager entry per layer call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from metrics import self_times


class Tracer:
    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.part = "main"

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "part": self.part,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def durations(self, name: str) -> list[float]:
        """Durations (s) of the spans called `name`, preferring spans of the
        main workload over spans of the layer probes."""
        done = [s for s in self.spans if s["name"] == name and s["end"] is not None]
        main = [s for s in done if s["part"] == "main"]
        probe = [s for s in done if s["part"] == "probe"]
        return [s["end"] - s["start"] for s in (main or probe)]

    def self_time_by_name(self) -> dict[str, float]:
        """Summed self time per span name; call it outside every span."""
        out: dict[str, float] = {}
        for s, st in zip(self.spans, self_times(self.spans)):
            out[s["name"]] = out.get(s["name"], 0.0) + st
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
