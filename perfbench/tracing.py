"""In-memory span recorder for the traced benchmark run.

Spans are kept in a list while the run is measured and written out once,
as JSON lines, when the benchmark ends, so writing never lands inside a
timed region. Each span has a name, start and end (seconds on the
monotonic ``perf_counter`` clock), the id of its parent span, the workload
and the run id."""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str, run_id: str, enabled: bool = True):
        self.workload = workload
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        """Record one span around the block; yields the span dict, whose
        ``attrs`` the block may extend with counts. Disabled tracers still
        time the block (``dur`` is always set) but keep nothing."""
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "run_id": self.run_id,
               "attrs": dict(attrs)}
        if self.enabled:
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")
