"""In-memory span recorder for the traced run.

A span has a name, start and end (seconds on the monotonic clock, relative
to the tracer's start), the id of the span that caused it, and free-form
attributes (status-store counts). All spans of one run share ``run_id``.
They stay in memory until ``dump`` writes them once at the end.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str | None = None):
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.monotonic()

    @contextmanager
    def span(self, name: str, **attrs):
        sp = {
            "run_id": self.run_id,
            "span_id": len(self.spans),
            "parent_id": self._stack[-1]["span_id"] if self._stack else None,
            "name": name,
            "start": time.monotonic() - self._t0,
            "end": None,
            "attrs": dict(attrs),
        }
        self.spans.append(sp)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp["end"] = time.monotonic() - self._t0
            self._stack.pop()

    def self_time(self, sp: dict) -> float:
        """Span duration minus the union of its children's intervals."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans
            if c["parent_id"] == sp["span_id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        for sp in self.spans:
            sp["self_s"] = self.self_time(sp)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)
