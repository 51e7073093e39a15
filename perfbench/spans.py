"""In-memory spans recorded by the benchmark around its layer calls.

A span holds its name, start, end, parent span and the run id.  Spans
stay in memory and are written out once, with the run record.  A
disabled tracer hands out a no-op context so untraced passes pay
nothing but the call.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": idx, "name": name, "parent": parent, "run_id": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def span(self, name: str):
        return self._span(name) if self.enabled else contextlib.nullcontext()

    def self_times(self, root: str) -> list[dict[str, float]]:
        """Per ``root`` span, the summed self time of every span name in
        its subtree: duration minus the time its children cover."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)

        def walk(s: dict, acc: dict[str, float]) -> None:
            kids = children[s["id"]]
            covered = sum(k["end"] - k["start"] for k in kids)
            acc[s["name"]] = acc.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
            for k in kids:
                walk(k, acc)

        out = []
        for s in self.spans:
            if s["name"] == root:
                acc: dict[str, float] = {}
                walk(s, acc)
                out.append(acc)
        return out
