"""In-memory span recorder.

Every timed region of a benchmark run is a span: (name, start, end,
parent, run id) plus free-form attributes.  Spans nest through a stack,
so run → workload → pass → query → build/plan/exec (and backfill → dump →
parse/write) form a tree; self time is a span's duration minus its
children's.  Nothing touches disk until :meth:`Spans.write`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        row = {
            "id": len(self.rows),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self.rows.append(row)
        self._stack.append(row["id"])
        t0 = time.perf_counter()
        try:
            yield row
        finally:
            row["dur"] = time.perf_counter() - t0
            row["end"] = row["start"] + row["dur"]
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        child = {r["id"]: 0.0 for r in self.rows}
        for r in self.rows:
            if r["parent"] is not None and "dur" in r:
                child[r["parent"]] += r["dur"]
        return {r["id"]: r.get("dur", 0.0) - child[r["id"]] for r in self.rows}

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for r in self.rows:
                f.write(json.dumps({**r, "self": selfs[r["id"]]}, default=str) + "\n")
