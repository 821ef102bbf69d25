"""In-memory trace: one row per span with its name, start, end, parent
span and run id. Times are ``time.perf_counter`` seconds, which share one
clock across the benchmark's processes."""

from __future__ import annotations

import time
from contextlib import contextmanager


class Span:
    seconds = 0.0


class Spans:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.rows: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def __call__(self, name: str):
        span = Span()
        row = {
            "id": len(self.rows),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._open[-1]["id"] if self._open else None,
            "run_id": self.run_id,
        }
        self.rows.append(row)
        self._open.append(row)
        try:
            yield span
        finally:
            self._open.pop()
            row["end"] = time.perf_counter()
            span.seconds = row["end"] - row["start"]

    def total(self, name: str) -> float:
        return sum(r["end"] - r["start"] for r in self.rows if r["name"] == name)
