"""In-memory spans around the benchmark's calls into the program.

A span records name, start, end, its parent span and the run id; spans
are kept in memory and written once, at the end.  Self time is a span's
duration minus the part of it its children cover.  Times are
``time.monotonic()``, one clock for every process on the host, so a
span written by a job process lines up with its parent's clock.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.monotonic(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def wrap(self, name, fn):
        """``fn`` with every call recorded as span ``name`` (a callable
        name is applied to the call's arguments)."""
        def traced(*a, **kw):
            with self.span(name(*a, **kw) if callable(name) else name):
                return fn(*a, **kw)
        return traced

    def total(self, prefix: str) -> float:
        """Summed duration of the spans whose name starts with prefix."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"].startswith(prefix) and s["end"] is not None)

    def self_time(self, span: dict) -> float:
        """Duration minus the union of its children's intervals."""
        kids = sorted((s["start"], s["end"]) for s in self.spans
                      if s["parent"] == span["id"] and s["end"] is not None)
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
        return span["end"] - span["start"] - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)

    @classmethod
    def load(cls, path: str) -> "Tracer":
        t = cls("")
        with open(path) as f:
            t.spans = json.load(f)
        return t
