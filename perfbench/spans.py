"""In-memory span tree for the traced run and the interval arithmetic the
layer split is built from.

A span is ``{"id", "parent", "kind", "name", "start", "end", "attrs"}`` with
epoch-second times; every span of a run carries the run id and the whole
list is written out once, when the run ends.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager


def union_len(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Total length covered by ``intervals``, optionally clipped to [lo, hi]."""
    spans = []
    for a, b in intervals:
        if a is None or b is None:
            continue
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            spans.append((a, b))
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(spans):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    def __init__(self, run_id: str) -> None:
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextmanager
    def span(self, kind: str, name: str, **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "run": self.run_id, "kind": kind, "name": name,
               "start": time.time(), "end": None, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, kind: str, name: str, start: float, end: float, parent: int, **attrs) -> None:
        """Record a span measured elsewhere (a Spark job, a Catalyst phase)."""
        self.spans.append({"id": next(self._ids), "parent": parent, "run": self.run_id,
                           "kind": kind, "name": name, "start": start, "end": end,
                           "attrs": attrs})

    def self_times(self) -> dict[str, float]:
        """Per span kind: summed duration minus the part its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None or s["start"] is None:
                continue
            kids = [(c["start"], c["end"]) for c in children.get(s["id"], ())]
            own = (s["end"] - s["start"]) - union_len(kids, s["start"], s["end"])
            out[s["kind"]] = out.get(s["kind"], 0.0) + own
        return out
