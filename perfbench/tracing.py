"""In-memory spans, written out once when the run ends."""

from __future__ import annotations

import time
from contextlib import contextmanager


def timed(fn):
    """(wall seconds, result) of fn()."""
    t = time.perf_counter()
    out = fn()
    return time.perf_counter() - t, out


def telescope(walls: dict[str, float]) -> dict[str, float]:
    """Self time of each prefix in order: its wall minus the previous one's."""
    out, prev = {}, 0.0
    for layer, wall in walls.items():
        out[layer] = wall - prev
        prev = wall
    return out


class Tracer:
    """Records (name, parent, start, end, attrs) spans on one thread.

    A disabled tracer records nothing, so the same job code runs traced and
    untraced."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.bookkeeping_s = 0.0  # time spent recording spans
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": None,
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        self.bookkeeping_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def total(self, name: str) -> float:
        """Summed duration of every finished span called `name`."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def mean(self, name: str) -> float:
        n = sum(1 for s in self.spans if s["name"] == name)
        return self.total(name) / n if n else 0.0

    def self_total(self, name: str) -> float:
        """Summed self time of spans called `name`: duration minus the time
        covered by their direct children."""
        out = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sum(
                c["end"] - c["start"] for c in self.spans if c["parent"] == s["id"]
            )
            out += s["end"] - s["start"] - kids
        return out
