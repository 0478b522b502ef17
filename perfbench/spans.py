"""In-memory spans for the traced run.

A span has a name, start, end, the span that caused it, and the run id
shared by every span of one run. Spans stay in memory and are written out
once, with the run's work counts, when the run ends. A span's self time is
its duration minus the part of its interval that its child spans cover.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Dict, Iterator, List, Optional, Tuple


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    run_id: str


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only yields, so
    the same calls can run untraced to measure the tracing overhead."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: List[Span] = []
        self._stack: List[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.run_id)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def busy(self, name: str) -> float:
        """Total duration of the spans called ``name``."""
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def write(self, path: str, counts: Dict[str, float]) -> None:
        """One JSON line per span, then one with the run's counts."""
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")
            fh.write(json.dumps({"run_id": self.run_id, "counts": counts}) + "\n")


def _covered(intervals: List[Tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted(intervals):
        a, b = max(a, lo), min(b, hi)
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: List[Span]) -> Dict[str, float]:
    """Total self time per span name."""
    children: Dict[int, List[Tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: Dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.id, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out
