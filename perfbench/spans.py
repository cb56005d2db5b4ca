"""In-memory spans for the traced run.

A span has a name, start and end (seconds on the monotonic clock), the
id of the span that caused it, and the run id. Spans are kept in a list
and written out once, when the run ends. ``Tracer(enabled=False)``
records nothing, so the untraced run pays one branch per boundary.
"""

from __future__ import annotations

import contextlib
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.monotonic(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.monotonic()

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs):
        """Record a span measured elsewhere (a streaming epoch from its
        progress event, a generator tick from the generator's log)."""
        if self.enabled:
            self.spans.append(
                {
                    "id": len(self.spans),
                    "name": name,
                    "parent": parent,
                    "run": self.run_id,
                    "start": start,
                    "end": end,
                    **attrs,
                }
            )


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
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


def self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name: each span's duration minus the part of
    its interval that its child spans cover, summed by name."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        if s["end"] is None:
            continue
        own = s["end"] - s["start"] - _covered(children[s["id"]], s["start"], s["end"])
        out[s["name"]] += own
    return dict(out)
