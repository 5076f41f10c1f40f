"""In-memory spans around the benchmark's own calls into the package.

A span records name, start, end, parent and the run id shared by every
span of one benchmark run.  Spans stay in memory and are written out
once, when the run ends.  With tracing off, ``span`` records nothing.
"""

from __future__ import annotations

import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, upstream: int | None = None):
        """Record one span.  ``upstream`` names the span of the forced
        prefix this one re-executes: forcing stage k recomputes stages
        1..k-1, so their time is not this span's own."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "run": self.run_id,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "upstream": upstream,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def overhead_s(self) -> float:
        """Time the recorded spans cost: their count times the measured
        cost of one empty span (bookkeeping on entry and exit)."""
        reps = 20_000
        probe = Tracer(enabled=True)
        t0 = time.perf_counter()
        for _ in range(reps):
            with probe.span("probe"):
                pass
        return len(self.spans) * (time.perf_counter() - t0) / reps

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: its duration, minus the part of its
    interval that its child spans cover, minus the duration of the
    upstream prefix it re-executes."""
    dur = {s["id"]: s["end"] - s["start"] for s in spans}
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        own = dur[s["id"]] - _covered(children.get(s["id"], []))
        if s["upstream"] is not None:
            own -= dur[s["upstream"]]
        out[s["id"]] = own
    return out
