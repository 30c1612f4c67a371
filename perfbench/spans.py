"""In-memory span recorder for the benchmark's traced runs.

A span is one call the benchmark makes into a layer of the program: it
has a name (``<layer>.<what>``), a start, an end, a parent and the run id
it belongs to. Spans stay in memory while the run goes and are written
out once, when it ends. A span's self time is its duration minus the
part of its interval that its children cover.

While a span is open, the Spark job group is the span's id, so the
event-log parser (``eventlog.py``) can map every Spark stage back to the
span that launched it.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: str
    name: str
    start: float
    end: float | None
    parent: str | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """span_id -> duration minus the union of its children's intervals
    (children clipped to the parent's interval)."""
    children: dict[str, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        kids = [
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.span_id, ())
        ]
        out[s.span_id] = s.duration - _covered([k for k in kids if k[1] > k[0]])
    return out


class Tracer:
    """Records spans; with ``enabled=False`` every call is a no-op that
    still runs the wrapped block, so untraced runs pay nothing."""

    def __init__(self, run_id: str, enabled: bool, spark_context=None):
        self.run_id = run_id
        self.enabled = enabled
        self.sc = spark_context
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        self._next += 1
        s = Span(f"{self.run_id}:{self._next}", name, time.perf_counter(), None,
                 parent.span_id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        if s is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(s.span_id, s.name)

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.spans if s.name == name and s.end is not None]

    def dump(self, path: str) -> None:
        st = self_times(self.spans)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({**asdict(s), "self": st[s.span_id]}) + "\n")


OFF = Tracer("off", False)  # the tracer of untraced operations
