"""In-memory spans around calls into the engine's layers.

A span records name, start, end, parent and trace id; the spans of one
pass or request share the trace id of their root. While a span is open
its id is the Spark job group of the calling thread, so the stages of
every job it starts can be attributed to it from the event log. Spans
stay in memory until `to_json` at the end of the run.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    trace_id: int
    parent_id: int | None
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"span-{self.span_id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """records spans when enabled; a disabled tracer costs one branch.

    `sc` is the SparkContext whose job group follows the open span."""

    def __init__(self, sc=None, enabled: bool = True):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(sid, name, parent.trace_id if parent else sid,
                  parent.span_id if parent else None,
                  time.time(), attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, sp: Span | None):
        if self.sc is None:
            return
        if sp is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(sp.group, sp.name)

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_json(self) -> list[dict]:
        selft = self_times(self.spans)
        return [dict(asdict(s), self_s=selft[s.span_id])
                for s in self.spans]


def union_length(intervals) -> float:
    """total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def self_times(spans) -> dict[int, float]:
    """span id -> its duration minus the part of its interval covered by
    its direct children (clipped to the parent's interval)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent_id is not None:
            children.setdefault(s.parent_id, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
            if min(c.end, s.end) > max(c.start, s.start))
        out[s.span_id] = s.duration - covered
    return out

