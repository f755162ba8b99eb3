"""Benchmark-side spans around calls into the engine's layers.

A span records name, start, end, parent and op id. While tracing is on,
every span also sets a Spark job group named after its span id, so the
event-log post-processor can charge each Spark job to the span (and
op) that launched it. Spans stay in memory and are written out once,
at exit. With tracing off, ``span`` costs one branch.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float  # epoch seconds (time.time), comparable to event-log ms
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, spark) -> None:
        """Attach to the current SparkSession (re-bound after a restart)."""
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, op_id: int = -1):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op_id < 0 and parent is not None:
            op_id = parent.op_id
        s = Span(len(self.spans), name, op_id, parent.span_id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group_id(s.span_id), s.name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def group_id(span_id: int) -> str:
    return f"perfbench-span-{span_id}"


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = union_length(
            [(max(c.start, s.start), min(c.end, s.end)) for c in children.get(s.span_id, [])]
        )
        out[s.span_id] = s.duration - covered
    return out


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
