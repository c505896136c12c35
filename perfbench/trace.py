"""In-memory spans around the benchmark's calls into each layer.

Each span carries a name, start, end, parent and a trace id (one per
pipeline run or online request). While a span is open, Spark jobs run
under a job group naming it, so the event log can attribute executor
work to the span. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import time
from dataclasses import asdict, dataclass, field

from perfbench.stats import covered


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start: float
    end: float = float("nan")
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        """The Spark job group of jobs run while this span is innermost."""
        return f"{self.trace_id}|{self.span_id}|{self.name}"


def parse_group(group: str | None) -> tuple[str, int, str] | None:
    """Inverse of ``Span.group``; None for jobs run outside any span."""
    if not group or group.count("|") < 2:
        return None
    trace_id, span_id, name = group.split("|", 2)
    return trace_id, int(span_id), name


class Tracer:
    """Records nested spans. ``sc`` (a SparkContext) is optional so the
    tracer can be tested without Spark; ``on_end(span)`` runs as each
    span closes (used to sample Spark storage)."""

    enabled = True

    def __init__(self, sc=None, clock=time.perf_counter, on_end=None):
        self.sc = sc
        self.clock = clock
        self.on_end = on_end
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if trace_id is None:
            trace_id = parent.trace_id if parent else "untraced"
        s = Span(name, trace_id, next(self._ids),
                 parent.span_id if parent else None, self.clock(),
                 attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = self.clock()
            self._stack.pop()
            if self.on_end is not None:
                self.on_end(s)
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.sc is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 s.group if s else None)
        self.sc.setLocalProperty("spark.job.description",
                                 s.name if s else None)

    def write(self, path) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for s in self.spans:
                row = asdict(s)
                row["self_s"] = selfs[s.span_id]
                f.write(json.dumps(row) + "\n")


class NullTracer:
    """Tracing off: the same interface, recording nothing."""

    enabled = False
    spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, trace_id: str | None = None, **attrs):
        yield None


def self_times(spans: list[Span]) -> dict[int, float]:
    """span_id -> duration minus the part of its interval covered by its
    direct children (overlapping children counted once)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent_id is not None:
            kids.setdefault(s.parent_id, []).append((s.start, s.end))
    return {
        s.span_id: s.duration
        - covered(kids.get(s.span_id, []), s.start, s.end)
        for s in spans
    }
