"""In-memory spans for the traced run, recorded around public calls.

A span has a name, start, end and parent; all spans of one run share a
run id. When a :class:`~perfbench.sparkmetrics.SparkMetricsReader` is
attached, each span also records the Spark counters of the work it
caused, and every SQL execution inside it becomes a child span built
from the status store's submission and completion times. Spans stay in
memory until :meth:`Tracer.dump` returns them.

The untraced run uses :data:`NULL_TRACER`, whose spans cost one
``with`` statement and record nothing.
"""

from __future__ import annotations

import contextlib
import time

from sparkmetrics import summarize


class Tracer:
    def __init__(self, run_id: str, reader=None):
        self.run_id = run_id
        self.reader = reader
        self.spans: list[dict] = []
        self._stack: list[int] = []
        # seconds spent inside the tracer itself (status-store reads):
        # the basis of trace.overhead_frac
        self.self_s = 0.0

    def _new(self, name: str, start: float, end: float | None,
             parent: int | None, attrs: dict) -> dict:
        span = {"run_id": self.run_id, "span_id": len(self.spans),
                "parent_id": parent, "name": name, "start": start,
                "end": end, "attrs": attrs}
        self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str):
        t = time.perf_counter()
        mark = self.reader.mark() if self.reader else None
        parent = self._stack[-1] if self._stack else None
        self.self_s += time.perf_counter() - t
        span = self._new(name, time.time(), None, parent, {})
        self._stack.append(span["span_id"])
        try:
            yield span
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self.reader is not None:
                t = time.perf_counter()
                self._attach_spark(span, mark)
                self.self_s += time.perf_counter() - t

    def _attach_spark(self, span: dict, mark: dict) -> None:
        """Counters and child spans of every SQL execution that ran
        during the span, including those of nested spans."""
        executions = self.reader.executions_since(mark)
        span["attrs"].update(summarize(executions))
        span["attrs"].update(self.reader.jobs_since(mark))
        span["executions"] = executions
        for e in executions:
            if e["completed_ms"] is None:
                continue
            self._new(f"sql.execution.{e['execution_id']}",
                      e["submitted_ms"] / 1e3, e["completed_ms"] / 1e3,
                      span["span_id"],
                      {"description": e["description"], "jobs": e["jobs"],
                       "tasks": e["tasks"]})

    def dump(self) -> list[dict]:
        return self.spans


class _NullTracer:
    run_id = None
    self_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        yield {"name": name, "attrs": {}}

    def dump(self) -> list[dict]:
        return []


NULL_TRACER = _NullTracer()


def self_time_s(spans: list[dict], span_id: int, prefix: str = "") -> float:
    """A span's duration minus the part of it covered by its children
    (only children whose name starts with ``prefix``)."""
    span = spans[span_id]
    kids = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                  for c in spans if c["parent_id"] == span_id
                  and c["end"] is not None and c["name"].startswith(prefix))
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered
