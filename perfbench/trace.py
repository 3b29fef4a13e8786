"""Spans, counts and Spark's own counters for the traced run.

Spans are kept in memory and written out once at the end.  Each span
has a name, start/end (``perf_counter`` seconds), the id of the call it
belongs to and the id of the span that caused it; self time is the
span's duration minus the part of it its child spans cover.

Spark's counters come from two places that stay readable with the UI
off: job ids per job group (``statusTracker``) and the per-node SQL
metrics of every SQL execution in the session status store
(``sharedState().statusStore()``).
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    span_id: int
    call_id: str
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, call_id: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            next(self._ids),
            call_id if call_id is not None else parent.call_id,
            parent.span_id if parent else None,
            name,
            time.perf_counter(),
            attrs=dict(attrs),
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, s: Span) -> float:
        """Duration minus the union of its children's intervals."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent_id == s.span_id)
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        return s.duration - covered

    def to_json(self) -> list[dict]:
        return [
            {
                "span_id": s.span_id, "call_id": s.call_id, "parent_id": s.parent_id,
                "name": s.name, "start_s": s.start, "end_s": s.end,
                "duration_s": s.duration, "self_s": self.self_time(s), **s.attrs,
            }
            for s in self.spans
        ]


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
         "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^(-?[\d,.]+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A formatted SQL metric → bytes, seconds or a plain count.  Task-
    level metrics read ``total (min, med, max ...)\\n<total> (...)``;
    driver-level ones are just ``<value> <unit>``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT.get(m.group(2), 1.0)


# (node-name test, metric name) → counter; a node matches when the test
# string occurs in its name
_SQL_COUNTERS = {
    "shuffle_write_bytes": [("Exchange", "shuffle bytes written")],
    "shuffle_read_bytes": [("Exchange", "local bytes read"), ("Exchange", "remote bytes read")],
    "broadcast_bytes": [("BroadcastExchange", "data size")],
    "spill_bytes": [("", "spill size")],
    "py_sent_bytes": [("InPandas", "data sent to Python workers"),
                      ("ArrowEvalPython", "data sent to Python workers")],
    "py_returned_bytes": [("InPandas", "data returned from Python workers"),
                          ("ArrowEvalPython", "data returned from Python workers")],
    "py_run_s": [("InPandas", "time to run Python workers"),
                 ("ArrowEvalPython", "time to run Python workers")],
    "py_init_s": [("InPandas", "time to start Python workers"),
                  ("InPandas", "time to initialize Python workers"),
                  ("ArrowEvalPython", "time to start Python workers"),
                  ("ArrowEvalPython", "time to initialize Python workers")],
}


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Reads what Spark recorded between two marks of the same session."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # SQL metrics reach the status store through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30000)

    def mark(self) -> int:
        self._drain()
        return int(self.store.executionsCount())

    def executions_since(self, mark: int) -> dict:
        """Summed SQL metrics of the executions started after ``mark``."""
        self._drain()
        n = int(self.store.executionsCount()) - mark
        out = {k: 0.0 for k in _SQL_COUNTERS}
        out["sql_execs"] = n
        if n <= 0:
            return out
        for ui in _iter(self.store.executionsList(mark, n)):
            eid = ui.executionId()
            values = self.store.executionMetrics(eid)
            for node in _iter(self.store.planGraph(eid).allNodes()):
                node_name = node.name()
                for metric in _iter(node.metrics()):
                    mname = metric.name()
                    for key, rules in _SQL_COUNTERS.items():
                        if any(t in node_name and mname == mn for t, mn in rules):
                            v = values.get(metric.accumulatorId())
                            if v.isDefined():
                                out[key] += parse_metric(v.get())
        return out

    @contextmanager
    def job_group(self, group: str):
        self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def jobs_in(self, group: str) -> int:
        self._drain()
        return len(self.sc.statusTracker().getJobIdsForGroup(group))
