"""In-memory spans for the traced run, with Spark SQL metrics per span.

A span records name, start, end, parent and run id. At each span's end the
metrics of the SQL executions that finished inside it are read from Spark's
SQL status store (works with the UI off) and summed by (node, metric). The
store is read just before a span starts and just after it ends, so the
reads fall outside the span's own wall (its parent's wall includes them).
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)?\b")


def parse_metric(text: str) -> float | None:
    """A status-store metric string as a number: ``'4,000'`` → 4000,
    ``'93.8 KiB'`` → bytes. Per-task metrics read
    ``'total (min, med, max ...)\\n<total> (...)'``; the total is taken."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if m is None:
        return None
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


class SqlMetrics:
    """Totals of SQL plan metrics per execution, read as executions finish."""

    SUMMED = {
        ("Exchange", "shuffle bytes written"): "shuffle_bytes",
        ("BroadcastExchange", "data size"): "broadcast_bytes",
        ("MapInPandas", "number of output rows"): "mapinpandas_rows",
        ("Execute InsertIntoHadoopFsRelationCommand", "written output"): "bytes_written",
    }

    def __init__(self, spark) -> None:
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.by_execution: dict[int, dict[str, float]] = {}
        self.last_id = self._read()

    def _read(self) -> int:
        """Record every finished execution not yet seen; return the highest id."""
        self._bus.waitUntilEmpty()
        execs = self._store.executionsList()
        last = max(self.by_execution, default=-1)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            if eid in self.by_execution:
                continue
            totals: dict[str, float] = defaultdict(float)
            values = self._store.executionMetrics(eid)
            nodes = self._store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                name = node.name()
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    key = self.SUMMED.get((name, metric.name()))
                    if metric.name() == "spill size":
                        key = "spill_bytes"
                    value = values.get(metric.accumulatorId())
                    if key and value.isDefined():
                        totals[key] += parse_metric(value.get()) or 0.0
            self.by_execution[eid] = dict(totals)
            last = max(last, eid)
        return last

    def mark(self) -> int:
        """Record executions finished so far; spans count only later ids."""
        self.last_id = max(self.last_id, self._read())
        return self.last_id

    def since(self, first_id: int) -> tuple[dict[str, float], int]:
        """Sum over executions with id > ``first_id``; also returns how many
        ids in that range the store had already dropped."""
        last = self.mark()
        totals: dict[str, float] = defaultdict(float)
        missing = 0
        for eid in range(first_id + 1, last + 1):
            if eid not in self.by_execution:
                missing += 1
                continue
            for k, v in self.by_execution[eid].items():
                totals[k] += v
        return dict(totals), missing


class Tracer:
    """Spans kept in memory and written out once, when the traced run ends."""

    def __init__(self, run_id: str, sql: SqlMetrics | None = None) -> None:
        self.run_id = run_id
        self.sql = sql
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run_id": self.run_id,
            "attrs": dict(attrs),
        }
        first_exec = self.sql.mark() if self.sql else None
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec["attrs"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sql is not None:
                rec["sql"], rec["sql_executions_missing"] = self.sql.since(first_exec)
