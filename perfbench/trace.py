"""Spans around layer calls, and per-action Spark SQL metrics.

Spans are recorded only from the benchmark's own files, around its calls
into the engine's public functions. They live in memory and are written
as JSON once, at the end of the run.

SQL metrics come from Spark's status store: every action's AQE-final plan
graph with its aggregated metric values, in a handful of py4j calls per
action. Read them outside any span.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
import uuid


class Tracer:
    """Flat list of spans: name, start, end, parent, run id.

    A disabled tracer records nothing and costs one attribute test per
    span, so untraced runs execute the same code path.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        rec = {"id": len(self.spans), "name": name, "run": self.run_id,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None}
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans}, fh)


# ---------------------------------------------------------------------------
# Spark SQL metrics
# ---------------------------------------------------------------------------

_UNIT_S = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_NUM_UNIT = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(kind: str, text: str) -> float | None:
    """A status-store metric string as a number: seconds, bytes or a count.

    Size and timing metrics read ``total (min, med, max ...)\\n<total> (...)``
    when more than one task reported, else ``<total>``; sums read ``1,234``.
    """
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM_UNIT.match(body.strip())
    if m is None:
        return None
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if kind == "sum":
        return value
    if kind == "size":
        return value * _UNIT_B.get(unit, 1)
    if kind in ("timing", "nsTiming"):
        return value * _UNIT_S.get(unit, 1e-3)
    return None


class SqlMetrics:
    """Per-action SQL metrics of the actions run since ``mark()``."""

    def __init__(self, spark):
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._mark = self._last_id()

    def _last_id(self) -> int:
        ex = self.store.executionsList()
        return max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)

    def mark(self) -> None:
        self._mark = self._last_id()

    def nodes(self) -> list[tuple[str, dict[str, float]]]:
        """(node name, {metric name: value}) for every plan node of every
        action since the mark, summed across repeats of a metric name."""
        out = []
        ex = self.store.executionsList()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            if eid <= self._mark:
                continue
            values = self.store.executionMetrics(eid)
            graph = self.store.planGraph(eid).allNodes()
            for j in range(graph.size()):
                node = graph.apply(j)
                ms = node.metrics()
                got: dict[str, float] = {}
                for k in range(ms.size()):
                    m = ms.apply(k)
                    text = values.get(m.accumulatorId())
                    if not text.isDefined():
                        continue
                    v = parse_metric(m.metricType(), text.get())
                    if v is not None:
                        got[m.name()] = got.get(m.name(), 0.0) + v
                out.append((node.name(), got))
        return out


def fold(nodes: list[tuple[str, dict[str, float]]], input_rows: int) -> dict[str, float]:
    """Fold plan-node metrics into the engine's layers."""
    def total(metric: str, prefix: str = "") -> float:
        return sum(m.get(metric, 0.0) for name, m in nodes if name.startswith(prefix))

    scan_rows = total("number of output rows", "Scan ")
    return {
        "spark.scan_rows": scan_rows,
        "spark.rescans": scan_rows / input_rows if input_rows else 0.0,
        "spark.python_s": total("time to run Python workers"),
        "spark.python_bytes_mb": (total("data sent to Python workers")
                                  + total("data returned from Python workers")) / 2**20,
        "spark.shuffle_write_mb": total("shuffle bytes written") / 2**20,
        "spark.spill_mb": total("spill size") / 2**20,
        "spark.broadcast_s": (total("time to collect") + total("time to build")
                              + total("time to broadcast")),
    }
