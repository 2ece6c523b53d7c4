"""Spans around public bloomspark calls, and the Spark metrics behind them.

The benchmark never instruments ``bloomspark/`` itself: a span is opened
in the benchmark around one call into a public function, and the work
Spark did for that call is read afterwards from the session's status
stores (the SQL store for per-node metrics, the core store for task
durations).  An execution belongs to the innermost span whose interval
holds its submission time; calls are issued one after another (closed
loop), so the attribution is unambiguous.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# SQL metric name -> (layer key, kind); kind picks the unit parser
_NODE_METRICS = {
    "scan time": ("scan.ms", "timing"),
    "shuffle bytes written": ("exchange.shuffle_bytes", "size"),
    "shuffle write time": ("exchange.write_ms", "timing"),
    "time to start Python workers": ("python.boot_ms", "timing"),
    "time to initialize Python workers": ("python.init_ms", "timing"),
    "time to run Python workers": ("python.run_ms", "timing"),
    "data sent to Python workers": ("python.bytes_sent", "size"),
    "data returned from Python workers": ("python.bytes_returned", "size"),
}

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ns": 1e-6, "µs": 1e-3, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_METRIC_DECL = re.compile(r"SQLPlanMetric\(([^,]+),(\d+),(\w+)\)")
_METRIC_SPLIT = re.compile(r"(?:^\w*Map\(|, )(\d+) -> ")


def _total(text: str) -> str:
    """The summed value of a formatted SQL metric: aggregated metrics
    print 'total (min, med, max ...)' on the first line and the values on
    the second; plain ones print the value alone."""
    lines = text.strip().splitlines()
    value = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    return value.split(" (")[0].strip()


def parse_metric(text: str, kind: str) -> float:
    value = _total(text)
    if kind == "sum":
        return float(value.replace(",", ""))
    number, _, unit = value.partition(" ")
    number = float(number.replace(",", ""))
    if kind == "size":
        return number * _SIZE[unit]
    return number * _TIME_MS[unit]


def parse_metric_values(text: str) -> dict:
    """``executionMetrics(id).toString()`` -> {accumulator id: text}."""
    parts = _METRIC_SPLIT.split(text[:-1])  # drop the map's closing paren
    return {int(parts[i]): parts[i + 1] for i in range(1, len(parts) - 1, 2)}


class Span:
    __slots__ = ("sid", "name", "parent", "start", "end", "attrs", "spark")

    def __init__(self, sid, name, parent, start):
        self.sid = sid
        self.name = name
        self.parent = parent
        self.start = start
        self.end = None
        self.attrs = {}
        self.spark = None

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {
            "id": self.sid,
            "name": self.name,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            **self.attrs,
            **({"spark": self.spark} if self.spark is not None else {}),
        }


class Tracer:
    """Span recorder.  Timings are always taken (they feed the end-to-end
    metrics); Spark counts are attached only in traced rounds."""

    def __init__(self):
        self.spans = []
        self._stack = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(len(self.spans), name, self._stack[-1].sid if self._stack else None, time.time())
        s.attrs.update(attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()


class SparkHarvester:
    """Reads what Spark recorded for the executions since ``mark()``."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.core_store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._offset = 0

    def _drain(self):
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> None:
        self._drain()
        self._offset = self.sql_store.executionsCount()

    def executions(self) -> list:
        """Every execution since ``mark()``, with its layer totals."""
        self._drain()
        n = self.sql_store.executionsCount()
        found = self.sql_store.executionsList(self._offset, n - self._offset)
        out = []
        for i in range(found.size()):
            out.append(self._execution(found.apply(i)))
        self._offset = n
        return out

    def _execution(self, e) -> dict:
        eid = e.executionId()
        done = e.completionTime()
        rec = {
            "id": eid,
            "submitted": e.submissionTime() / 1e3,
            "completed": done.get().getTime() / 1e3 if done.isDefined() else None,
            "jobs": e.jobs().size(),
            "stages": [int(x) for x in re.findall(r"\d+", e.stages().toString())],
            "layers": {},
        }
        values = parse_metric_values(self.sql_store.executionMetrics(eid).toString())
        nodes = self.sql_store.planGraph(eid).allNodes()
        layers = rec["layers"]
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            for mname, acc, _kind in _METRIC_DECL.findall(node.metrics().toString()):
                acc = int(acc)
                if acc not in values:
                    continue
                if name.startswith("Scan") and mname == "number of output rows":
                    key, kind = "scan.rows", "sum"
                elif mname in _NODE_METRICS:
                    key, kind = _NODE_METRICS[mname]
                else:
                    continue
                v = parse_metric(values[acc], kind)
                layers[key] = layers.get(key, 0.0) + v
                if mname == "time to run Python workers":
                    family = (
                        "python.run_ms.partial"
                        if name.startswith("MapIn")
                        else "python.run_ms.udf"
                        if "EvalPython" in name
                        else "python.run_ms.grouped"
                    )
                    layers[family] = layers.get(family, 0.0) + v
        rec["tasks"], rec["skew"] = self._task_stats(rec["stages"])
        return rec

    def _task_stats(self, stages):
        """(task count, max/median task duration per stage)."""
        tasks, skew = 0, []
        tracker = self.sc.statusTracker()
        for sid in stages:
            info = tracker.getStageInfo(sid)
            n = info.numTasks if info is not None else 0
            tasks += n
            if n < 2:
                continue
            summary = self.core_store.taskSummary(sid, 0, self._quantiles)
            if summary.isDefined():
                dur = summary.get().duration()
                med, top = dur.apply(0), dur.apply(1)
                if med > 0:
                    skew.append(top / med)
        return tasks, skew


def attach(spans, executions) -> None:
    """Attribute each execution to the innermost span holding its
    submission time, and total the layers per span."""
    for s in spans:
        s.spark = {"executions": 0, "jobs": 0, "stages": 0, "tasks": 0,
                   "skew": [], "busy_s": 0.0, "layers": {}}
    for ex in executions:
        owner = None
        for s in spans:
            if s.start <= ex["submitted"] <= s.end and (
                owner is None or s.start >= owner.start
            ):
                owner = s
        if owner is None:
            continue
        agg = owner.spark
        agg["executions"] += 1
        agg["jobs"] += ex["jobs"]
        agg["stages"] += len(ex["stages"])
        agg["tasks"] += ex["tasks"]
        agg["skew"].extend(ex["skew"])
        agg.setdefault("_intervals", []).append(
            (ex["submitted"], ex["completed"] or owner.end)
        )
        for k, v in ex["layers"].items():
            agg["layers"][k] = agg["layers"].get(k, 0.0) + v
    for s in spans:
        intervals = s.spark.pop("_intervals", [])
        s.spark["busy_s"] = _union_seconds(intervals, s.start, s.end)


def _union_seconds(intervals, lo, hi) -> float:
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


def self_seconds(span, spans) -> float:
    """Span duration minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.sid]
    return span.seconds - _union_seconds(kids, span.start, span.end)
