"""Spans around the benchmark's calls into library layers, plus the SQL
metrics Spark records on each returned DataFrame's own QueryExecution.

A disabled :class:`Tracer` calls straight through, so untraced runs pay
nothing. An enabled one wraps each layer call in a span, counts the Spark
jobs the call fired before returning its lazy DataFrame (``eager_jobs``),
then executes that DataFrame once through its own QueryExecution by
pinning it (``localCheckpoint``) and walks the executed plan for row,
shuffle, spill and Python-UDF counters. The pinned frame is returned, so
the next layer's span covers only that layer's own work.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Spark SQL metric names summed over plan nodes
_SUMMED = {
    "spill_bytes": "spillSize",
    "python_ms": "pythonTotalTime",
    "python_bytes_sent": "pythonDataSent",
    "python_rows_out": "pythonNumRowsReceived",
}


def _metric_values(node) -> dict:
    out = {}
    it = node.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().value()
    return out


def _walk(node, acc: list) -> None:
    """Pre-order walk of an executed plan, descending through AQE wrappers
    and query stages into the plan that actually ran."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk(node.executedPlan(), acc)
        return
    if cls.endswith("QueryStageExec"):
        _walk(node.plan(), acc)
        return
    rdd_id = node.rdd().id() if cls == "RDDScanExec" else None
    acc.append((node.nodeName(), _metric_values(node), rdd_id))
    if cls == "ReusedExchangeExec":  # its metrics belong to the original
        return
    children = node.children().iterator()
    while children.hasNext():
        _walk(children.next(), acc)


def plan_metrics(df: DataFrame) -> dict:
    """Counters from ``df``'s own executed plan (zeros before it ran)."""
    nodes: list = []
    _walk(df._jdf.queryExecution().executedPlan(), nodes)
    m = {
        "rows_out": next(
            (v["numOutputRows"] for _, v, _ in nodes if "numOutputRows" in v), 0
        ),
        "exchanges": sum(1 for n, _, _ in nodes if n == "Exchange"),
        "shuffle_bytes": sum(v.get("dataSize", 0) for n, v, _ in nodes if n == "Exchange"),
        "join_rows": sum(v.get("numOutputRows", 0) for n, v, _ in nodes if "Join" in n),
        "scan_rdds": [r for _, _, r in nodes if r is not None],
    }
    for key, name in _SUMMED.items():
        m[key] = sum(v.get(name, 0) for _, v, _ in nodes)
    return m


def scan_rdd_ids(df: DataFrame) -> list:
    """RDD ids scanned by ``df``'s plan; for a pinned frame, the pin itself."""
    nodes: list = []
    _walk(df._jdf.queryExecution().executedPlan(), nodes)
    return [r for _, _, r in nodes if r is not None]


class Tracer:
    """Collects spans ``{name, layer, start, end, pass, counters}``.

    Parents are assigned when the spans are exported: spans come from one
    thread and nest properly, so the parent of a span is the shortest span
    of the same pass that contains it.
    """

    def __init__(self, spark, workload: str, enabled: bool):
        self.spark = spark
        self.workload = workload
        self.enabled = enabled
        self.pass_no = -1
        self.spans: list[dict] = []
        self.probe_s = 0.0
        self.last: dict = {}  # counters of the latest call() span

    def last_job_id(self) -> int:
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        return max(ids, default=-1)

    def add(self, name: str, layer: str, start: float, end: float, **counters) -> dict:
        rec = {
            "name": name, "layer": layer, "start": start, "end": end,
            "pass": self.pass_no, "counters": counters,
        }
        self.spans.append(rec)
        return rec

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield {}
            return
        rec = self.add(name, layer, time.perf_counter(), 0.0)
        try:
            yield rec["counters"]
        finally:
            rec["end"] = time.perf_counter()

    def call(self, layer: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside a ``<layer>.<fn>`` span."""
        if not self.enabled:
            return fn(*args, **kwargs)
        with self.span(f"{layer}.{fn.__name__}", layer) as c:
            self.last = c
            job0 = self.last_job_id()
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            c["plan_s"] = time.perf_counter() - t0
            c["eager_jobs"] = self.last_job_id() - job0
            if isinstance(out, DataFrame):
                pinned = out.localCheckpoint()
                c.update(plan_metrics(out))
                out = pinned
        return out

    def probe(self, name: str, fn):
        """Run a trace-only measurement outside every layer span; its time
        is kept out of the traced pass time."""
        t0 = time.perf_counter()
        value = fn()
        end = time.perf_counter()
        self.probe_s += end - t0
        self.add(f"probe.{name}", "probe", t0, end, value=value)
        return value

    def with_parents(self) -> list[dict]:
        spans = sorted(self.spans, key=lambda s: (s["pass"], s["start"], -s["end"]))
        for i, s in enumerate(spans):
            s["id"] = i
            s["parent"] = None
            best = None
            for p in spans[:i]:
                if (p["pass"] == s["pass"] and p["start"] <= s["start"]
                        and s["end"] <= p["end"]
                        and (best is None or p["end"] - p["start"] < best[1])):
                    best = (p["id"], p["end"] - p["start"])
            if best is not None:
                s["parent"] = best[0]
        for s in spans:
            child = sum(c["end"] - c["start"] for c in spans if c["parent"] == s["id"])
            s["self_s"] = (s["end"] - s["start"]) - child
        return spans

    def dump(self, path: str) -> list[dict]:
        spans = self.with_parents()
        with open(path, "w") as f:
            json.dump(
                [{**s, "workload": self.workload,
                  "counters": {k: v for k, v in s["counters"].items() if k != "scan_rdds"}}
                 for s in spans],
                f, indent=1,
            )
        return spans
