"""Spans around engine calls plus the SQL metrics of every plan they ran.

A ``Tracer`` registers a ``QueryExecutionListener`` (through the py4j
callback server) so it sees *every* SQL execution a layer call starts,
including the ones the engine runs internally (``localCheckpoint`` in the
kNN joins, the broadcast probe in ``pip_join``). After each span it walks
the executed plans: ``AdaptiveSparkPlanExec.finalPhysicalPlan()``, each
query stage's ``plan()`` and every node's ``children()``. The counters it
keeps (rows, bytes, exchanges, a node-name fingerprint) do not depend on
host speed, so two runs of the same code give identical values.

Spans stay in memory (name, start, end, parent) and are written with the
detail record at the end of the run.
"""

from __future__ import annotations

import hashlib
import time
from contextlib import contextmanager

_STAGE_CLASSES = (
    "ShuffleQueryStageExec",
    "BroadcastQueryStageExec",
    "TableCacheQueryStageExec",
    "ResultQueryStageExec",
)
_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapGroupsInArrow")


def walk_plan(plan) -> list[dict]:
    """Pre-order list of executed-plan nodes with their metric values."""
    out: list[dict] = []

    def visit(p) -> None:
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(p.finalPhysicalPlan())
            return
        if cls in _STAGE_CLASSES:
            visit(p.plan())
            return
        if cls == "CommandResultExec":
            visit(p.commandPhysicalPlan())
            return
        node = {"name": p.nodeName(), "metrics": {}}
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            node["metrics"][kv._1()] = (int(m.value()), m.metricType())
        if node["name"] in _JOIN_NODES:
            node["join_type"] = p.joinType().toString()
        out.append(node)
        children = p.children().iterator()
        while children.hasNext():
            visit(children.next())

    visit(plan)
    return out


def _ms(value: int, metric_type: str) -> float:
    return value / 1e6 if metric_type == "nsTiming" else float(value)


def summarize(nodes: list[dict]) -> dict:
    """Counters of one executed plan."""
    s = {
        "python_ms": 0.0,
        "python_bytes_sent": 0,
        "shuffle_bytes": 0,
        "broadcast_bytes": 0,
        "broadcast_rows": 0,
        "exchanges": 0,
        "inner_join_rows": [],
        "anti_join_rows": 0,
        "written_bytes": 0,
        "rows": [],
    }
    for n in nodes:
        name, m = n["name"], n["metrics"]
        rows = m.get("numOutputRows", (None, ""))[0]
        s["rows"].append([name, rows])
        if name.startswith(_PYTHON_NODES):
            if "pythonTotalTime" in m:
                s["python_ms"] += _ms(*m["pythonTotalTime"])
            s["python_bytes_sent"] += m.get("pythonDataSent", (0, ""))[0]
        if name == "Exchange":
            s["exchanges"] += 1
            s["shuffle_bytes"] += m.get("dataSize", (0, ""))[0]
        elif name == "BroadcastExchange":
            s["exchanges"] += 1
            s["broadcast_bytes"] += m.get("dataSize", (0, ""))[0]
            s["broadcast_rows"] += rows or 0
        if n.get("join_type") == "Inner" and rows is not None:
            s["inner_join_rows"].append(rows)
        elif n.get("join_type") == "LeftAnti" and rows is not None:
            s["anti_join_rows"] += rows
        if "numOutputBytes" in m:
            s["written_bytes"] += m["numOutputBytes"][0]
    s["fingerprint"] = hashlib.sha1(
        "/".join(n["name"] for n in nodes).encode()
    ).hexdigest()[:12]
    return s


class _Listener:
    """py4j implementation of Spark's QueryExecutionListener."""

    def __init__(self):
        self.captured: list = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 — Java API
        self.captured.append((func_name, qe, duration_ns / 1e9))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 — Java API
        self.captured.append((func_name + ":failed", qe, None))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class Tracer:
    """Spans in memory; with ``plans=True`` each span also carries the
    summarized plans of the SQL executions started inside it."""

    def __init__(self, spark, plans: bool):
        self.spark = spark
        self.plans = plans
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._listener = None
        if plans:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(spark.sparkContext._gateway)
            self._listener = _Listener()
            spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        if self._listener is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._listener)
            self._listener = None

    def _drain(self) -> list:
        # listener callbacks arrive on Spark's listener bus thread
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        got, self._listener.captured = self._listener.captured, []
        return got

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        idx = len(self.spans) - 1
        if self._listener is not None:
            self._drain()
        self._stack.append(idx)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._listener is not None:
                rec["actions"] = [
                    {"action": fn, "seconds": dt, **summarize(walk_plan(qe.executedPlan()))}
                    for fn, qe, dt in self._drain()
                ]


def layer_counters(rec: dict) -> dict:
    """Sum one span's per-action counters into per-layer values."""
    acts = rec.get("actions", [])
    joins = [r for a in acts for r in a["inner_join_rows"]]
    # the candidate join is the widest inner join of the span: every later
    # inner join (top-k completion, keeper joins) keeps a subset of it
    candidates = max(joins, default=0)
    out_rows = rec.get("out_rows")
    return {
        "wall_s": rec["end"] - rec["start"],
        "python_ms": sum(a["python_ms"] for a in acts),
        "python_bytes_sent": sum(a["python_bytes_sent"] for a in acts),
        "shuffle_bytes": sum(a["shuffle_bytes"] for a in acts),
        "broadcast_bytes": sum(a["broadcast_bytes"] for a in acts),
        "broadcast_rows": sum(a["broadcast_rows"] for a in acts),
        "exchanges": sum(a["exchanges"] for a in acts),
        "candidate_rows": candidates,
        "out_rows": out_rows,
        "keep_ratio": out_rows / candidates if out_rows is not None and candidates else 0.0,
        "residual_queries": sum(a["anti_join_rows"] for a in acts),
        # a write outside any SQL execution records its bytes on the span
        "bytes_written": rec.get("bytes_written", sum(a["written_bytes"] for a in acts)),
        "fingerprints": [a["fingerprint"] for a in acts],
    }


def per_layer(spans: list[dict]) -> dict:
    """Per-layer counters of one traced repetition, keyed by span name."""
    return {rec["name"]: layer_counters(rec) for rec in spans
            if rec["parent"] is None and "actions" in rec}
