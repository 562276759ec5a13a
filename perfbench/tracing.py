"""Traced-run instruments, all applied from outside the engine.

* ``Tracer`` records spans (name, start, end, parent, op) around the
  benchmark's calls into each layer and tags the Spark jobs a span
  launches with the local properties ``perfbench.span`` / ``perfbench.op``.
* ``EventLog`` reads the session's Spark event log after the session
  stops and attributes task metrics to spans through those properties.
* ``query_probe`` reads Catalyst phase times and plan shape from a
  collected DataFrame's ``QueryExecution``; ``codegen_counters`` reads
  Spark's JVM-wide ``CodegenMetrics``.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_PROP = "perfbench.span"
OP_PROP = "perfbench.op"


class Tracer:
    """Spans stay in memory; ``dump`` writes them out at the end. A
    disabled tracer records nothing and sets no job properties."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: dict[int, dict] = {}
        self.roots: list[int] = []  # operation spans, in start order
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.sc = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Yield the span record (a dict the caller may annotate), or
        ``None`` when tracing is off. ``parent`` defaults to the
        innermost open span of this thread; pass it for work submitted
        to another thread."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        if parent is None and stack:
            parent = stack[-1]
        with self._lock:
            sid = next(self._ids)
            op = self.spans[parent]["op"] if parent else sid
            rec = {"id": sid, "name": name, "parent": parent, "op": op, **attrs}
            self.spans[sid] = rec
            if parent is None:
                self.roots.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self.sc.setLocalProperty(OP_PROP, str(op))
        stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            outer = self.spans[stack[-1]] if stack else None
            self.sc.setLocalProperty(SPAN_PROP, str(outer["id"]) if outer else None)
            self.sc.setLocalProperty(OP_PROP, str(outer["op"]) if outer else None)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans.values(), key=lambda s: s["id"]), f, indent=0, default=str)


def covered(spans: list[dict]) -> float:
    """Length of the union of the spans' [start, end] intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s in sorted(spans, key=lambda s: s["start"]):
        if cur_e is None or s["start"] > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s["start"], s["end"]
        else:
            cur_e = max(cur_e, s["end"])
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Catalyst and codegen -----------------------------------------------

def query_probe(df) -> dict:
    """Phase times and plan shape of a DataFrame that has been executed
    (call after its action). Exchanges are counted in AQE's final plan."""
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    out = {}
    for key, name in (("analysis", "analysis_ms"), ("optimization", "optimization_ms"), ("planning", "planning_ms")):
        opt = phases.get(key)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    tree = qe.optimizedPlan().treeString()
    out["plan_nodes"] = sum(1 for line in tree.splitlines() if line.strip())
    physical = qe.executedPlan().toString()
    final = physical.split("== Initial Plan ==")[0]
    out["exchanges"] = len(re.findall(r"\bExchange\b", final))
    return out


def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, total compile ms) since the JVM started.
    Spark's histogram keeps every sample until it holds 1028, which a
    benchmark run stays below."""
    jvm = spark.sparkContext._jvm
    h = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    values = jvm.java.util.Arrays.toString(h.getSnapshot().getValues())
    nums = [float(v) for v in values.strip("[]").split(",") if v.strip()]
    return int(h.getCount()), sum(nums)


# --- event log -------------------------------------------------------------

PY_METRICS = {
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_received",
    "number of output rows": "rows_sent",
}


class EventLog:
    """Task metrics of one application, keyed by the span that
    launched each job."""

    def __init__(self, log_dir: str, app_id: str):
        self.by_span: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        self.stages_by_span: dict[int, set] = defaultdict(set)
        files = sorted(glob.glob(os.path.join(log_dir, f"*{app_id}*", "events_*"))) or sorted(
            glob.glob(os.path.join(log_dir, f"{app_id}*"))
        )
        stage_span: dict[int, int] = {}
        py_acc: dict[int, str] = {}
        for path in files:
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    kind = e["Event"]
                    if kind == "SparkListenerJobStart":
                        sid = (e.get("Properties") or {}).get(SPAN_PROP)
                        if sid:
                            self.by_span[int(sid)]["jobs"] += 1
                            for st in e["Stage IDs"]:
                                stage_span[st] = int(sid)
                    elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
                        self._python_accumulators(e["sparkPlanInfo"], py_acc)
                    elif kind == "SparkListenerTaskEnd":
                        sid = stage_span.get(e["Stage ID"])
                        if sid is not None:
                            self._task(sid, e, py_acc)

    @staticmethod
    def _python_accumulators(node: dict, out: dict) -> None:
        if "Python" in node["nodeName"] or "InPandas" in node["nodeName"]:
            for m in node["metrics"]:
                if m["name"] in PY_METRICS:
                    out[m["accumulatorId"]] = PY_METRICS[m["name"]]
        for child in node["children"]:
            EventLog._python_accumulators(child, out)

    def _task(self, sid: int, e: dict, py_acc: dict) -> None:
        m = self.by_span[sid]
        self.stages_by_span[sid].add(e["Stage ID"])
        tm = e.get("Task Metrics") or {}
        m["tasks"] += 1
        m["run_s"] += tm.get("Executor Run Time", 0) / 1e3
        m["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        sr = tm.get("Shuffle Read Metrics") or {}
        m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in e["Task Info"].get("Accumulables", []):
            name = py_acc.get(acc["ID"])
            if name:
                m["py_" + name] += float(acc.get("Update") or 0)

    def total(self, span_ids) -> dict:
        out: dict[str, float] = defaultdict(float)
        stages: set = set()
        for sid in span_ids:
            for k, v in self.by_span.get(sid, {}).items():
                out[k] += v
            stages |= self.stages_by_span.get(sid, set())
        out["stages"] = len(stages)
        return out
