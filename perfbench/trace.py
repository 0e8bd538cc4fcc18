"""Per-layer tracing from outside the package, and the Spark event-log parser.

``Tracer.install()`` replaces every public function (and public class
method) of each layer module with a wrapper that records a span: layer,
start, end and the enclosing span. References taken with ``from x import f``
elsewhere in the package are rebound too. While a span is open its id is
the Spark local property ``SPAN_PROPERTY`` of the calling thread, so the
event log attributes each job to the innermost span that submitted it. A
local property is used rather than a job group because Structured Streaming
owns the job group of its micro-batch thread.

The span stack is shared by all threads: the workloads are closed loops in
which one driver thread issues calls at a time (the main thread blocks in
``awaitTermination`` while ``foreachBatch`` callbacks run).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import re
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "check_datapackage_spark"

#: layer name -> module; the layers are the package's modules
LAYERS = {
    "session": "session",
    "cli": "cli",
    "spec": "spec",
    "compile": "compile",
    "plans.validation": "plans.validation",
    "issue": "issue",
    "operators.uniqueness": "operators.uniqueness",
    "operators.referential": "operators.referential",
    "sources.registry": "sources.registry",
    "streaming.checks": "streaming.checks",
    "operators.stats": "operators.stats",
    "operators.sketch": "operators.sketch",
    "operators.drift": "operators.drift",
    "operators.sequences": "operators.sequences",
    "operators.packing": "operators.packing",
    "operators.dedup": "operators.dedup",
}

SPAN_PROPERTY = "perfbench.span"

#: plan nodes whose stages cross the Python/Arrow boundary
PYTHON_NODES = re.compile(
    r"ArrowEvalPython|BatchEvalPython|MapInArrow|MapInPandas|FlatMapGroupsInPandas"
    r"|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas|PythonUDF"
)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.unit: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._next = 0
        self._installed = False

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    @contextmanager
    def span(self, layer: str):
        with self._lock:
            sid = self._next
            self._next += 1
            parent = self._stack[-1] if self._stack else None
            self._stack.append(sid)
        sc = self._sc()
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty(SPAN_PROPERTY)
            sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if sc is not None:
                sc.setLocalProperty(SPAN_PROPERTY, prev)
            with self._lock:
                self._stack.remove(sid)
                self.spans.append(
                    {"id": sid, "parent": parent, "layer": layer, "t0": t0, "t1": t1, "unit": self.unit}
                )

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            # builders of foreachBatch callbacks: the callback is the layer's work
            if inspect.isfunction(out) and not hasattr(out, "__wrapped__"):
                return tracer._wrap(out, layer)
            return out

        return traced

    def install(self) -> None:
        """Patch every layer module; idempotent."""
        if self._installed:
            return
        self._installed = True
        replaced: dict[int, object] = {}
        for layer, mod_name in LAYERS.items():
            mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_"):
                    continue
                if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                    w = self._wrap(obj, layer)
                    replaced[id(obj)] = w
                    setattr(mod, name, w)
                elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                    self._patch_class(obj, layer)
        # rebind ``from x import f`` references held by other modules
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for name, obj in list(vars(mod).items()):
                w = replaced.get(id(obj))
                if w is not None and inspect.isfunction(obj):
                    setattr(mod, name, w)

    def _patch_class(self, cls, layer: str) -> None:
        for name, attr in list(vars(cls).items()):
            if name.startswith("_"):
                continue
            if isinstance(attr, classmethod):
                setattr(cls, name, classmethod(self._wrap(attr.__func__, layer)))
            elif isinstance(attr, staticmethod):
                setattr(cls, name, staticmethod(self._wrap(attr.__func__, layer)))
            elif inspect.isfunction(attr):
                setattr(cls, name, self._wrap(attr, layer))


def layer_table(spans: list[dict], units: list[dict]) -> dict:
    """calls / self time per layer, summed over the traced units, plus the
    share of each unit's wall clock covered by its top-level spans."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {layer: {"calls": 0, "self_s": 0.0} for layer in LAYERS}
    for s in spans:
        if s["unit"] is None:
            continue
        child = sum(c["t1"] - c["t0"] for c in children.get(s["id"], []))
        row = out[s["layer"]]
        row["calls"] += 1
        row["self_s"] += (s["t1"] - s["t0"]) - child
    covered = sum(s["t1"] - s["t0"] for s in spans if s["parent"] is None and s["unit"] is not None)
    wall = sum(u["t1"] - u["t0"] for u in units)
    return {"layers": out, "coverage": covered / wall if wall else 0.0}


def parse_event_log(paths: list[str], spans: list[dict], units: list[dict], table_rows: int) -> dict:
    """Per-layer job counts and Spark-wide totals over the traced units,
    from Spark's own event log. ``table_rows``: rows of the table one unit
    validates; a stage reading at least that many input records is one
    scan pass over it."""
    span_layer = {str(s["id"]): s["layer"] for s in spans}
    span_unit = {str(s["id"]): s["unit"] for s in spans}

    def unit_at(ms: float, span: str | None):
        if span is not None and span in span_unit:
            return span_unit[span]
        for u in units:
            if u["t0"] * 1000 <= ms <= u["t1"] * 1000:
                return u["unit"]
        return None

    traced = {u["unit"] for u in units}
    jobs = {}  # job id -> (unit, layer)
    stage_job = {}
    stage_python = {}
    stage_acc: dict = {}
    tot = {
        "spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.tasks_failed": 0,
        "exec.task_s": 0.0, "exec.cpu_s": 0.0, "exec.gc_s": 0.0,
        "scan.input_mb": 0.0, "scan.rows": 0, "scan.passes": 0,
        "exchange.shuffle_write_mb": 0.0, "exchange.shuffle_read_mb": 0.0,
        "exchange.fetch_wait_s": 0.0, "sort.spill_mb": 0.0,
        "python_arrow.task_s": 0.0, "result.mb": 0.0,
    }
    layer_jobs = {layer: 0 for layer in LAYERS}
    mb = 1024.0 * 1024.0
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            span = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
            unit = unit_at(ev.get("Submission Time", 0), span)
            if unit not in traced:
                continue
            jobs[ev["Job ID"]] = unit
            tot["spark.jobs"] += 1
            if span in span_layer:
                layer_jobs[span_layer[span]] += 1
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = ev["Job ID"]
            for si in ev.get("Stage Infos", []):
                stage_python[si["Stage ID"]] = _is_python(si)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if stage_job.get(si["Stage ID"]) in jobs:
                tot["spark.stages"] += 1
                stage_python[si["Stage ID"]] = stage_python.get(si["Stage ID"]) or _is_python(si)
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            if stage_job.get(sid) not in jobs:
                continue
            tot["spark.tasks"] += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                tot["spark.tasks_failed"] += 1
            m = ev.get("Task Metrics") or {}
            run_s = m.get("Executor Run Time", 0) / 1000.0
            tot["exec.task_s"] += run_s
            tot["exec.cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            tot["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            inp = m.get("Input Metrics") or {}
            tot["scan.input_mb"] += inp.get("Bytes Read", 0) / mb
            tot["scan.rows"] += inp.get("Records Read", 0)
            acc = stage_acc.setdefault((sid, ev.get("Stage Attempt ID", 0)), [0])
            acc[0] += inp.get("Records Read", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            tot["exchange.shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
            tot["exchange.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / mb
            tot["exchange.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
            tot["sort.spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / mb
            tot["result.mb"] += m.get("Result Size", 0) / mb
            if stage_python.get(sid):
                tot["python_arrow.task_s"] += run_s
    tot["scan.passes"] = sum(1 for (n,) in stage_acc.values() if n >= table_rows)
    return {"totals": tot, "layer_jobs": layer_jobs}


def _lines(paths):
    for p in paths:
        with open(p) as f:
            yield from f


def _is_python(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope") or ""
        if PYTHON_NODES.search(scope) or PYTHON_NODES.search(rdd.get("Name") or ""):
            return True
    return False


def find_event_log(directory: str) -> list[str]:
    """The event-log files of the one application logged in ``directory``:
    a single file, or a rolling ``eventlog_v2_*`` directory of parts."""
    logs = [os.path.join(directory, f) for f in os.listdir(directory)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {logs}")
    if not os.path.isdir(logs[0]):
        return logs
    parts = [f for f in os.listdir(logs[0]) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(logs[0], f) for f in parts]
