"""Traced run mode: spans and counts taken at the package's layer
boundaries from the benchmark's side, without editing the package.

- Spans. Every public function and public-class method of the package's
  layer modules (``session``, ``catalog``, ``sources``, ``functions``,
  ``operators``, ``plans``, ``streaming``) is wrapped, as are pyspark's
  actions and pins. A span has a name, start, end, parent and the id of
  the benchmark operation it belongs to. Spans are kept in memory and
  written once at exit; self time is a span's duration minus its
  children's.
- py4j calls, counted by wrapping the gateway client and charged to the
  innermost open span's layer.
- Pins: ``DataFrame.localCheckpoint`` / ``checkpoint`` calls and the
  time spent in them.
- Catalyst phases of every DataFrame collected, from
  ``queryExecution().tracker()``.
- Spark jobs, stages, tasks, CPU, GC, shuffle, spill, bytes and SQL
  metrics from an event log that only this mode enables, attributed to
  operations by job submission time.
- Streaming progress of the queries the benchmark starts.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import json
import os
import pkgutil
import time

LAYERS = ("session", "catalog", "sources", "functions", "operators", "plans", "streaming")
PIN_METHODS = ("localCheckpoint", "checkpoint")
ACTION_METHODS = ("collect", "count", "toPandas", "first", "take", "head")
WRITE_METHODS = ("parquet", "save")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "ArrowEvalPythonUDTF",
                "BatchEvalPythonUDTF", "AggregateInPandas", "WindowInPandas")


_MISSING = object()


class _WorkerTracer:
    """What a Tracer unpickles to inside a Python worker: inert."""

    _internal = 1


class NullTracer:
    """The untraced mode: the same interface, doing only the work itself."""

    enabled = False

    def op(self, kind: str):
        return contextlib.nullcontext()

    def stream(self, query) -> None:
        pass


class Tracer:
    enabled = True

    def __init__(self, package: str, event_dir: str) -> None:
        self.package = package
        self.event_dir = event_dir
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.ops: list[dict] = []
        self.progress: list[dict] = []
        self._undo: list = []
        self._internal = 0

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, layer: str) -> dict:
        parent = self.stack[-1] if self.stack else None
        sp = {"id": len(self.spans), "name": name, "layer": layer,
              "parent": parent["id"] if parent else None,
              "op": self.ops[-1]["id"] if self.ops and self.ops[-1]["end"] is None else None,
              "start": time.perf_counter(), "wall0": time.time(), "end": None,
              "py4j": 0}
        self.spans.append(sp)
        self.stack.append(sp)
        return sp

    def _close(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        self.stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "bench"):
        sp = self._open(name, layer)
        try:
            yield sp
        finally:
            self._close(sp)

    @contextlib.contextmanager
    def op(self, kind: str):
        """One benchmark operation (an ingest pass, a request, a write)."""
        rec = {"id": len(self.ops), "kind": kind, "start": time.perf_counter(),
               "wall0": time.time(), "end": None}
        self.ops.append(rec)
        with self.span(f"op.{kind}"):
            yield rec
        rec["end"] = time.perf_counter()
        rec["wall1"] = time.time()

    def _wrap(self, fn, name: str, layer: str, extra=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer._internal:
                return fn(*args, **kwargs)
            sp = tracer._open(name, layer)
            try:
                out = fn(*args, **kwargs)
                if extra is not None:
                    extra(sp, args, out)
                return out
            finally:
                tracer._close(sp)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, new)

    def __reduce__(self):
        # Package functions pickled into Python workers carry these
        # wrappers; there they must pass straight through.
        return (_WorkerTracer, ())

    # -- installation ----------------------------------------------------
    def install(self, spark) -> None:
        self._install_package()
        self._install_pyspark()
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command
        tracer = self

        def counting_send(*args, **kwargs):
            if tracer.stack and not tracer._internal:
                tracer.stack[-1]["py4j"] += 1
            return send(*args, **kwargs)

        self._patch(client, "send_command", counting_send)

    def _install_package(self) -> None:
        pkg = importlib.import_module(self.package)
        modules = []
        for info in pkgutil.walk_packages(pkg.__path__, self.package + "."):
            rel = info.name[len(self.package) + 1:]
            if rel.split(".")[0] in LAYERS:
                modules.append(importlib.import_module(info.name))
        originals: dict[int, object] = {}
        for mod in modules:
            rel = mod.__name__[len(self.package) + 1:]
            layer = rel.split(".")[0]
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    originals[id(obj)] = self._wrap(obj, f"{rel}.{attr}", layer)
                elif inspect.isclass(obj):
                    for m_name, m in list(vars(obj).items()):
                        if inspect.isfunction(m) and (m_name == "__init__" or not m_name.startswith("_")):
                            self._patch(obj, m_name, self._wrap(m, f"{rel}.{attr}.{m_name}", layer))
        # rebind every module-level reference, including `from .x import f`
        for mod in modules:
            for attr, obj in list(vars(mod).items()):
                w = originals.get(id(obj))
                if w is not None:
                    self._patch(mod, attr, w)

    def _install_pyspark(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter

        for name in PIN_METHODS:
            self._patch(DataFrame, name, self._wrap(getattr(DataFrame, name), f"spark.pin.{name}", "pin"))
        for name in ACTION_METHODS:
            extra = self._catalyst if name in ("collect", "toPandas") else None
            self._patch(DataFrame, name, self._wrap(getattr(DataFrame, name), f"spark.action.{name}", "spark", extra))
        for name in WRITE_METHODS:
            self._patch(DataFrameWriter, name, self._wrap(getattr(DataFrameWriter, name), f"spark.write.{name}", "spark"))

    def _catalyst(self, sp: dict, args, _out) -> None:
        self._internal += 1
        try:
            phases = args[0]._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                opt = phases.get(phase)
                sp[f"catalyst_{phase}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        finally:
            self._internal -= 1

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    def stream(self, query) -> None:
        for p in query.recentProgress:
            d = json.loads(p.json) if hasattr(p, "json") else dict(p)
            d["_op"] = self.ops[-1]["id"] if self.ops else None
            self.progress.append(d)

    # -- reduction -------------------------------------------------------
    def self_times(self) -> list[dict]:
        child = {}
        for sp in self.spans:
            if sp["parent"] is not None and sp["end"] is not None:
                child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
        for sp in self.spans:
            sp["self"] = (sp["end"] - sp["start"]) - child.get(sp["id"], 0.0) if sp["end"] else 0.0
        return self.spans

    def layer_metrics(self) -> dict:
        """Per-operation averages of the span-derived layer metrics, plus
        the check that each operation's self times add up to its wall."""
        self.self_times()
        ops = [o for o in self.ops if o["end"] is not None]
        ids = {o["id"] for o in ops}
        n = max(1, len(ops))
        m: dict[str, float] = {}

        def add(k, v):
            m[k] = m.get(k, 0.0) + v

        coverage = []
        per_op_self = {o["id"]: 0.0 for o in ops}
        for sp in self.spans:
            if sp["op"] not in ids:
                continue
            per_op_self[sp["op"]] += sp["self"]
            layer = sp["layer"]
            if layer in LAYERS:
                add(f"{layer}.build_ms", sp["self"] * 1e3)
                add(f"{layer}.py4j_calls", sp["py4j"])
            elif layer == "pin":
                add("operators.pins", 1)
                add("operators.pin_ms", (sp["end"] - sp["start"]) * 1e3)
            elif layer == "spark":
                add("spark.py4j_calls", sp["py4j"])
                if sp["name"] in ("spark.action.collect", "spark.action.toPandas") and self._is_final(sp):
                    cat = sum(sp.get(f"catalyst_{p}_ms", 0.0) for p in ("analysis", "optimization", "planning"))
                    in_action = sum(sp.get(f"catalyst_{p}_ms", 0.0) for p in ("optimization", "planning"))
                    add("spark.catalyst_ms", cat)
                    add("spark.exec_ms", max(0.0, (sp["end"] - sp["start"]) * 1e3 - in_action))
            else:
                add("bench.py4j_calls", sp["py4j"])
        for o in ops:
            wall = o["end"] - o["start"]
            coverage.append(per_op_self[o["id"]] / wall if wall else 1.0)
        out = {k: v / n for k, v in m.items()}
        out["trace.ops"] = len(ops)
        out["trace.self_time_coverage_min"] = min(coverage) if coverage else 1.0
        out["trace.self_time_coverage_max"] = max(coverage) if coverage else 1.0
        return out

    def _is_final(self, sp: dict) -> bool:
        """An action the benchmark itself issued, not one inside a build call."""
        parent = self.spans[sp["parent"]] if sp["parent"] is not None else None
        return parent is None or parent["layer"] == "bench"


# -- event log ----------------------------------------------------------

def _walk_plan(info: dict, out: dict) -> None:
    for met in info.get("metrics", []):
        out[met["accumulatorId"]] = (info.get("nodeName", ""), met["name"], info.get("simpleString", ""))
    for ch in info.get("children", []):
        _walk_plan(ch, out)


def parse_event_log(event_dir: str, ops: list[dict]) -> dict[int, dict]:
    """Per-operation Spark execution counts from the event log. Jobs map to
    the operation whose wall interval holds their submission time; SQL
    metrics map through their execution id's jobs."""
    files = sorted(os.path.join(r, f) for r, _d, fs in os.walk(event_dir)
                   for f in fs if f.startswith("events_") or f.startswith("local-"))
    per: dict[int, dict] = {}

    def bucket(op_id):
        return per.setdefault(op_id, {
            "jobs": 0, "stages": 0, "tasks": 0, "task_cpu_s": 0.0, "gc_ms": 0.0,
            "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
            "output_mb": 0.0, "input_mb": 0.0, "records_read": 0,
            "python_udf_rows": 0, "python_udf_mb": 0.0, "partitions_read": 0,
            "codes_rows_read": 0, "peak_heap_mb": 0.0})

    def op_at(ms: float):
        t = ms / 1e3
        for o in ops:
            if o["end"] is not None and o["wall0"] <= t <= o.get("wall1", o["wall0"]):
                return o["id"]
        return None

    stage_op: dict[int, int] = {}
    exec_op: dict[int, int] = {}
    metric_def: dict[int, tuple] = {}
    accum: dict[int, float] = {}
    accum_exec: dict[int, int] = {}
    exec_of_stage: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                if not line.strip():
                    continue
                ev = json.loads(line)
                et = ev.get("Event", "")
                if et.endswith("SparkListenerSQLExecutionStart") or et.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    _walk_plan(ev.get("sparkPlanInfo", {}), metric_def)
                elif et == "SparkListenerJobStart":
                    oid = op_at(ev["Submission Time"])
                    eid = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    for sid in ev.get("Stage IDs", []):
                        if eid is not None:
                            exec_of_stage[sid] = int(eid)
                    if oid is None:
                        continue
                    bucket(oid)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op[sid] = oid
                    if eid is not None:
                        exec_op[int(eid)] = oid
                elif et == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    oid = stage_op.get(si["Stage ID"])
                    if oid is not None and si.get("Submission Time"):
                        bucket(oid)["stages"] += 1
                elif et == "SparkListenerStageExecutorMetrics":
                    oid = stage_op.get(ev.get("Stage ID"))
                    heap = (ev.get("Executor Metrics") or {}).get("JVMHeapMemory", 0) / 1e6
                    if oid is not None:
                        b = bucket(oid)
                        b["peak_heap_mb"] = max(b["peak_heap_mb"], heap)
                elif et == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        aid = acc.get("ID")
                        if aid is not None and isinstance(acc.get("Update"), (int, float, str)):
                            try:
                                accum[aid] = accum.get(aid, 0.0) + float(acc["Update"])
                            except ValueError:
                                continue
                            if sid in exec_of_stage:
                                accum_exec[aid] = exec_of_stage[sid]
                    oid = stage_op.get(sid)
                    if oid is None:
                        continue
                    b = bucket(oid)
                    b["tasks"] += 1
                    tm = ev.get("Task Metrics") or {}
                    b["task_cpu_s"] += (tm.get("Executor CPU Time") or 0) / 1e9
                    b["gc_ms"] += tm.get("JVM GC Time") or 0
                    srm = tm.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_mb"] += ((srm.get("Local Bytes Read") or 0) + (srm.get("Remote Bytes Read") or 0)) / 1e6
                    b["shuffle_write_mb"] += ((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written") or 0) / 1e6
                    b["spill_mb"] += ((tm.get("Disk Bytes Spilled") or 0) + (tm.get("Memory Bytes Spilled") or 0)) / 1e6
                    b["output_mb"] += ((tm.get("Output Metrics") or {}).get("Bytes Written") or 0) / 1e6
                    im = tm.get("Input Metrics") or {}
                    b["input_mb"] += (im.get("Bytes Read") or 0) / 1e6
                    b["records_read"] += im.get("Records Read") or 0
                elif et.endswith("SparkListenerDriverAccumUpdates"):
                    eid = ev.get("executionId")
                    for aid, val in ev.get("accumUpdates", []):
                        accum[aid] = accum.get(aid, 0.0) + float(val)
                        accum_exec[aid] = eid
    for aid, val in accum.items():
        node, name, desc = metric_def.get(aid, ("", "", ""))
        oid = exec_op.get(accum_exec.get(aid))
        if oid is None or not node:
            continue
        b = bucket(oid)
        if any(node.startswith(p) for p in PYTHON_NODES):
            if name == "number of output rows":
                b["python_udf_rows"] += int(val)
            elif name in ("data sent to Python workers", "data returned from Python workers"):
                b["python_udf_mb"] += val / 1e6
        elif node.startswith("Scan parquet"):
            if name == "number of partitions read":
                b["partitions_read"] += int(val)
            elif name == "number of output rows" and "/codes" in desc:
                b["codes_rows_read"] += int(val)
    return per
