"""Outside-in tracing for the traced benchmark run.

Nothing in the engine changes. Layers are measured three ways:

* ``Tracer.install`` wraps every public function of the engine's layer
  modules (and the public methods of ``VersionedParquetTable``) so each
  call records a span: layer, name, start, end, parent span and the id
  of the benchmark operation it ran under. Spans stay in memory and are
  written out when the run ends.
* ``plan_metrics`` reads the Catalyst phase times and the executed
  plan's Arrow-stage metrics from a DataFrame's query execution.
* ``read_event_log`` reads Spark's own event log (jobs, stages, tasks)
  after the session stops; jobs are tied to operations by the job group
  the harness sets around each whole operation call.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import os
import pkgutil
import sys
import threading
import time

# package or module -> layer name
LAYER_MODULES = {
    "metadata_wrangler_spark.catalog": "catalog",
    "metadata_wrangler_spark.operators": "operators",
    "metadata_wrangler_spark.functions": "functions",
    "metadata_wrangler_spark.sources": "sources",
    "metadata_wrangler_spark.streaming": "streaming",
}
# class -> layer name; its public methods are wrapped
LAYER_CLASSES = {
    ("metadata_wrangler_spark.operators.merge", "VersionedParquetTable"): "merge",
}


class Span:
    __slots__ = ("id", "op", "layer", "name", "start", "end", "parent", "result", "stack")

    def __init__(self, sid, op, layer, name, start, parent):
        self.id, self.op, self.layer, self.name = sid, op, layer, name
        self.start, self.end, self.parent, self.result = start, None, parent, None

    def as_dict(self) -> dict:
        return {"id": self.id, "op": self.op, "layer": self.layer,
                "name": self.name, "start": self.start, "end": self.end,
                "parent": self.parent}


class Tracer:
    """Span recorder. Each client thread marks the operation it runs and
    whether that operation is traced, so traced and untraced operations
    can interleave in one process."""

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._originals: dict[int, object] = {}  # id(original function) -> wrapper
        # Spans from threads the harness did not start (the streaming
        # query's foreachBatch callback, while the client thread waits
        # in run_cdc_stream) join the operation begun last, under its
        # innermost open span. Exact with one client.
        self._last = None

    # -- operation context ------------------------------------------------

    def begin_op(self, op: str, traced: bool) -> None:
        self._local.ctx = self._last = (op, traced, [])

    def end_op(self) -> None:
        if self._last is self._local.ctx:
            self._last = None
        self._local.ctx = None

    def _open(self, layer: str, name: str) -> Span | None:
        ctx = getattr(self._local, "ctx", None) or self._last
        if ctx is None or not ctx[1]:
            return None
        op, _traced, stack = ctx
        s = Span(next(self._ids), op, layer, name, time.time(),
                 stack[-1].id if stack else None)
        s.stack = stack
        stack.append(s)
        self.spans.append(s)
        return s

    @staticmethod
    def _close(s: Span | None) -> None:
        if s is not None:
            s.end = time.time()
            s.stack.pop()

    # -- wrapping ---------------------------------------------------------

    def _wrap(self, layer: str, qualname: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            s = tracer._open(layer, qualname)
            try:
                out = fn(*args, **kwargs)
                if s is not None:
                    s.result = out if isinstance(out, (bool, int)) else None
                return out
            finally:
                tracer._close(s)

        return traced

    def install(self) -> None:
        """Wrap every layer module's public functions and rebind them in
        every engine module already imported. Call before
        ``plans.load_all_plans()``: plan modules bind ``from ... import f``
        at import time, so a wrapper installed later is never called.
        ``rebind`` after the plans load catches any module imported in
        between."""
        for root, layer in LAYER_MODULES.items():
            for mod in _modules_under(root):
                for name, obj in list(vars(mod).items()):
                    # name == __qualname__ keeps the wrapper picklable
                    # by reference: a worker unpickles the original.
                    if (name.startswith("_") or not inspect.isfunction(obj)
                            or obj.__module__ != mod.__name__
                            or obj.__qualname__ != name
                            or inspect.isgeneratorfunction(obj)):
                        continue
                    w = self._wrap(layer, f"{mod.__name__.rsplit('.', 1)[-1]}.{name}", obj)
                    setattr(mod, name, w)
                    self._originals[id(obj)] = w
        for (modname, clsname), layer in LAYER_CLASSES.items():
            cls = getattr(importlib.import_module(modname), clsname)
            for name, obj in list(vars(cls).items()):
                if name.startswith("_") or not inspect.isfunction(obj):
                    continue
                setattr(cls, name, self._wrap(layer, f"{clsname}.{name}", obj))
        self.rebind()

    def rebind(self) -> None:
        """Point every engine-module global that still names an original
        function at its wrapper."""
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("metadata_wrangler_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                w = self._originals.get(id(obj))
                if w is not None:
                    setattr(mod, name, w)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.as_dict() for s in self.spans if s.end is not None], f)


def _modules_under(root: str):
    mod = importlib.import_module(root)
    yield mod
    if hasattr(mod, "__path__"):
        for info in pkgutil.iter_modules(mod.__path__):
            yield importlib.import_module(f"{root}.{info.name}")


# -- span arithmetic ------------------------------------------------------


def layer_totals(spans: list[Span]) -> dict[str, dict]:
    """Per layer, over the spans of one operation: call count, and the
    time covered by the layer's outermost spans (a call nested in a call
    of the same layer is not counted twice), with those spans' intervals."""
    by_id = {s.id: s for s in spans}
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.layer, {"calls": 0, "s": 0.0, "outer": []})
        t["calls"] += 1
        p = by_id.get(s.parent)
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent)
        if p is None:
            t["s"] += s.end - s.start
            t["outer"].append((s.start, s.end))
    return out


# -- query execution ------------------------------------------------------

PYTHON_METRICS = ("pythonBootTime", "pythonTotalTime", "pythonDataSent",
                  "pythonDataReceived")


def plan_metrics(df) -> dict[str, float]:
    """Catalyst phase times and Arrow-stage metrics of an executed
    DataFrame, read from its JVM query execution."""
    out = {"analysis_ms": 0.0, "optimization_ms": 0.0, "planning_ms": 0.0,
           "python_stages": 0}
    for k in PYTHON_METRICS:
        out[k] = 0.0
    qe = df._jdf.queryExecution()
    phases = qe.tracker().phases()
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[f"{phase}_ms"] = float(opt.get().durationMs())
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        if cls == "ReusedExchangeExec":
            continue  # its subtree ran, and is counted, where it was first used
        metrics = node.metrics()
        if metrics.contains("pythonBootTime"):
            out["python_stages"] += 1
            for k in PYTHON_METRICS:
                opt = metrics.get(k)
                if opt.isDefined():
                    out[k] += float(opt.get().value())
        children = node.children()
        for i in range(children.size()):
            todo.append(children.apply(i))
    return out


# -- event log ------------------------------------------------------------


def read_event_log(log_dir: str) -> list[dict]:
    """The jobs in the (uncompressed, unrolled) event log files under
    ``log_dir``, one file per SparkContext. Each job carries its group
    (the operation id), its submission time in seconds and the task
    totals of each of its stages."""
    out: list[dict] = []
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        jobs: list[dict] = []
        stages: dict[int, dict] = {}  # job and stage ids restart per context
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append({
                        "group": props.get("spark.jobGroup.id"),
                        "submit": ev.get("Submission Time", 0) / 1000.0,
                        "stages": list(ev.get("Stage IDs", [])),
                    })
                elif kind == "SparkListenerTaskEnd":
                    _add_task(stages.setdefault(ev["Stage ID"], _empty_stage()), ev)
        for job in jobs:
            job["stage_totals"] = [stages[s] for s in job["stages"] if s in stages]
        out.extend(jobs)
    return out


def _empty_stage() -> dict:
    return {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
            "sched_delay_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "peak_exec_mem_bytes": 0}


def _add_task(st: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    run_ms = m.get("Executor Run Time", 0)
    st["run_s"] += run_ms / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    overhead = (m.get("Executor Deserialize Time", 0)
                + m.get("Result Serialization Time", 0)
                + (info.get("Finish Time", 0) - info.get("Getting Result Time", 0)
                   if info.get("Getting Result Time", 0) > 0 else 0))
    st["sched_delay_s"] += max(0, duration - run_ms - overhead) / 1000.0
    sw = m.get("Shuffle Write Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    st["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    st["peak_exec_mem_bytes"] = max(st["peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0))
