"""Traced run: spans around every call into a layer, Spark numbers per span.

A layer is a module (or a few) of `geotreehealth_spark`. `Tracer.install`
wraps each public function (and each public method of a class) the layer's
modules define, and rebinds the wrapper wherever a loaded module of the
program holds the original, so names imported by value (`from .knn import
knn_join`) are traced too. The wrapper keeps the original's module and
qualified name, so a function shipped to Python workers pickles by reference
and runs there unwrapped.

Each span sets its own Spark job group, so a job belongs to the innermost
span that launched it. After the traced pass, `layer_metrics` reads the
in-process status stores (jobs, stages, SQL plan metrics; no UI needed) and
folds them with the spans into per-layer numbers. Spans stay in memory until
`dump` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import time
from contextlib import contextmanager

LAYERS = {
    "synth": ("geotreehealth_spark.synth",),
    "knn": ("geotreehealth_spark.operators.knn",),
    "pip_join": ("geotreehealth_spark.operators.pip_join",),
    "matching": ("geotreehealth_spark.operators.matching",),
    "aggregates": ("geotreehealth_spark.operators.aggregates",),
    "docs": ("geotreehealth_spark.docs.decode", "geotreehealth_spark.docs.generator",
             "geotreehealth_spark.docs.spans"),
    "media": ("geotreehealth_spark.media", "geotreehealth_spark.operators.media_features"),
    "zonal": ("geotreehealth_spark.operators.zonal",),
    "tiling": ("geotreehealth_spark.operators.tiling",),
    "vectorize": ("geotreehealth_spark.operators.vectorize",),
    "nms": ("geotreehealth_spark.operators.nms",),
    "overlap": ("geotreehealth_spark.operators.overlap",),
    "text": ("geotreehealth_spark.text.dedup", "geotreehealth_spark.text.similarity",
             "geotreehealth_spark.text.analysis"),
    "lineage": ("geotreehealth_spark.lineage",),
    "catalog": ("geotreehealth_spark.catalog",),
}
CALL_LAYERS = tuple(LAYERS)
# every per-layer metric a traced run prints, in print order
PER_LAYER = (
    "session.start_s", "synth.register_s", "synth.call_s", "synth.scan_rows",
    "knn.call_s", "knn.jobs", "pip_join.call_s", "matching.call_s", "aggregates.call_s",
    "docs.call_s", "docs.python_s", "media.call_s", "media.python_s",
    "zonal.call_s", "zonal.python_s", "tiling.call_s", "vectorize.call_s", "vectorize.python_s",
    "nms.call_s", "nms.jobs", "overlap.call_s", "text.call_s", "text.jobs",
    "lineage.call_s", "lineage.cold_s", "lineage.resume_s", "lineage.recompute_frac",
    "catalog.call_s", "catalog.write_mb", "catalog.files", "catalog.write_amp",
    "action.s", "driver.idle_s",
    "exec.run_s", "exec.cpu_s", "exec.busy_frac", "exec.jobs", "exec.tasks",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.fetch_wait_s", "spill.mb",
    "python.run_s", "python.init_s", "python.sent_mb", "python.recv_mb",
    "cache.mb", "cache.rdds", "join.rows_per_result",
    "trace.traced_wall_s", "trace.untraced_wall_s", "trace.overhead_frac",
    # CPU of the process tree in the traced pass: HotSpot's JIT compiler
    # threads, everything else, and the classes loaded (generated code);
    # the reference loop's CPU time (run.reference_cpu_s), for host speed
    "cpu.jit_s", "cpu.other_s", "jit.classes", "host.reference_s",
    # self time: a layer's spans minus the part their child spans cover
    *(f"{layer}.self_s" for layer in CALL_LAYERS),
)
JOB_LAYERS = ("knn", "nms", "text")
PYTHON_LAYERS = ("docs", "media", "zonal", "vectorize")

_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


_NUMBER = re.compile(r"\s*(-?[\d,]*\.?\d+(?:E-?\d+)?)\s*(ms|s|m|min|h|B|KiB|MiB|GiB|TiB)?\b")


def metric_value(text: str | None) -> float:
    """Parse a formatted SQL metric ('4,999', '1.8 s', 'total (...)\\n78.4 KiB (...)')
    into seconds, bytes or a count; 0 when it holds no number."""
    if not text:
        return 0.0
    if text.startswith("total") and "\n" in text:
        text = text.split("\n", 1)[1]
    match = _NUMBER.match(text)
    if match is None:
        return 0.0
    value = float(match.group(1).replace(",", ""))
    unit = match.group(2)
    return value * _TIME.get(unit, _SIZE.get(unit, 1.0)) if unit else value


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from the last word of its name."""
    last = name.replace(".", "_").rsplit("_", 1)[-1]
    if last == "s":
        return "s"
    if last == "mb":
        return "MB"
    if last in ("frac", "amp", "result"):
        return "ratio"
    return "count"


def _is_udf(obj) -> bool:
    return hasattr(obj, "evalType") or hasattr(obj, "returnType")


class Tracer:
    """Span recorder for one traced pass of one process."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.udf_layer: dict[str, str] = {}
        self.py_funcs: dict[tuple[str | None, str], str] = {}

    # -- spans ---------------------------------------------------------------
    def _group(self, span_id: int | None) -> None:
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"pb{span_id}", self.spans[span_id]["name"])

    @contextmanager
    def span(self, layer: str, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        self.spans.append({"id": sid, "parent": parent, "layer": layer, "name": name,
                           "op": op, "start": time.time(), "end": None})
        self._stack.append(sid)
        self._group(sid)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()
            self._stack.pop()
            self._group(parent)

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(layer, f"{layer}.{fn.__name__}"):
                return fn(*args, **kwargs)

        return traced

    # -- install / uninstall -------------------------------------------------
    def install(self) -> None:
        originals: dict[int, object] = {}
        for layer, names in LAYERS.items():
            for modname in names:
                mod = importlib.import_module(modname)
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or getattr(obj, "__module__", None) != modname:
                        continue
                    if inspect.isclass(obj):
                        for m, fn in list(vars(obj).items()):
                            if inspect.isfunction(fn) and not m.startswith("_"):
                                self._set(obj, m, self._wrap(layer, fn))
                    elif inspect.isfunction(obj) and not _is_udf(obj):
                        originals[id(obj)] = self._wrap(layer, obj)
                self._index_udfs(layer, mod)
        from pyspark.sql.pandas.group_ops import PandasGroupedOpsMixin
        from pyspark.sql.pandas.map_ops import PandasMapOpsMixin

        for owner, attr in ((PandasMapOpsMixin, "mapInPandas"),
                            (PandasGroupedOpsMixin, "applyInPandas")):
            self._set(owner, attr, self._note_python(getattr(owner, attr)))
        # rebind every binding of a wrapped function, in every program module
        for mod in list(sys.modules.values()):
            name = getattr(mod, "__name__", "")
            if not (name.startswith("geotreehealth_spark") or name in ("__spark_entry__", "workloads")):
                continue
            for attr, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None:
                    self._set(mod, attr, wrapper)

    def _set(self, owner, attr: str, value) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()

    def _index_udfs(self, layer: str, mod) -> None:
        """Map each pandas UDF a layer module defines to the layer, by the
        name its plan node shows."""
        for obj in vars(mod).values():
            if _is_udf(obj) and getattr(obj, "__module__", None) == mod.__name__:
                self.udf_layer.setdefault(getattr(obj, "__name__", ""), layer)

    def _note_python(self, method):
        """Wrap mapInPandas / applyInPandas: remember which layer handed which
        function to the Python boundary in which op (nested functions such as
        `per_batch` share names across modules)."""
        tracer = self

        @functools.wraps(method)
        def noted(this, func, *args, **kwargs):
            inner = next((tracer.spans[i] for i in reversed(tracer._stack)
                          if tracer.spans[i]["layer"] in LAYERS), None)
            if inner is not None:
                tracer.py_funcs[(inner["op"], func.__name__)] = inner["layer"]
            return method(this, func, *args, **kwargs)

        return noted

    def python_layer(self, op: str | None, desc: str) -> str | None:
        for word in re.findall(r"\w+", desc):
            layer = self.py_funcs.get((op, word)) or self.udf_layer.get(word)
            if layer is not None:
                return layer
        return None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- status store ------------------------------------------------------------

def _mapper(jvm):
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
    mapper.registerModule(scala)
    return mapper


def read_store(spark) -> dict:
    """Jobs, stages and SQL executions (with plan nodes and metric values)
    from the in-process status stores, as plain Python data."""
    sc = spark.sparkContext
    jvm = sc._jvm
    mapper = _mapper(jvm)

    def as_py(obj):
        return json.loads(mapper.writeValueAsString(obj))

    store = sc._jsc.sc().statusStore()
    jobs = as_py(store.jobsList(None))
    stages = as_py(store.stageList(jvm.java.util.ArrayList(), False, False,
                                   sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList()))
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for ex in as_py(sql.executionsList()):
        eid = ex["executionId"]
        values = as_py(sql.executionMetrics(eid))
        nodes = []
        it = sql.planGraph(eid).allNodes().iterator()
        while it.hasNext():
            n = it.next()
            metrics = {m["name"]: metric_value(values.get(str(m["accumulatorId"])))
                       for m in as_py(n.metrics())}
            nodes.append({"name": n.name(), "desc": n.desc(), "metrics": metrics})
        executions.append({"id": eid, "jobs": [int(j) for j in ex["jobs"]], "nodes": nodes})
    return {"jobs": jobs, "stages": stages, "executions": executions}


def _union(intervals, lo: float, hi: float) -> float:
    covered, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return covered


def layer_metrics(tracer: Tracer, store: dict, *, cpus: int, result_rows: int,
                  data_dir: str, cache: dict) -> dict[str, float]:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}

    def ancestors(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
            yield s

    m: dict[str, float] = {}
    for layer in CALL_LAYERS:
        m[f"{layer}.call_s"] = sum(
            s["end"] - s["start"] for s in spans
            if s["layer"] == layer and all(a["layer"] != layer for a in ancestors(s))
        )
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for layer in CALL_LAYERS:
        m[f"{layer}.self_s"] = sum(
            (s["end"] - s["start"]) - _union(children.get(s["id"], []), s["start"], s["end"])
            for s in spans if s["layer"] == layer
        )
    ops = [s for s in spans if s["layer"] == "op"]
    wall = sum(s["end"] - s["start"] for s in ops)
    m["action.s"] = sum(s["end"] - s["start"] for s in spans if s["layer"] == "action")

    jobs = [j for j in store["jobs"]
            if (j.get("jobGroup") or "").startswith("pb") and int(j["jobGroup"][2:]) in by_id]
    owner = {j["jobId"]: by_id[int(j["jobGroup"][2:])] for j in jobs}
    for layer in JOB_LAYERS:
        m[f"{layer}.jobs"] = float(sum(1 for j in jobs if owner[j["jobId"]]["layer"] == layer))

    idle = 0.0
    for op in ops:
        mine = [(j["submissionTime"] / 1e3, (j.get("completionTime") or j["submissionTime"]) / 1e3)
                for j in jobs if owner[j["jobId"]]["op"] == op["op"]]
        idle += (op["end"] - op["start"]) - _union(mine, op["start"], op["end"])
    m["driver.idle_s"] = idle

    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [st for st in store["stages"] if st["stageId"] in stage_ids]
    run_s = sum(st["executorRunTime"] for st in stages) / 1e3
    m["exec.run_s"] = run_s
    m["exec.cpu_s"] = sum(st["executorCpuTime"] for st in stages) / 1e9
    m["exec.busy_frac"] = run_s / (wall * cpus) if wall else 0.0
    m["exec.jobs"] = float(len(jobs))
    m["exec.tasks"] = float(sum(st["numCompleteTasks"] for st in stages))
    m["shuffle.write_mb"] = sum(st["shuffleWriteBytes"] for st in stages) / 1e6
    m["shuffle.read_mb"] = sum(st["shuffleReadBytes"] for st in stages) / 1e6
    m["shuffle.fetch_wait_s"] = sum(st["shuffleFetchWaitTime"] for st in stages) / 1e3
    m["spill.mb"] = sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in stages) / 1e6

    job_ids = {j["jobId"] for j in jobs}
    py = {layer: 0.0 for layer in PYTHON_LAYERS}
    totals = {"run": 0.0, "init": 0.0, "sent": 0.0, "recv": 0.0}
    join_rows = scan_rows = 0.0
    data_name = data_dir.rstrip("/").rsplit("/", 1)[-1]
    for ex in store["executions"]:
        mine = job_ids.intersection(ex["jobs"])
        if not mine:
            continue
        op = owner[min(mine)]["op"]
        for node in ex["nodes"]:
            nm = node["metrics"]
            if "time to run Python workers" in nm:
                run = nm["time to run Python workers"]
                totals["run"] += run
                totals["init"] += nm.get("time to initialize Python workers", 0.0)
                totals["sent"] += nm.get("data sent to Python workers", 0.0)
                totals["recv"] += nm.get("data returned from Python workers", 0.0)
                layer = tracer.python_layer(op, node["desc"])
                if layer in py:
                    py[layer] += run
            elif "Join" in node["name"]:
                join_rows += nm.get("number of output rows", 0.0)
            elif node["name"].startswith("Scan parquet") and data_name in node["desc"]:
                scan_rows += nm.get("number of output rows", 0.0)
    for layer, v in py.items():
        m[f"{layer}.python_s"] = v
    m["python.run_s"] = totals["run"]
    m["python.init_s"] = totals["init"]
    m["python.sent_mb"] = totals["sent"] / 1e6
    m["python.recv_mb"] = totals["recv"] / 1e6
    m["synth.scan_rows"] = scan_rows
    m["join.rows_per_result"] = join_rows / result_rows if result_rows else 0.0
    m.update(cache)
    return m
