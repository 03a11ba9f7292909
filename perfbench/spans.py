"""Spans around the engine's public entry points, for the traced run.

``Tracer.install`` replaces each entry point named in ``LAYERS`` with a
wrapper, in every loaded module of the package that holds a reference to
it. A span records name, layer, start, end, parent and operation id, and
gives the work inside it its own Spark job group, so the jobs a span
launched are found with ``statusTracker().getJobIdsForGroup``. Stage
metrics come from the JVM ``AppStatusStore`` (it is filled with the UI
off), plan-node metrics from the SQL status store.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import re
import sys
import time

PKG = "etl_open_source_spark"
OPERATOR_MODULES = [
    "asof", "baskets", "bpe", "curation", "dedup", "dominance", "graph",
    "maintenance", "merge", "multimodal", "neighborhood", "quality",
    "rangejoin", "sampling", "scd", "similarity", "skew", "text",
]
# layer -> [(module, attribute)]; "Class.method" patches a method
LAYERS = {
    "readers": [("catalog", "load_table")]
    + [("sources.readers", f) for f in ("read_parquet", "read_csv", "read_json")],
}
PYTHON_NODE = re.compile(r"Arrow|Python|Pandas")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.op_id = None
        self.enabled = True  # off: the wrappers call straight through

    # --------------------------------------------------------------- spans

    def span(self, name: str, layer: str):
        return _Span(self, name, layer)

    def _enter(self, name: str, layer: str) -> dict:
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        sp = {"id": sid, "name": name, "layer": layer, "op": self.op_id,
              "parent": parent["id"] if parent else None, "group": f"perfbench-{sid}",
              "start": time.perf_counter(), "end": None}
        self.sc.setLocalProperty("spark.jobGroup.id", sp["group"])
        self._stack.append(sp)
        return sp

    def _exit(self, sp: dict) -> None:
        sp["end"] = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1]["group"] if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", parent)
        self.spans.append(sp)

    def wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    # ------------------------------------------------------------- install

    def install(self) -> int:
        """Wrap every entry point of LAYERS and the public functions of
        each operators module; returns the number of wrapped functions."""
        import importlib

        targets = [(layer, mod, attr) for layer, items in LAYERS.items() for mod, attr in items]
        for m in OPERATOR_MODULES:
            mod = importlib.import_module(f"{PKG}.operators.{m}")
            for attr, fn in vars(mod).items():
                if (not attr.startswith("_") and inspect.isfunction(fn)
                        and fn.__module__ == mod.__name__):
                    targets.append((f"operators.{m}", f"operators.{m}", attr))
        for layer, modname, attr in targets:
            mod = importlib.import_module(f"{PKG}.{modname}")
            if "." in attr:
                cls_name, meth = attr.split(".")
                cls = getattr(mod, cls_name)
                setattr(cls, meth, self.wrap(getattr(cls, meth), attr, layer))
                continue
            original = getattr(mod, attr)
            traced = self.wrap(original, f"{modname}.{attr}", layer)
            # rebind every module-level reference (``from x import f`` copies)
            for name, loaded in list(sys.modules.items()):
                if name == PKG or name.startswith(PKG + "."):
                    for k, v in list(vars(loaded).items()):
                        if v is original:
                            setattr(loaded, k, traced)
        return len(targets)

    # ------------------------------------------------------- spark metrics

    def jobs(self, sp: dict) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(sp["group"]))

    def stage_metrics(self, job_ids) -> list[dict]:
        """Completed stages of ``job_ids`` with their task metrics."""
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        quantiles = gw.new_array(gw.jvm.double, 0)
        seen, out = set(), []
        for jid in job_ids:
            try:
                stage_ids = store.job(jid).stageIds()
            except Exception:  # evicted from the status store
                continue
            for i in range(stage_ids.size()):
                sid = stage_ids.apply(i)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    attempts = store.stageData(sid, False, None, False, quantiles)
                except Exception:
                    continue
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() != "COMPLETE":
                        continue
                    out.append({
                        "stage": sid, "tasks": s.numCompleteTasks(),
                        "task_s": s.executorRunTime() / 1e3,
                        "cpu_s": s.executorCpuTime() / 1e9,
                        "gc_s": s.jvmGcTime() / 1e3,
                        "shuffle_write_mb": s.shuffleWriteBytes() / 2**20,
                        "shuffle_read_mb": s.shuffleReadBytes() / 2**20,
                        "spill_mb": s.diskBytesSpilled() / 2**20,
                        "input_mb": s.inputBytes() / 2**20,
                    })
        return out

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_count(self) -> int:
        return int(self._sql_store().executionsCount())

    def sql_metrics(self, since: int, action_jobs: set[int]) -> dict:
        """Exchanges in the final plan of the executions that ran
        ``action_jobs``, and the Python/Arrow node metrics of every SQL
        execution started after ``since``."""
        store = self._sql_store()
        total = int(store.executionsCount())
        n = min(total - since, 200)
        out = {"exchanges": 0, "python_s": 0.0, "to_python_mb": 0.0, "from_python_mb": 0.0}
        if n <= 0:
            return out
        names = {"time to run Python workers": "python_s",
                 "data sent to Python workers": "to_python_mb",
                 "data returned from Python workers": "from_python_mb"}
        execs = store.executionsList(total - n, n)
        for i in range(execs.size()):
            e = execs.apply(i)
            if {int(j) for j in _scala_keys(e.jobs())} & action_jobs:
                out["exchanges"] += count_exchanges(e.physicalPlanDescription())
            try:
                nodes = store.planGraph(e.executionId()).allNodes()
            except Exception:
                continue
            values = store.executionMetrics(e.executionId())
            for k in range(nodes.size()):
                node = nodes.apply(k)
                if not PYTHON_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for j in range(ms.size()):
                    m = ms.apply(j)
                    key = names.get(m.name())
                    v = values.get(m.accumulatorId())
                    if key and v.isDefined():
                        x = parse_metric(v.get())
                        out[key] += x / 2**20 if key.endswith("_mb") else x
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer

    def __enter__(self):
        self.sp = self.tracer._enter(self.name, self.layer)
        return self.sp

    def __exit__(self, *exc):
        self.tracer._exit(self.sp)
        return False


def _scala_keys(m) -> list:
    it = m.keysIterator()
    keys = []
    while it.hasNext():
        keys.append(it.next())
    return keys


def count_exchanges(plan: str) -> int:
    """Shuffle and broadcast exchanges in the final adaptive plan (or the
    plain physical plan); reused exchanges are not counted."""
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    else:
        plan = plan.split("\n\n", 1)[0]
    return len(re.findall(r"\b(?:Broadcast)?Exchange \(", plan))


def parse_metric(text: str) -> float:
    """A SQL-metric display string ('2.4 s', '135.2 KiB', or the multi-task
    'total (min, med, max ...)\\n12.0 MiB (...)' form) as seconds or bytes."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it its children cover (children are
    nested and sequential on one thread, so coverage is a plain sum)."""
    child: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] = child.get(sp["parent"], 0.0) + sp["end"] - sp["start"]
    return {sp["id"]: sp["end"] - sp["start"] - child.get(sp["id"], 0.0) for sp in spans}
