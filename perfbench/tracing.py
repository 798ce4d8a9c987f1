"""Layer spans, job tagging and per-layer metrics from Spark's status stores.

A layer is one module of the engine. ``Tracer.install`` wraps every public
function of every layer module and rebinds each name wherever the package
(or the driver-query module) holds it, because ``plans/*`` import operators
by name. A call that crosses into a layer opens a span (name, start, end,
parent, iteration); calls inside the same layer stay in the caller's span.

While a span is open the benchmark-owned job group
``perfbench/<iteration>/<span id>`` is set as a local property, so every
Spark job the span starts — AQE and broadcast threads inherit local
properties — is attributed to exactly one span, hence one layer. Spark is
lazy: a layer's span holds only the jobs it forces itself (gate counts,
eager checkpoints, local collects); everything planned lazily runs under
the benchmark's own ``force`` span.

Spans stay in memory; ``run.py`` writes them out when the run ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import re
import sys
import time
from dataclasses import asdict, dataclass

PKG = "bdtopo2refhydro_spark"
LAYERS = [
    "session",
    "plans.pipelines", "plans.curation", "plans.refresh",
    "operators.relational", "operators.graph", "operators.spatial",
    "operators.orders", "operators.aggregate", "operators.text",
    "operators.corpus", "operators.cdc",
    "functions.udfs",
    "entry", "force",
]
LAYER_FIELDS = ["calls", "self_s", "jobs", "tasks", "exec_cpu_s",
                "shuffle_mb", "spill_mb", "core_util"]
GROUP_PREFIX = "perfbench/"
MB = 1e6


@dataclass
class Span:
    id: int
    layer: str
    name: str
    start: float
    end: float
    parent: int | None
    iteration: str


class Tracer:
    """Records spans when ``enabled``; always tags jobs per iteration."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = "setup"
        self._stack: list[Span] = []
        self._next_id = 1
        self._rebound: list[tuple[object, str, object]] = []
        self.sc = None

    # -- job tagging ---------------------------------------------------
    def _set_group(self) -> None:
        if self.sc is None:
            return
        span = self._stack[-1].id if self._stack else 0
        self.sc.setLocalProperty("spark.jobGroup.id",
                                 f"{GROUP_PREFIX}{self.iteration}/{span}")

    def begin_iteration(self, iteration: str) -> None:
        self.iteration = iteration
        self._set_group()

    def end_iteration(self) -> None:
        self.iteration = "idle"
        self._set_group()

    # -- spans ---------------------------------------------------------
    def span(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled or (self._stack and self._stack[-1].layer == layer):
            return fn(*args, **kwargs)
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next_id, layer, name, time.perf_counter(), 0.0,
                 parent, self.iteration)
        self._next_id += 1
        self._stack.append(s)
        self._set_group()
        try:
            return fn(*args, **kwargs)
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self.spans.append(s)
            self._set_group()

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            return self.span(layer, name, fn, *args, **kwargs)
        return wrapper

    def install(self) -> None:
        """Wrap each layer's public functions and rebind every reference
        the package and the driver-query module hold to them."""
        if not self.enabled:
            return
        wrappers: dict[int, tuple[object, object]] = {}
        for layer in LAYERS:
            if layer in ("entry", "force"):
                continue
            mod = importlib.import_module(f"{PKG}.{layer}")
            for name, obj in vars(mod).items():
                if (not name.startswith("_") and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__):
                    wrappers[id(obj)] = (obj, self._wrap(layer, name, obj))
        for mname, mod in list(sys.modules.items()):
            if not (mname == PKG or mname.startswith(PKG + ".")
                    or mname == "__spark_entry__"):
                continue
            for attr, val in list(vars(mod).items()):
                hit = wrappers.get(id(val))
                if hit is not None and hit[0] is val:
                    setattr(mod, attr, hit[1])
                    self._rebound.append((mod, attr, val))

    def uninstall(self) -> None:
        for mod, attr, val in reversed(self._rebound):
            setattr(mod, attr, val)
        self._rebound.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# -- status store readers ----------------------------------------------

class StatusReader:
    """Reads jobs, stages and SQL plan metrics through one JSON round trip
    each, using the mapper Spark's REST API serializes with."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.jvm = sc._jvm
        self.gw = sc._gateway
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.mapper = self.jvm.org.apache.spark.status.api.v1 \
            .JacksonMessageWriter().mapper()
        self._last_exec = -1

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def jobs_and_stages(self) -> tuple[list[dict], dict[int, dict]]:
        jobs = self._json(self.store.jobsList(None))
        stages = self._json(self.store.stageList(
            None, False, False, self.gw.new_array(self.jvm.double, 0), None))
        ran = {s["stageId"]: s for s in stages
               if s["status"] in ("COMPLETE", "FAILED", "ACTIVE")}
        return jobs, ran

    def new_sql_executions(self) -> list[dict]:
        """Plan nodes, edges and metric values of every SQL execution
        started since the previous call (walking back from the newest, as
        the store evicts the oldest executions past its retention)."""
        fresh = []
        end = int(self.sql.executionsCount())
        while end > 0:
            start = max(0, end - 64)
            chunk = self.sql.executionsList(start, end - start)
            ids = [chunk.apply(i) for i in range(chunk.size())]
            new = [ex for ex in ids if ex.executionId() > self._last_exec]
            fresh.extend(reversed(new))
            if len(new) < len(ids):
                break
            end = start
        out = []
        for ex in reversed(fresh):
            eid = ex.executionId()
            graph = self.sql.planGraph(eid)
            out.append({
                "id": eid,
                "jobs": [int(j) for j in self._json(ex.jobs())],
                "nodes": self._json(graph.allNodes()),
                "edges": self._json(graph.edges()),
                "values": self._json(self.sql.executionMetrics(eid)),
            })
            self._last_exec = max(self._last_exec, eid)
        return out


def jobs_of(jobs: list[dict], iteration: str) -> list[dict]:
    tag = f"{GROUP_PREFIX}{iteration}/"
    return [j for j in jobs if (j.get("jobGroup") or "").startswith(tag)]


def stage_totals(jobs: list[dict], ran: dict[int, dict]) -> dict[int, dict]:
    """Per job id: tasks, executor run/CPU time and shuffle/spill bytes of
    the stages it ran. A stage reused by a later job counts once, for the
    job that ran it (the lowest job id that lists it)."""
    claimed: set[int] = set()
    out = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        t = {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "shuffle_b": 0,
             "spill_b": 0}
        for sid in j["stageIds"]:
            s = ran.get(sid)
            if s is None or sid in claimed:
                continue
            claimed.add(sid)
            t["tasks"] += (s["numCompleteTasks"] + s["numFailedTasks"]
                           + s["numKilledTasks"])
            t["run_s"] += s["executorRunTime"] / 1e3
            t["cpu_s"] += s["executorCpuTime"] / 1e9
            t["shuffle_b"] += s["shuffleWriteBytes"]
            t["spill_b"] += s["diskBytesSpilled"]
        out[j["jobId"]] = t
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its child spans cover."""
    own = {s.id: s.end - s.start for s in spans}
    for s in spans:
        if s.parent in own:
            own[s.parent] -= s.end - s.start
    return own


def layer_metrics(spans: list[Span], jobs: list[dict],
                  totals: dict[int, dict], cores: int) -> dict[str, dict]:
    """Per-layer figures of one iteration (see README.md for definitions).
    Jobs whose span id is 0 ran outside every layer span; they are
    reported under the pseudo-layer ``unattributed``."""
    by_id = {s.id: s for s in spans}
    own = self_times(spans)
    out = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    out["unattributed"] = dict.fromkeys(LAYER_FIELDS, 0.0)
    for s in spans:
        out[s.layer]["calls"] += 1
        out[s.layer]["self_s"] += own[s.id]
    run_s = dict.fromkeys(out, 0.0)
    for j in jobs:
        span = by_id.get(int(j["jobGroup"].rsplit("/", 1)[1]))
        layer = span.layer if span is not None else "unattributed"
        t = totals[j["jobId"]]
        m = out[layer]
        m["jobs"] += 1
        m["tasks"] += t["tasks"]
        m["exec_cpu_s"] += t["cpu_s"]
        m["shuffle_mb"] += t["shuffle_b"] / MB
        m["spill_mb"] += t["spill_b"] / MB
        run_s[layer] += t["run_s"]
    for layer, m in out.items():
        m["core_util"] = (run_s[layer] / (m["self_s"] * cores)
                          if m["self_s"] > 0 else 0.0)
    return out


_NUM = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGTP]?i?B)?")
_UNIT = {None: 1, "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """The total of a formatted SQL metric: either a bare number
    ("18,150", "1.2 MiB") or Spark's "total (min, med, max)\\n<total> (...)"
    form."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _NUM.search(line)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1)


def sql_counters(executions: list[dict]) -> dict[str, float]:
    """Rows and bytes through the Arrow/Python UDF operators, spatial
    refine hits vs cell candidates, near-dup verified pairs vs LSH
    candidates — read from the SQL plan metrics of the given executions."""
    c = dict.fromkeys(["py_rows", "py_bytes", "refine_in", "refine_out",
                       "verify_in", "verify_out"], 0.0)
    for ex in executions:
        vals = ex["values"]
        nodes = {n["id"]: n for n in ex["nodes"]}
        parent = {e["fromId"]: e["toId"] for e in ex["edges"]}
        child: dict[int, list[int]] = {}
        for e in ex["edges"]:
            child.setdefault(e["toId"], []).append(e["fromId"])

        def val(node: dict, name: str) -> float:
            for m in node.get("metrics", []):
                if m["name"] == name and str(m["accumulatorId"]) in vals:
                    return metric_value(vals[str(m["accumulatorId"])])
            return 0.0

        def has(node: dict, name: str) -> bool:
            return any(m["name"] == name for m in node.get("metrics", []))

        for n in nodes.values():
            if has(n, "data sent to Python workers"):
                c["py_rows"] += val(n, "number of output rows")
                c["py_bytes"] += (val(n, "data sent to Python workers")
                                  + val(n, "data returned from Python workers"))
                if "st_intersects(" in n.get("desc", ""):
                    c["refine_in"] += val(n, "number of output rows")
                    up = parent.get(n["id"])
                    while up in nodes and nodes[up]["name"] != "Filter":
                        up = parent.get(up)
                    if up in nodes:
                        c["refine_out"] += val(nodes[up], "number of output rows")
            # the Jaccard verify: a Filter, or the join condition Catalyst
            # pushed it into; candidates are the larger input
            if "array_intersect" in n.get("desc", "") and (
                    n["name"] == "Filter" or "Join" in n["name"]):
                c["verify_out"] += val(n, "number of output rows")
                ins = []
                for down in child.get(n["id"], []):
                    while down in nodes and not has(nodes[down],
                                                    "number of output rows"):
                        down = child.get(down, [None])[0]
                    if down in nodes:
                        ins.append(val(nodes[down], "number of output rows"))
                c["verify_in"] += max(ins, default=0.0)
    return c
