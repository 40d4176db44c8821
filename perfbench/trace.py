"""Per-layer tracing from outside the program.

Nothing here edits ``yaschva_spark``. The tracer wraps the public functions
each layer exposes (spans with their py4j call counts) and registers a
``QueryExecutionListener``, which hands over the QueryPlanningTracker
phases of every action -- collects, counts and writes alike, on any
thread. Afterwards it reads what Spark already collects with the UI
disabled: the status store (jobs, stages) and the SQL status store
(executions, plan graphs, SQL metrics). With one caller, a job or SQL
execution belongs to the call whose time window contains its submission;
that also covers jobs started on a library's own thread pool, which
inherit no job group.
"""

from __future__ import annotations

import functools
import importlib
import json
import math
import re
import sys
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

#: (module, public function) -> span name
LAYER_FUNCTIONS = {
    ("yaschva_spark.engine", "validate_table"): "engine",
    ("yaschva_spark.engine", "validate_json_table"): "engine",
    ("yaschva_spark.engine", "explode_violations"): "engine",
    ("yaschva_spark.typed", "compile_schema"): "typed.compile",
    ("yaschva_spark.jsonscreen", "compile_screens"): "jsonscreen.compile",
    ("yaschva_spark.ops.dedup", "minhash_lsh_pairs"): "dedup.pairs",
    ("yaschva_spark.ops.dedup", "dup_clusters_star"): "dedup.star",
}

#: spans whose time is driver-side build (a lazy DataFrame or eager driver
#: rounds), as opposed to the actions the benchmark runs on the result
BUILD_SPANS = ("build", "engine", "dedup.pairs", "dedup.star")

_UNITS = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
MB = 2.0**20


def sql_metric_value(text: str) -> float:
    """Parse a formatted SQL metric: ``"10,000"``, ``"424 ms"``, or the
    per-task form, a ``total (min, med, max ...)`` header over a line that
    starts with the total (``"2.3 s (1.1 s, ...)"``). Average metrics,
    which have no total, read as NaN."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([-\d,.]+)\s*([A-Za-z]+)?", line)
    if m is None:
        return math.nan
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS[m.group(2)] if m.group(2) in _UNITS else value


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark stamps jobs with
    end: float
    py4j_calls: int


@dataclass
class UnitTrace:
    """Everything recorded while one traced unit of work ran."""

    start: float
    end: float = 0.0
    spans: list[Span] = field(default_factory=list)
    phases: list[dict[str, float]] = field(default_factory=list)
    extra: dict[str, float] = field(default_factory=dict)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def _clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


class NullTracer:
    """Tracing off: a span or unit costs one context-manager entry."""

    def span(self, name: str):
        return nullcontext()

    def unit(self, traced: bool):
        return nullcontext()


NULL_TRACER = NullTracer()


class Tracer:
    """Install with :meth:`install` once a session exists, for the rest of
    the process; only units run inside :meth:`unit` are recorded, so traced
    and untraced units can alternate in one run."""

    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.current: UnitTrace | None = None
        self._calls = 0
        self._thread = threading.get_ident()  # the single caller's thread
        jvm = spark._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$")
        self._mapper.registerModule(scala)

    # -- instrumentation ---------------------------------------------------
    def install(self) -> None:
        for (modname, fn_name), span in LAYER_FUNCTIONS.items():
            orig = getattr(importlib.import_module(modname), fn_name)
            wrapped = self._wrap(span, orig)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "")
                if (name.startswith("yaschva_spark") or name == "__spark_entry__") and getattr(
                    mod, fn_name, None
                ) is orig:
                    setattr(mod, fn_name, wrapped)

        client_cls = type(self.spark.sparkContext._gateway._gateway_client)
        owner = next(c for c in client_cls.__mro__ if "send_command" in c.__dict__)
        send = owner.__dict__["send_command"]
        tracer = self

        def send_command(client, command, *args, **kwargs):
            # call commands of the caller's thread only: garbage-collection
            # detach ("m\nd\n...") and the listener's callbacks interleave
            # nondeterministically
            if tracer.active and command.startswith("c\n") and threading.get_ident() == tracer._thread:
                tracer._calls += 1
            return send(client, command, *args, **kwargs)

        owner.send_command = send_command

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)

        class PhaseListener:
            """Receives every finished action's QueryExecution."""

            def onSuccess(self, func_name, qe, duration_ns):
                if tracer.active and tracer.current is not None:
                    tracer.current.phases.append(tracer.phases(qe))

            def onFailure(self, func_name, qe, exception):
                self.onSuccess(func_name, qe, 0)

            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

        self._listener = PhaseListener()
        self.spark._jsparkSession.listenerManager().register(self._listener)

    def _wrap(self, span: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer.span(span):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def span(self, name: str):
        if not self.active or self.current is None:
            yield
            return
        t0, c0 = time.time(), self._calls
        try:
            yield
        finally:
            self.current.spans.append(Span(name, t0, time.time(), self._calls - c0))

    @contextmanager
    def unit(self, traced: bool):
        """Record one unit of work when ``traced``; yields the UnitTrace
        (or None)."""
        if not traced:
            yield None
            return
        self._drain()  # listener events of earlier units land outside
        self.current = UnitTrace(start=time.time())
        self.active = True
        try:
            yield self.current
        finally:
            self.current.end = time.time()
            self._drain()  # this unit's last actions reach the listener
            self.active = False
            self.current = None

    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def phases(self, qe) -> dict[str, float]:
        """QueryPlanningTracker phase durations (s) of a QueryExecution."""
        raw = json.loads(self._mapper.writeValueAsString(qe.tracker().phases()))
        return {k: (v["endTimeMs"] - v["startTimeMs"]) / 1000.0 for k, v in raw.items()}

    def cached_mb(self) -> float:
        """Memory plus disk held by cached RDD blocks right now."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        rdds = json.loads(self._mapper.writeValueAsString(store.rddList(True)))
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in rdds) / MB

    # -- status-store reads -------------------------------------------------
    def read_store(self, windows: list[tuple[float, float]]) -> dict:
        """Jobs, stages and the SQL executions submitted inside any of
        ``windows`` (epoch seconds), read once after the run."""
        spark = self.spark
        jvm = spark._jvm
        store = spark.sparkContext._jsc.sc().statusStore()

        def inside(ms) -> bool:
            return ms is not None and any(s * 1000 - 1 <= ms <= e * 1000 + 1 for s, e in windows)

        jobs = [j for j in json.loads(self._mapper.writeValueAsString(store.jobsList(None)))
                if inside(j.get("submissionTime"))]
        stage_list = store.stageList(
            None, False, False, spark.sparkContext._gateway.new_array(jvm.double, 0),
            jvm.java.util.ArrayList(),
        )
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        stages = [
            s for s in json.loads(self._mapper.writeValueAsString(stage_list))
            if s["stageId"] in wanted and s["status"] == "COMPLETE"
        ]
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = []
        seq = sql.executionsList()
        for i in range(seq.size()):
            x = seq.apply(i)
            if not inside(x.submissionTime()):
                continue
            info = json.loads(self._mapper.writeValueAsString(x))
            values = json.loads(self._mapper.writeValueAsString(sql.executionMetrics(x.executionId())))
            graph = sql.planGraph(x.executionId())
            nodes = json.loads(self._mapper.writeValueAsString(graph.allNodes()))
            edges = json.loads(self._mapper.writeValueAsString(graph.edges()))
            execs.append({
                "id": info["executionId"],
                "start": info["submissionTime"] / 1000.0,
                "end": (info.get("completionTime") or info["submissionTime"]) / 1000.0,
                "description": info.get("description") or "",
                "plan": info.get("physicalPlanDescription") or "",
                "nodes": [
                    {
                        "id": n.get("id"),
                        "name": n.get("name", ""),
                        "desc": n.get("desc", ""),
                        "metrics": {
                            m["name"]: sql_metric_value(values[str(m["accumulatorId"])])
                            for m in n.get("metrics", [])
                            if str(m["accumulatorId"]) in values
                        },
                    }
                    for n in nodes
                ],
                "edges": [(e["fromId"], e["toId"]) for e in edges],
            })
        return {"jobs": jobs, "stages": stages, "executions": execs}


#: per-unit values the workloads record themselves, where they apply; 0
#: on a workload that has no such layer
UNIT_EXTRA = ("cache.stored_mb", "engine.jvm_fraction", "io.files_written", "io.written_mb")


def unit_extra(unit: UnitTrace) -> dict[str, float]:
    return {k: float(unit.extra.get(k, 0.0)) for k in UNIT_EXTRA}


def span_seconds(unit: UnitTrace, name: str) -> float:
    return sum(s.end - s.start for s in unit.spans if s.name == name)


def layer_metrics(unit: UnitTrace, store: dict) -> dict[str, float]:
    """Per-layer numbers for one traced unit, from its spans and the store
    records whose submission falls in its window."""
    lo, hi = unit.start, unit.end
    wall = hi - lo

    def in_window(t: float, a: float = lo, b: float = hi) -> bool:
        return a - 0.001 <= t <= b + 0.001

    def spans(*names):
        return [s for s in unit.spans if s.name in names]

    def span_time(*names) -> float:
        return _union([(s.start, s.end) for s in spans(*names)])

    jobs = [j for j in store["jobs"] if in_window(j["submissionTime"] / 1000.0)]
    job_ids = {j["jobId"] for j in jobs}
    stage_ids = {sid for j in jobs for sid in j["stageIds"]}
    stages = [s for s in store["stages"] if s["stageId"] in stage_ids]
    job_iv = _clip(
        [(j["submissionTime"] / 1000.0, (j.get("completionTime") or j["submissionTime"]) / 1000.0)
         for j in jobs], lo, hi)
    build_iv = _clip([(s.start, s.end) for s in spans(*BUILD_SPANS)], lo, hi)
    exec_s = _union(job_iv)
    build_only = _union(build_iv + job_iv) - exec_s
    execs = [x for x in store["executions"] if in_window(x["start"])]

    m: dict[str, float] = {
        "engine.build_s": span_time("engine"),
        "engine.py4j_calls": float(sum(s.py4j_calls for s in spans("engine"))),
        "typed.compile_s": span_time("typed.compile"),
        "cache.unpersist_s": span_seconds(unit, "cache.unpersist"),
        "catalyst.analysis_s": sum(p.get("analysis", 0.0) for p in unit.phases),
        "catalyst.optimization_s": sum(p.get("optimization", 0.0) for p in unit.phases),
        "catalyst.planning_s": sum(p.get("planning", 0.0) for p in unit.phases),
        "exec.jobs": float(len(job_ids)),
        "exec.stages": float(len(stages)),
        "exec.tasks": float(sum(s["numCompleteTasks"] for s in stages)),
        "exec.task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "exec.cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "exec.gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
        "exec.shuffle_write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "exec.shuffle_read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "exec.spill_mb": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages) / MB,
        "driver.between_jobs_s": max(0.0, wall - _union(build_iv + job_iv)),
        "share.build": build_only / wall,
        "share.exec": exec_s / wall,
    }
    m["share.catalyst"] = (
        m["catalyst.analysis_s"] + m["catalyst.optimization_s"] + m["catalyst.planning_s"]
    ) / wall

    py = [n["metrics"] for x in execs for n in x["nodes"] if n["name"] == "MapInPandas"]
    m["interp.rows_in"] = sum(p.get("number of output rows", 0.0) for p in py)
    m["interp.python_init_s"] = sum(
        p.get("time to start Python workers", 0.0) + p.get("time to initialize Python workers", 0.0)
        for p in py
    )
    m["interp.python_run_s"] = sum(p.get("time to run Python workers", 0.0) for p in py)
    m["interp.arrow_to_python_mb"] = sum(p.get("data sent to Python workers", 0.0) for p in py) / MB
    m["interp.arrow_from_python_mb"] = sum(p.get("data returned from Python workers", 0.0) for p in py) / MB

    # the pipeline's three concurrent jobs, told apart by what they write
    # or collect (the manifest job writes a staging dir, the violation sink
    # writes violations/, the uniqueness check is the collect that reads
    # no manifest)
    def pipeline_exec(pred):
        hits = [x for x in execs if pred(x)]
        return max((x["end"] - x["start"] for x in hits), default=0.0), hits

    m["pipeline.viol_sink_s"], _ = pipeline_exec(
        lambda x: "InsertIntoHadoopFsRelationCommand" in x["plan"] and "/violations" in x["plan"])
    m["pipeline.manifest_s"], _ = pipeline_exec(
        lambda x: "InsertIntoHadoopFsRelationCommand" in x["plan"] and "_manifest_stage_" in x["plan"])
    pipeline_spans = spans("pipeline")
    m["pipeline.dup_check_s"], dup = pipeline_exec(
        lambda x: bool(pipeline_spans)
        and x["description"].startswith("collect")
        and "InsertIntoHadoopFsRelationCommand" not in x["plan"]
        and "/manifest" not in x["plan"])
    dup_jobs = {
        j["jobId"] for j in jobs for x in dup
        if in_window(j["submissionTime"] / 1000.0, x["start"], x["end"])
    }
    dup_stages = {sid for j in jobs if j["jobId"] in dup_jobs for sid in j["stageIds"]}
    m["checks.dup_shuffle_mb"] = sum(
        s["shuffleWriteBytes"] for s in stages if s["stageId"] in dup_stages) / MB

    star = spans("dedup.star")
    m["dedup.pairs_build_s"] = span_time("dedup.pairs")
    m["dedup.star_build_s"] = span_time("dedup.star")
    m["dedup.rounds"] = float(sum(
        1 for j in jobs if any(in_window(j["submissionTime"] / 1000.0, s.start, s.end) for s in star)))
    # LSH verification: the operator whose condition computes the shingle
    # sets' intersection; its input rows are the candidates and its output
    # rows the verified pairs
    cand = pairs = 0.0
    for x in execs:
        by_id = {n["id"]: n for n in x["nodes"]}
        children: dict = {}
        for child, parent in x["edges"]:
            children.setdefault(parent, []).append(child)

        def rows_below(node_id):
            node = by_id.get(node_id)
            if node is None or node["name"] == "BroadcastExchange":
                return 0.0  # the broadcast side holds sets, not candidates
            if "number of output rows" in node["metrics"]:
                return node["metrics"]["number of output rows"]
            return sum(rows_below(c) for c in children.get(node_id, []))

        for n in x["nodes"]:
            if "array_intersect" in n["desc"] and "number of output rows" in n["metrics"]:
                pairs += n["metrics"]["number of output rows"]
                cand += sum(rows_below(c) for c in children.get(n["id"], []))
    m["dedup.candidates"], m["dedup.pairs"] = cand, pairs
    m["dedup.verify_yield"] = pairs / cand if cand else 0.0
    return m
