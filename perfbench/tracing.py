"""Per-layer tracing from outside the engine.

``Tracer.install`` replaces each traced engine function by a wrapper
that records a span (name, start, end, parent span, request id) and
rebinds every module attribute that referred to the original, so call
sites that imported the function by name are traced too.
``Tracer.uninstall`` puts the originals back and turns the wrappers
into plain pass-throughs, since a module imported while they were
installed may hold one by name. Spans stay in memory and are written
out by ``dump``.

Each request also runs under its own Spark job group; ``spark_op_stats``
reads the group's jobs and stages back from the status tracker and the
status store, which work with the Spark UI disabled.
"""

from __future__ import annotations

import functools
import json
import re
import sys
import time
from collections import Counter

# (module, attribute, span name); ``_build_index_artifact`` runs once per
# BM25 index that is written to disk, so its spans count index builds
TRACED = (
    ("weaviate_spark.plans.compile", "compile_get", "plans.compile_get"),
    ("weaviate_spark.operators.bm25", "bm25_search", "bm25.search"),
    ("weaviate_spark.operators.bm25", "with_materialized_stats", "bm25.with_materialized_stats"),
    ("weaviate_spark.operators.bm25", "_build_index_artifact", "bm25.index_build"),
    ("weaviate_spark.operators.vector", "near_vector", "vector.near_vector"),
    ("weaviate_spark.operators.hybrid", "hybrid_search", "hybrid.search"),
    ("weaviate_spark.operators.aggregate", "aggregate", "aggregate.aggregate"),
    ("weaviate_spark.sources.tables", "load_table", "tables.load_table"),
    ("weaviate_spark.sources.crud", "upsert", "crud.upsert"),
    ("weaviate_spark.sources.crud", "invalidate_indexes", "crud.invalidate"),
    ("weaviate_spark.cache", "release_caches", "cache.release"),
)
# spans whose Spark jobs are counted while they run (memo hit = no job)
COUNT_JOBS = {"bm25.with_materialized_stats"}


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.request = "setup"
        self._patched: list[tuple[object, str, object]] = []
        self._wrappers: dict[str, object] = {}
        self.active = False
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------
    def _jobs(self) -> int:
        return len(self._sc.statusTracker().getJobIdsForGroup(self.request))

    def begin(self, name: str) -> dict:
        span = {"id": len(self.spans), "name": name, "req": self.request,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.perf_counter(), "end": None}
        if name in COUNT_JOBS:
            t = time.perf_counter()
            span["jobs0"] = self._jobs()
            self.bookkeeping_s += time.perf_counter() - t
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def end(self, span: dict) -> None:
        span["end"] = time.perf_counter()
        popped = self._stack.pop()
        if popped != span["id"]:
            raise RuntimeError(f"span {span['name']} closed out of order")
        if "jobs0" in span:
            t = time.perf_counter()
            span["jobs"] = self._jobs() - span.pop("jobs0")
            self.bookkeeping_s += time.perf_counter() - t

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active:
                return fn(*args, **kwargs)
            span = self.begin(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)
        return traced

    # -- installation ----------------------------------------------------
    def install(self) -> None:
        import importlib

        for mod_name, attr, span_name in TRACED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            if span_name not in self._wrappers:
                self._wrappers[span_name] = self.wrap(orig, span_name)
            wrapper = self._wrappers[span_name]
            for m in list(sys.modules.values()):
                if not getattr(m, "__name__", "").startswith("weaviate_spark"):
                    continue
                if m.__dict__.get(attr) is orig:
                    setattr(m, attr, wrapper)
                    self._patched.append((m, attr, orig))
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for m, attr, orig in reversed(self._patched):
            setattr(m, attr, orig)
        self._patched.clear()

    def set_request(self, req: str) -> None:
        self.request = req
        self._sc.setJobGroup(req, req, False)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the time its direct children cover
    (children of one span never overlap: the client is one thread)."""
    child = Counter()
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def check_nesting(spans: list[dict]) -> list[str]:
    """Problems with the span tree: a parent that does not exist or does
    not enclose its child, a different request id, negative self time."""
    by_id = {s["id"]: s for s in spans}
    bad = []
    for s in spans:
        if s["end"] is None or s["end"] < s["start"]:
            bad.append(f"{s['id']} {s['name']}: not closed")
            continue
        p = by_id.get(s["parent"]) if s["parent"] is not None else None
        if s["parent"] is not None and p is None:
            bad.append(f"{s['id']} {s['name']}: missing parent")
        elif p is not None and not (p["start"] <= s["start"] and s["end"] <= p["end"]):
            bad.append(f"{s['id']} {s['name']}: outside parent {p['name']}")
        elif p is not None and p["req"] != s["req"]:
            bad.append(f"{s['id']} {s['name']}: request differs from parent")
    for sid, t in self_times(spans).items():
        if t < -1e-6:
            bad.append(f"{sid} {by_id[sid]['name']}: negative self time {t}")
    return bad


# -- Spark job-group read-back ---------------------------------------------

PY_NODES = re.compile(r"Python|Pandas|Arrow")


def _plan_stage_counts(df) -> tuple[int, int]:
    """(stages, stages that run Python/Arrow workers) of the executed
    plan: exchanges split stages, walked with the same AQE unwrapping as
    ``plans.audit.executed_node_counts``."""
    stages = [False]  # stage index -> crosses the Python boundary

    def walk(node, stage: int) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan(), stage)
            return
        if cls in ("BroadcastQueryStageExec", "ShuffleQueryStageExec",
                   "TableCacheQueryStageExec", "ResultQueryStageExec"):
            walk(node.plan(), stage)
            return
        if cls in ("ReusedExchangeExec", "InMemoryTableScanExec"):
            return
        if PY_NODES.search(cls):
            stages[stage] = True
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            stages.append(False)
            stage = len(stages) - 1
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i), stage)

    walk(df._jdf.queryExecution().executedPlan(), 0)
    return len(stages), sum(stages)


def plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s
    query execution, from its QueryPlanningTracker."""
    total = 0
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def spark_op_stats(spark, group: str, df=None) -> dict:
    """Jobs, stages, tasks and stage metrics of one job group, plus the
    planning time and Python-stage share of the action's DataFrame."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    out = Counter()
    job_ids = sc.statusTracker().getJobIdsForGroup(group)
    out["jobs"] = len(job_ids)
    for j in job_ids:
        info = sc.statusTracker().getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            seq = store.stageData(int(sid), False, jvm.java.util.ArrayList(),
                                  False, sc._gateway.new_array(jvm.double, 0))
            if seq.size() == 0:
                continue
            sd = seq.apply(0)
            if str(sd.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_ms"] += sd.executorRunTime()
            out["gc_ms"] += sd.jvmGcTime()
            out["deserialize_ms"] += sd.executorDeserializeTime()
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"],
                                             sd.peakExecutionMemory())
    if df is not None:
        out["plan_ms"] = plan_ms(df)
        out["plan_stages"], out["python_stages"] = _plan_stage_counts(df)
    return dict(out)
