"""Metric definitions and their computation from a finished run.

``E2E`` and ``PER_LAYER`` are the names, units and directions that
BENCHMARK.json lists (the self-test keeps the two in step). Each
per-layer metric names the end-to-end metric and workload it should
move, written down before any optimisation is measured.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

import engine
import tracing
from workloads import BATCH_QUERIES

# name, unit, better, bound (share of the parent's median)
E2E = (
    ("setup_s", "s", "lower", 0.25),
    ("pass_s", "s", "lower", 0.25),
    ("req_p75_ms", "ms", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("retained_mb", "MiB", "lower", 0.15),
)

# name, unit, better, (end-to-end metric, workload) it should move
PER_LAYER = (
    # latency per request family, from the traced run's untraced cycles
    ("op.bm25_p50_ms", "ms", "lower", "pass_s on serve and batch"),
    ("op.knn_p50_ms", "ms", "lower", "pass_s on serve and batch"),
    ("op.hybrid_p50_ms", "ms", "lower", "pass_s on serve and batch"),
    ("op.fetch_p50_ms", "ms", "lower", "pass_s on serve and batch"),
    ("op.agg_p50_ms", "ms", "lower", "pass_s on serve and batch"),
    ("plans.compile_get.self_ms", "ms", "lower", "pass_s on serve"),
    ("bm25.search_build_ms", "ms", "lower", "pass_s on serve, via op.bm25_p50_ms and op.hybrid_p50_ms"),
    ("bm25.stats_memo_hit_ratio", "ratio", "higher", "pass_s on batch (every pass repeats its queries); no change on serve (no query repeats)"),
    ("bm25.index_builds", "count", "lower", "setup_s on serve and batch"),
    ("bm25.index_build_s", "s", "lower", "setup_s on serve and batch"),
    ("vector.build_ms", "ms", "lower", "pass_s on serve, via op.knn_p50_ms"),
    ("hybrid.build_ms", "ms", "lower", "pass_s on serve, via op.hybrid_p50_ms"),
    ("aggregate.build_ms", "ms", "lower", "pass_s on serve, via op.agg_p50_ms"),
    ("tables.load_table_ms", "ms", "lower", "pass_s on serve"),
    ("crud.upsert_ms", "ms", "lower", "setup_s on serve and batch"),
    ("crud.invalidate_ms", "ms", "lower", "setup_s on serve and batch"),
    ("crud.bytes_written_per_user_byte", "ratio", "lower", "setup_s on serve and batch"),
    ("crud.space_amp", "ratio", "lower", "setup_s on serve and batch"),
    ("cache.release_ms", "ms", "lower", "pass_s on serve"),
    ("spark.jobs_per_op", "count", "lower", "pass_s on serve"),
    ("spark.stages_per_op", "count", "lower", "pass_s on serve"),
    ("spark.tasks_per_op", "count", "lower", "pass_s on serve"),
    ("spark.plan_ms", "ms", "lower", "pass_s on serve"),
    ("spark.deserialize_ms", "ms", "lower", "pass_s on serve"),
    ("spark.collect_ms", "ms", "lower", "pass_s on serve"),
    ("spark.executor_run_ms", "ms", "lower", "pass_s on batch"),
    ("spark.gc_ms", "ms", "lower", "pass_s on batch"),
    ("spark.input_bytes", "bytes", "lower", "pass_s on batch"),
    ("spark.shuffle_read_bytes", "bytes", "lower", "pass_s on batch"),
    ("spark.shuffle_write_bytes", "bytes", "lower", "pass_s on batch"),
    ("spark.spill_bytes", "bytes", "lower", "pass_s on batch"),
    ("spark.peak_exec_mem_bytes", "bytes", "lower", "pass_s, retained_mb on batch"),
    ("spark.python_stage_ratio", "ratio", "lower", "pass_s on batch"),
    *((f"q.{q}.exec_share", "ratio", "lower", "pass_s on batch") for q, _ in BATCH_QUERIES),
    *((f"q.{q}.jobs", "count", "lower", "pass_s on batch") for q, _ in BATCH_QUERIES),
    ("trace.overhead_pct", "%", "lower", "none: cost of tracing itself"),
    ("trace.bookkeeping_ms_per_op", "ms", "lower", "none: cost of tracing itself"),
)

KINDS = ("bm25", "knn", "hybrid", "fetch", "agg")


def _med(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if xs else 0.0


def space_amp(docs_dir: str) -> float:
    """Bytes of the documents collection on disk, retained versions
    included, per byte of its live version."""
    live = engine.du(docs_dir)
    return (live + engine.du(docs_dir + ".__txn__")) / live


def end_to_end(wl, start: float, end: float, setup_s: float, retained: float) -> dict:
    win = [op for op in wl.ops if op.phase == "window"]
    lat = [op.lat * 1000 for op in win]
    by_slot = defaultdict(list)
    for op in win:
        by_slot[op.slot].append(op.lat)
    return {
        "setup_s": setup_s,
        # one pass over the cycle: the median time of each of its slots
        "pass_s": sum(_med(v) for v in by_slot.values()),
        "req_p75_ms": _p(lat, 75),
        "ops_per_s": len(win) / (end - start),
        "retained_mb": retained,
    }


def per_layer(tracer, wl, overhead_pct: float) -> dict:
    """Layer figures from the traced cycles of the window. Index builds
    and the crud spans come from set-up as well: on serve and batch the
    only write and the index builds happen there."""
    spans = tracer.spans
    selft = tracing.self_times(spans)
    dur, self_ms, all_dur = defaultdict(list), defaultdict(list), defaultdict(list)
    for s in spans:
        ms = (s["end"] - s["start"]) * 1000
        all_dur[s["name"]].append(ms)
        if s["req"].startswith("window"):
            dur[s["name"]].append(ms)
            self_ms[s["name"]].append(selft[s["id"]] * 1000)
    memo = [s["jobs"] == 0 for s in spans
            if s["name"] == "bm25.with_materialized_stats" and s["req"].startswith("window")]
    traced = [op for op in wl.ops if op.phase == "window" and op.stats is not None]
    n = max(1, len(traced))
    tot = defaultdict(float)
    for op in traced:
        for k, v in op.stats.items():
            if k != "peak_exec_mem_bytes":
                tot[k] += v
    plain = defaultdict(list)
    for op in wl.ops:
        if op.phase == "window" and not op.traced:
            plain[op.kind].append(op.lat * 1000)
    out = {
        **{f"op.{k}_p50_ms": _med(plain[k]) for k in KINDS},
        "plans.compile_get.self_ms": _med(self_ms["plans.compile_get"]),
        "bm25.search_build_ms": _med(dur["bm25.search"]),
        "bm25.stats_memo_hit_ratio": sum(memo) / len(memo) if memo else 0.0,
        "bm25.index_builds": len(all_dur["bm25.index_build"]),
        "bm25.index_build_s": sum(all_dur["bm25.index_build"]) / 1000,
        "vector.build_ms": _med(dur["vector.near_vector"]),
        "hybrid.build_ms": _med(dur["hybrid.search"]),
        "aggregate.build_ms": _med(dur["aggregate.aggregate"]),
        "tables.load_table_ms": _med(dur["tables.load_table"]),
        "crud.upsert_ms": _med(all_dur["crud.upsert"]),
        "crud.invalidate_ms": _med(all_dur["crud.invalidate"]),
        "crud.bytes_written_per_user_byte": _med(
            [w["table_bytes"] / w["user_bytes"] for w in wl.writes]),
        "crud.space_amp": space_amp(wl.docs_dir),
        "cache.release_ms": _med(dur["cache.release"]),
        "spark.jobs_per_op": tot["jobs"] / n,
        "spark.stages_per_op": tot["stages"] / n,
        "spark.tasks_per_op": tot["tasks"] / n,
        "spark.plan_ms": _med([op.stats["plan_ms"] for op in traced]),
        "spark.deserialize_ms": tot["deserialize_ms"] / n,
        "spark.collect_ms": _med(dur["spark.action"]),
        "spark.executor_run_ms": tot["executor_run_ms"] / n,
        "spark.gc_ms": tot["gc_ms"] / n,
        "spark.input_bytes": tot["input_bytes"] / n,
        "spark.shuffle_read_bytes": tot["shuffle_read_bytes"] / n,
        "spark.shuffle_write_bytes": tot["shuffle_write_bytes"] / n,
        "spark.spill_bytes": tot["spill_bytes"] / n,
        "spark.peak_exec_mem_bytes": max(
            (op.stats.get("peak_exec_mem_bytes", 0) for op in traced), default=0),
        "spark.python_stage_ratio": tot["python_stages"] / max(1, tot["plan_stages"]),
        "trace.overhead_pct": overhead_pct,
        "trace.bookkeeping_ms_per_op":
            tracer.bookkeeping_s * 1000 / max(1, sum(op.traced for op in wl.ops)),
    }
    q_lat = defaultdict(list)
    q_jobs = defaultdict(list)
    for op in traced:
        q_lat[op.slot].append(op.lat)
        q_jobs[op.slot].append(op.stats.get("jobs", 0))
    pass_s = sum(_med(q_lat[q]) for q, _ in BATCH_QUERIES)
    for q, _ in BATCH_QUERIES:
        out[f"q.{q}.exec_share"] = _med(q_lat[q]) / pass_s if pass_s else 0.0
        out[f"q.{q}.jobs"] = _med(q_jobs[q])
    return out


def overhead_pct(wl) -> float:
    """Traced against untraced latency of the same op slots, as the
    median over slots of (traced median / untraced median - 1)."""
    plain, traced = defaultdict(list), defaultdict(list)
    for op in wl.ops:
        if op.phase == "window":
            (traced if op.traced else plain)[op.slot].append(op.lat)
    ratios = [_med(traced[s]) / _med(plain[s]) - 1 for s in traced if plain.get(s)]
    return 100 * _med(ratios)
