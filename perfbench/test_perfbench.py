"""Self-test of the benchmark: every workload at sf0.001 with a handful
of operations, untraced and traced.

    python3 -m pytest perfbench/ -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(proc.stdout.splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["failed"] == 0 and res["attempted"] >= 1
    assert res["correct"], proc.stdout.splitlines()[-2]
    return res


def test_specs_match_benchmark_json():
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in BENCH["end_to_end"]] \
        == [tuple(m) for m in metrics.E2E]
    assert [(m["name"], m["unit"], m["better"]) for m in BENCH["per_layer"]] \
        == [m[:3] for m in metrics.PER_LAYER]
    assert {w["name"] for w in BENCH["workloads"]} <= set(WORKLOADS)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics_printed(workload):
    res = _result(_run(workload, 0))
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values()), res["metrics"]


# traced engine functions every workload reaches in its timed window,
# and the per-layer metrics read from their spans
WINDOW_SPANS = {
    "plans.compile_get": "plans.compile_get.self_ms",
    "bm25.search": "bm25.search_build_ms",
    "bm25.with_materialized_stats": None,
    "vector.near_vector": "vector.build_ms",
    "hybrid.search": "hybrid.build_ms",
    "aggregate.aggregate": "aggregate.build_ms",
    "tables.load_table": "tables.load_table_ms",
    "cache.release": "cache.release_ms",
}
# reached at least in set-up (the set-up write and the first index build)
SETUP_SPANS = {
    "crud.upsert": "crud.upsert_ms",
    "crud.invalidate": "crud.invalidate_ms",
    "bm25.index_build": "bm25.index_build_s",
}


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run_spans_nest(workload):
    res = _result(_run(workload, 1))
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    with open(os.path.join(ROOT, ".perfbench_run", workload, "spans.jsonl")) as fh:
        spans = [json.loads(line) for line in fh]
    assert tracing.check_nesting(spans) == []
    assert min(tracing.self_times(spans).values()) >= -1e-6
    # only the benchmark's op roots lack a parent: every engine span was
    # recorded inside a request
    assert [s for s in spans if s["parent"] is None and not s["name"].startswith("op.")] == []
    assert {name for _, _, name in tracing.TRACED} == set(WINDOW_SPANS) | set(SETUP_SPANS)
    in_window = {s["name"] for s in spans if s["req"].startswith("window")}
    assert set(WINDOW_SPANS) <= in_window, set(WINDOW_SPANS) - in_window
    assert set(SETUP_SPANS) <= {s["name"] for s in spans}
    layer = {m for m in (*WINDOW_SPANS.values(), *SETUP_SPANS.values()) if m}
    layer |= {"bm25.index_builds", "spark.jobs_per_op", "spark.collect_ms"}
    assert {m: res["metrics"][m]["value"] for m in layer
            if not res["metrics"][m]["value"] > 0} == {}


def test_fails_without_engine(tmp_path):
    """Next to nothing but its own files, the benchmark exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run("serve", 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
