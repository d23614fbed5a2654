"""Benchmark entry point.

    python3 perfbench/run.py --workload serve|ingest|batch --seed N \
        --seconds S --trace 0|1 [--smoke]

Generates the workload's corpus and requests from ``--seed``, starts the
engine at local[<cpus>], sets up (loads, warms, builds indexes), runs
the closed loop for ``--seconds``, then checks every output. The last
line of stdout is the result; the line before it carries the evidence
(machine probes, repeat shares, plan hashes, sample counts).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced cycles in the window, reports the per-layer metrics
and the tracing overhead, and writes every span
to ``.perfbench_run/<workload>/spans.jsonl``. ``--smoke`` shrinks the
corpus to sf0.001 for the self-test.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import hashlib  # noqa: E402
import importlib.util  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import engine  # noqa: E402

sys.path.insert(0, engine.ROOT)

import metrics  # noqa: E402
import oracles  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def plan_sha(df) -> str:
    """Hash of the executed plan with expression ids, codegen numbers,
    paths and size statistics removed: same hash, different time means
    the machine moved, not the code."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in ((r"#\d+[A-Za-z]*", "#"), (r"\[plan_id=\d+\]", ""),
                     (r"\(\d+\)", "()"), (r"file:[^,\]\s]+", "file:"),
                     (r"\d+(\.\d+)? [KMG]i?B", "")):
        plan = re.sub(pat, rep, plan)
    return hashlib.sha256(plan.encode()).hexdigest()[:12]


def measure(args, spark, wl, t0: float, marks: dict) -> tuple[dict, dict, int, int, bool]:
    """Set-up counts from ``t0`` on: session start, engine imports, the
    set-up write, index builds and warm-up. Then the timed window and the
    output checks."""
    marks["session"] = time.perf_counter()
    tracer = tracing.Tracer(spark) if args.trace else None
    if tracer:
        tracer.install()
    wl.connect(spark, tracer)
    wl.setup()
    setup_s = time.perf_counter() - t0
    marks["setup"] = time.perf_counter()
    cal_before = engine.calibrate(spark)
    start, end = wl.window(args.seconds, tracer)
    if tracer:
        tracer.uninstall()
    peak_rss_mb = engine.peak_rss_mb()
    window = [op for op in wl.ops if op.phase == "window"]
    shas = {op.slot: plan_sha(op.df) for op in window
            if op.ok and args.workload == "batch"}
    for op in wl.ops:
        op.df = None
    retained = engine.retained_mb(spark)
    cal_after = engine.calibrate(spark)

    marks["window"] = time.perf_counter()
    con = oracles.connect(wl.data_dir, wl.tables)
    wl.prepare_oracles(con)
    problems = wl.check(con) + wl.final_checks(con)
    failed = sum(not op.ok for op in window)
    marks["check"] = time.perf_counter()

    if tracer:
        tracer.dump(os.path.join(wl.run_dir, "spans.jsonl"))
        nesting = tracing.check_nesting(tracer.spans)
        problems += nesting
        values = metrics.per_layer(tracer, wl, metrics.overhead_pct(wl))
        specs = metrics.PER_LAYER
    else:
        values = metrics.end_to_end(wl, start, end, setup_s, retained)
        specs = metrics.E2E
    result = {s[0]: {"value": values[s[0]], "unit": s[1]} for s in specs}

    lat_ms: dict[str, list] = {}
    for op in window:
        lat_ms.setdefault(op.slot, []).append(round(op.lat * 1000, 1))
    info = {
        "workload": args.workload, "seed": args.seed, "sf": wl.sf,
        "rows": wl.sizes, "cpus": engine.cpus(),
        "window_s": end - start, "lat_ms": lat_ms,
        "req_p50_ms": statistics.median(op.lat for op in window) * 1000,
        "req_max_ms": max(op.lat for op in window) * 1000,
        "peak_rss_mb": peak_rss_mb,
        "setup_ms": [(op.slot, round(op.lat * 1000)) for op in wl.ops
                     if op.phase == "setup"],
        "calibration": {"before": cal_before, "after": cal_after},
        **wl.repeat_shares(),
        "problems": problems[:20],
    }
    if args.workload == "batch":
        info["plan_sha"] = shas
    return result, info, len(window), failed, not problems


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="sf0.001 corpus, for the self-test")
    args = ap.parse_args(argv)

    if importlib.util.find_spec("weaviate_spark") is None:
        sys.exit(f"perfbench: no weaviate_spark package under {engine.ROOT}")
    run_dir = engine.fresh_run_dir(args.workload)
    marks = {"imports": time.perf_counter()}
    wl = WORKLOADS[args.workload](run_dir, args.seed, args.smoke)
    marks["corpus"] = t0 = time.perf_counter()
    spark = engine.start_spark(run_dir)
    try:
        result, info, attempted, failed, correct = measure(args, spark, wl, t0, marks)
    finally:
        engine.stop_spark(spark)
    marks["stop"] = time.perf_counter()
    info["marks"] = {k: round(v - T_START, 2) for k, v in marks.items()}
    with open(os.path.join(run_dir, "result.json"), "w") as fh:
        json.dump({"info": info, "metrics": result}, fh, indent=1)
    print(json.dumps({"info": info}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
