"""Capture .explain("formatted") output for headline queries to files.

Usage: python tools/capture_plans.py <out_suffix> [sf_dir] [query ...]
Writes plans/r11/<query>_<out_suffix>.txt for each headline query
(after bench.prepare, the bench's artifact build, so cached-table and
materialized-stats lineage matches what the bench executes).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from weaviate_spark.session import get_spark  # noqa: E402


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    spark = get_spark("weaviate-spark-plans")
    from weaviate_spark.entry_queries import QUERIES

    names = sys.argv[3:] or bench.HEADLINE
    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", os.environ.get("PLANS_ROUND", "r12"))
    os.makedirs(out_dir, exist_ok=True)

    bench.prepare(spark, sf_dir)

    for name in names:
        df = QUERIES[name](spark, sf_dir)
        # run once so AQE finalizes and cached tables are built, then
        # capture both the formatted plan and the executed plan
        df.count()
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        executed = df._jdf.queryExecution().executedPlan().toString()
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {sf_dir} ==\n\n")
            f.write("---- explain(formatted) ----\n")
            f.write(formatted)
            f.write("\n---- executedPlan (post-AQE) ----\n")
            f.write(executed)
        print(f"wrote {path}", file=sys.stderr)
    spark.stop()


if __name__ == "__main__":
    main()
