"""Per-query profile on bench.py's warm-up, prep and timing loop (first run's
build/cold seconds, steady median) plus what the bench lacks: noop-sink seconds
(every column computed, where count() can prune), jobs/stages/tasks of one
steady count() and py_nodes, the Python-worker nodes in the executed plan.
Usage: python tools/profile_bench.py [sf_dir] [query ...]  (JSON on stdout)"""

import json, os, re, sys  # noqa: E401
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import bench  # noqa: E402
from weaviate_spark.session import get_spark  # noqa: E402

PY_NODES = r"BatchEvalPython|ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas|MapInArrow"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or bench.HEADLINE
    spark = get_spark("weaviate-spark-profile")
    from weaviate_spark.entry_queries import QUERIES

    bench.warm(spark, names, sf_dir)
    bench.prepare(spark, sf_dir)
    sc, tracker, out = spark.sparkContext, spark.sparkContext.statusTracker(), {}
    for name in names:
        fn = QUERIES[name]
        runs = [(b, e) for _, b, e in bench.timed_runs(spark, fn, sf_dir)]
        sc.setJobGroup(f"prof_{name}", name)
        (df := fn(spark, sf_dir)).count()
        sc.setJobGroup("default", "")
        jobs = tracker.getJobIdsForGroup(f"prof_{name}")
        stages = [tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds]
        ran = [s for s in stages if s is not None and s.numTasks > 0 and s.numCompletedTasks > 0]
        noop = [e for _, _, e in bench.timed_runs(
            spark, fn, sf_dir, 3, lambda d: d.write.format("noop").mode("overwrite").save())]
        out[name] = {k: round(v, 3) for k, v in {
            "build_sec": runs[0][0], "cold_sec": runs[0][1],
            "steady_sec": median(b + e for b, e in runs[1:]), "noop_sec": median(noop),
            "jobs": len(jobs), "stages": len(ran), "tasks": sum(s.numTasks for s in ran),
            "py_nodes": len(re.findall(PY_NODES, df._jdf.queryExecution().executedPlan().toString())),
        }.items()}
        print(f"{name:28s} " + " ".join(f"{k}={v}" for k, v in out[name].items()), file=sys.stderr)
    print(json.dumps({"sf_dir": sf_dir, "profile": out}))
    spark.stop()


if __name__ == "__main__":
    main()
