"""Process-level plumbing: the run directory, the Spark session, machine
probes and memory readings.

Everything a run writes lives under ``<checkout>/.perfbench_run/<workload>``,
which is deleted at the start of each run, so no artifact, shuffle file or
table version carries over from an earlier run.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")


def fresh_run_dir(workload: str) -> str:
    run_dir = os.path.join(RUN_ROOT, workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "spark-local", "artifacts"):
        os.makedirs(os.path.join(run_dir, sub))
    return run_dir


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(run_dir: str):
    """The engine's own session factory at local[<cpus>], with every
    scratch location (shuffle, temp, warehouse, index artifacts) inside
    the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
        # no hsperfdata file: the JVM would write it under /tmp
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
        "pyspark-shell")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR

    from weaviate_spark.operators import bm25, quantization
    from weaviate_spark.session import get_spark
    from weaviate_spark.sources import bucketed

    # the engine's artifact roots are absolute paths into a source tree;
    # point them into this run's directory
    art = os.path.join(run_dir, "artifacts")
    bm25.BM25_ARTIFACT_ROOT = os.path.join(art, "bm25")
    quantization.VECTOR_ARTIFACT_ROOT = os.path.join(art, "vecindex")
    bucketed.ARTIFACT_ROOT = os.path.join(art, "bucketed")

    spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    gw.shutdown()
    gw.proc.stdin.close()
    gw.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def peak_rss_mb() -> float:
    """Peak resident set of the driver JVM plus the driver Python, MiB."""
    return (_vm_hwm_kib(jvm_pid()) + _vm_hwm_kib("self")) / 1024.0


def retained_mb(spark) -> float:
    """JVM heap still in use after a full collection, MiB: what the
    session keeps between requests (cached index tables, materialized
    collections). Callers drop their own DataFrame handles first; the
    pause lets Spark's cleaner release what the first collection freed."""
    gc.collect()
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    jvm.java.lang.System.gc()
    time.sleep(1.0)
    jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def calibrate(spark) -> dict:
    """Machine-speed probes that no engine change can move: a fixed
    pure-Python loop and a fixed Spark range aggregate (medians of 3),
    the load average and the steal counter."""
    py, sp = [], []
    for _ in range(3):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        py.append(time.perf_counter() - t)
        t = time.perf_counter()
        spark.range(0, 2_000_000, numPartitions=cpus()).selectExpr(
            "sum(id * id)").collect()
        sp.append(time.perf_counter() - t)
    return {"python_s": statistics.median(py), "spark_s": statistics.median(sp),
            "loadavg": [round(x, 2) for x in os.getloadavg()],
            "steal_ticks": _steal_ticks()}


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests since boot, in clock
    ticks summed over all CPUs (the ``steal`` field of /proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8])


def du(path: str) -> int:
    """Bytes of the regular files under ``path`` (or of the file)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total
