"""Spark session set-up and the Spark-side counters the benchmark reads.

Everything Spark and Python write (shuffle files, temp files, the
warehouse) is kept under the run's work directory.
"""

from __future__ import annotations

import os
import subprocess
import time


def isolate(work: str) -> None:
    """Point temp and Spark local directories into ``work``; call before
    the first Spark session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the JVM's perf-data file goes to /tmp whatever the temp dir is
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(filter(None, (
        os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData")))
    import tempfile
    tempfile.tempdir = tmp


def start_session(work: str):
    """The engine's session (``session.get_spark``), ready to run a job."""
    from otel_arrow_collector_spark.session import get_spark
    tmp = os.path.join(work, "tmp")
    spark = get_spark("perfbench", extra_conf={
        "spark.driver.memory": "3g",
        # JVM unified logging can write to stdout, whose last line is
        # the result record
        "spark.driver.extraJavaOptions":
            f"-Xlog:disable -Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={tmp}",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop the session and drop the engine's per-application memos."""
    from otel_arrow_collector_spark.operators import clear_plan_memo
    from otel_arrow_collector_spark.operators.cache_registry import \
        clear_caches
    clear_caches()
    clear_plan_memo()
    spark.stop()


def group_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``; stages
    skipped because their shuffle output was reused are not counted."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            st = tracker.getStageInfo(s)
            if st is not None and st.numTasks > 0 and (
                    st.numCompletedTasks > 0 or st.numActiveTasks > 0):
                stages += 1
                tasks += st.numTasks
    return len(jobs), stages, tasks


def stage_floor(spark) -> dict:
    """Fixed cost of a stage: tiny jobs with 0, 1 and 2 shuffles (1, 2
    and 3 stages), median of 5 runs each; the floor is the least-squares
    slope of time over stage count."""
    from pyspark.sql import functions as F

    def probe(shuffles: int):
        df = spark.range(0, 1000, 1, 4)
        if shuffles >= 1:
            df = df.groupBy((F.col("id") % 7).alias("k")).count()
        if shuffles >= 2:
            df = df.groupBy("count").agg(F.count("k").alias("n"))
        return df.collect()

    med = []
    for shuffles in (0, 1, 2):
        probe(shuffles)                               # warm the code path
        times = []
        for _ in range(5):
            t0 = time.perf_counter()
            probe(shuffles)
            times.append(time.perf_counter() - t0)
        med.append(sorted(times)[2])
    return {"probe_s": med, "floor_s": (med[2] - med[0]) / 2.0}


def shutdown_jvm() -> None:
    """End the JVM the session started and wait for it: closing its
    stdin pipe is PySpark's own stop signal to the gateway process."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
