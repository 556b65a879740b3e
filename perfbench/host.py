"""The host record printed with every run.

A fixed pure-Python loop is timed before and after the run
(``host.calib_ms``), next to the load average, the core count, the
``SPARK_GRAFT_CPUS`` setting and the Spark/pyarrow versions.  The record
makes a disturbed run visible; it is never used to drop or rescale one.
"""

from __future__ import annotations

import os
import time


def calibrate() -> float:
    """Median wall time, in ms, of three runs of a fixed integer loop."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc * 31 + i) % 1_000_003
        times.append((time.perf_counter() - t0) * 1e3)
    return sorted(times)[1]


def record() -> dict:
    import pyarrow
    import pyspark
    return {
        "loadavg_1m": os.getloadavg()[0],
        "nproc": os.cpu_count(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
    }
