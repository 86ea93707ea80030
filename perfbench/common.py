"""Session handling shared by the batch and streaming workloads."""

from __future__ import annotations

import os
import signal
import statistics
import subprocess
import time

from pyspark import SparkContext
from pyspark.sql import SparkSession

from procstat import descendants

from streamprocessing_with_kafka_spark.session import get_spark

#: set-ups per run; the median is reported, so the first one, which also
#: launches the JVM, does not set the figure
SETUP_REPEATS = 3


def stop_spark() -> str:
    """Stop the active session, if any; returns the JVM's Java version."""
    spark = SparkSession.getActiveSession()
    if spark is None:
        return ""
    version = spark.sparkContext._jvm.System.getProperty("java.version")
    spark.stop()
    return version


def shutdown_jvm(timeout_s: float = 30.0) -> None:
    """Close the Py4J gateway, wait for the JVM to exit, then for every
    other process this one started (Python workers); kill what is left."""
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        os.kill(pid, signal.SIGKILL)


def timed_setups(ctx, register) -> SparkSession:
    """Start the session and register the workload's inputs
    SETUP_REPEATS times (stopping the session in between). Records the
    median of the whole set-up as `setup_s` and of `get_spark` alone as
    `session.start_s`; returns the last session."""
    starts, totals = [], []
    spark = None
    for _ in range(SETUP_REPEATS):
        stop_spark()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        register(spark)
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        totals.append(t2 - t0)
    ctx.e2e["setup_s"] = statistics.median(totals)
    ctx.layers["session.start_s"] = statistics.median(starts)
    ctx.notes["setups_s"] = [round(t, 3) for t in totals]
    return spark
