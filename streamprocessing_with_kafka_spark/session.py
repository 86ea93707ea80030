"""SparkSession construction tuned for this engine.

Scale posture: these configs are the local[N] analog of what we would set
on a 1000-executor cluster -- AQE on (runtime re-plan, skew-join splitting,
partition coalescing), shuffle partitions sized to cores (cluster: 2-3x
total cores), UTC session timezone so timestamp semantics are
deployment-independent, Arrow enabled for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable SQL confs every entry point applies defensively, so the
# engine behaves identically under a session it did not build (the driver
# creates its own SparkSession).
_RUNTIME_CONFS = {
    # testdata events.parquet stores TIMESTAMP(NANOS) which Spark's parquet
    # reader rejects; read as long nanos and convert (see sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # timestamp formatting must match the DuckDB oracle (naive == UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join handling.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Runtime-only broadcast threshold (static planning keeps the 10 MB
    # default): once a join side's TRUE materialized size is known, a
    # 64 MB hash build is cheap on any executor sized for real work, and
    # converting the join erases the other side's exchange+sort -- e.g.
    # the triangle wedge stream (operators/graph.py) rides through
    # broadcast joins instead of shuffling O(wedges) rows whenever the
    # edge list fits. Estimate-based (static) decisions stay
    # conservative; only measured post-shuffle sizes use this bound.
    # Memory headroom assumption: this is SESSION-GLOBAL, so every join
    # may build a hash relation from a 64 MB serialized side -- which can
    # deserialize to several hundred MB in-heap, multiplied by concurrent
    # joins. Sized for executors/drivers with >= 8-16 GB heap (any
    # cluster sized for real work; the local default heap reaches that on
    # hosts with 32 GB or more); on smaller heaps, scope the raise
    # per-query (spark.conf.set around the graph query) or drop back to
    # Spark's 10 MB default.
    "spark.sql.adaptive.autoBroadcastJoinThreshold": "64MB",
    # Spark still defaults parquet timestamps to legacy INT96, which gets
    # NO min/max statistics -- every time-range predicate on a lake we
    # wrote would scan all row groups. Micros timestamps carry stats (and
    # are what modern readers expect).
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
}


def ensure_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs; safe to call repeatedly."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # static conf on this build -- best effort
            pass
    return spark


def _default_heap() -> str:
    """A quarter of physical memory, between 1g and 16g. The rest stays
    free for the Python workers, the page cache and the host's other
    processes. The cap: an oversized heap (90g tested) gives G1 a huge
    young gen and multi-second stop-the-world pauses that dominate
    sub-second queries, while 16g covers the bench working set and keeps
    pauses in the tens of ms."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, phys // 4 // 2**30))}g"


def get_spark(app_name: str = "streamprocessing-spark-engine") -> SparkSession:
    """The engine's session: one local core per CPU this process may run
    on and `_default_heap()`, unless `SPARK_GRAFT_CPUS` / `SPARK_DRIVER_MEM`
    set them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_heap()))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return ensure_runtime_confs(spark)
