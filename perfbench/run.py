"""Benchmark entry point: one named workload from a seed, outputs checked.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones (metrics.END_TO_END), with --trace 1 the
per-layer ones (metrics.PER_LAYER). A line before it stamps the host and
lists every failed check by name. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402

WORKLOADS = ("headline", "heavy", "stream_orders", "stream_upsert")


class Context:
    """State of one run, shared by the workload code."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool):
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.notes: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fail(self, what: str, count: int = 1) -> None:
        """Record `count` failed operations, described by `what`."""
        self.failed += count
        self.failures.append(what[:400])


def _cache_gb() -> float:
    fields = {}
    with open("/proc/meminfo") as f:
        for line in f:
            k, v = line.split(":", 1)
            fields[k] = int(v.split()[0])
    return round((fields.get("Buffers", 0) + fields.get("Cached", 0)) / 2**20, 2)


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    total = sum(after) - sum(before)
    return (after[7] - before[7]) / total if total else 0.0


def _mem_total_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 2**20
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def host_env(work: str) -> dict[str, str]:
    """Spark sized to this host (not the engine's 32-core / 16g defaults),
    with every scratch and temp directory inside the run's work dir."""
    cpus = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(16, int(_mem_total_gb() // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{heap_gb}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # spark-submit first runs a small launcher JVM, then the driver's
        "SPARK_LAUNCHER_OPTS": jvm_opts,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '{jvm_opts}' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    }


def _finite(v: float) -> float:
    v = float(v)
    if v != v or v in (float("inf"), float("-inf")):
        raise ValueError(f"non-finite metric value {v}")
    return v


def result_line(ctx: Context) -> dict:
    names = metrics.PER_LAYER if ctx.trace else metrics.END_TO_END
    values = ctx.layers if ctx.trace else ctx.e2e
    out = {}
    for name, unit in names.items():
        out[name] = {"value": _finite(values.get(name, 0.0)), "unit": unit}
    failed = ctx.failed
    return {
        "correct": failed == 0 and not ctx.failures,
        "attempted": max(ctx.attempted, 1),
        "failed": failed,
        "metrics": out,
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=5)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    load_at_launch = [round(x, 2) for x in os.getloadavg()]
    cpu_at_launch = _cpu_times()
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.environ.update(host_env(work))
    try:
        # the engine and its oracle harness must import before any work
        import batch
        import common
        import streams

        ctx = Context(work, args.seed, args.seconds, bool(args.trace))
        try:
            if args.workload in ("headline", "heavy"):
                batch.run(ctx, metrics.HEADLINE if args.workload == "headline" else metrics.HEAVY)
            else:
                streams.run(ctx, upsert=args.workload == "stream_upsert")
        finally:
            ctx.notes["jdk"] = common.stop_spark()
            common.shutdown_jvm()
        result = result_line(ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    import pyspark

    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "spark_cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "load_at_launch": load_at_launch,
        "load_at_finish": [round(x, 2) for x in os.getloadavg()],
        "cache_gb": _cache_gb(),
        # share of the host's CPU time taken by other tenants during the run
        "steal_share": round(_steal_share(cpu_at_launch, _cpu_times()), 3),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        **ctx.notes,
        "fail_rate": result["failed"] / result["attempted"],
        "failures": ctx.failures,
    }
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)
