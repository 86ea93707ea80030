"""Batch workloads: laps over a fixed list of registered queries.

Each query run is `Query.fn` (DataFrame build, including any eager
checkpoint barriers) followed by materialising the result on the driver
as Arrow. After each lap, outside the timed region, every result is
compared with its query's DuckDB oracle through
`tests/oracle_harness.compare`, so every timed run is also a checked run.
Ephemeral checkpoints are drained after each query, outside timing, and a
lap may only start with no checkpoint storage held.

The seed permutes the query order of every lap. The first lap is cold
(checked, not timed); warm laps then run until `--seconds` have passed,
at least `MIN_LAPS`, and `lap_s` sums each query's median warm run.

Latency is per Spark job (submission to completion), the unit the
engine schedules: a lap runs about a hundred jobs, so its percentiles do
not hinge on one or two of the 17 queries, as per-query times would.
"""

from __future__ import annotations

import random
import statistics
import time

from pyspark.sql import SparkSession

import datagen
from common import timed_setups
from latency import percentile
from procstat import TreeMeter
from sparkstats import BatchProbe, job_latencies_ms, last_job_id, storage_bytes
from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints
from streamprocessing_with_kafka_spark.plans.registry import registry
from streamprocessing_with_kafka_spark.sources.tables import TABLES, load_table
from tests.oracle_harness import compare, duckdb_conn

#: scale of the generated tables (a fifth of the rows of the engine's
#: sf0.01 test tables) and the fixed seed they are drawn from
SCALE = 0.002
DATA_SEED = 42
#: measured (warm) laps per run, at least; more while --seconds last
MIN_LAPS = 2


class _Fetched:
    """The collected result in the shape `compare` reads from a DataFrame."""

    def __init__(self, columns: list[str], rows: list[dict]):
        self.columns = columns
        self._rows = rows

    def collect(self) -> list[dict]:
        return self._rows


class _Oracle:
    """The DuckDB connection `compare` reads, with each oracle query's
    result kept after its first run: every lap is compared with the same
    oracle result, which DuckDB then computes once per run, not per lap."""

    class _Result:
        def __init__(self, cur):
            self.columns, self.types, self._rows = cur.columns, cur.types, cur.fetchall()

        def fetchall(self) -> list[tuple]:
            return self._rows

    def __init__(self, con):
        self._con = con
        self._results: dict[str, _Oracle._Result] = {}

    def sql(self, query: str) -> "_Oracle._Result":
        if query not in self._results:
            self._results[query] = self._Result(self._con.sql(query))
        return self._results[query]


def _storage_released(spark: SparkSession, timeout_s: float = 5.0) -> int:
    """Wait for asynchronous block removal; returns bytes still held."""
    deadline = time.time() + timeout_s
    held = storage_bytes(spark)
    while held and time.time() < deadline:
        time.sleep(0.05)
        held = storage_bytes(spark)
    return held


def _lap(ctx, spark, queries, order, data_dir, con, meter, probe=None):
    """One pass over `order`; returns (wall seconds per query, result rows).
    Results are compared with the oracle after the pass, so the oracle's
    work never runs between two timed queries. With a probe, also
    accumulates per-layer counters into ctx.layers."""
    held = _storage_released(spark)
    if held:
        ctx.fail(f"lap start: {held} bytes of checkpoint storage still held")
    walls: dict[str, float] = {}
    results = []
    for name in order:
        q = queries[name]
        ctx.attempted += 1
        if probe is not None:
            spark.sparkContext.setJobGroup(probe.group(name), name)
        meter.begin()
        t0 = time.perf_counter()
        try:
            df = q.fn(spark, data_dir)
            t1 = time.perf_counter()
            if probe is not None:
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            result = df.toArrow()
        except Exception as e:  # a failing query is reported, the lap goes on
            meter.end()
            ctx.fail(f"{name}: raised {type(e).__name__}: {e}")
            drain_ephemeral_checkpoints()
            continue
        t3 = time.perf_counter()
        meter.end()
        walls[name] = t3 - t0
        results.append((name, df.columns, result))
        if probe is not None:
            _account(ctx, spark, probe, name, t1 - t0, t2 - t1, t3 - t2, walls[name])
        t4 = time.perf_counter()
        drain_ephemeral_checkpoints()
        if probe is not None:
            ctx.layers["lineage.drain_s"] += time.perf_counter() - t4
    t5 = time.perf_counter()
    for name, columns, result in results:
        errors = compare(_Fetched(columns, result.to_pylist()), con, queries[name].sql, name)
        if errors:
            ctx.fail("; ".join(errors))
    ctx.notes["check_s"] = round(ctx.notes.get("check_s", 0.0) + time.perf_counter() - t5, 3)
    return walls, sum(r.num_rows for _, _, r in results)


def _account(ctx, spark, probe, name, build_s, optimize_s, exec_s, wall_s) -> None:
    L = ctx.layers
    t0 = time.perf_counter()
    L["lineage.checkpoint_bytes"] += storage_bytes(spark)
    probe.wait_idle()
    stages = probe.stage_totals(probe.group(name))
    sql = probe.sql_totals()
    L["plans.build_s"] += build_s
    L["plans.optimize_s"] += optimize_s
    L["operators.exec_s"] += exec_s
    L[f"query.{name}.wall_s"] = wall_s
    L["plans.exchanges"] += sql["exchanges"]
    L["plans.broadcasts"] += sql["broadcasts"]
    L["sources.scan_s"] += sql["scan_s"]
    L["operators.python_bytes"] += sql["python_bytes"]
    L["sources.input_bytes"] += stages["input_bytes"]
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        L[f"operators.{k}"] += stages[k]
    L["tracing.overhead_s"] += time.perf_counter() - t0


_LAYER_SUMS = (
    "plans.build_s", "plans.optimize_s", "operators.exec_s", "plans.exchanges",
    "plans.broadcasts", "sources.scan_s", "operators.python_bytes",
    "sources.input_bytes", "operators.stages", "operators.tasks",
    "operators.executor_run_s", "operators.executor_cpu_s", "operators.gc_s",
    "operators.shuffle_read_bytes", "operators.shuffle_write_bytes",
    "operators.spill_bytes", "lineage.checkpoint_bytes", "lineage.drain_s",
    "tracing.overhead_s",
)


def run(ctx, names: list[str]) -> None:
    data_dir = ctx.path("tables")
    datagen.write_tables(data_dir, SCALE, DATA_SEED)
    reg = registry()
    queries = {n: reg[n] for n in names}
    con = _Oracle(duckdb_conn(data_dir))

    def register(spark):
        for t in TABLES:
            load_table(spark, data_dir, t).schema

    spark = timed_setups(ctx, register)
    rng = random.Random(ctx.seed)
    order = list(names)
    # the cold lap generates and compiles every plan once, as a batch job
    # pays it; it is checked but not timed, so that the measured laps
    # read the steady state rather than the JIT's and code generator's
    # warm-up, which swings with the host's load
    rng.shuffle(order)
    t0 = time.perf_counter()
    _lap(ctx, spark, queries, order, data_dir, con, TreeMeter())
    ctx.notes["cold_lap_s"] = round(time.perf_counter() - t0, 3)
    if ctx.trace:
        rng.shuffle(order)
        _traced(ctx, spark, queries, order, data_dir, con)
        return
    meter = TreeMeter()
    meter.start_sampling()
    per_query: dict[str, list[float]] = {n: [] for n in names}
    laps, jobs_ms, rows = [], [], []
    deadline = time.time() + ctx.seconds
    while len(laps) < MIN_LAPS or time.time() < deadline:
        rng.shuffle(order)
        first_job = last_job_id(spark)
        walls, lap_rows = _lap(ctx, spark, queries, order, data_dir, con, meter)
        for n, t in walls.items():
            per_query[n].append(t)
        laps.append(sum(walls.values()))
        jobs_ms.extend(job_latencies_ms(spark, first_job))
        rows.append(lap_rows)
    meter.stop_sampling()
    # per query the median of its warm runs, so that one slow run of one
    # query (a GC pause, a burst of CPU steal) does not set the lap
    lap_s = sum(statistics.median(ts) for ts in per_query.values() if ts)
    ctx.e2e.update(
        {
            "lap_s": lap_s,
            "cpu_s": meter.cpu_s / len(laps),
            "latency_p50_ms": percentile(jobs_ms, 0.50),
            "latency_p95_ms": percentile(jobs_ms, 0.95),
            "drain_rows_s": statistics.median(rows) / lap_s,
        }
    )
    ctx.notes.update({"laps_s": [round(x, 3) for x in laps], "latency_samples": len(jobs_ms),
                      "scale": SCALE, "peak_rss_mb": round(meter.peak_rss / 2**20, 1)})


def _traced(ctx, spark, queries, order, data_dir, con) -> None:
    """A traced warm lap in place of the measured ones. Tracing adds work
    only between queries, outside the timed region: the status reads after
    each query, which are timed directly as the tracing overhead."""
    for k in _LAYER_SUMS:
        ctx.layers[k] = 0.0
    walls, _ = _lap(ctx, spark, queries, order, data_dir, con, TreeMeter(), BatchProbe(spark))
    ctx.layers["tracing.overhead_share"] = ctx.layers["tracing.overhead_s"] / sum(walls.values())
