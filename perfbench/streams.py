"""Streaming workloads over the file source (the Kafka connector is not
bundled; the file source is the engine's stand-in for it).

A run first drains a warm-up backlog as large as the measured one
`WARMUP_DRAINS` times, so that the pipeline's plans are compiled and its
hot paths JIT-compiled as in a stream that has been running, then measures
two phases, each query with its own input directory, checkpoint and
outputs:

1. drain: a staged backlog is processed with `available_now=True`,
   `DRAINS` times; the fastest drain's wall time is `lap_s` and the
   backlog's rows per second of it `drain_rows_s`;
2. open loop: the pipeline runs with its default trigger while a seeded
   generator drops files at a fixed rate for `--seconds`; latency is
   joined per file from the checkpoint (scheduled drop -> batch commit).

`stream_orders` runs `start_file_pipeline` (stateless, append sink).
`stream_upsert` runs `transform_orders` -> `dedup_within_watermark` -> the
valid branch -> `parquet_upsert_sink` keyed on order_id, over a stream with
advancing event times and re-delivered orders.

Outputs of every query are compared with the generator's model: every
routed row exactly once (no loss, no duplicates), or for the upsert sink a
final snapshot equal to the expected distinct valid orders.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import orderstream
from common import stop_spark, timed_setups
from latency import commit_times, file_batches, file_latencies_ms, min_samples, percentile
from procstat import TreeMeter
from sparkstats import ProgressLog
from streamprocessing_with_kafka_spark.operators.route import ENRICHED_TOPIC
from streamprocessing_with_kafka_spark.session import get_spark
from streamprocessing_with_kafka_spark.streaming.pipeline import (
    file_order_stream,
    start_file_pipeline,
    transform_orders,
)
from streamprocessing_with_kafka_spark.streaming.sinks import parquet_upsert_sink
from streamprocessing_with_kafka_spark.streaming.stateful import dedup_within_watermark

ENRICHED_COLS = ["order_id", "product_name", "quantity", "price", "order_date", "total_price"]

#: backlog drains per run; the fastest is reported, because drain times
#: still fall from one drain to the next (the JIT keeps compiling) and
#: other guests' CPU time only ever adds to a drain
DRAINS = 4
#: untimed drains of a backlog of the same size before any measurement
WARMUP_DRAINS = 2
#: longest a streaming query may take to finish its input
QUERY_TIMEOUT_S = 60

#: open-loop rate and file size, backlog size, and the stream's shape
PARAMS = {
    "stream_orders": dict(
        files_per_s=4.0, rows_per_file=100, backlog_files=16, backlog_rows=2000,
        shape=dict(),
    ),
    "stream_upsert": dict(
        files_per_s=2.5, rows_per_file=100, backlog_files=16, backlog_rows=1000,
        shape=dict(redeliver_share=0.1, advance_files_per_day=4, jitter_days=2),
    ),
}


class Phase:
    """Directories of one streaming query and the input it reads."""

    def __init__(self, ctx, name: str, data: orderstream.StreamData):
        base = ctx.path(name)
        self.name = name
        self.data = data
        self.input = os.path.join(base, "in")
        self.staging = os.path.join(base, "staging")
        self.output = os.path.join(base, "out")
        self.checkpoint = os.path.join(base, "checkpoint")
        for d in (self.input, self.staging):
            os.makedirs(d)
        self.sink_ms: list[float] = []


def _start(spark, phase: Phase, upsert: bool, available_now: bool):
    if not upsert:
        return start_file_pipeline(
            spark, phase.input, phase.output, phase.checkpoint, available_now=available_now
        )
    routed = transform_orders(file_order_stream(spark, phase.input))
    valid = (
        dedup_within_watermark(routed)
        .filter(F.col("target") == ENRICHED_TOPIC)
        .select(*ENRICHED_COLS)
    )
    sink = parquet_upsert_sink(spark, phase.output, "order_id")

    def timed_sink(batch, batch_id):
        t0 = time.perf_counter()
        sink(batch, batch_id)
        phase.sink_ms.append((time.perf_counter() - t0) * 1e3)

    writer = valid.writeStream.foreachBatch(timed_sink).option(
        "checkpointLocation", phase.checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _finish(ctx, phase: Phase, query) -> None:
    """Stop the query and record it as failed if it died."""
    try:
        query.stop()
    finally:
        err = query.exception()
        if err is not None:
            ctx.fail(f"{phase.name}: streaming query died: {err}")


def open_loop(ctx, spark, phase: Phase, upsert: bool, files_per_s: float, meter: TreeMeter):
    """Runs the open-loop phase; returns (per-file latencies ms, dropper)."""
    query = _start(spark, phase, upsert, available_now=False)
    dropper = orderstream.Dropper(phase.data, phase.input, phase.staging, files_per_s)
    meter.begin()
    try:
        dropper.start()
        dropper.join()
        _await_committed(query, phase, set(dropper.scheduled))
    finally:
        meter.end()
        _finish(ctx, phase, query)
    lat = file_latencies_ms(phase.checkpoint, dropper.scheduled)
    missing = len(phase.data.files) - len(lat)
    if missing:
        ctx.fail(f"{phase.name}: {missing} files never committed")
    return list(lat.values()), dropper


def _await_committed(query, phase: Phase, files: set[str]) -> None:
    """Wait until every dropped file is in a committed batch, the query
    dies, or QUERY_TIMEOUT_S pass (open_loop then reports the files that
    were never committed)."""
    deadline = time.time() + QUERY_TIMEOUT_S
    while query.isActive and time.time() < deadline:
        batches = file_batches(phase.checkpoint)
        committed = commit_times(phase.checkpoint)
        if all(batches.get(f, -1) in committed for f in files):
            return
        time.sleep(0.05)


def drain(ctx, spark, phase: Phase, upsert: bool, meter: TreeMeter) -> float:
    """Stages the backlog, drains it; returns the drain's wall seconds."""
    for name, lines in phase.data.files:
        orderstream.write_file(phase.input, phase.staging, name, lines)
    meter.begin()
    t0 = time.perf_counter()
    query = _start(spark, phase, upsert, available_now=True)
    try:
        if not query.awaitTermination(QUERY_TIMEOUT_S):
            ctx.fail(f"{phase.name}: drain still running after {QUERY_TIMEOUT_S} s")
    except Exception:  # reported by _finish from the query's own exception
        pass
    finally:
        wall = time.perf_counter() - t0
        meter.end()
        _finish(ctx, phase, query)
    return wall


def _read(path: str) -> list[dict]:
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def check(ctx, phase: Phase, upsert: bool) -> int:
    """Compare a phase's outputs with the model; returns output rows."""
    data = phase.data
    ctx.attempted += data.rows
    if upsert:
        snap = _read(os.path.join(phase.output, "data"))
        keys = Counter(r["order_id"] for r in snap)
        dups = sum(n - 1 for n in keys.values())
        got = {r["order_id"]: tuple(r[c] for c in ENRICHED_COLS) for r in snap}
        want = data.distinct_valid
        lost = [k for k in want if k not in got]
        extra = [k for k in got if k not in want]
        wrong = [k for k in want if k in got and got[k] != want[k]]
        for what, ks in (("lost", lost), ("unexpected", extra), ("wrong", wrong)):
            if ks:
                ctx.fail(f"{phase.name}: {len(ks)} snapshot rows {what}, e.g. {ks[:3]}", len(ks))
        if dups:
            ctx.fail(f"{phase.name}: {dups} duplicate keys in the snapshot", dups)
        return len(snap)
    rows = 0
    for branch, cols, want in (
        ("enriched_orders", ENRICHED_COLS, data.enriched),
        ("invalid_orders", ["kafka_key", "status_message"], data.invalid),
    ):
        out = _read(os.path.join(phase.output, branch))
        rows += len(out)
        got = Counter(tuple(r[c] for c in cols) for r in out)
        lost, dup = want - got, got - want
        for what, diff in (("lost", lost), ("duplicated or unexpected", dup)):
            n = sum(diff.values())
            if n:
                ctx.fail(f"{phase.name}/{branch}: {n} rows {what}, e.g. {list(diff)[:2]}", n)
    return rows


def _stream(ctx, workload: str, kind: str) -> orderstream.StreamData:
    """The seeded input of one phase: `live` files for the open loop, a
    `backlog` to drain, or a `warmup` backlog of the same size."""
    p = PARAMS[workload]
    if kind == "warmup":
        return orderstream.generate(
            ctx.seed + 2, p["backlog_files"], p["backlog_rows"], prefix=kind, **p["shape"]
        )
    if kind == "live":
        n = max(int(round(p["files_per_s"] * ctx.seconds)), min_samples(0.95))
        return orderstream.generate(
            ctx.seed, n, p["rows_per_file"], prefix=kind, **p["shape"]
        )
    return orderstream.generate(
        ctx.seed + 1, p["backlog_files"], p["backlog_rows"], prefix=kind, **p["shape"]
    )


def run(ctx, upsert: bool) -> None:
    workload = "stream_upsert" if upsert else "stream_orders"
    p = PARAMS[workload]
    os.makedirs(ctx.path("register"))

    def register(spark):
        transform_orders(file_order_stream(spark, ctx.path("register"))).schema

    spark = timed_setups(ctx, register)
    # compile the pipeline's plans and warm the JIT before measuring: a
    # long-running stream pays that once, not per batch
    warmup = _stream(ctx, workload, "warmup")
    for i in range(WARMUP_DRAINS):
        warm = Phase(ctx, f"warmup-{i}", warmup)
        drain(ctx, spark, warm, upsert, TreeMeter())
        check(ctx, warm, upsert)
    if ctx.trace:
        _traced(ctx, spark, workload, upsert)
        return
    live = Phase(ctx, "open", _stream(ctx, workload, "live"))
    backlog = _stream(ctx, workload, "backlog")
    drains = [Phase(ctx, f"drain-{i}", backlog) for i in range(DRAINS)]
    meter = TreeMeter()
    meter.start_sampling()
    walls = [drain(ctx, spark, ph, upsert, meter) for ph in drains]
    wall = min(walls)
    lat, _ = open_loop(ctx, spark, live, upsert, p["files_per_s"], meter)
    meter.stop_sampling()
    for ph in drains + [live]:
        check(ctx, ph, upsert)
    ctx.e2e.update(
        {
            "lap_s": wall,
            "cpu_s": meter.cpu_s,
            "latency_p50_ms": percentile(lat, 0.50),
            "latency_p95_ms": percentile(lat, 0.95),
            "drain_rows_s": backlog.rows / wall,
        }
    )
    ctx.notes["peak_rss_mb"] = round(meter.peak_rss / 2**20, 1)
    ctx.notes.update(
        {
            "drains_s": [round(w, 3) for w in walls],
            "latency_samples": len(lat),
            "open_files": len(live.data.files),
            "drain_rows": backlog.rows,
        }
    )


def _backlog_max(phase: Phase, written: dict[str, float]) -> int:
    """Most files waiting (written, not yet in an earlier batch) when a
    batch was planned; a batch's plan time is its offset log entry's
    modification time."""
    offsets = os.path.join(phase.checkpoint, "offsets")
    planned = {
        int(e): os.stat(os.path.join(offsets, e)).st_mtime_ns / 1e9
        for e in os.listdir(offsets)
        if e.isdigit()
    }
    batch_of = file_batches(phase.checkpoint)
    worst = 0
    for b, t in planned.items():
        waiting = sum(
            1 for f, w in written.items() if w <= t and batch_of.get(f, b) >= b
        )
        worst = max(worst, waiting)
    return worst


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _traced(ctx, spark, workload: str, upsert: bool) -> None:
    """The open loop with a progress listener attached, then `DRAINS`
    drains of one backlog, untraced and traced (the listener attached) in
    turn; the tracing overhead is the median traced drain minus the median
    untraced one. For stream_orders, the drain once more at
    local[1]."""
    p = PARAMS[workload]
    L = ctx.layers
    meter = TreeMeter()
    log = ProgressLog()
    live = Phase(ctx, "open", _stream(ctx, workload, "live"))
    spark.streams.addListener(log)
    _, dropper = open_loop(ctx, spark, live, upsert, p["files_per_s"], meter)
    time.sleep(0.5)  # let the listener bus deliver the last progress events
    spark.streams.removeListener(log)
    snapshot_rows = check(ctx, live, upsert)
    backlog = _stream(ctx, workload, "backlog")
    walls: dict[bool, list[float]] = {False: [], True: []}
    traced_ids = []
    for i in range(DRAINS):
        # untraced, traced, traced, untraced: drain times still fall from
        # one drain to the next, and this order cancels a steady fall
        traced = i % 4 in (1, 2)
        ph = Phase(ctx, f"drain-{i}", backlog)
        if traced:
            spark.streams.addListener(log)
        walls[traced].append(drain(ctx, spark, ph, upsert, meter))
        if traced:
            time.sleep(0.5)
            spark.streams.removeListener(log)
            traced_ids.append(_query_id(ph))
        check(ctx, ph, upsert)
    plain_wall = statistics.median(walls[False])
    traced_wall = statistics.median(walls[True])
    L["tracing.overhead_s"] = traced_wall - plain_wall
    L["tracing.overhead_share"] = (traced_wall - plain_wall) / plain_wall

    live_p = log.batches(_query_id(live))
    drain_p = [pr for q in traced_ids for pr in log.batches(q)]
    dur = lambda ps, k: [pr.durationMs.get(k, 0) for pr in ps]  # noqa: E731
    for key, name in (
        ("latestOffset", "latest_offset_ms"), ("getBatch", "get_batch_ms"),
        ("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
        ("commitOffsets", "commit_offsets_ms"), ("triggerExecution", "trigger_ms"),
    ):
        L[f"streaming.{name}"] = _median(dur(live_p, key))
    trig = sum(dur(live_p, "triggerExecution"))
    L["streaming.overhead_share"] = 1 - sum(dur(live_p, "addBatch")) / trig if trig else 0.0
    L["streaming.add_batch_ms"] = _median(dur(drain_p, "addBatch"))
    L["streaming.rows_per_batch"] = _median(pr.numInputRows for pr in drain_p)
    L["streaming.backlog_files_max"] = _backlog_max(live, dropper.written)
    ops = [pr.stateOperators[0] for pr in live_p if pr.stateOperators]
    if ops:
        L["streaming.state_rows"] = max(op.numRowsTotal for op in ops)
        L["streaming.state_mem_bytes"] = max(op.memoryUsedBytes for op in ops)
        L["streaming.state_commit_ms"] = _median(op.commitTimeMs for op in ops)
        dropped = sum(op.customMetrics.get("numDroppedDuplicateRows", 0) for op in ops)
        L["streaming.dup_dropped_ratio"] = dropped / max(sum(pr.numInputRows for pr in live_p), 1)
    if upsert:
        L["sinks.upsert_batch_ms"] = _median(live.sink_ms)
        L["sinks.snapshot_rows"] = snapshot_rows
    # fewer than the 100 files a p99 needs: the maximum bounds it from above
    L["generator.late_ms_p99"] = max(dropper.late_ms)
    L["generator.files"] = len(live.data.files)
    L["generator.rows"] = live.data.rows

    if not upsert:
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        stop_spark()
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            spark1 = get_spark("perfbench-1core")
            single = Phase(ctx, "drain-1core", backlog)
            one_wall = drain(ctx, spark1, single, upsert, meter)
            check(ctx, single, upsert)
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus
        L["streaming.speedup_vs_1core"] = one_wall / plain_wall


def _query_id(phase: Phase) -> str:
    """The streaming query id recorded in the phase's checkpoint."""
    with open(os.path.join(phase.checkpoint, "metadata")) as f:
        return json.loads(f.readline())["id"]

