"""Names and units of every metric the benchmark prints.

`END_TO_END` is printed by untraced runs and `PER_LAYER` by traced runs,
on every workload (a per-layer figure of a layer the workload does not
touch reads 0). BENCHMARK.json at the repository root lists the same
names; a self-test keeps the two in step.
"""

from __future__ import annotations

HEADLINE = [
    "agg_pricing_summary",
    "ann_topk_bruteforce",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "events_session",
    "events_tumbling",
    "flagship_pipeline",
    "join_asof_events",
    "join_local_supplier_volume",
    "join_market_share",
    "join_revenue_by_nation",
    "join_shipping_priority",
    "text_curation_pipeline",
    "text_decontaminate",
    "text_stats",
    "topk_parts_by_revenue",
    "window_top_orders",
]

HEAVY = [
    "graph_triangles",
    "pipeline_orders_ops_report",
    "graph_pagerank",
    "dedup_semantic",
    "text_heavy_hitters",
]

END_TO_END = {
    "setup_s": "s",
    "lap_s": "s",
    "cpu_s": "s",
    "latency_p50_ms": "ms",
    "latency_p95_ms": "ms",
    "drain_rows_s": "rows/s",
}

PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.input_bytes": "B",
    "plans.build_s": "s",
    "plans.optimize_s": "s",
    "plans.exchanges": "count",
    "plans.broadcasts": "count",
    "operators.exec_s": "s",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.executor_run_s": "s",
    "operators.executor_cpu_s": "s",
    "operators.gc_s": "s",
    "operators.shuffle_read_bytes": "B",
    "operators.shuffle_write_bytes": "B",
    "operators.spill_bytes": "B",
    "operators.python_bytes": "B",
    **{f"query.{q}.wall_s": "s" for q in HEADLINE + HEAVY},
    "lineage.checkpoint_bytes": "B",
    "lineage.drain_s": "s",
    "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.trigger_ms": "ms",
    "streaming.overhead_share": "ratio",
    "streaming.add_batch_ms": "ms",
    "streaming.rows_per_batch": "rows",
    "streaming.backlog_files_max": "files",
    "streaming.state_rows": "rows",
    "streaming.state_mem_bytes": "B",
    "streaming.state_commit_ms": "ms",
    "streaming.dup_dropped_ratio": "ratio",
    "streaming.speedup_vs_1core": "ratio",
    "sinks.upsert_batch_ms": "ms",
    "sinks.snapshot_rows": "rows",
    "generator.late_ms_p99": "ms",
    "generator.files": "files",
    "generator.rows": "rows",
    "tracing.overhead_s": "s",
    "tracing.overhead_share": "ratio",
}
