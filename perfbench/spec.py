"""The metric catalogue: every end-to-end and per-layer metric the benchmark
reports, with its unit and better direction. ``BENCHMARK.json`` mirrors it
(a test keeps the two equal)."""

from __future__ import annotations

WORKLOADS = ("catalog_mix", "warehouse_backfill")

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "op_p50_s": ("s", "lower"),
    "op_per_s": ("1/s", "higher"),
    "op_cpu_s": ("s", "lower"),
}

_LOWER = "lower"
PER_LAYER = {
    "session.start_s": ("s", _LOWER),
    "sources.scan_files": ("count", _LOWER),
    "sources.scan_bytes": ("bytes", _LOWER),
    "sources.latest_offset_ms": ("ms", _LOWER),
    "sources.get_batch_ms": ("ms", _LOWER),
    "sources.input_rows": ("count", "higher"),
    "plans.build_s": ("s", _LOWER),
    "plans.build_jobs": ("count", _LOWER),
    "plans.catalyst_s": ("s", _LOWER),
    "operators.exec_s": ("s", _LOWER),
    "operators.jobs": ("count", _LOWER),
    "operators.tasks": ("count", _LOWER),
    "operators.exchanges": ("count", _LOWER),
    "operators.shuffle_bytes": ("bytes", _LOWER),
    "operators.spill_bytes": ("bytes", _LOWER),
    "operators.python_bytes": ("bytes", _LOWER),
    "streaming.batches": ("count", "higher"),
    **{f"streaming.{q}.trigger_{s}_ms": ("ms", _LOWER)
       for q in ("dim", "dwd", "dws", "state") for s in ("p50", "tail")},
    "streaming.add_batch_ms": ("ms", _LOWER),
    "streaming.query_planning_ms": ("ms", _LOWER),
    "streaming.wal_commit_ms": ("ms", _LOWER),
    "streaming.commit_offsets_ms": ("ms", _LOWER),
    "streaming.overhead_ms": ("ms", _LOWER),
    "streaming.watermark_lag_s": ("s", _LOWER),
    "streaming.state.rows_total": ("count", _LOWER),
    "streaming.state.memory_bytes": ("bytes", _LOWER),
    "streaming.state.commit_ms": ("ms", _LOWER),
    "streaming.state.update_ms": ("ms", _LOWER),
    "streaming.state.dropped_by_watermark": ("count", _LOWER),
    "streaming.sinks.dim_ms": ("ms", _LOWER),
    "streaming.sinks.dwd_ms": ("ms", _LOWER),
    "streaming.sinks.dws_ms": ("ms", _LOWER),
    "streaming.sinks.jobs_per_call": ("count", _LOWER),
    "streaming.sinks.files_written": ("count", _LOWER),
    "streaming.sinks.bytes_written": ("bytes", _LOWER),
    "trace.accounted_share": ("ratio", "higher"),
    "bench.trace_overhead": ("ratio", _LOWER),
}
