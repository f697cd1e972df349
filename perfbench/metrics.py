"""Names and units of every metric the benchmark prints.

``BENCHMARK.json`` lists the same names; a test keeps the two equal.
End-to-end metrics are printed with ``--trace 0``, per-layer metrics with
``--trace 1``. Each workload fills every end-to-end metric; a per-layer
metric of a layer the workload does not use is printed as 0.
"""

from __future__ import annotations

# Each workload gives these its own meaning; see README.md.
END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "lag_ms": "ms",
    "work_per_s": "1/s",
}

# Operator modules of the analytics suite (the module of each
# registered builder).
MODULES = (
    "similarity", "tpch", "dedup", "stats", "prep", "behavior", "textops",
    "curation", "joins", "serving", "views", "sessions", "zorder", "enrich",
)

PROGRESS_PHASES = (
    "query_planning", "latest_offset", "get_batch", "wal_commit",
    "commit_offsets", "state_commit",
)
DASHBOARD = ("top_sources", "top_src_dests", "top_dests", "events_by_cluster_window")

PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MB",
    "sources.input_rows": "count",
    "sources.backlog_rows_end": "count",
    "pipeline.trigger_ms_p50": "ms",
    **{f"pipeline.{p}_ms_p50": "ms" for p in PROGRESS_PHASES},
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.batches": "count",
    "pipeline.state_rows_end": "count",
    "pipeline.state_memory_bytes_end": "bytes",
    "pipeline.rows_dropped_by_watermark": "count",
    "serving_store.read_ms_p50": "ms",
    "serving_store.probe_ms_p50": "ms",
    "serving_store.probe_ms_p90": "ms",
    "serving_store.freshness_ms_p90": "ms",
    "serving_store.files_end": "count",
    "serving_store.bytes_end": "bytes",
    "serving_store.probe_retries": "count",
    **{f"serving.{d}.ms_p50": "ms" for d in DASHBOARD},
    "serving.refresh_ms_p50": "ms",
    "serving.late_ticks": "count",
    "plan.build_cold_s": "s",
    "plan.build_warm_s": "s",
    **{f"exec.{m}.{p}_s": "s" for m in MODULES for p in ("cold", "warm")},
    **{
        f"spark.{m}.{k}": u
        for m in MODULES
        for k, u in (("jobs", "count"), ("task_s", "s"), ("shuffle_bytes", "bytes"))
    },
    "spark.input_bytes": "bytes",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "spark.stream.task_s": "s",
    "spark.stream.shuffle_bytes": "bytes",
    "cc.wall_s": "s",
    "cc.iters": "count",
    "cc.edges": "count",
    "cc.jobs": "count",
    "cc.task_s": "s",
    "tracing.overhead_pct": "%",
}


def table(values: dict, trace: bool) -> dict:
    """The ``metrics`` object of the result line. Raises on a name the
    tables above do not list, or on a missing end-to-end value."""
    names = PER_LAYER if trace else END_TO_END
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"unlisted metrics: {sorted(unknown)}")
    if not trace:
        missing = set(names) - set(values)
        if missing:
            raise KeyError(f"end-to-end metrics not measured: {sorted(missing)}")
    return {
        n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()
    }
