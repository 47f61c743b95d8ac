"""Metric names and units reported by the benchmark (BENCHMARK.json lists
the same names). Every workload reports every name; a per-layer metric of
a layer the workload does not exercise reads 0."""

from __future__ import annotations

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "freshness_p50_ms": "ms",
}

CURATION_QUERIES = (
    "composite_curation_neardup",
    "composite_semantic_dedup",
    "composite_curation_classified",
    "dedup_substring_rewrite",
    "composite_curation_perplexity",
)

PER_LAYER = {
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.files_per_batch": "count",
    "source.backlog_records_max": "count",
    "engine.trigger_ms": "ms",
    "engine.planning_ms": "ms",
    "engine.commit_ms": "ms",
    "engine.batches": "count",
    "engine.records_per_batch": "count",
    "engine.drain_rps_1core": "1/s",
    "topology.process_batch_ms": "ms",
    "topology.forward_ms": "ms",
    "topology.alert_ms": "ms",
    "topology.jobs_per_batch": "count",
    "functions.sensor.alerts_rps": "1/s",
    "sinks.mqtt.publishes": "count",
    "sinks.mqtt.connections": "count",
    "sinks.mqtt.conn_active_ms": "ms",
    "sinks.mqtt.bytes": "bytes",
    **{
        f"operators.{q}.{m}": u
        for q in CURATION_QUERIES
        for m, u in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"))
    },
    "serving.probe_p50_ms": "ms",
    "serving.probe_plan_ms": "ms",
    "serving.probe_exec_ms": "ms",
    "serving.jobs_per_probe": "count",
    "hybrid.visible_epoch_ms": "ms",
    "hybrid.freshness_p50_ms": "ms",
    "hybrid.apply_ms": "ms",
    "hybrid.epochs_committed": "count",
    "hybrid.ingest_backlog_docs_max": "count",
    "hybrid.index_files_end": "count",
    "hybrid.index_bytes_end": "bytes",
    "loadgen.late_ms_max": "ms",
    "loadgen.receiver_busy_fraction": "ratio",
    "host.cpu_steal_fraction": "ratio",
    **{f"traced.{name}": unit for name, unit in END_TO_END.items()},
    "trace.spans": "count",
}
