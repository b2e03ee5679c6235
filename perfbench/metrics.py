"""The benchmark's metric catalogue.

``END_TO_END`` and ``PER_LAYER`` are what BENCHMARK.json lists, in the
same order; the final JSON line of a run carries exactly one of the two
sets. Each workload maps the generic end-to-end names onto its own
operation (see perfbench/README.md). ``REPORT_ONLY`` metrics are
printed in the human-readable report and written to the trace file, but
kept out of the JSON line because they only exist on one workload or,
for ``peak_rss_mb``, vary too much between runs to gate on.

Every entry names the end-to-end metric it is expected to move
(``moves``) and the layer it belongs to.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    layer: str = ""
    moves: str = ""
    bound: float | None = None


END_TO_END = (
    Metric("setup_s", "s", "lower", bound=0.25),
    Metric("latency_p50_ms", "ms", "lower", bound=0.25),
    Metric("throughput_per_s", "1/s", "higher", bound=0.25),
    Metric("recall", "ratio", "higher", bound=0.1),
)

_E = "engine"
PER_LAYER = (
    Metric("session.start_s", "s", "lower", "session", "setup_s"),
    Metric("session.warmup_s", "s", "lower", "session", "setup_s"),
    Metric("sources.input_bytes", "B", "lower", "sources", "latency_p50_ms"),
    Metric("sources.input_rows", "count", "lower", "sources", "latency_p50_ms"),
    Metric("sources.output_bytes", "B", "lower", "sources", "serve.ingest_lag_p50_ms"),
    Metric("sources.files_written", "count", "lower", "sources", "serve.ingest_lag_p50_ms"),
    Metric("queries.build_ms", "ms", "lower", "queries", "latency_p50_ms"),
    Metric("queries.plan_ms", "ms", "lower", "queries", "latency_p50_ms"),
    Metric("plans.shuffles", "count", "lower", "plans", "latency_p50_ms"),
    Metric("engine.jobs", "count", "lower", _E, "latency_p50_ms"),
    Metric("engine.stages", "count", "lower", _E, "latency_p50_ms"),
    Metric("engine.tasks", "count", "lower", _E, "latency_p50_ms"),
    Metric("engine.task_s", "s", "lower", _E, "throughput_per_s"),
    Metric("engine.cpu_s", "s", "lower", _E, "throughput_per_s"),
    Metric("engine.gc_s", "s", "lower", _E, "throughput_per_s"),
    Metric("engine.shuffle_write_bytes", "B", "lower", _E, "latency_p50_ms"),
    Metric("engine.shuffle_read_bytes", "B", "lower", _E, "latency_p50_ms"),
    Metric("engine.spill_bytes", "B", "lower", _E, "latency_p50_ms"),
    Metric("engine.driver_gap_s", "s", "lower", _E, "latency_p50_ms"),
    Metric("engine.core_busy", "ratio", "higher", _E, "throughput_per_s"),
    Metric("dedup.pairs_emitted", "count", "lower", "dedup", "recall"),
    Metric("dedup.clusters", "count", "higher", "dedup", "recall"),
    Metric("dedup.docs_kept", "count", "lower", "dedup", "recall"),
    Metric("dedup.pairs_per_planted_pair", "ratio", "lower", "dedup", "recall"),
    Metric("similarity.jobs_per_request", "count", "lower", "similarity", "latency_p50_ms"),
    Metric("similarity.codes_rows_scanned", "count", "lower", "similarity", "latency_p50_ms"),
    Metric("similarity.delta_segments", "count", "lower", "similarity", "latency_p50_ms"),
    Metric("views.buckets_rewritten", "count", "lower", "views", "serve.ingest_lag_p50_ms"),
    Metric("views.lookup_files_scanned", "count", "lower", "views", "serve.lookup_p50_ms"),
    Metric("streaming.processed_rows_per_s", "1/s", "higher", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("streaming.backlog_files", "count", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("tracing.overhead_s", "s", "lower", "tracing", ""),
)

REPORT_ONLY = (
    Metric("error_rate", "ratio", "lower"),
    Metric("peak_rss_mb", "MB", "lower"),
    Metric("curate.docs_per_s", "1/s", "higher"),
    Metric("curate.dup_recall", "ratio", "higher"),
    Metric("curate.exact_dup_recall", "ratio", "higher"),
    Metric("serve.ann_p50_ms", "ms", "lower"),
    Metric("serve.ann_recall_at_10", "ratio", "higher"),
    Metric("serve.lookup_p50_ms", "ms", "lower"),
    Metric("serve.ingest_lag_p50_ms", "ms", "lower"),
    Metric("serve.read_ops_per_s", "1/s", "higher"),
    Metric("text.curate_pipeline_s", "s", "lower", "text", "throughput_per_s"),
    Metric("dedup.lsh_clusters_s", "s", "lower", "dedup", "throughput_per_s"),
    Metric("text.repetition_signals_s", "s", "lower", "text", "throughput_per_s"),
    Metric("text.tfidf_s", "s", "lower", "text", "throughput_per_s"),
    Metric("similarity.build_index_s", "s", "lower", "similarity", "setup_s"),
    Metric("similarity.encode_segment_ms", "ms", "lower", "similarity", "serve.ingest_lag_p50_ms"),
    Metric("views.materialize_s", "s", "lower", "views", "setup_s"),
    Metric("views.apply_delta_ms", "ms", "lower", "views", "serve.ingest_lag_p50_ms"),
    Metric("views.lookup_retries", "count", "lower", "views", "serve.lookup_p50_ms"),
    Metric("streaming.trigger_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("streaming.add_batch_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("streaming.query_planning_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("streaming.wal_commit_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("streaming.latest_offset_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
    Metric("generator.lateness_ms", "ms", "lower", "streaming", "serve.ingest_lag_p50_ms"),
)
