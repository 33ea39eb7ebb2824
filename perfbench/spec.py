"""What the benchmark reports: the query roster and the metric names.

``BENCHMARK.json`` lists the same metrics; a self-test keeps the two in
step.
"""

from __future__ import annotations

#: the query roster, a fixed copy so it changes only with the benchmark
ROSTER = (
    "cdc_current_state",
    "cdc_state_enriched",
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier",
    "tpch_q4_order_priority",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_orders",
    "agg_basic",
    "window_tumbling",
    "window_session",
    "join_interval",
    "window_rank_frames",
    "scalar_json",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_topk_bruteforce",
    "text_tfidf_top_terms",
    "corpus_pipeline",
    "tpch_q21_waiting_suppliers",
    "text_rolling_fingerprint",
    "embedding_quantize_sq8",
    "dedup_minhash_groups",
    "timeseries_paa_groups",
)

#: end-to-end metrics, reported by every workload with tracing off
END_TO_END = (
    ("setup_s", "s"),
    ("latency_ms_p50", "ms"),
    ("cold_s", "s"),
)

#: per-layer metrics, reported by every workload with tracing on (0
#: where the workload does not reach the layer)
PER_LAYER = (
    ("session.start_s", "s"),
    ("feed.generator_late_ms_max", "ms"),
    ("source.latest_offset_ms", "ms"),
    ("source.backlog_files_max", "count"),
    ("source.input_rows", "count"),
    ("source.scans_per_trigger", "ratio"),
    ("pipeline.trigger_ms_p50", "ms"),
    ("pipeline.add_batch_ms", "ms"),
    ("pipeline.wal_commit_ms", "ms"),
    ("pipeline.commit_offsets_ms", "ms"),
    ("pipeline.query_planning_ms", "ms"),
    ("pipeline.jobs_per_trigger", "count"),
    ("pipeline.driver_gap_ms", "ms"),
    ("pipeline.empty_check_ms", "ms"),
    ("decode.batch_ms", "ms"),
    ("materialize.latest_state_ms", "ms"),
    ("materialize.delta_keys", "count"),
    ("state.merge_batch_ms", "ms"),
    ("state.touched_collect_ms", "ms"),
    ("checkpointing.truncate_lineage_ms", "ms"),
    ("state.write_ms", "ms"),
    ("state.touched_buckets", "count"),
    ("state.rows_rewritten", "count"),
    ("state.write_amplification", "ratio"),
    ("state.files", "count"),
    ("state.bytes", "bytes"),
    ("jdbc_sink.write_batch_ms", "ms"),
    ("jdbc_sink.rows", "count"),
    ("jdbc_sink.recompact_ms", "ms"),
    ("schema_catalog.check_ms", "ms"),
    ("workload.build_ms", "ms"),
    ("workload.plan_ms", "ms"),
    *((f"workload.exec_ms.{q}", "ms") for q in ROSTER),
    ("workload.jobs", "count"),
    ("workload.exchanges", "count"),
    ("workload.driver_gap_ms", "ms"),
    ("workload.python_bytes", "bytes"),
    ("catalog.load_ms", "ms"),
    ("spark.executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "ms"),
    ("spark.tasks", "count"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("trace.overhead", "ratio"),
    ("trace.self_time_violations", "count"),
)
