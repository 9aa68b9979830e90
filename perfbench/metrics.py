"""The benchmark's metric names, units and directions.

``BENCHMARK.json`` at the repository root lists the same names; the
self-test checks that the two agree. End-to-end metrics are produced by
every workload with tracing off. Per-layer metrics come from traced
runs; a metric a workload does not exercise reads 0 on that workload.
"""

from __future__ import annotations

# name -> (unit, better)
END_TO_END = {
    "setup_s": ("s", "lower"),
    "ops_per_s": ("1/s", "higher"),
    "peak_rss_mb": ("MB", "lower"),
}

PIPELINE_QUERIES = (
    "q1_pricing_summary", "q5_local_supplier", "q_minhash_lsh_pairs",
    "q_semantic_dedup", "q_ann_ivf_topk", "q_kmv_ndv_sketch",
    "q_token_stats", "q_embedding_covariance",
)

LAYER_NAMES = (
    "session", "operators", "spark", "sources.read", "serde",
    "sources.write", "plans", "bench",
)

PER_LAYER = {
    # every workload
    "session.start_s": ("s", "lower"),
    "warmup_s": ("s", "lower"),
    # the untraced cycles' op_p50_ms: printed by every run, but its spread
    # between runs on a shared host is too wide for an end-to-end bound
    "op_p50_ms": ("ms", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "plans.scan_files": ("count", "lower"),
    "plans.scan_bytes": ("bytes", "lower"),
    "plans.scan_rows": ("count", "lower"),
    "plans.scan_time_ms": ("ms", "lower"),
    **{f"self_ms.{layer}": ("ms", "lower") for layer in LAYER_NAMES},
    "trace.overhead_ms": ("ms", "lower"),
    "trace.spans_per_op": ("count", "lower"),
    # pipeline_queries
    "operators.construct_ms": ("ms", "lower"),
    "spark.plan_ms": ("ms", "lower"),
    "spark.exec_ms": ("ms", "lower"),
    "plan.exchanges": ("count", "lower"),
    "plan.bhj": ("count", "lower"),
    "plan.smj": ("count", "lower"),
    "plan.py_eval": ("count", "lower"),
    **{f"operators.construct_ms.{q}": ("ms", "lower") for q in PIPELINE_QUERIES},
    **{f"spark.exec_ms.{q}": ("ms", "lower") for q in PIPELINE_QUERIES},
    # serve_scan
    "lookup_p50_ms": ("ms", "lower"),
    "lookup_tail_ms": ("ms", "lower"),
    "scan_p50_ms": ("ms", "lower"),
    "sources.read_table_ms": ("ms", "lower"),
    "sources.read_exec_ms": ("ms", "lower"),
    "sources.files_kept_ratio": ("ratio", "lower"),
    "sources.rows_kept_ratio": ("ratio", "higher"),
    "serde.serve_call_ms": ("ms", "lower"),
    "serde.serve_exec_ms": ("ms", "lower"),
    "serde.payload_bytes_per_req": ("bytes", "lower"),
    "serde.hit_ratio": ("ratio", "higher"),
    # ingest_maintain
    "commit_p50_ms": ("ms", "lower"),
    "commit_tail_ms": ("ms", "lower"),
    "write_amp": ("ratio", "lower"),
    "space_amp": ("ratio", "lower"),
    "write_amp.last_over_mid": ("ratio", "lower"),
    "space_amp.last_over_mid": ("ratio", "lower"),
    "sources.append_ms": ("ms", "lower"),
    "merge.merge_into_ms": ("ms", "lower"),
    "deletes.delete_rows_ms": ("ms", "lower"),
    "deletes.compact_deletes_ms": ("ms", "lower"),
    "compaction.compact_ms": ("ms", "lower"),
    "table.expire_ms": ("ms", "lower"),
    "sources.read_after_write_ms": ("ms", "lower"),
    "sources.bytes_written": ("bytes", "lower"),
    "sources.files_added": ("count", "lower"),
    "sources.files_removed": ("count", "lower"),
    "compaction.files_before": ("count", "lower"),
    "compaction.files_after": ("count", "lower"),
    "sources.manifest_bytes": ("bytes", "lower"),
}
