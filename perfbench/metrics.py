"""Metric names and units, the single place the benchmark defines them.

``END_TO_END`` is what every untraced run reports on every workload (the
gated set in ``BENCHMARK.json``): CPU seconds per set-up round and per op
in shared slots each workload fills from its own ops, plus recall (see
README.md for why CPU and not wall time). ``NAMED`` are the user-facing
wall-clock, rate and quality metrics each workload prints by name, with
units and sample counts. ``PER_LAYER`` is what a traced run reports.
"""

WORKLOADS = ("point_topk", "batch_join_dedup", "maintain_mixed")

END_TO_END = {
    "setup_s": "s",
    "op_cpu_s": "s",
    "op2_cpu_s": "s",
    "op3_cpu_s": "s",
    "quality": "ratio",
}

# name -> (unit, workloads that report it)
NAMED = {
    "setup_s": ("s", WORKLOADS),
    "error_rate": ("ratio", WORKLOADS),
    "driver_peak_rss_mb": ("MB", WORKLOADS),
    "topk_p50_s": ("s", ("point_topk", "maintain_mixed")),
    "topk_p95_s": ("s", ("point_topk",)),
    "recall_at_10": ("ratio", ("point_topk", "batch_join_dedup", "maintain_mixed")),
    "join_queries_per_s": ("1/s", ("batch_join_dedup",)),
    "brute_join_queries_per_s": ("1/s", ("batch_join_dedup",)),
    "build_rows_per_s": ("1/s", ("maintain_mixed",)),
    "insert_p50_s": ("s", ("maintain_mixed",)),
    "delete_p50_s": ("s", ("maintain_mixed",)),
    "mixed_ops_per_s": ("1/s", ("maintain_mixed",)),
    "dedup_docs_per_s": ("1/s", ("batch_join_dedup",)),
    "dedup_recall": ("ratio", ("batch_join_dedup",)),
}

PER_LAYER = {
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.python_boot_s": "s",
    "spark.python_compute_s": "s",
    "spark.job_floor_s": "s",
    "plans.sql_self_s": "s",
    "plans.index_route_ratio": "ratio",
    "index.knn_search_s": "s",
    "index.graph_search_s": "s",
    "index.graph_searches": "count",
    "index.graph_loads": "count",
    "index.graph_cache_hit_ratio": "ratio",
    "index.candidates_per_result": "ratio",
    "index.build_s": "s",
    "index.add_batch_s": "s",
    "index.delete_batch_s": "s",
    "index.compact_s": "s",
    "index.artifact_bytes_per_vector_byte": "ratio",
    "sources.insert_self_s": "s",
    "sources.delete_self_s": "s",
    "sources.table_files": "count",
    "operators.join_s": "s",
    "pipeline.minhash_pairs_s": "s",
    "pipeline.dedup_clusters_s": "s",
    "pipeline.dedup_clusters_jobs": "count",
    "pipeline.dedup_keep_s": "s",
}
