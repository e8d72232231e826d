"""Names and units of the metrics a run prints last.  Kept free of
Spark and package imports, so BENCHMARK.json can be checked against it
anywhere."""

#: the catalog entries the catalog_operators workload runs, each pass
CATALOG_ENTRIES = (
    "q5_nation_revenue",
    "text_repetition_signals",
    "multimodal_real_decode",
)

#: printed by untraced runs
END_TO_END = {"setup_s": "s", "op_p50_ms": "ms"}

#: printed by traced runs; a layer a workload does not run reads 0
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.jvm_rss_peak_mb": "MB",
    "session.py_rss_peak_mb": "MB",
    "registry.ingest_values_df_s": "s",
    "registry.log_bytes_written": "bytes",
    "serving.online_hit_ms": "ms",
    "serving.online_miss_ms": "ms",
    "serving.lru_hit_ratio": "ratio",
    "serving.lru_lookups": "count",
    "serving.jobs_per_miss": "count",
    "serving.py4j_per_miss": "count",
    "serving.write_features_ms": "ms",
    "serving.read_your_write_ms": "ms",
    "serving.jobs_per_read_your_write": "count",
    "stores.merge_s": "s",
    "stores.merge_jobs": "count",
    "stores.merge_bytes_written": "bytes",
    "stores.merge_files_written": "count",
    "stores.live_bytes": "bytes",
    "caching.storage_bytes": "bytes",
    **{
        f"queries.{entry}.{m}": unit
        for entry in CATALOG_ENTRIES
        for m, unit in (
            ("build_s", "s"),
            ("plan_s", "s"),
            ("exec_s", "s"),
            ("py4j_cmds", "count"),
            ("jobs", "count"),
            ("tasks", "count"),
            ("python_worker_start_s", "s"),
        )
    },
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.task_run_s_per_op": "s",
    "spark.task_cpu_s_per_op": "s",
    "spark.gc_s_per_op": "s",
    "spark.shuffle_write_bytes_per_op": "bytes",
    "spark.spill_bytes_per_op": "bytes",
    "spark.python_worker_start_s_per_op": "s",
    "spark.setup_python_worker_start_s": "s",
    "trace.overhead_pct": "%",
}
