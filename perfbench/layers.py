"""Per-layer metrics: unit, which end-to-end metric each should move,
and on which workload that shows. BENCHMARK.json lists the same names;
the tests keep the two in step."""

from __future__ import annotations

# name -> (unit, better, layer, end-to-end metric it should move, workloads)
PER_LAYER = {
    "session.get_spark_s": ("s", "lower", "session", "setup_s", "all"),
    "setup.warm_s": ("s", "lower", "session", "setup_s", "all"),
    "session.persistent_rdds_left": ("count", "lower", "session", "peak_rss_mb", "graph_iterative"),
    "operators.build_s": ("s", "lower", "operators", "job_s.p50", "graph_iterative llm_pipeline"),
    "operators.action_s": ("s", "lower", "operators", "job_s.p50", "graph_iterative llm_pipeline"),
    "catalog.load_tables_s": ("s", "lower", "catalog", "job_s.p50", "sql_analytics"),
    "catalog.load_tables_calls": ("count", "lower", "catalog", "job_s.p50", "sql_analytics"),
    "sources.read_text_lines_s": ("s", "lower", "sources", "pass_s", "mr_jobs"),
    "sources.write_sink_s": ("s", "lower", "sources", "pass_s", "mr_jobs"),
    "mapreduce.queue_wait_s": ("s", "lower", "mapreduce", "job_s.p50", "mr_jobs"),
    "mapreduce.submit_exec_s": ("s", "lower", "mapreduce", "pass_s", "mr_jobs"),
    "mapreduce.run_executable_job_s": ("s", "lower", "mapreduce", "pass_s", "mr_jobs"),
    "mapreduce.wrapup_s": ("s", "lower", "mapreduce", "pass_s", "mr_jobs"),
    "reference.pipeline_s": ("s", "lower", "mapreduce", "pass_s", "mr_jobs"),
    "spark.jobs": ("count", "lower", "scheduler", "job_s.p50", "graph_iterative sql_analytics"),
    "spark.stages": ("count", "lower", "scheduler", "job_s.p50", "graph_iterative sql_analytics"),
    "spark.stages_skipped": ("count", "higher", "scheduler", "job_s.p50", "graph_iterative"),
    "spark.stages_evicted": ("count", "lower", "scheduler", "none (must stay 0)", "all"),
    "spark.tasks": ("count", "lower", "scheduler", "job_s.p50", "graph_iterative sql_analytics"),
    "spark.task_attempts_failed": ("count", "lower", "scheduler", "failed_frac", "all"),
    "driver.outside_jobs_s": ("s", "lower", "scheduler", "job_s.p50", "graph_iterative sql_analytics"),
    "spark.executor_run_s": ("s", "lower", "executor", "pass_s", "sql_analytics llm_pipeline"),
    "spark.executor_cpu_s": ("s", "lower", "executor", "pass_s", "sql_analytics llm_pipeline"),
    "spark.cpu_frac": ("ratio", "higher", "executor", "pass_s", "sql_analytics llm_pipeline"),
    "spark.gc_s": ("s", "lower", "executor", "pass_s", "sql_analytics llm_pipeline"),
    "spark.input_bytes": ("bytes", "lower", "executor", "pass_s", "sql_analytics llm_pipeline"),
    "spark.output_bytes": ("bytes", "lower", "executor", "pass_s", "mr_jobs"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "spark.shuffle_read_bytes": ("bytes", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "spark.shuffle_write_s": ("s", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "spark.fetch_wait_s": ("s", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "spark.spill_mem_bytes": ("bytes", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "spark.spill_disk_bytes": ("bytes", "lower", "shuffle", "pass_s", "graph_iterative mr_jobs"),
    "cpu.driver_py_s": ("s", "lower", "process CPU", "pass_s", "graph_iterative"),
    "cpu.jvm_s": ("s", "lower", "process CPU", "pass_s", "sql_analytics"),
    "cpu.python_workers_s": ("s", "lower", "process CPU", "pass_s", "llm_pipeline"),
    "cpu.piped_exec_s": ("s", "lower", "process CPU", "pass_s", "mr_jobs"),
    "trace.pass_s": ("s", "lower", "tracing", "pass_s (minus it: tracing overhead)", "all"),
    "failed_frac": ("ratio", "lower", "checks", "failed_frac", "all"),
    "job_s.tail": ("s", "lower", "checks", "job_s.p50", "all"),
    "job_s.tail_pct": ("%", "higher", "checks", "job_s.p50", "all"),
    "job_s.samples": ("count", "higher", "checks", "job_s.p50", "all"),
}

PER_LAYER_UNITS = {name: row[0] for name, row in PER_LAYER.items()}
