"""The benchmark's metric catalogue: name -> unit. ``BENCHMARK.json``
lists the same names; a layer a workload does not run reports 0."""

END_TO_END = {
    "setup_s": "s",
    "jvm_peak_rss_mb": "MiB",
    "spark_jobs": "count",
    "spark_stages": "count",
    "shuffle_write_mb": "MiB",
}

PER_LAYER = {
    "sources.load_s": "s",
    **{f"stats.{k}": u for k, u in (
        ("build_s", "s"), ("exec_s", "s"), ("jobs", "count"), ("stages", "count"),
        ("shuffle_write_bytes", "B"), ("executor_run_ms", "ms"))},
    **{f"violations.{k}": u for k, u in (
        ("audit_s", "s"), ("build_s", "s"), ("eager_jobs", "count"), ("exec_s", "s"),
        ("jobs", "count"), ("stages", "count"), ("shuffle_write_bytes", "B"),
        ("executor_run_ms", "ms"), ("spill_bytes", "B"), ("task_skew", "ratio"),
        ("rows_out", "rows/Mturn"))},
    **{f"ordered.{k}": u for k, u in (
        ("exec_s", "s"), ("jobs", "count"), ("stages", "count"), ("executor_run_ms", "ms"))},
    "verdict.exec_s": "s",
    "verdict.jobs": "count",
    "checkpoint.record_s": "s",
    "checkpoint.resume_s": "s",
    **{f"streaming.{k}": "ms" for k in (
        "add_batch_ms", "query_planning_ms", "wal_commit_ms", "commit_offsets_ms")},
    "streaming.batch_build_s": "s",
    "spark.jobs": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.slot_busy_frac": "ratio",
    "trace.wall_s": "s",
    "trace.pass_cpu_s": "s",
    "jvm.pass_jit_s": "s",
}
