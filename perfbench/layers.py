"""Per-layer metrics: name → (unit, which direction is better, the
end-to-end metric and workload it should move).

``LAYERS`` is what every traced run measures and prints, and what
BENCHMARK.json lists under ``per_layer``. ``TRACE_ONLY`` holds the
layers only one workload runs (``job.*`` on job_resume, ``ops.*`` on
corpus_ops) and the JVM GC time, which often reads 0 ms at these input
sizes; they go to the trace file only.
"""

_KERNEL = "wall_s, job_resume; none on corpus_ops (pages outside its timed work)"
QUERIES = ("dsir", "paragraph_dedup", "minhash_pairs")

LAYERS = {
    # plans.session
    "session.start_s": ("s", "lower", "setup_s, both"),
    # sources: input generation, DataFrame build and cache
    "sources.materialize_s": ("s", "lower", "setup_s, both"),
    # operators.extract and the other Python UDF stages, from Spark's
    # SQL and task metrics (boot: over the set-up warm-up)
    "extract.python_boot_s": ("s", "lower", "setup_s, both"),
    "extract.python_init_s": ("s", "lower", "wall_s, job_resume"),
    "extract.python_total_s": ("s", "lower", "wall_s, job_resume"),
    "extract.executor_run_s": ("s", "lower", "wall_s, job_resume"),
    "extract.executor_cpu_s": ("s", "lower", "wall_s, job_resume"),
    "extract.bytes_to_python": ("bytes", "lower", "wall_s and peak_rss_mb, job_resume"),
    "extract.bytes_from_python": ("bytes", "lower", "wall_s and peak_rss_mb, job_resume"),
    "extract.arrow_noop_s": ("s", "lower", "wall_s, job_resume"),
    "extract.task_s.p50": ("s", "lower", "wall_s, job_resume"),
    "extract.task_s.max": ("s", "lower", "wall_s, job_resume"),
    "extract.task_skew": ("ratio", "lower", "wall_s, job_resume"),
    "extract.status.ok": ("count", "higher", "failed, job_resume"),
    "extract.status.no_html": ("count", "lower", "failed, job_resume"),
    "extract.status.parse_failed": ("count", "lower", "failed, job_resume"),
    "extract.status.skipped_media": ("count", "lower", "failed, job_resume"),
    "extract.status.error": ("count", "lower", "failed, job_resume"),
    # every stage of the timed passes
    "spark.tasks": ("count", "lower", "wall_s, both"),
    "spark.executor_run_s": ("s", "lower", "wall_s, both"),
    "spark.shuffle_write_bytes": ("bytes", "lower", "wall_s and peak_rss_mb, both"),
    # dom and kernel.*: the traced in-process kernel pass
    "dom.fromstring_s": ("s", "lower", _KERNEL),
    "dom.fromstring_s.p50": ("s", "lower", _KERNEL),
    "dom.fromstring_s.p99": ("s", "lower", _KERNEL),
    "dom.nodes_per_page": ("count", "lower", _KERNEL),
    "kernel.metadata_s": ("s", "lower", _KERNEL),
    "kernel.cleaner_s": ("s", "lower", _KERNEL),
    "kernel.scorer.best_node_s": ("s", "lower", _KERNEL),
    "kernel.scorer.post_cleanup_s": ("s", "lower", _KERNEL),
    "kernel.scorer.candidates": ("count", "lower", _KERNEL),
    "kernel.formatter_s": ("s", "lower", _KERNEL),
    "kernel.text.stopword_calls": ("count", "lower", _KERNEL),
    "kernel.text.stopword_hit_ratio": ("ratio", "higher", _KERNEL),
    "kernel.article_s": ("s", "lower", _KERNEL),
    "kernel.article_s.p50": ("s", "lower", _KERNEL),
    "kernel.article_s.p99": ("s", "lower", _KERNEL),
    "kernel.article.self_s": ("s", "lower", _KERNEL),
    # the cost of tracing
    "trace.wall_s": ("s", "lower", "none: compare with the untraced run's wall_s"),
    "trace.kernel_overhead": ("ratio", "lower", "none: traced over untraced kernel pass time"),
}

TRACE_ONLY = {
    "extract.jvm_gc_s": ("s", "lower", "wall_s and peak_rss_mb, job_resume"),
    "job.group_s.p50": ("s", "lower", "wall_s and resume_s, job_resume"),
    "job.group_s.max": ("s", "lower", "wall_s and resume_s, job_resume"),
    "job.write_s": ("s", "lower", "wall_s, job_resume"),
    "job.bucket_stats_s": ("s", "lower", "wall_s and resume_s, job_resume"),
    "job.manifest_s": ("s", "lower", "wall_s, job_resume"),
    "job.audit_s": ("s", "lower", "none: runs in the untimed check"),
    "job.shuffle_write_bytes": ("bytes", "lower", "wall_s, job_resume"),
    "job.output_bytes": ("bytes", "lower", "wall_s, job_resume"),
    "job.resume_skipped_buckets": ("count", "higher", "resume_s, job_resume"),
    "job.resume_s": ("s", "lower", "resume_s, job_resume"),
    **{
        f"ops.{q}.{m}": (u, "lower", "wall_s and peak_rss_mb, corpus_ops")
        for q in QUERIES
        for m, u in (("s", "s"), ("shuffle_bytes", "bytes"), ("spill_bytes", "bytes"),
                     ("tasks", "count"))
    },
}

PER_LAYER = {name: unit for name, (unit, _better, _moves) in LAYERS.items()}
