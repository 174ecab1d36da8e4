"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what a cluster deployment would set per
executor: shuffle partitions ≈ cores, AQE on (runtime coalesce + skew
join), Arrow batches sized down because transcript rows carry whole
HTML payloads (SURVEY.md §4 — default 10k rows/batch risks OOM at
p95 article sizes).
"""
from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "newspaper-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow handoff tuning (measured on the extraction stage): big
        # row cap amortizes JVM⇄Python transfers; the byte cap is the
        # real guard for fat HTML rows (worst-case pages can't blow up
        # worker memory)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        # wide aggregates (simhash's 64 bit-vote sums, minhash's K
        # minima) exceed the default 100-field codegen cutoff and fall
        # back to interpreted mode; raising it keeps them fused
        # (measured ~20% on simhash_near_dups, interleaved medians)
        .config("spark.sql.codegen.maxFields", "256")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # throughput-oriented collector: the extraction pipeline allocates
        # short-lived Arrow/row buffers at a high rate across many task
        # threads; ParallelGC measured ~10% over the default G1 on the
        # 32-core extraction stage (interleaved A/B in BENCH.md), and
        # never worse at 8 cores. Only takes effect when this session
        # launches the JVM (always true for the pinned bench
        # subprocesses).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
