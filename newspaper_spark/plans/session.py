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

from .. import jvm


def get_spark(
    app_name: str = "newspaper-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        # unset: the cores this process may run on (its affinity mask)
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
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
    # Python workers fork from a daemon that first drops the Spark
    # archives the installed pyspark/py4j duplicate: pyspark's per-task
    # importlib.invalidate_caches() otherwise re-reads their zip
    # directories, and task launch to a no-op UDF's first call took
    # 159–312 ms instead of 73–89 ms (4-core host, BENCH.md "Python
    # worker fixed cost per task"). The daemon lives in this package,
    # so the workers get its parent on their path whatever the driver's
    # working directory (extra_conf may still set another path).
    package_parent = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    builder = builder.config(
        "spark.python.daemon.module", "newspaper_spark.worker_daemon"
    ).config("spark.executorEnv.PYTHONPATH", package_parent)
    # Without the native Hadoop library the stock local filesystem forks
    # `chmod` for every file and directory a write creates: 107 forks per
    # job_resume pass, and writing 800 rows from 4 tasks into 8 buckets
    # (106 forks) took 0.99–1.04 s instead of 0.57–0.62 s (4-core host,
    # BENCH.md "Hadoop local-FS chmod per created path"). jvm.py's
    # filesystem makes the same chmod(2) call in-process.
    conf = jvm.local_fs_conf()
    for k, v in (extra_conf or {}).items():
        if k == "spark.driver.extraClassPath" and k in conf:
            v = conf[k] + os.pathsep + v  # the filesystem class stays loadable
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
