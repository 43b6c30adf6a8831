"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]``; the config choices here are the ones
that matter on a real multi-executor cluster too (AQE, dynamic partition
overwrite, Arrow, UTC session time zone so timestamp semantics match the
reference's timestamptz-in-UTC model — SURVEY §1.2). A take (``limit(n)
.collect()``, ``first()``, ``isEmpty()``) scans ``cpus`` partitions in
its first attempt (``spark.sql.limit.initialNumPartitions``), so a
capped collect that returns fewer rows than its cap finishes in one job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "webhookdb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    commit_heap: bool = False,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # Local default: one shuffle partition per core. On a real cluster
        # this is sized to keep post-shuffle partitions ~128-512MB; AQE
        # coalescing makes the exact number less load-bearing.
        shuffle_partitions = cpus

    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Timestamps: the reference stores timestamptz and normalizes to
        # UTC; a UTC session TZ makes Spark TimestampType behave the same.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # A take's first attempt fills one wave of task slots.
        .config("spark.sql.limit.initialNumPartitions", str(cpus))
        # AQE: runtime coalescing + skew-join handling — the 100TB story
        # for skewed webhook keys / skewed join sides.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # MERGE writes back only the hash buckets an upsert batch touches.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for the few pandas-UDF paths (canonical JSON, RRULE, ICS).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Read parquet TIMESTAMP(NANOS) (unsupported natively) as long;
        # callers convert with timestamp_micros(ns div 1000), which
        # truncates exactly like DuckDB's ns→us read.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Nothing in the engine reads _SUCCESS markers; skip writing
        # them (one driver-side FS op per write job).
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs",
            "false",
        )
    )
    # Commit the heap up front ONLY for the measurement entry points
    # (bench.py / tools pass commit_heap=True): cluster executors run
    # with fixed heaps, so a lazily-grown local heap bills the first
    # heavy queries page-fault + heap-resize stalls steady-state
    # throughput never sees (guide §1). Scoped here instead of a
    # blanket default because eagerly touching `driver_mem` of RSS at
    # EVERY session start penalizes tests/tools on small hosts (r15
    # driver ADVICE). SPARK_DRIVER_JAVA_OPTIONS still overrides both
    # ways; no-op if the JVM is already running.
    java_opts = os.environ.get("SPARK_DRIVER_JAVA_OPTIONS")
    if java_opts is None and commit_heap:
        java_opts = f"-Xms{driver_mem} -XX:+AlwaysPreTouch"
    if java_opts:
        builder = builder.config("spark.driver.extraJavaOptions", java_opts)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
