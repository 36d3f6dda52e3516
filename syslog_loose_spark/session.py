"""SparkSession factory with the pipeline's canonical configuration.

Pinned UTC session timezone (timestamps are stored as UTC instants +
explicit tz_offset_seconds), Arrow enabled for the single Python boundary,
AQE on (route.py's REBALANCE hint needs it to split and coalesce the
fan-out write's partitions).  The parquet codec is left at the session
default: route.py sets zstd on the routed sink write alone.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "syslog-loose-spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None,
              local_dir: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """``local_dir``: override spark.local.dir (shuffle/spill scratch).
    Benchmarks point it at tmpfs — on a real cluster every executor has
    its own local disks, so a single box's shared-disk bottleneck is a
    measurement artifact, not an engine property."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (
            os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~30k-row Arrow batches measured ~10% faster than 10k on the
        # parse stage (fewer batch boundaries) without inflating
        # Python-side peak memory; 60k regresses (SURVEY §4.4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "30000")
        # dynamic-partition writes keep up to this many writers open per
        # task instead of sorting every (fat, token-carrying) row first —
        # the sort dominates fan-out cost otherwise.  128 covers the
        # REBALANCE write path, where one coalesced task may hold rows of
        # many small (sink,source,severity) directories at once
        .config("spark.sql.maxConcurrentOutputFileWriters", "128")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # throughput GC for the batch-shaped local JVM: at 24 concurrent
        # fat-row tasks ParallelGC measured ~6% less CPU and ~5% less
        # wall than the G1 default on the e2e fan-out (interleaved A/B);
        # a bigger heap (20g) was WORSE than 8g under both collectors
        # (locality), so the heap stays deliberately small.
        # PYTHON-LAUNCH ONLY: under spark-submit the driver JVM already
        # exists, so this conf is silently ignored — the e2e recipe
        # passes --driver-java-options -XX:+UseParallelGC on the CLI
        # (.claude/skills/verify/SKILL.md), same class as --driver-memory
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        .config("spark.ui.enabled", "false")
    )
    if local_dir is not None:
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
