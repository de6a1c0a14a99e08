"""SparkSession factory tuned for the log-pipeline workload.

Scale notes (100 TB / 1000-executor design, tested on local[32]):
  * AQE on: runtime coalescing + skew-join splitting replace the
    reference's hand-built shard/queue balancing
    (core/pipeline/queue/ProcessQueueManager.cpp).
  * Arrow on: every pandas UDF moves data as Arrow record batches —
    the Spark analog of the reference's zero-copy SourceBuffer arena
    (core/models/LogEvent.h:82).
  * shuffle.partitions sized by the caller; at cluster scale set to
    ~2-3x total cores, here default 32 for local[32].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ilogtail_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[32]")
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet sinks compress like the reference's lz4/zstd sender
        # (core/plugin/flusher/sls/FlusherSLS.h mCompressor)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        # List files on the driver. Past this many paths (default 32),
        # InMemoryFileIndex lists them in a Spark job of one task per path.
        # A stream micro-batch hands it the files its source already
        # listed, so a batch of more than 32 new files paid a second job
        # just to stat them again. Each of those paths is a file, so a
        # listing task is one getFileStatus, which the driver does faster
        # than a job can be scheduled. The scale path is untouched: Iceberg
        # scans plan from manifests, not from InMemoryFileIndex.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "1000000")
        # Generated classes kept per JVM (static; the default is 100). One
        # registry_mix pass (14 queries) needs 307: 291 on the cold pass
        # plus 16 AQE plan variants seen on the next, measured on 4 cores.
        # With 100, LRU eviction recompiled about 310 classes on every warm
        # pass; 1000 holds a pass together with the flagship's and the
        # stream runner's classes (under 100 each).
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
