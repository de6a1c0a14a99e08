"""Structured Streaming execution of the same pipeline DAG.

The reference's continuous mode is file tailing with checkpointed offsets
(core/plugin/input/InputFile.h:45, file_server/): new bytes appear → the
fixed pipeline processes them → flushers emit. The Spark-first
equivalent: a file-source `readStream` over the transcript directory,
the SAME stage functions (they're engine-agnostic DataFrame transforms),
and a `foreachBatch` multi-sink write with a streaming checkpoint —
offsets-in-checkpoint replaces the reference's per-file offset store, and
`Trigger.AvailableNow` replaces its one-shot historical import
(core/plugin/input/InputStaticFile.cpp).

At cluster scale this is `readStream.format("iceberg")` over snapshot
ranges; the file source is the sandbox stand-in with identical semantics
(exactly-once per batch via the checkpoint + idempotent sink paths).
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("role", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
        T.StructField("ts", T.TimestampType()),
    ]
)


def max_bytes_per_trigger(spark: SparkSession) -> int:
    """The trigger size of every file-stream source: at most one full wave
    of max-size splits, `spark.sql.files.maxPartitionBytes` × the default
    parallelism. This is the backpressure bound, the analog of the
    reference's bounded process queues
    (core/pipeline/queue/BoundedProcessQueue.cpp). It caps the work a
    failed micro-batch redoes, whatever the file sizes, and lets a backlog
    of small rotated files drain in one micro-batch instead of paying the
    per-batch write and commit cost again and again. The source always
    takes at least one file, so a file larger than a wave is one batch.

    The conf prints with a unit (`134217728b`, `1k`), so it is read
    through Spark's own byte-string parser."""
    jvm = spark.sparkContext._jvm
    split = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    return split * spark.sparkContext.defaultParallelism


def stream_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a transcript parquet directory; each
    trigger reads at most :func:`max_bytes_per_trigger` bytes of new
    files."""
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxBytesPerTrigger", max_bytes_per_trigger(spark))
        .parquet(path)
    )


def windowed_route_counts(
    stream: DataFrame,
    spec: dict[str, Any],
    *,
    window_duration: str = "1 minute",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Event-time windowed per-sink counts with a watermark.

    The reference handles late data by ingestion-time batching + timeout
    flush (core/pipeline/batch/TimeoutFlushManager.cpp) and discards
    history beyond a threshold (ProcessorParseTimestampNative). The
    Spark-native upgrade: event-time windows + watermark — rows later
    than `watermark` past the max seen event time are dropped, windows
    finalize (and emit, in append mode) once the watermark passes their
    end. State is bounded by (routes × open windows).
    """
    from ilogtail_spark.plans.pipeline import build_pipeline

    return (
        build_pipeline(stream, spec)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_duration).alias("win"), F.col("route"))
        .agg(F.count(F.lit(1)).alias("log_count"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "route",
            "log_count",
        )
    )


def drain(
    df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    out_dir: str,
    timeout_sec: float,
) -> None:
    """Run `sink(batch_df, batch_id)` on every micro-batch of the stream
    `df` until the input available at start is consumed
    (`Trigger.AvailableNow`, the reference's one-shot historical import,
    core/plugin/input/InputStaticFile.cpp), with offsets checkpointed at
    `out_dir/_stream_ckpt` so a rerun picks up only new input.
    `foreachBatch` is the reference's FlusherV1.Flush extension point
    (pkg/pipeline/flusher.go:60-66). A micro-batch runs only the jobs
    `sink` runs: the source's file list is not listed again in a job of
    its own (session.py lists serially). A drain still running after
    `timeout_sec` is stopped and raises TimeoutError."""
    q = (
        df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{out_dir}/_stream_ckpt")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(f"stream did not drain within {timeout_sec} s")


def run_stream_pipeline(
    spark: SparkSession,
    stream: DataFrame,
    spec: dict[str, Any],
    out_dir: str,
    *,
    timeout_sec: float = 120,
) -> None:
    """The stream runner of every spec, a compiled YAML config's too
    (plans/config.py::run_ilogtail_config_stream): `build_pipeline`
    applied to the streaming DataFrame `stream` (e.g.
    :func:`stream_transcripts`), then :func:`drain`, each micro-batch
    written by `write_routed` under
    `out_dir/routed/batch_id=<n>/route=<route>/` in one Spark job, the
    write. Returns once the input
    available at start is drained; a rerun drains only input that arrived
    since. Raises TimeoutError after `timeout_sec`."""
    from ilogtail_spark.operators.route import write_routed
    from ilogtail_spark.plans.pipeline import build_pipeline

    drain(
        build_pipeline(stream, spec),
        lambda b, i: write_routed(b, f"{out_dir}/routed", batch_id=i),
        out_dir,
        timeout_sec,
    )
