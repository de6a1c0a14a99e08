"""Generator determinism/skew + Structured Streaming batch-parity."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.gen import HOT_EVERY, gen_transcripts
from ilogtail_spark.plans.pipeline import FLAGSHIP_SPEC, build_pipeline
from ilogtail_spark.streaming.stream import run_stream_pipeline, stream_transcripts

STREAM_DIR = "/tmp/ilogtail_spark_stream_in"
STREAM_OUT = "/tmp/ilogtail_spark_stream_out"


class TestGen:
    def test_deterministic(self, spark):
        a = sorted(map(str, gen_transcripts(spark, 50).collect()))
        b = sorted(map(str, gen_transcripts(spark, 50).collect()))
        assert a == b

    def test_schema_matches_input_hint(self, spark):
        g = gen_transcripts(spark, 10)
        assert [f.name for f in g.schema.fields] == [
            "conv_id", "turn_idx", "role", "text", "tool", "ts",
        ]

    def test_hot_conv_skew(self, spark):
        g = gen_transcripts(spark, 200)
        sizes = {r["conv_id"]: r["n"] for r in
                 g.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n")).collect()}
        hot = sizes[f"conv-{0:08d}"]
        cold = sizes[f"conv-{1:08d}"]
        assert hot >= 40 * cold  # 50x base turns
        assert len(sizes) == 200

    def test_turn_idx_dense(self, spark):
        g = gen_transcripts(spark, 20)
        bad = (
            g.groupBy("conv_id")
            .agg(F.max("turn_idx").alias("mx"), F.count(F.lit(1)).alias("n"))
            .filter(F.col("mx") != F.col("n") - 1)
            .count()
        )
        assert bad == 0


class TestStreaming:
    def test_windowed_watermark_counts(self, spark):
        import shutil as _sh

        from ilogtail_spark.streaming.stream import windowed_route_counts

        in_dir = "/tmp/ilogtail_spark_wm_in"
        ck = "/tmp/ilogtail_spark_wm_ck"
        _sh.rmtree(in_dir, ignore_errors=True)
        _sh.rmtree(ck, ignore_errors=True)
        t = gen_transcripts(spark, 30)
        t.coalesce(2).write.parquet(in_dir)

        src = stream_transcripts(spark, in_dir)
        agg = windowed_route_counts(src, FLAGSHIP_SPEC, window_duration="1 hour",
                                    watermark="1 minute")
        q = (
            agg.writeStream.format("memory").queryName("wm_out")
            .option("checkpointLocation", ck)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
        got = spark.sql("select * from wm_out").collect()
        # append mode emits only watermark-finalized windows: every
        # emitted window must be complete and counts must match batch
        exp = (
            build_pipeline(spark.read.parquet(in_dir), FLAGSHIP_SPEC)
            .groupBy(F.window("ts", "1 hour").alias("win"), F.col("route"))
            .count()
            .collect()
        )
        exp_map = {(r["win"]["start"], r["route"]): r["count"] for r in exp}
        assert len(got) > 0
        for r in got:
            assert exp_map[(r["window_start"], r["route"])] == r["log_count"]

    def test_stream_equals_batch(self, spark, max_partition_bytes):
        shutil.rmtree(STREAM_DIR, ignore_errors=True)
        shutil.rmtree(STREAM_OUT, ignore_errors=True)
        t = gen_transcripts(spark, 40)
        t.repartition(6).write.parquet(STREAM_DIR)
        # several files and a wave of about a third of them, so
        # availableNow processes multiple micro-batches
        total = sum(
            os.path.getsize(os.path.join(STREAM_DIR, f))
            for f in os.listdir(STREAM_DIR) if f.endswith(".parquet")
        )
        max_partition_bytes(total // (3 * spark.sparkContext.defaultParallelism))

        run_stream_pipeline(spark, stream_transcripts(spark, STREAM_DIR), FLAGSHIP_SPEC, STREAM_OUT)

        routed = spark.read.parquet(f"{STREAM_OUT}/routed")
        assert routed.select("batch_id").distinct().count() >= 2
        got = routed.groupBy("route").agg(F.count(F.lit(1)).alias("n"))
        exp = (
            build_pipeline(spark.read.parquet(STREAM_DIR), FLAGSHIP_SPEC)
            .groupBy("route").agg(F.count(F.lit(1)).alias("n"))
        )
        assert {(r["route"], r["n"]) for r in got.collect()} == {
            (r["route"], r["n"]) for r in exp.collect()
        }

    def test_tail_resumes_from_offsets(self, spark):
        """input_file tail semantics (core/plugin/input/InputFile.h:45,
        file-offset checkpoints): files arriving AFTER a run are picked up
        by the next run from the streaming checkpoint, without
        re-processing (or duplicating) the already-committed files."""
        in_dir = "/tmp/ilogtail_spark_tail_in"
        out_dir = "/tmp/ilogtail_spark_tail_out"
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        t = gen_transcripts(spark, 30)
        first, second = t.filter("turn_idx % 2 = 0"), t.filter("turn_idx % 2 = 1")
        first.coalesce(2).write.parquet(in_dir)

        run_stream_pipeline(spark, stream_transcripts(spark, in_dir), FLAGSHIP_SPEC, out_dir)
        n1 = spark.read.parquet(f"{out_dir}/routed").count()

        second.coalesce(2).write.mode("append").parquet(in_dir)  # new files arrive
        run_stream_pipeline(spark, stream_transcripts(spark, in_dir), FLAGSHIP_SPEC, out_dir)
        n2 = spark.read.parquet(f"{out_dir}/routed").count()

        total = build_pipeline(spark.read.parquet(in_dir), FLAGSHIP_SPEC).count()
        assert n1 == first.count() and n2 == total  # no loss, no duplication

    def test_replay_is_idempotent(self, spark):
        """A replayed micro-batch must not duplicate rows: the sink writes
        under batch_id partitions with dynamic overwrite, so re-processing
        the same input from a wiped checkpoint (batch ids restart at 0 and
        re-cover the same files) overwrites rather than appends."""
        in_dir = "/tmp/ilogtail_spark_replay_in"
        out_dir = "/tmp/ilogtail_spark_replay_out"
        shutil.rmtree(in_dir, ignore_errors=True)
        shutil.rmtree(out_dir, ignore_errors=True)
        t = gen_transcripts(spark, 30)
        t.repartition(4).write.parquet(in_dir)

        run_stream_pipeline(spark, stream_transcripts(spark, in_dir), FLAGSHIP_SPEC, out_dir)
        n1 = spark.read.parquet(f"{out_dir}/routed").count()
        # simulate a replay after checkpoint loss — the worst case for an
        # append sink (every batch re-delivered)
        shutil.rmtree(f"{out_dir}/_stream_ckpt")
        run_stream_pipeline(spark, stream_transcripts(spark, in_dir), FLAGSHIP_SPEC, out_dir)
        n2 = spark.read.parquet(f"{out_dir}/routed").count()
        assert n1 == n2 > 0

    def test_drain_past_timeout_raises(self, spark, tmp_path):
        gen_transcripts(spark, 10).write.parquet(str(tmp_path / "in"))
        with pytest.raises(TimeoutError):
            run_stream_pipeline(spark, stream_transcripts(spark, str(tmp_path / "in")),
                                FLAGSHIP_SPEC, str(tmp_path / "out"), timeout_sec=0.001)
