"""spark-submit entry point.

Cluster usage (the north-rule deployment shape):

    zip -r ilogtail_spark.zip ilogtail_spark/
    spark-submit --py-files ilogtail_spark.zip \
        --master <cluster> --num-executors N \
        -m ilogtail_spark.plans.submit \
        --input <transcript table/path> --out <sink base> \
        --run-id run-2024-01-01 [--spec spec.json] [--shard-keys conv_id]

Local sandbox equivalent:

    python -m ilogtail_spark.plans.submit --input /tmp/...parquet --out /tmp/out

The job is idempotent per --run-id: a re-submit after failure skips
stages already committed in the checkpoint log (plans/checkpoint.py),
which is the cluster-restart story the reference implements with
FlushOutStore + leveldb checkpoints (pluginmanager/flusher_out_store.go,
checkpoint_manager.go:40-52).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description="ilogtail_spark pipeline job")
    p.add_argument("--input", required=True, help="transcript parquet/iceberg path")
    p.add_argument("--out", required=True, help="output base dir (sinks + checkpoint)")
    p.add_argument("--run-id", default="run-0")
    p.add_argument("--spec", help="pipeline spec JSON file (default: flagship)")
    p.add_argument("--shard-keys", nargs="*", default=None,
                   help="aggregator_shardhash-style pre-write shard keys")
    p.add_argument("--shard-count", type=int, default=32)
    p.add_argument("--master", default=None, help="override master (local dev)")
    p.add_argument("--streaming", action="store_true",
                   help="run as Structured Streaming (availableNow)")
    args = p.parse_args(argv)
    if args.streaming and args.shard_keys is not None:
        p.error("--shard-keys shards a batch write; --streaming does not take it")

    from ilogtail_spark.plans.pipeline import FLAGSHIP_SPEC, run_pipeline
    from ilogtail_spark.session import get_spark

    spec = FLAGSHIP_SPEC
    if args.spec:
        with open(args.spec) as f:
            spec = json.load(f)

    spark = get_spark(app_name=f"ilogtail_spark:{args.run_id}", master=args.master)

    if args.streaming:
        from ilogtail_spark.streaming.stream import run_stream_pipeline, stream_transcripts

        run_stream_pipeline(spark, stream_transcripts(spark, args.input), spec, args.out)
        print(json.dumps({"run_id": args.run_id, "mode": "streaming", "out": args.out}))
    else:
        df = spark.read.parquet(args.input)
        counts = run_pipeline(
            spark, df, spec, args.out, run_id=args.run_id,
            shard_keys=args.shard_keys, shard_count=args.shard_count,
        )
        print(json.dumps({"run_id": args.run_id, "sink_counts": counts}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
