"""Checkpoint table — idempotent resume + lineage/metrics bookkeeping.

Reimplements the *semantics* of the reference's checkpoint layers:
  * Go: leveldb checkpoint manager (pluginmanager/checkpoint_manager.go:40-52)
    and FlushOutStore for unflushed groups on shutdown
    (pluginmanager/flusher_out_store.go);
  * C++: exactly-once RangeCheckpoint (core/checkpoint/RangeCheckpoint.h:26)
    and AdhocJobCheckpoint for one-shot imports
    (core/checkpoint/AdhocJobCheckpoint.cpp).

Spark-first shape: a tiny append-only parquet table of commit records
(run_id, stage, payload, commit marker). A stage re-run first consults
the table; already-committed stages are skipped, so the whole pipeline is
resumable from the last committed write — the sandbox stand-in for an
Iceberg snapshot id per commit (on a real cluster this table IS an
Iceberg table and `payload` carries the snapshot id).

The table is driver-written (a few rows per run), never on the data path.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import DataFrame, SparkSession

from ilogtail_spark.exprutil import literal_frame

# commit_seq: parquet collect order follows FILE LISTING, not append
# time — with one parquet file per commit, "the last row" is otherwise
# arbitrary. Every commit stamps a monotonic sequence and `payload`
# returns the record with the highest one (re-commits with updated
# payloads — index compaction generations — depend on this). Tables
# written before the column existed read as NULL and sort oldest.
_SCHEMA = "run_id string, stage string, payload string, committed boolean, commit_seq long"


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _read(self) -> DataFrame | None:
        """The table, or None when nothing was ever committed to it. The
        existence test asks the Hadoop FileSystem (no Spark job), and every
        other failure — a bad scheme, an unreadable table — raises: read
        as "never committed", it would let a run overwrite committed sinks."""
        sc = self.spark.sparkContext
        path = sc._jvm.org.apache.hadoop.fs.Path(self.path)
        if not path.getFileSystem(sc._jsc.hadoopConfiguration()).exists(path):
            return None
        return self.spark.read.schema(_SCHEMA).parquet(self.path)

    def is_committed(self, run_id: str, stage: str) -> bool:
        return self.payload(run_id, stage) is not None

    def commit(self, run_id: str, stage: str, payload: dict | None = None) -> None:
        row = (run_id, stage, json.dumps(payload or {}, sort_keys=True), True, time.time_ns())
        literal_frame(self.spark, [row], _SCHEMA).write.mode("append").parquet(self.path)

    def payload(self, run_id: str, stage: str) -> dict | None:
        df = self._read()
        if df is None:
            return None
        mine = df.filter((df.run_id == run_id) & (df.stage == stage) & df.committed)
        rows = mine.select("commit_seq", "payload").collect()
        # a run's few commits are ordered here: a Spark sort costs two jobs
        return json.loads(max(rows, key=lambda r: r[0] or -1)[1]) if rows else None
