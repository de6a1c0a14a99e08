"""Checkpoint commit log — idempotent resume + lineage/metrics bookkeeping.

Reimplements the *semantics* of the reference's checkpoint layers:
  * Go: leveldb checkpoint manager (pluginmanager/checkpoint_manager.go:40-52)
    and FlushOutStore for unflushed groups on shutdown
    (pluginmanager/flusher_out_store.go);
  * C++: exactly-once RangeCheckpoint (core/checkpoint/RangeCheckpoint.h:26)
    and AdhocJobCheckpoint for one-shot imports
    (core/checkpoint/AdhocJobCheckpoint.cpp).

Shape: the commit protocol of Structured Streaming's offset and commit
logs. Each commit is one file `<path>/<seq:020d>.json` holding
`{"run_id", "stage", "payload"}`, created by the driver the way Spark's
`CheckpointFileManager.createAtomic` creates one (a hidden temp file
renamed into place without overwriting), so two writers of one sequence
number cannot both commit: the second raises and removes its temp file.
The sequence number is the file name; a read lists the directory and
takes the newest matching entry. A stage
re-run first consults the log; already-committed stages are skipped, so
the whole pipeline is resumable from the last committed write.

Committing and reading start no Spark job. Tables written before the log
(append-only parquet rows) still resume: when no log entry matches and
the directory holds parquet part files, those are read, never written.
"""

from __future__ import annotations

import json
import re
import uuid
from functools import cached_property

from pyspark.sql import SparkSession

_ENTRY = re.compile(r"\d{20}\.json")
# the parquet commit rows written before the log; commit_seq orders a
# run's re-commits and reads NULL (oldest) in tables that predate it
_SCHEMA = "run_id string, stage string, payload string, committed boolean, commit_seq long"


class CheckpointTable:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    @cached_property
    def _root(self):
        return self.spark._jvm.org.apache.hadoop.fs.Path(self.path)

    @cached_property
    def _fm(self):
        jvm = self.spark._jvm
        return jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            self._root, self.spark._jsc.hadoopConfiguration())

    def _file(self, name: str):
        return self.spark._jvm.org.apache.hadoop.fs.Path(self._root, name)

    def _names(self) -> list[str] | None:
        """File names in the directory, or None when nothing was ever
        committed to it. Every other failure — a bad scheme, an unreadable
        directory — raises: read as "never committed", it would let a run
        overwrite committed sinks."""
        if not self._fm.exists(self._root):
            return None
        return [s.getPath().getName() for s in self._fm.list(self._root)]

    def is_committed(self, run_id: str, stage: str) -> bool:
        return self.payload(run_id, stage) is not None

    def commit(self, run_id: str, stage: str, payload: dict | None = None) -> None:
        names = self._names()
        if names is None:
            self._fm.mkdirs(self._root)
        seq = max((int(n[:20]) for n in names or () if _ENTRY.fullmatch(n)), default=-1) + 1
        entry = {"run_id": run_id, "stage": stage, "payload": payload or {}}
        # createAtomic's protocol with a temp name of our own: its stream
        # keeps the temp file (and its .crc) when the rename loses the race
        tmp = self._file(f".{seq:020d}.json.{uuid.uuid4()}.tmp")
        out = self._fm.createTempFile(tmp)
        try:
            try:
                out.write(bytearray(json.dumps(entry, sort_keys=True).encode()))
            finally:
                out.close()
            self._fm.renameTempFile(tmp, self._file(f"{seq:020d}.json"), False)
        except BaseException:
            self._fm.delete(tmp)
            raise

    def payload(self, run_id: str, stage: str) -> dict | None:
        names = self._names()
        if names is None:
            return None
        io = self.spark._jvm.org.apache.commons.io.IOUtils
        for name in sorted(filter(_ENTRY.fullmatch, names), reverse=True):
            stream = self._fm.open(self._file(name))
            try:
                entry = json.loads(io.toString(stream, "UTF-8"))
            finally:
                stream.close()
            if entry["run_id"] == run_id and entry["stage"] == stage:
                return entry["payload"]
        if not any(n.endswith(".parquet") for n in names):
            return None
        df = self.spark.read.schema(_SCHEMA).parquet(f"{self.path}/*.parquet")
        mine = df.filter((df.run_id == run_id) & (df.stage == stage) & df.committed)
        rows = mine.select("commit_seq", "payload").collect()
        return json.loads(max(rows, key=lambda r: r[0] or -1)[1]) if rows else None
