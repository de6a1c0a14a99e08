"""Corpus-snapshot state: durable write/reload for the write-time
artifact family, so an incremental-curation pipeline is resumable
across sessions — the Spark shape of the reference's
checkpoint-on-disk discipline (Go leveldb checkpoint manager,
pluginmanager/checkpoint_manager.go:52; C++ exactly-once
RangeCheckpoint, core/checkpoint/RangeCheckpoint.h:26), applied to
CORPUS state rather than read offsets.

The artifacts and their on-disk shapes:

  * dedup index (`functions.dedup.dedup_index`) — the distinct-md5 and
    distinct-(band, bucket) relations, written as parquet tables
    BUCKETED on their join keys. A later batch's `incremental_dedup`
    probe then equi-joins the index WITHOUT re-shuffling it: the
    bucketed scan already satisfies the join's required distribution,
    so only the O(batch) side exchanges (pinned by
    tests/test_snapshot.py::test_bucketed_probe_no_index_shuffle).
  * IVF centroids (`functions.similarity.train_centroids`) — k×dim
    floats, stored as JSON in the commit record (parameter-bounded:
    256×1024 float64 ≈ 2 MB worst case, driver-side by design).
  * BM25 corpus stats (`functions.retrieval.bm25_corpus_stats`) — the
    {n_docs, avgdl, df} dict, stored as JSON in the commit record, so
    `bm25_topk(stats=...)` / prestats plan literals survive a restart.
  * Bloom bitmap (`functions.dedup.bloom_bitmap`) — ≤ ceil(n_bits/64)
    rows of (word, bits) parquet plus its (n, n_bits, n_hashes) build
    parameters; `bloom_contamination(bitmap=...)` probes the reload.

Every write ends with a `CheckpointTable` commit — one driver-written
JSON entry in the `_commits` log, no Spark job — carrying the
artifact's location/parameters; loaders REFUSE uncommitted state (a
torn write is invisible, exactly-once semantics per stage). Loaders
also re-register the bucketed tables in the session catalog from the
payload when missing: a brand-new session (fresh in-memory catalog)
recovers the full bucketing metadata from the commit record alone —
nothing depends on catalog persistence.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession

from ilogtail_spark.plans.checkpoint import CheckpointTable


def _ddl(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


class CorpusSnapshot:
    """One snapshot directory = one corpus revision's write-time state.

    All table names are derived from the path (catalog-unique), all
    data lives under ``path`` (external tables — dropping the catalog
    entry never deletes data), and the `_commits` commit log is
    the source of truth for what exists.
    """

    def __init__(self, spark: SparkSession, path: str, *, buckets: int = 8):
        self.spark = spark
        self.path = path.rstrip("/")
        self.buckets = buckets
        self.ckpt = CheckpointTable(spark, self.path + "/_commits")
        self._prefix = (
            "snap_" + hashlib.md5(self.path.encode()).hexdigest()[:12]
        )

    # -- bucketed-table plumbing -------------------------------------

    def _table(self, snapshot_id: str, part: str) -> str:
        return f"{self._prefix}_{snapshot_id}_{part}"

    def _write_bucketed(
        self, df: DataFrame, snapshot_id: str, part: str, keys: list[str]
    ) -> dict:
        name = self._table(snapshot_id, part)
        location = f"{self.path}/{snapshot_id}/{part}"
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.format("parquet")
            .option("path", location)
            .bucketBy(self.buckets, *keys)
            .sortBy(*keys)
            .mode("overwrite")
            .saveAsTable(name)
        )
        return {
            "table": name,
            "location": location,
            "ddl": _ddl(df),
            "keys": keys,
            "buckets": self.buckets,
        }

    def _load_bucketed(self, meta: dict) -> DataFrame:
        name, keys = meta["table"], meta["keys"]
        if not self.spark.catalog.tableExists(name):
            # fresh session / fresh catalog: re-register the EXTERNAL
            # bucketed table from the commit payload. The CLUSTERED BY
            # spec must match what was written — bucket file names
            # carry the bucket id, and the catalog entry is what tells
            # the planner the scan is already hash-distributed.
            self.spark.sql(
                f"CREATE TABLE {name} ({meta['ddl']}) USING PARQUET "
                f"CLUSTERED BY ({', '.join(keys)}) "
                f"SORTED BY ({', '.join(keys)}) "
                f"INTO {meta['buckets']} BUCKETS "
                f"LOCATION '{meta['location']}'"
            )
        return self.spark.table(name)

    def _require(self, snapshot_id: str, stage: str) -> dict:
        payload = self.ckpt.payload(snapshot_id, stage)
        if payload is None:
            raise ValueError(
                f"snapshot {snapshot_id!r} has no committed {stage!r} state "
                f"at {self.path} (torn or missing write)"
            )
        return payload

    # -- dedup index ---------------------------------------------------

    def write_dedup_index(
        self,
        exact: DataFrame,
        band_members: DataFrame,
        *,
        snapshot_id: str = "latest",
        params: dict | None = None,
    ) -> None:
        """Persist a `dedup_index` pair. `params` should carry the
        (n, num_hashes, bands) used to build it — `incremental_dedup`
        probes are only valid with the same shingle/hash family."""
        meta = {
            "exact": self._write_bucketed(exact, snapshot_id, "exact", ["h"]),
            "bands": self._write_bucketed(
                band_members, snapshot_id, "bands", ["band", "bucket"]
            ),
            "params": params or {},
        }
        self.ckpt.commit(snapshot_id, "dedup_index", meta)

    def load_dedup_index(
        self, *, snapshot_id: str = "latest"
    ) -> tuple[DataFrame, DataFrame, dict]:
        meta = self._require(snapshot_id, "dedup_index")
        return (
            self._load_bucketed(meta["exact"]),
            self._load_bucketed(meta["bands"]),
            meta["params"],
        )

    def append_dedup_index(
        self,
        exact_delta: DataFrame,
        band_delta: DataFrame,
        *,
        snapshot_id: str = "latest",
    ) -> None:
        """Fold a batch's index delta (e.g. `dedup_index` over newly
        accepted documents — the durable form of
        `functions.dedup.extend_dedup_index`) into the persisted index:
        a bucketed APPEND, new files only, no re-shuffle of the
        accumulated index — O(batch) per generation, which is what
        keeps continuous ingestion viable at corpus scale. Duplicate
        rows across generations are harmless: the probe joins are
        membership tests (see extend_dedup_index). A fresh commit
        marker is written so a crash mid-append leaves the previous
        commit's state loadable."""
        meta = self._require(snapshot_id, "dedup_index")
        for delta, part in ((exact_delta, "exact"), (band_delta, "bands")):
            m = meta[part]
            self._load_bucketed(m)  # ensure the catalog entry exists
            (
                delta.write.format("parquet")
                .option("path", m["location"])
                .bucketBy(m["buckets"], *m["keys"])
                .sortBy(*m["keys"])
                .mode("append")
                .saveAsTable(m["table"])
            )
        self.ckpt.commit(snapshot_id, "dedup_index", meta)

    def compact_dedup_index(self, *, snapshot_id: str = "latest") -> dict:
        """Periodic maintenance for an append-grown index: distinct each
        relation and rewrite it as a fresh generation of bucketed files.
        Append-only growth (`append_dedup_index`) is O(batch) per batch
        but accumulates (a) duplicate rows across generations (replays,
        re-accepted near-identical deltas) and (b) small files — both
        inflate every probe's scan. Compaction pays one distinct-shuffle
        per relation (the bucketed scan already satisfies the distinct's
        distribution, so it is exchange-free — same property the probe
        joins exploit) and cuts the steady-state probe cost back to one
        row per key. Run it like any table-maintenance job: off the
        ingest path, every N generations. Probe output is identical
        before/after by the membership-test argument. Returns
        {'exact': (rows_before, rows_after), 'bands': (...)}.

        Crash-safety (the torn-write-invisible invariant): each
        compaction writes a FRESH GENERATION at a new location
        (`{part}_g{N}`) while the committed generation stays untouched;
        only after BOTH parts land does one commit flip the marker to
        the new generation, and only after that are the old
        generation's files deleted. A crash anywhere before the commit
        leaves the previous commit fully loadable; a crash after it
        leaves orphan files from the superseded generation (noted in
        the commit payload as `superseded` — harmless, reclaimed by the
        next successful compaction pass or any external GC).
        """
        meta = self._require(snapshot_id, "dedup_index")
        out = {}
        new_meta = dict(meta)
        old_parts = {}
        for part in ("exact", "bands"):
            m = meta[part]
            df = self._load_bucketed(m)
            before = df.count()
            gen = int(m.get("gen", 0)) + 1
            fresh_m = self._write_bucketed(
                df.distinct(), snapshot_id, f"{part}_g{gen}", m["keys"]
            )
            fresh_m["gen"] = gen
            after = self.spark.table(fresh_m["table"]).count()
            new_meta[part] = fresh_m
            old_parts[part] = m
            out[part] = (before, after)
        # the flip: one commit makes the new generation authoritative
        new_meta["superseded"] = [old_parts[p]["location"] for p in old_parts]
        self.ckpt.commit(snapshot_id, "dedup_index", new_meta)
        # post-commit cleanup — failures here orphan files, never state
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        for part, m in old_parts.items():
            self.spark.sql(f"DROP TABLE IF EXISTS {m['table']}")
            op = jvm.org.apache.hadoop.fs.Path(m["location"])
            op.getFileSystem(hconf).delete(op, True)
        return out

    # -- IVF centroids -------------------------------------------------

    def write_centroids(
        self,
        centroids: list[tuple[int, list[float]]],
        *,
        snapshot_id: str = "latest",
    ) -> None:
        self.ckpt.commit(
            snapshot_id,
            "centroids",
            {"centroids": [[int(i), list(map(float, v))] for i, v in centroids]},
        )

    def load_centroids(
        self, *, snapshot_id: str = "latest"
    ) -> list[tuple[int, list[float]]]:
        meta = self._require(snapshot_id, "centroids")
        return [(int(i), [float(c) for c in v]) for i, v in meta["centroids"]]

    # -- BM25 corpus stats ---------------------------------------------

    def write_bm25_stats(
        self, stats: dict, *, snapshot_id: str = "latest"
    ) -> None:
        self.ckpt.commit(snapshot_id, "bm25_stats", {"stats": stats})

    def load_bm25_stats(self, *, snapshot_id: str = "latest") -> dict:
        stats = self._require(snapshot_id, "bm25_stats")["stats"]
        # round-trip hygiene: json keeps float/int distinction, but df
        # counts must come back int (they are compared/planned as longs)
        out = {
            "n_docs": int(stats["n_docs"]),
            "avgdl": float(stats["avgdl"]),
            "df": {t: int(c) for t, c in stats["df"].items()},
        }
        if "sum_dl" in stats:  # mergeable form (merge_bm25_stats)
            out["sum_dl"] = int(stats["sum_dl"])
        return out

    # -- Bloom bitmap --------------------------------------------------

    def write_bloom_bitmap(
        self,
        bitmap: DataFrame,
        *,
        snapshot_id: str = "latest",
        n: int,
        n_bits: int,
        n_hashes: int,
    ) -> None:
        """The build parameters are REQUIRED: a probe with a different
        (n, n_bits, n_hashes) silently loses the no-false-negative
        guarantee, so they travel with the bitmap."""
        location = f"{self.path}/{snapshot_id}/bloom"
        bitmap.write.mode("overwrite").parquet(location)
        self.ckpt.commit(
            snapshot_id,
            "bloom_bitmap",
            {
                "location": location,
                "n": n,
                "n_bits": n_bits,
                "n_hashes": n_hashes,
            },
        )

    def load_bloom_bitmap(
        self, *, snapshot_id: str = "latest"
    ) -> tuple[DataFrame, dict]:
        meta = self._require(snapshot_id, "bloom_bitmap")
        df = self.spark.read.schema("word bigint, bits bigint").parquet(
            meta["location"]
        )
        return df, {k: meta[k] for k in ("n", "n_bits", "n_hashes")}
