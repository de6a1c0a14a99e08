"""CDC event-log application — the semantic core of input_canal.

The reference's canal input tails a MySQL binlog and emits one event
per row change: `_event_` ∈ {row_insert, row_update, row_delete},
`_db_`/`_table_` identity, the new column values (plus `_old_<col>` on
updates), and a total order from the binlog position
(`_filename_`/`_offset_`, plugins/input/canal/input_canal.go:211-215,
349-406). The transport half (replication protocol, GTID tracking,
server reconnects, input_canal.go:478-520) is out of scope; what a
Spark pipeline needs from those events is MATERIALIZATION: apply the
log to produce each key's current row — the lakehouse upsert/merge.

Scale shape: ONE map-side-combinable aggregation. The latest event per
key is `max_by(payload, order)` — partial aggregation keeps one row per
key per task, so the shuffle carries O(distinct keys), never O(events).
This deliberately beats the textbook row_number() window, which must
sort full partitions of raw events. Applying a 100 TB backlog is one
keyed aggregate; applying an incremental batch on top of a snapshot is
the same aggregate over `base ∪ batch` with the snapshot rows ordered
below every event (they lose to any change for their key).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["cdc_apply"]

_EVENTS = ("row_insert", "row_update", "row_delete")


def cdc_apply(
    events: DataFrame,
    key_cols: list[str],
    *,
    order_cols: list[str] | None = None,
    event_col: str = "_event_",
    payload_cols: list[str] | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Materialize current state from a canal-shaped change log: for
    each key, the event with the highest `order_cols` wins; a winning
    `row_delete` removes the key. Non-row events (`ddl`, heartbeats —
    OnRowEvent only emits row_* actions) are ignored.

    `base` is an optional initial snapshot with the same key/payload
    columns and NO event/order columns — its rows rank below every log
    event for the same key (a snapshot is, by definition, older than
    the log that follows it).

    Returns key_cols + payload_cols of the latest surviving row per key.
    """
    order_cols = list(order_cols or ["_offset_"])
    if payload_cols is None:
        meta = set(key_cols) | set(order_cols) | {event_col}
        payload_cols = [
            c for c in events.columns
            if c not in meta and not c.startswith("_old_")
        ]

    def ranked(df: DataFrame, live: bool) -> DataFrame:
        # rank struct: (1, order...) for log events, (0, zeros) for the
        # snapshot — struct comparison is lexicographic, so any event
        # outranks the snapshot without faking order values
        rank_fields: list[Column] = [
            (F.lit(1) if live else F.lit(0)).alias("__live")
        ]
        for i, c in enumerate(order_cols):
            rank_fields.append(
                (F.col(c) if live else F.lit(None).cast(events.schema[c].dataType))
                .alias(f"__o{i}")
            )
        keep = (
            F.col(event_col) != "row_delete" if live else F.lit(True)
        )
        return df.select(
            *key_cols,
            F.struct(*rank_fields).alias("__rank"),
            F.struct(
                keep.alias("__keep"),
                *[F.col(c).alias(c) for c in payload_cols],
            ).alias("__row"),
        )

    log = ranked(events.filter(F.col(event_col).isin(*_EVENTS)), live=True)
    union = log if base is None else ranked(base, live=False).unionByName(log)
    latest = union.groupBy(*key_cols).agg(
        F.max_by("__row", "__rank").alias("__row")
    )
    return latest.filter(F.col("__row.__keep")).select(
        *key_cols, *[F.col(f"__row.{c}").alias(c) for c in payload_cols]
    )


class CdcStateTable:
    """Durable materialized state for a CDC stream, BUCKETED: keys hash
    into `n_buckets` fixed buckets (``pmod(xxhash64(key), N)`` — the
    plans/snapshot.py discipline), each micro-batch folds into the
    committed state via :func:`cdc_apply` and rewrites ONLY the buckets
    containing batch keys. The authoritative state is a bucket→directory
    MANIFEST in the commit payload: touched buckets point at the new
    generation's partition dirs, untouched buckets keep pointing at the
    directories earlier generations wrote — their files are never read,
    copied or rewritten, so per-trigger write cost is O(touched
    buckets' state + batch), not O(|state|). The commit-marker flip
    keeps the torn-write-invisible property: a crash mid-write leaves
    the previous manifest fully loadable, a crash after the flip leaves
    only orphan files. Batch ordering supplies recency across batches
    (a monotonic binlog: any event outranks the prior state by
    construction), so no order column needs to persist in the state.

    Use with foreachBatch:

        def sink(batch_df, batch_id):
            state.apply_batch(batch_df, batch_id)

    `apply_batch` is idempotent per batch_id — a retried micro-batch
    re-applies onto the same PRIOR manifest (the reference's send
    dedup analog; cdc application is idempotent anyway: same events,
    same winners).
    """

    def __init__(
        self,
        spark,
        path: str,
        key_cols: list[str],
        *,
        order_cols: list[str] | None = None,
        payload_cols: list[str] | None = None,
        event_col: str = "_event_",
        keep_generations: int = 2,
        n_buckets: int = 16,
    ) -> None:
        from ilogtail_spark.plans.checkpoint import CheckpointTable

        self.spark = spark
        self.path = path
        self.key_cols = list(key_cols)
        self.order_cols = list(order_cols or ["_offset_"])
        self.payload_cols = payload_cols
        self.event_col = event_col
        # retention in GENERATIONS: bucket dirs under gen_j are
        # GC-eligible once j ≤ current_gen − keep_generations AND no
        # manifest in the retained window (the newest keep_generations
        # manifests — the committed one plus the `history` list it
        # carries) references the dir, so every retained manifest stays
        # fully loadable. The sweep lists every gen_* dir, so lowering
        # retention across restarts reclaims old generations too.
        self.keep_generations = max(2, int(keep_generations))
        # bucket count is FIXED at table creation (a manifest written
        # with N buckets is only addressable with the same N); a
        # reattaching handle adopts the committed value.
        self.n_buckets = int(n_buckets)
        self.ckpt = CheckpointTable(spark, f"{path}/_commits")

    def _meta(self) -> dict | None:
        meta = self.ckpt.payload("cdc_state", "state")
        if meta is not None and "buckets" not in meta:
            raise ValueError(
                f"CDC state at {self.path!r} was committed by the "
                "pre-bucketing layout (payload has no 'buckets' manifest); "
                "rebuild the state table or replay the stream into a "
                "fresh path"
            )
        return meta

    def _bucket_of(self) -> Column:
        return F.pmod(F.xxhash64(*self.key_cols), F.lit(self.n_buckets))

    def _committed_schema(self, meta: dict):
        import json

        from pyspark.sql.types import StructType

        return StructType.fromJson(json.loads(meta["schema"]))

    def _read_paths(self, paths: list[str], meta: dict | None = None) -> "DataFrame | None":
        if not paths:
            return None
        reader = self.spark.read
        if meta is not None and meta.get("schema"):
            # pin the committed schema: bucket dirs written at different
            # generations may predate a payload-schema change, and an
            # unpinned read takes whichever footer Spark samples —
            # nondeterministic column sets. With an explicit schema,
            # columns missing from older files read as NULL,
            # deterministically.
            reader = reader.schema(self._committed_schema(meta))
        return reader.parquet(*sorted(paths))

    def current(self) -> "DataFrame | None":
        meta = self._meta()
        if meta is None:
            return None
        self.n_buckets = int(meta.get("n_buckets", self.n_buckets))
        df = self._read_paths(list(meta["buckets"].values()), meta)
        if df is None:
            # every key deleted: empty state with the committed schema
            return self.spark.createDataFrame([], self._committed_schema(meta))
        return df

    def _list_bucket_dirs(self, location: str) -> dict[str, str]:
        """bucket id → partition dir actually written under a
        generation (a bucket whose keys were all deleted writes no
        dir)."""
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        p = jvm.org.apache.hadoop.fs.Path(location)
        fs = p.getFileSystem(hconf)
        out: dict[str, str] = {}
        if fs.exists(p):
            for st in fs.listStatus(p):
                name = st.getPath().getName()
                if name.startswith("__bucket__="):
                    out[name.split("=", 1)[1]] = f"{location}/{name}"
        return out

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        import json

        meta = self._meta()
        if meta is not None and int(meta.get("batch_id", -1)) >= int(batch_id):
            return  # replayed micro-batch: already folded in
        prev_map: dict[str, str] = dict(meta["buckets"]) if meta else {}
        if meta is not None:
            self.n_buckets = int(meta.get("n_buckets", self.n_buckets))
        # buckets the batch touches — bounded driver metadata (≤ N rows)
        touched = {
            str(r[0])
            for r in batch_df.select(self._bucket_of().alias("b"))
            .distinct()
            .collect()
        }
        base = self._read_paths(
            [p for b, p in prev_map.items() if b in touched], meta
        )
        new_touched = cdc_apply(
            batch_df,
            self.key_cols,
            order_cols=self.order_cols,
            payload_cols=self.payload_cols,
            event_col=self.event_col,
            base=base,
        )
        gen = int(meta.get("gen", 0)) + 1 if meta else 1
        location = f"{self.path}/gen_{gen}"
        (
            new_touched.withColumn("__bucket__", self._bucket_of())
            .write.mode("overwrite")
            .partitionBy("__bucket__")
            .parquet(location)
        )
        # `touched` and the write each evaluate `batch_df`; a
        # nondeterministic batch can write a bucket whose committed rows
        # were never read as `base`, and committing it would lose them
        written = self._list_bucket_dirs(location)
        stray = sorted(set(written) - touched, key=int)
        if stray:
            raise ValueError(
                f"CDC batch {batch_id} wrote buckets {stray} that its first "
                "evaluation did not touch: batch_df is nondeterministic; "
                "make it deterministic or materialize it before apply_batch"
            )
        new_map = {b: p for b, p in prev_map.items() if b not in touched}
        new_map.update(written)
        # manifest HISTORY: the bucket maps of the keep_generations−1
        # preceding manifests ride in the payload, so GC can honor the
        # caller's retention — a reader holding any of the last
        # keep_generations manifests must find every dir it references
        prev_history = list(meta.get("history", [])) if meta else []
        history = ([prev_map] + prev_history)[: self.keep_generations - 1]
        self.ckpt.commit(
            "cdc_state", "state",
            {"buckets": new_map, "gen": gen, "batch_id": int(batch_id),
             "n_buckets": self.n_buckets, "history": history,
             "schema": json.dumps(new_touched.schema.jsonValue())},
        )
        # post-commit GC — failures here orphan files, never state (the
        # commit already points at the new manifest). A full gen_* sweep:
        # a bucket dir is dead once its generation falls out of the
        # retention window AND no manifest in the retained window (the
        # new one + `history`) references it; an old gen dir with no
        # live buckets goes entirely. Liveness compares the
        # "gen_N/__bucket__=B" SUFFIX, not the full string — a handle
        # reattached with a differently-spelled root path (trailing
        # slash, relative form) must never GC live state.
        def _suffix(p: str) -> str:
            return "/".join(p.rstrip("/").split("/")[-2:])

        live = {_suffix(p) for p in new_map.values()}
        for h in history:
            live |= {_suffix(p) for p in h.values()}
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = root.getFileSystem(hconf)
        cutoff = gen - self.keep_generations
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            if not name.startswith("gen_"):
                continue
            try:
                j = int(name.split("_", 1)[1])
            except ValueError:
                continue
            if j > cutoff:
                continue
            kept_any = False
            for sub in fs.listStatus(st.getPath()):
                sub_name = sub.getPath().getName()
                if f"{name}/{sub_name}" in live:
                    kept_any = True
                elif sub_name.startswith("__bucket__="):
                    fs.delete(sub.getPath(), True)
            if not kept_any:
                fs.delete(st.getPath(), True)
