"""Custom stateful streaming operators via applyInPandasWithState.

The reference's streaming state (SURVEY.md §2.11) is exactly: multiline
merge buffers (ProcessorMergeMultilineLogNative holds lines until the
next begin-of-record, core/plugin/processor/inner/
ProcessorMergeMultilineLogNative.cpp:83) and rate-limit token buckets.
In batch mode we express both with windows; in continuous mode the merge
buffer is genuinely cross-micro-batch state: a record's first lines may
arrive in batch k and its tail in batch k+1.

`stream_merge_multiline` reproduces the buffer with Spark's
applyInPandasWithState: state per conv_id = the pending (unterminated)
record; each begin-match flushes the previous buffer. Timeout flush
(the reference's TimeoutFlushManager, core/pipeline/batch/
TimeoutFlushManager.cpp) maps to GroupStateTimeout: an idle conversation
flushes its pending record after `timeout_ms`.
"""

from __future__ import annotations

import re
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MERGED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("record_id", T.LongType()),
        T.StructField("first_line_no", T.IntegerType()),
        T.StructField("merged", T.StringType()),
    ]
)

# state: (next_record_id, pending_first_line_no, pending_lines_joined)
STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_rid", T.LongType()),
        T.StructField("first_no", T.IntegerType()),
        T.StructField("buf", T.StringType()),
    ]
)


def make_merge_fn(begin_regex: str, sep: str = "\n", timeout_ms: int = 60_000):
    pat = re.compile(begin_regex)

    def merge(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        conv_id = key[0]
        if state.hasTimedOut:
            # idle flush — emit the pending record (TimeoutFlushManager analog)
            if state.exists:
                rid, first_no, buf = state.get
                state.remove()
                if buf is not None:
                    yield pd.DataFrame(
                        {"conv_id": [conv_id], "record_id": [rid],
                         "first_line_no": [first_no], "merged": [buf]}
                    )
            return

        if state.exists:
            rid, first_no, buf = state.get
        else:
            rid, first_no, buf = 0, None, None

        out_rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("line_no")
            for line_no, line in zip(pdf["line_no"], pdf["text"]):
                if pat.search(str(line)):
                    if buf is not None:
                        out_rows.append((conv_id, rid, first_no, buf))
                        rid += 1
                    buf, first_no = str(line), int(line_no)
                else:
                    if buf is None:  # orphan before first begin-mark
                        buf, first_no = str(line), int(line_no)
                    else:
                        buf = buf + sep + str(line)
        state.update((rid, first_no, buf))
        state.setTimeoutDuration(timeout_ms)
        if out_rows:
            yield pd.DataFrame(
                out_rows, columns=["conv_id", "record_id", "first_line_no", "merged"]
            )

    return merge


FLAG_MERGED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("record_id", T.LongType()),
        T.StructField("first_line_no", T.IntegerType()),
        T.StructField("_time_", T.StringType()),
        T.StructField("_source_", T.StringType()),
        T.StructField("content", T.StringType()),
        T.StructField("is_partial", T.BooleanType()),
    ]
)

FLAG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("next_rid", T.LongType()),
        T.StructField("first_no", T.IntegerType()),
        T.StructField("buf", T.StringType()),
        T.StructField("t", T.StringType()),
        T.StructField("src", T.StringType()),
    ]
)


def make_flag_merge_fn(timeout_ms: int = 60_000):
    """Flag-mode (container P/F) merge: parts concatenate with NO
    separator; a record EMITS at its full (non-partial) line — unlike
    begin-regex mode, which closes a record at the NEXT begin mark
    (ProcessorMergeMultilineLogNative MergeType::BY_FLAG)."""

    def merge(key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState):
        conv_id = key[0]
        cols = ["conv_id", "record_id", "first_line_no", "_time_",
                "_source_", "content", "is_partial"]
        if state.hasTimedOut:
            if state.exists:
                rid, first_no, buf, t, srcv = state.get
                state.remove()
                if buf is not None:
                    # never-closed record: flushed, flagged partial
                    yield pd.DataFrame(
                        [(conv_id, rid, first_no, t, srcv, buf, True)], columns=cols
                    )
            return

        if state.exists:
            rid, first_no, buf, t, srcv = state.get
        else:
            rid, first_no, buf, t, srcv = 0, None, None, None, None

        out_rows: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values("line_no")
            for line_no, content, part, tt, ss in zip(
                pdf["line_no"], pdf["content"], pdf["is_partial"],
                pdf["_time_"], pdf["_source_"],
            ):
                if buf is None:
                    buf, first_no, t, srcv = "", int(line_no), tt, ss
                buf = buf + str(content)
                if not part:
                    out_rows.append((conv_id, rid, first_no, t, srcv, buf, False))
                    rid += 1
                    buf, first_no, t, srcv = None, None, None, None
        state.update((rid, first_no, buf, t, srcv))
        state.setTimeoutDuration(timeout_ms)
        if out_rows:
            yield pd.DataFrame(out_rows, columns=cols)

    return merge


def stream_merge_partial_logs(
    parsed: DataFrame, *, timeout_ms: int = 60_000
) -> DataFrame:
    """Streaming flag-mode partial-log merge over container-parsed rows
    (conv_id string, line_no int, content string, is_partial boolean,
    _time_ string, _source_ string). A P-run whose F line arrives in a
    LATER micro-batch still reassembles — the pending parts live in the
    state store; idle timeout flushes a never-closed run (flagged
    partial, the reference's flush-on-rotate)."""
    return parsed.groupBy("conv_id").applyInPandasWithState(
        make_flag_merge_fn(timeout_ms),
        outputStructType=FLAG_MERGED_SCHEMA,
        stateStructType=FLAG_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def stream_merge_multiline(
    lines: DataFrame,
    *,
    begin_regex: str,
    sep: str = "\n",
    timeout_ms: int = 60_000,
) -> DataFrame:
    """Streaming multiline merge: `lines` is a streaming DataFrame with
    (conv_id string, line_no int, text string). Emits completed records;
    the still-open record per conversation stays in state until its next
    begin-mark or the idle timeout.

    State partitioning is by conv_id — the same key the batch window
    uses, so the scale story (hot convs → salted upstream repartition)
    carries over; state size is bounded by one pending record per conv.
    """
    return lines.groupBy("conv_id").applyInPandasWithState(
        make_merge_fn(begin_regex, sep, timeout_ms),
        outputStructType=MERGED_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# --- token-bucket rate limit ------------------------------------------

RATE_KEPT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("ord", T.LongType()),
        T.StructField("ts", T.DoubleType()),
    ]
)

RATE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("tokens", T.DoubleType()),
        T.StructField("last_ts", T.DoubleType()),
    ]
)


def token_bucket_walk(
    ts_seq: list[float], limit: float, per_seconds: float,
    tokens: float | None = None, last_ts: float | None = None,
) -> tuple[list[bool], float, float]:
    """The reference token bucket on EVENT time
    (plugins/processor/ratelimit/token_bucket.go:84-140): a fresh key
    starts with a full bucket (getBucket's LoadOrStore initial value =
    limit), each event withdraws one token, elapsed event-time replenishes
    at limit/per_seconds up to the cap. Event time (not wall clock) keeps
    replays deterministic. Returns (kept flags, tokens, last_ts)."""
    rate = limit / per_seconds
    kept: list[bool] = []
    for ts in ts_seq:
        ts = float(ts)
        if tokens is None:
            tokens, last_ts = float(limit), ts
        else:
            tokens = min(float(limit), tokens + rate * max(0.0, ts - last_ts))
            last_ts = max(last_ts, ts)
        if tokens >= 1.0:
            tokens -= 1.0
            kept.append(True)
        else:
            kept.append(False)
    return kept, tokens, last_ts


def rate_limit_token_bucket(
    df: DataFrame, *, limit: float, per_seconds: float
) -> DataFrame:
    """Batch twin of :func:`stream_rate_limit` — same walk via plain
    applyInPandas over (key string, ord long, ts double)."""

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "ord"]).reset_index(drop=True)
        kept, _, _ = token_bucket_walk(list(pdf["ts"]), limit, per_seconds)
        return pdf.loc[kept, ["key", "ord", "ts"]]

    return (
        df.select("key", "ord", "ts")
        .groupBy("key")
        .applyInPandas(_one, RATE_KEPT_SCHEMA)
    )


def make_rate_limit_fn(limit: float, per_seconds: float):
    def fn(key: tuple, pdfs, state: GroupState):
        if state.hasTimedOut:  # pragma: no cover - no timeout configured
            state.remove()
            return
        tokens, last_ts = (state.get if state.exists else (None, None))
        rows = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "ord"])
            kept, tokens, last_ts = token_bucket_walk(
                list(pdf["ts"]), limit, per_seconds, tokens, last_ts
            )
            sel = pdf.loc[kept]
            rows.append(sel)
        if tokens is not None:
            state.update((float(tokens), float(last_ts)))
        out = pd.concat(rows) if rows else pd.DataFrame(columns=["key", "ord", "ts"])
        yield pd.DataFrame(
            {"key": out["key"], "ord": out["ord"], "ts": out["ts"]}
        )

    return fn


def stream_rate_limit(
    events: DataFrame, *, limit: float, per_seconds: float
) -> DataFrame:
    """Streaming processor_rate_limit: cross-micro-batch token buckets
    keyed by `key` over (key string, ord long, ts double) — the bucket
    map the reference keeps in memory (token_bucket.go buckets sync.Map)
    becomes per-key GroupState, so a key's budget survives batch
    boundaries and restarts. Event-time replenishment assumes per-key
    event-time-ordered arrival (the tail-a-file model), like the
    streaming merges above."""
    return events.groupBy("key").applyInPandasWithState(
        make_rate_limit_fn(limit, per_seconds),
        outputStructType=RATE_KEPT_SCHEMA,
        stateStructType=RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(
    lines: DataFrame,
    text_col: str = "text",
    *,
    event_time_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop records whose ``text_col`` was
    already seen, across micro-batches — the streaming twin of
    `functions.dedup.exact_dedup` for a training-data ingest stream.

    Deliberately built on Spark's OWN `dropDuplicatesWithinWatermark`
    keyed by md5(text) rather than a Python GroupState: the dedup set
    lives in the JVM state store (RocksDB-capable, checkpointed,
    exactly-once under replay), the comparison never crosses into
    Python, and state is BOUNDED by the watermark — a duplicate arriving
    later than the watermark delay re-passes, the same trade every
    streaming dedup makes to avoid unbounded state at 100 TB/day
    ingest. Hash first: the state store keys on 32 hex chars, not the
    full payload."""
    hashed = lines.withColumn("__text_md5__", F.md5(F.col(text_col)))
    return (
        hashed.withWatermark(event_time_col, watermark)
        .dropDuplicatesWithinWatermark(["__text_md5__"])
        .drop("__text_md5__")
    )


def curation_ingest_sink(
    snapshot_path: str,
    out_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """The GROWING-index streaming curation loop, durable edition: a
    `foreachBatch` sink that, per micro-batch,

      1. loads the dedup index from the `CorpusSnapshot` at
         ``snapshot_path`` (bucketed parquet + commit-log entry — survives
         any restart, unlike the localCheckpointed static-index twin in
         tests/test_streaming_stateful.py);
      2. probes the batch (`incremental_dedup`) with the snapshot's own
         stored build parameters;
      3. writes the ACCEPTED rows to ``out_path`` partitioned by
         batch_id with dynamic partition overwrite — the repo's
         standard idempotent-replay sink (a replayed batch overwrites
         its own partition, never duplicates);
      4. appends exactly the accepted rows' index delta back to the
         snapshot (`append_dedup_index` — O(batch), new files only).

    So a duplicate of a document ACCEPTED three batches ago is flagged,
    which the static-index probe cannot do, and the state is on disk:
    kill the stream, restart from the streaming checkpoint, and both
    the index and the output continue where they stopped. On a replayed
    batch step 4 re-appends the same delta — duplicate index rows are
    membership-harmless (`extend_dedup_index` doctrine), so replay
    stays exactly-once where it matters (the output) and merely
    idempotent-in-effect where duplication is free (the index).

    Use: ``src.writeStream.foreachBatch(curation_ingest_sink(snap, out))
    .option("checkpointLocation", ...).start()`` — the snapshot must
    already hold a committed `dedup_index` (write the base corpus's
    index once, batch-side).
    """
    from ilogtail_spark.functions.dedup import dedup_index, incremental_dedup
    from ilogtail_spark.plans.snapshot import CorpusSnapshot

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        snap = CorpusSnapshot(spark, snapshot_path)
        ex, bk, params = snap.load_dedup_index()
        flagged = incremental_dedup(
            batch_df, ex, bk, id_col=id_col, text_col=text_col, **params
        )
        # one materialization: consumed by the output write AND the
        # delta build — without this the double consumption re-runs
        # the probe joins (and re-reads the index) per consumer
        kept = (
            flagged.filter(~F.col("exact_dup") & ~F.col("near_dup"))
            .drop("exact_dup", "near_dup")
            .localCheckpoint(eager=True)
        )
        (
            kept.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_path)
        )
        ex_delta, bk_delta = dedup_index(
            kept, id_col=id_col, text_col=text_col, **params
        )
        snap.append_dedup_index(ex_delta, bk_delta)

    return _sink


def stream_sessionize(
    df,
    gap_s: int,
    conv_col: str = "conv_id",
    ts_col: str = "ts",
    watermark: str | None = "1 hour",
):
    """Streaming twin of `functions.conversations.sessionize`: Spark's
    native ``session_window`` merges a conversation's events whose gaps
    stay under `gap_s`, entirely in the JVM state store (dynamic-gap
    session state, no Python). With a `watermark`, state for a session
    is dropped once the watermark passes its close — the bounded-state
    production shape (append mode emits each session exactly once,
    when it can no longer grow). ``watermark=None`` keeps all state
    (complete-mode verification twin in tests).

    Boundary semantics: a session window spans [ts, ts+gap), so two
    events exactly `gap_s` apart land in SEPARATE sessions — the batch
    twin's `diff > gap` keeps them together; parity holds whenever no
    consecutive gap equals `gap_s` exactly (asserted in the parity
    test with off-boundary fixtures).
    """
    import pyspark.sql.functions as F

    src = df.withWatermark(ts_col, watermark) if watermark else df
    return (
        src.groupBy(
            F.session_window(F.col(ts_col), f"{gap_s} seconds"),
            F.col(conv_col),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .select(
            conv_col,
            F.unix_seconds(F.col("session_window.start")).alias("start_s"),
            (F.unix_seconds(F.col("session_window.end")) - gap_s).alias("last_s"),
            "n_turns",
        )
    )


def stream_schema_drift(
    lines: DataFrame,
    text_col: str = "text",
    *,
    event_time_col: str = "ts",
) -> DataFrame:
    """Streaming first-seen-key alerts: emits (key, first_seen) exactly
    once per NEW top-level JSON key, across micro-batches — the
    streaming twin of `operators.aggregate.schema_drift`'s inventory,
    shaped as the alert feed a schema-change monitor subscribes to.

    Built on the JVM state store like `stream_exact_dedup`
    (streaming `dropDuplicates` on the key): no Python state, and the
    state is deliberately UNBOUNDED-in-time but schema-sized — distinct
    top-level keys number in the dozens, so expiring them (a watermark)
    would only re-alert on old keys after quiet periods. The key
    explode runs JVM-side via json_object_keys."""
    keys = (
        lines.filter(F.col(text_col).startswith("{"))
        .select(
            F.explode(F.json_object_keys(F.col(text_col))).alias("key"),
            F.col(event_time_col).alias("first_seen"),
        )
    )
    return keys.dropDuplicates(["key"])
