"""Aggregation / grouping / lineage (SURVEY.md §2.6).

The reference's aggregators do physical batching + grouping + lineage
stamping, not arithmetic. The observable aggregate is the per-sink
delivered log count (test/engine/verify/count.go:30) — here
`groupBy(route).count()` with Spark's partial+final hash aggregation
(map-side combine makes the shuffle carry one row per route per task,
which is what keeps this O(sinks) at 100 TB, not O(rows)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def sink_counts(df: DataFrame, route_col: str = "route") -> DataFrame:
    """Per-sink delivered counts (verify.LogCount, test/engine/verify/count.go:30)."""
    return df.groupBy(route_col).agg(F.count(F.lit(1)).alias("log_count"))


def content_value_group(
    df: DataFrame,
    group_keys: list[str],
    *,
    connector: str = "_",
) -> DataFrame:
    """aggregator_content_value_group
    (plugins/aggregator/contentvaluegroup/aggregator_content_value_group.go:66-172):
    group by the VALUES of `group_keys`; the composite key joined with `_`
    (:160-172) is emitted alongside per-group counts. Group KVs became
    LogGroup tags in the reference — here they're simply the grouping
    columns on the output row.
    """
    if not group_keys:
        return df.agg(F.count(F.lit(1)).alias("log_count")).withColumn(
            "group_key", F.lit("")
        )
    composite = F.concat_ws(connector, *[F.coalesce(F.col(k), F.lit("")) for k in group_keys])
    return (
        df.groupBy(*group_keys)
        .agg(F.count(F.lit(1)).alias("log_count"))
        .withColumn("group_key", composite)
    )


def metadata_group(
    df: DataFrame,
    group_keys: list[str],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """aggregator_metadata_group
    (plugins/aggregator/metadatagroup/aggregator_metadata_group.go:34-235):
    physically regroup events by metadata keys so each group's rows are
    co-located (the V2 engine's repartition-by-key). The per-group
    1024-event/3MiB caps are physical batching — handled by file sizing.
    Returns the repartitioned frame; downstream groupBy on the same keys
    then needs no second shuffle (Catalyst sees the partitioning)."""
    cols = [F.col(k) for k in group_keys]
    return df.repartition(num_partitions, *cols) if num_partitions else df.repartition(*cols)


def shard_hash(
    df: DataFrame,
    source_keys: list[str],
    shard_count: int,
    *,
    bucket_col: str = "shard_bucket",
    repartition: bool = False,
) -> DataFrame:
    """aggregator_shardhash
    (plugins/aggregator/shardhash/aggregator_shardhash.go:67-164): bucket
    rows into `shard_count` (a power of two ≤ 512, validation :87-89)
    buckets by a hash of the concatenated source-key values (:158).

    The hash is xxhash64 JVM-side — the same family the reference uses —
    and `pmod` keeps it non-negative. With `repartition=True` the bucket
    becomes the physical partitioning pre-write, which is the reference's
    own skew/shard strategy for parallel sink shards.
    """
    if shard_count <= 0 or (shard_count & (shard_count - 1)) != 0 or shard_count > 512:
        raise ValueError("shard_count must be a power of two in (0, 512]")
    key = F.concat_ws("_", *[F.coalesce(F.col(k), F.lit("")) for k in source_keys])
    out = df.withColumn(bucket_col, F.pmod(F.xxhash64(key), F.lit(shard_count)).cast("int"))
    if repartition:
        out = out.repartition(shard_count, F.col(bucket_col))
    return out


def stable_order(
    df: DataFrame,
    partition_col: str = "conv_id",
    order_col: str = "turn_idx",
    seq_col: str = "seq",
) -> DataFrame:
    """aggregator_context semantics
    (plugins/aggregator/context/aggregator_context.go:44-100): each source
    keeps its own ordered sequence. Our contract: per-conversation order by
    `turn_idx` is stable and dense — `seq` is the per-conv row number, the
    analog of the reference's per-source pack sequence (and of the e2e
    LogOrder check, test/engine/verify/log_order.go:31-80).
    """
    w = Window.partitionBy(partition_col).orderBy(order_col)
    return df.withColumn(seq_col, F.row_number().over(w))


def stable_order_salted(
    df: DataFrame,
    partition_col: str = "conv_id",
    order_col: str = "turn_idx",
    seq_col: str = "seq",
    *,
    salt_width: int = 256,
) -> DataFrame:
    """Skew-safe variant of :func:`stable_order` (SURVEY.md §7.3.4).

    A 10^12-turn table has hot conversations; a plain window over
    `conv_id` funnels each whole conversation into one task. Two-level
    plan: (1) rank within (conv_id, salt) where salt = turn_idx-range
    bucket of width `salt_width` — hot convs split across many tasks;
    (2) add the per-conv cumulative offset of the preceding salt buckets
    (a tiny aggregate joined back, broadcast-size: Σ ceil(len/width) rows).

    Result is identical to stable_order (dense per-conv sequence by
    order_col) because the salt respects order ranges.
    """
    # order-respecting salt: contiguous turn_idx ranges map to increasing
    # bucket ids, so bucket-local rank + prior-bucket counts = global rank.
    # Fixed-width ranges: hot convs span many buckets, cold convs one.
    salt = (F.col(order_col) / salt_width).cast("int")
    w_local = Window.partitionBy(partition_col, salt).orderBy(order_col)
    local = df.withColumn("__salt__", salt).withColumn(
        "__rn__", F.row_number().over(w_local)
    )
    bucket_counts = (
        local.groupBy(partition_col, "__salt__")
        .agg(F.count(F.lit(1)).alias("__cnt__"))
    )
    w_off = (
        Window.partitionBy(partition_col)
        .orderBy("__salt__")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = bucket_counts.withColumn(
        "__off__", F.coalesce(F.sum("__cnt__").over(w_off), F.lit(0))
    ).drop("__cnt__")
    out = local.join(F.broadcast(offsets), [partition_col, "__salt__"])
    return out.withColumn(seq_col, (F.col("__rn__") + F.col("__off__")).cast("int")).drop(
        "__salt__", "__rn__", "__off__"
    )


_IDENTITIES = (("conv_id", "turn_idx"), ("__source__", "__offset__"))


def add_lineage(
    df: DataFrame,
    config_name: str,
    *,
    lineage_col: str = "lineage",
    deterministic: bool = True,
) -> DataFrame:
    """__pack_id__ lineage stamping
    (plugins/aggregator/baseagg/aggregator_base.go:140-147,
    util.NewPackIDPrefix): prefix = MD5(configName), suffix = sequence.

    deterministic=True derives the suffix from the row's own identity so
    re-runs produce identical lineage — required for idempotent resume
    (SURVEY.md §7.1.7): (conv_id, turn_idx) for a transcript turn, else
    the read context (__source__, __offset__) that plans/config.py's
    batch reader attaches to a line; a row with neither raises.
    deterministic=False mirrors the reference's per-producer counter via
    (spark_partition_id, monotonically row_number) — cheaper but
    run-dependent, like the reference's restart-dependent pack ids.
    """
    prefix = F.upper(F.substring(F.md5(F.lit(config_name)), 1, 16))
    if deterministic:
        ident = next((k for k in _IDENTITIES if set(k) <= set(df.columns)), None)
        if ident is None:
            raise ValueError(f"lineage needs one of the row identities {_IDENTITIES}")
        suffix = F.concat_ws("-", *(F.col(c).cast("string") for c in ident))
        return df.withColumn(lineage_col, F.concat(prefix, F.lit("-"), suffix))
    part = F.spark_partition_id()
    w = Window.partitionBy(part).orderBy(F.monotonically_increasing_id())
    return df.withColumn(
        lineage_col,
        F.concat(prefix, F.lit("-"), part.cast("string"), F.lit("-"),
                 F.row_number().over(w).cast("string")),
    )


def rate_anomalies(
    df: DataFrame,
    key_cols: list[str],
    *,
    ts_col: str = "ts",
    bucket_s: int = 3600,
    z: float = 2.0,
) -> DataFrame:
    """Volume-anomaly detection — the alerting rollup a log pipeline
    feeds: bucket event counts per key, then flag buckets whose count
    exceeds the key's mean + z·σ. Two partial-aggregating aggregates
    (bucket counts, then O(keys) moment sums) and one broadcast join
    back — no window over the full bucket stream, so the plan is flat
    at any corpus size.

    Determinism: moments are EXACT integer sums (Σn, Σn²); mean/variance
    derive from them in one fixed-order double expression and the
    threshold is rounded to a 6-decimal grid, so the unordered
    aggregation can't wiggle the flag boundary (n is an integer —
    a flip would need the true threshold within 1e-6 of it).
    Bucket start is pure integer arithmetic (t - t % bucket_s).
    """
    t = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    bucket = (t - t % F.lit(bucket_s)).alias("bucket_start")
    counts = df.groupBy(*key_cols, bucket).agg(F.count(F.lit(1)).alias("n"))
    stats = counts.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("nm"),
        F.sum("n").alias("s1"),
        F.sum(F.col("n") * F.col("n")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("nm")
    var = F.greatest(
        F.col("s2").cast("double") / F.col("nm") - mean * mean, F.lit(0.0)
    )
    thr = F.round(mean + F.lit(float(z)) * F.sqrt(var), 6)
    enriched = counts.join(F.broadcast(stats.withColumn("threshold", thr)
                                       .drop("nm", "s1", "s2")), key_cols)
    return enriched.filter(F.col("n") > F.col("threshold")).select(
        *key_cols, "bucket_start", "n", "threshold"
    )


def top_errors(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    *,
    window_s: int = 3600,
    k: int = 3,
    match: str = "ERROR",
) -> DataFrame:
    """Top-k error signatures per tumbling window — the log-triage
    query. Matching rows normalize into a signature (digit runs → '#',
    so retry counts / ids / codes collapse into one template), count
    per (window, signature), and each window keeps its k most frequent
    (ties broken by signature for determinism).

    Scale shape: the filter and normalization run in the scan; ONE
    map-side-combinable (window, signature) count; the per-window
    top-k is a rank window that Spark executes as WindowGroupLimit —
    per-partition k-heaps BEFORE the shuffle, so the rank exchange
    carries at most k·windows·partitions rows, never the full
    signature space."""
    t = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    bucket = (F.floor(t / window_s).cast("long") * window_s).alias("bucket")
    sig = F.regexp_replace(F.col(text_col), "[0-9]+", "#").alias("signature")
    counts = (
        df.filter(F.col(text_col).contains(match))
        .select(bucket, sig)
        .groupBy("bucket", "signature")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("n"), "signature")
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def schema_drift(
    df: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    *,
    window_s: int = 3600,
) -> DataFrame:
    """JSON schema-drift monitor: for every top-level key appearing in
    JSON-shaped rows, the window in which it FIRST appeared, how many
    windows it appears in, and its total occurrence count. New keys
    showing up mid-stream are the classic silent log-schema change
    (a deploy adds a field; a field vanishes from its usual volume) —
    this is the standing inventory that alerting diffs against.

    Shape at 10^12 rows: the JSON filter and key explode run in the
    scan stage; the ONLY shuffle is one map-side-combinable aggregate
    keyed by (key, window) and a second tiny one by key — per-key
    state is three counters, never row-shaped. Keys come from
    `json_object_keys` (JVM, no Python)."""
    t = F.unix_seconds(F.col(ts_col).cast("timestamp"))
    bucket = (F.floor(t / window_s).cast("long") * window_s).alias("bucket")
    keyed = (
        df.filter(F.col(text_col).startswith("{"))
        .select(
            F.explode(F.json_object_keys(F.col(text_col))).alias("key"),
            bucket,
        )
        .groupBy("key", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return keyed.groupBy("key").agg(
        F.min("bucket").alias("first_seen"),
        F.max("bucket").alias("last_seen"),
        F.count(F.lit(1)).alias("n_windows"),
        F.sum("n").alias("n_rows"),
    )
