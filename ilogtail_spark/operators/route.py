"""Routing — content-based fan-out to sinks (SURVEY.md §2.8).

Two router flavors exist in the reference and both are supported:

1. **Exclusive first-match** (Go `aggregator_logstore_router`,
   plugins/aggregator/logstorerouter/aggregator_router.go:97-168):
   an ordered rule list of (source_key, FULL-match regex → sink); first
   match wins; no match → default sink unless DropDisMatch. Compiled to
   one chained `when()` producing a `route` column — a single projection,
   no shuffle, and `partitionBy(route)` at the write gives one sink dir
   per route with no extra pass.

2. **Copy-mode multi-match** (C++ `Router`,
   core/pipeline/route/Router.cpp:26-49 + Condition.cpp:55,105): every
   matching conditional flusher receives the group — one row can fan out
   to several sinks. Compiled to `explode(array(when(cond_i, sink_i)…))`
   plus a `route IS NOT NULL` filter: one codegen'd Generate, one pass over
   the data, and the upstream parse is evaluated once (the duplicate rows
   exist only downstream of the explode, exactly like the reference's
   copied groups).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class RouteRule:
    source_key: str
    regex: str | None   # full-match anchored, aggregator_router.go:99
    sink: str
    # numeric alternative to `regex`: inclusive (lo, hi) range compiled to a
    # vectorizable integer compare instead of cast-to-string + regex — use
    # for numeric columns (e.g. 5xx status codes). Exactly one of
    # regex / between must be set (validated in __post_init__).
    between: tuple[float, float] | None = None

    def __post_init__(self) -> None:
        if (self.regex is None) == (self.between is None):
            raise ValueError(
                f"RouteRule({self.source_key!r} → {self.sink!r}): exactly one "
                f"of regex / between must be set, got regex={self.regex!r} "
                f"between={self.between!r}"
            )

    def condition(self) -> Column:
        if self.between is not None:
            lo, hi = self.between
            c = F.col(self.source_key)
            return c.isNotNull() & (c >= F.lit(lo)) & (c <= F.lit(hi))
        src = F.col(self.source_key).cast("string")
        return src.isNotNull() & src.rlike(f"^(?:{self.regex})$")


def route_exclusive(
    df: DataFrame,
    rules: list[RouteRule],
    *,
    default_sink: str = "sink_default",
    drop_dismatch: bool = False,
) -> DataFrame:
    """First-match-exclusive router (aggregator_logstore_router).

    The reference checks `indexArray[0]==0 && indexArray[1]==len(value)`
    (aggregator_router.go:99) — i.e. the regex must span the whole value —
    reproduced with ^(?:pat)$ anchoring. Missing/null key never matches.
    Rules with `between` compile to integer range compares (no per-row
    int→string cast + regex on the hot path).
    """
    expr: Column | None = None
    for r in rules:
        cond = r.condition()
        expr = F.when(cond, F.lit(r.sink)) if expr is None else expr.when(cond, F.lit(r.sink))
    if expr is None:
        expr = F.lit(default_sink)
    elif drop_dismatch:
        expr = expr.otherwise(F.lit(None).cast("string"))
    else:
        expr = expr.otherwise(F.lit(default_sink))
    out = df.withColumn("route", expr)
    if drop_dismatch:
        out = out.filter(F.col("route").isNotNull())
    return out


@dataclass(frozen=True)
class CopyCondition:
    """C++ Router condition: tag equality (Condition.cpp:105) or event-type
    equality (Condition.cpp:55); `None` condition = unconditional flusher
    (always receives every group, Router.cpp:33)."""

    sink: str
    key: str | None = None
    value: str | None = None

    def to_column(self) -> Column:
        if self.key is None:
            return F.lit(True)
        return F.col(self.key).isNotNull() & (F.col(self.key) == F.lit(self.value))


def route_copy(df: DataFrame, conditions: list[CopyCondition]) -> DataFrame:
    """Copy-mode fan-out (C++ Router semantics, Router.cpp:49): a row
    matching k conditions appears k times, once per sink, in condition
    order. Rows matching nothing are dropped (no flusher received the
    group).

    `explode(array(case...))` emits one candidate per condition and the
    `IS NOT NULL` filter drops the non-matches after the Generate — no
    shuffle, no repeated scans (vs the naive per-sink `filter` re-scan).
    A higher-order function here (`array_compact`) falls out of
    whole-stage codegen, and a `size(...) > 0` filter is pushed below the
    upstream parse, which then runs again for every condition."""
    sinks = F.array(
        *[F.when(c.to_column(), F.lit(c.sink)) for c in conditions]
    )
    return df.withColumn("route", F.explode(sinks)).filter(F.col("route").isNotNull())


def write_routed(df: DataFrame, base_path: str, *, batch_id: int | None = None) -> None:
    """The one routed-row sink of every runner: one job, one pass, parquet
    under `base_path/route=<sink>/` — the Spark equivalent of the
    reference's per-logstore flusher queues
    (core/pipeline/queue/SenderQueueManager.cpp:91). `partitionBy(route)`
    gives dynamic partition insertion; parquet file sizing handles the
    reference's 1024-log/3MiB group caps physically
    (plugins/aggregator/baseagg/aggregator_base.go:26-29).

    A batch run overwrites `base_path`. A stream micro-batch passes its
    `batch_id`: rows land under `batch_id=<n>/route=<sink>/` and a retried
    batch dynamically overwrites only its own partitions, so replaying it
    after a partial failure cannot duplicate rows — checkpointed offsets
    plus this idempotent write are the exactly-once contract, the analog
    of the reference's send-queue dedup on pack id."""
    if batch_id is None:
        df.write.mode("overwrite").partitionBy("route").parquet(base_path)
        return
    (
        df.withColumn("batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", "route")
        .parquet(base_path)
    )


def route_opentelemetry(
    df: DataFrame,
    n_fields: Column | str,
    *,
    metrics_logstore: str = "otlp-metrics",
    trace_logstore: str = "otlp-traces",
    log_logstore: str = "otlp-logs",
    route_col: str = "__logstore__",
) -> DataFrame:
    """aggregator_opentelemetry
    (plugins/aggregator/opentelemetry/aggregator_opentelemetry.go:78-90):
    routes each event to one of three per-signal logstores purely by its
    content-field count — ≤5 fields is an SLS metric shape, ≥19 is a
    trace span shape, anything between is a log. `n_fields` is the
    field-count column (`F.size` of a map payload, or a count of
    non-null event fields); empty events (count 0) are dropped, as the
    reference's Add returns without enqueueing. One CASE projection —
    the per-logstore grouping downstream is write_routed's partitionBy."""
    n = F.col(n_fields) if isinstance(n_fields, str) else n_fields
    route = (
        F.when(n <= 5, F.lit(metrics_logstore))
        .when(n >= 19, F.lit(trace_logstore))
        .otherwise(F.lit(log_logstore))
    )
    return df.filter(n > 0).withColumn(route_col, route)


def route_skywalking(
    df: DataFrame,
    first_key: Column | str,
    *,
    metrics_logstore: str = "skywalking-metrics",
    trace_logstore: str = "skywalking-traces",
    log_logstore: str = "skywalking-logs",
    route_col: str = "__logstore__",
) -> DataFrame:
    """aggregator_skywalking
    (plugins/aggregator/skywalking/aggregator_skywalking.go:94-110):
    routes by the event's FIRST content key — `__name__` → metrics,
    `links` → traces, `otlp.name` → logs, anything else falls through
    to logs (the reference warns and logs-routes — INCLUDING an
    empty-string key: the default branch fires for any unrecognized
    first key). `first_key` is that key as a column (for a map payload:
    `map_keys(m)[0]`, map entry order is insertion order under
    from_json); NULL means the event has no contents at all and is
    dropped (the len(Contents)>0 guard, aggregator_skywalking.go:95)."""
    k = F.col(first_key) if isinstance(first_key, str) else first_key
    route = (
        F.when(k == "__name__", F.lit(metrics_logstore))
        .when(k == "links", F.lit(trace_logstore))
        .otherwise(F.lit(log_logstore))
    )
    return df.filter(k.isNotNull()).withColumn(route_col, route)
