"""Expression-level plan hygiene helpers.

`pin` addresses the column-expression analog of the guide's duplicated-
UDF problem (§4.4): Catalyst's CollapseProject / PushDownPredicates
substitute a derived column's DEFINING EXPRESSION into every operator
that references it. For a cheap expression that is free; for a parse
chain (synthesize line → anchored regex rewrite → split) it multiplies
the dominant per-row cost by the reference count — prometheus_series'
plan carried 15 copies of the transcripts text-gen + sentinel regex.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def pin(col: Column) -> Column:
    """Pin an expensive derived expression to a single evaluation site.

    Wraps the column in a plan-level NONDETERMINISTIC no-op (element 1
    of a one-element array, at an index computed from the nondeterministic
    partition id): the optimizer then refuses to inline the
    defining expression into downstream operators or to duplicate it
    under pushed-down filters, so it is evaluated once per row in one
    Project — the pure-expression analog of `udf.asNondeterministic()`
    (optimization guide §4.4). Semantically a no-op: the index is 1 in
    every partition, so the value is deterministic even under task
    retries.

    Trade-off (same as §4.4): a pinned column also blocks legitimate
    filter pushdown THROUGH itself, so pin only expressions whose
    re-evaluation demonstrably dominates (parse chains), never as a
    blanket.

    Implementation notes (each alternative was tried and failed):
      * the no-op must be WHOLE-STAGE-CODEGEN — `shuffle(array(col))[0]`
        is nondeterministic but Shuffle is CodegenFallback, dropping the
        whole subtree to interpreted evaluation;
      * `when(rand() >= -1, col)` is simplified away by the optimizer
        (the pin vanishes and inlining returns);
      * the pinned column must be REFERENCED BY NAME (withColumn then
        F.col) — embedding the pinned tree into every consumer copies a
        nondeterministic tree per site, which also defeats runtime
        subexpression elimination.
    `element_at(array(col), spark_partition_id()*0+1)` survives
    optimization, codegens, and always evaluates to `col` (index is
    always 1). It carries no seed: a seed is a literal in the generated
    Java, and a stream re-seeds every `rand` of each micro-batch
    (IncrementalExecution), so `rand(0)` compiled the stage anew per
    batch, as an unseeded `rand()` does per rebuilt plan.
    """
    return F.element_at(F.array(col), F.spark_partition_id() * 0 + 1)


def literal_frame(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A small one-partition frame built in the JVM: the rows are one JSON
    literal typed by the DDL `schema`. `createDataFrame(rows)` starts Python
    workers each time it runs (a one-row parquet write: ~0.4 s wall and
    ~1.2 CPU-s on 4 vCPU, against ~0.15 s and ~0.3 CPU-s this way)."""
    st = StructType.fromDDL(schema)
    data = json.dumps([dict(zip(st.names, r)) for r in rows])
    return spark.range(0, 1, 1, 1).select(F.inline(F.from_json(F.lit(data), ArrayType(st))))
