"""Incremental SQL-query inputs — service_mysql / service_pgsql /
service_mssql (plugins/input/mysql/mysql.go:58-115,296-370) in offline
form.

The reference runs `StateMent` against a live database on an interval,
binding the saved checkpoint value to the statement's `?` placeholder,
emits the rows, and saves the last row's `CheckPointColumn` value so
the next cycle reads only new rows. The driver/DSN half is transport
(no database in this engine); the semantic core — checkpointed
incremental extraction with a user SQL statement — runs here against
parquet/Iceberg table paths registered as views, with the statement
executed by Spark SQL (predicate pushdown bounds the scan to the new
rows, the exact property the reference gets from the DB index).

The saved value is one entry of a commit log at `ckpt_path`
(plans/checkpoint.py): a JSON file the driver writes, no Spark job.
Checkpoint timing matches the reference: SaveCheckPoint fires after the
rows are handed to the collector, BEFORE delivery is confirmed
(mysql.go:341-351) — at-most-once per batch under a crash between save
and flush. Here the checkpoint advances when `collect()` computes the
batch's max; a failed downstream write skips that batch the same way.
Use the flusher-side idempotent batch_id writes when replay matters.

One delta, documented: the reference takes the LAST parsed row's value
(query-order-dependent, mysql.go:358-372); this takes MAX over the
batch — identical for the ascending-ordered statements the reference
requires for correct checkpointing, and safe under parallel scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ilogtail_spark.plans.checkpoint import CheckpointTable

__all__ = ["SqlQueryInput"]


def _sql_literal(value: str, column_type: str) -> str:
    if column_type in ("int", "long", "bigint"):
        int(value)  # validates; raises on corrupt checkpoint
        return value
    escaped = value.replace("'", "''")
    if column_type in ("time", "timestamp"):
        return f"TIMESTAMP '{escaped}'"
    return f"'{escaped}'"


class SqlQueryInput:
    """One reference `Collect()` cycle per :meth:`collect` call.

    Parameters mirror mysql.go:58-68 (`statement` = StateMent,
    `checkpoint` = CheckPoint, `checkpoint_column[_type]`,
    `checkpoint_start`, `max_sync_size`); `tables` maps view names the
    statement references to parquet/Iceberg paths — the offline stand-in
    for the DSN; `ckpt_path`/`instance` locate the durable checkpoint
    (the reference persists through its checkpoint manager the same
    way)."""

    def __init__(
        self,
        spark: SparkSession,
        statement: str,
        *,
        tables: dict[str, str],
        ckpt_path: str,
        instance: str = "sql0",
        checkpoint: bool = False,
        checkpoint_column: str | None = None,
        checkpoint_column_type: str = "string",
        checkpoint_start: str = "",
        max_sync_size: int = 0,
    ) -> None:
        if checkpoint and not checkpoint_column:
            raise ValueError("CheckPoint requires CheckPointColumn")
        if checkpoint and "?" not in statement:
            raise ValueError(
                "CheckPoint statement needs a '?' placeholder "
                "(mysql.go binds the saved value to it)"
            )
        if max_sync_size and "order by" not in statement.lower():
            # LIMIT over an unordered statement is nondeterministic: the
            # checkpoint agg and the downstream consumer each execute
            # the plan and may materialize DIFFERENT row subsets — rows
            # below the saved max would be skipped forever. The
            # reference's paging has the same requirement implicitly
            # (OFFSET paging over an unordered query double/under-reads).
            raise ValueError(
                "MaxSyncSize requires an ORDER BY on the checkpoint "
                "column (deterministic page under re-execution)"
            )
        self.spark = spark
        self.statement = statement
        self.tables = dict(tables)
        self.checkpoint = checkpoint
        self.checkpoint_column = checkpoint_column
        self.checkpoint_column_type = checkpoint_column_type
        self.checkpoint_start = checkpoint_start
        self.max_sync_size = int(max_sync_size or 0)
        self.ckpt = CheckpointTable(spark, ckpt_path)
        self.instance = instance

    # -- checkpoint state --------------------------------------------

    def current_checkpoint(self) -> str:
        saved = self.ckpt.payload(self.instance, "sql_input")
        if saved and saved.get("value") is not None:
            return str(saved["value"])
        return self.checkpoint_start

    def _save(self, value: str) -> None:
        self.ckpt.commit(
            self.instance,
            "sql_input",
            {
                "value": value,
                "column": self.checkpoint_column,
                "column_type": self.checkpoint_column_type,
            },
        )

    # -- one Collect() cycle -----------------------------------------

    def collect(self) -> DataFrame:
        """Run the statement bound to the saved checkpoint, advance the
        checkpoint past the batch (only when the batch is non-empty —
        mysql.go:348-351), and return the batch DataFrame (lazy; the
        source files are static so downstream actions re-read the same
        rows)."""
        for name, path in self.tables.items():
            self.spark.read.parquet(path).createOrReplaceTempView(name)
        stmt = self.statement
        if self.checkpoint:
            cp = self.current_checkpoint()
            if not cp:
                raise ValueError(
                    "no checkpoint value: set CheckPointStart or commit "
                    "a prior cycle"
                )
            stmt = stmt.replace(
                "?", _sql_literal(cp, self.checkpoint_column_type), 1
            )
        df = self.spark.sql(stmt)
        if self.max_sync_size > 0:
            df = df.limit(self.max_sync_size)
        if self.checkpoint:
            # max in the column's NATIVE type (string max of ints would
            # order "9" over "10"), cast to string only for storage
            row = df.agg(
                F.max(F.col(self.checkpoint_column)).cast("string").alias("m"),
                F.count(F.lit(1)).alias("n"),
            ).first()
            if row["n"] > 0 and row["m"] is not None:
                self._save(row["m"])
        return df
