"""Iceberg table adapter with parquet fallback.

The production deployment (north rule) reads/writes Iceberg: snapshot
isolation gives the exactly-once sink commit the reference implements by
hand (RangeCheckpoint + DiskBufferWriter, core/checkpoint/
RangeCheckpoint.h:26, core/plugin/flusher/sls/DiskBufferWriter.cpp), and
snapshot-range incremental reads replace file-offset checkpoints
(core/file_server/ offsets).

This sandbox ships no iceberg-spark-runtime jar and has no network, so
every call degrades to the parquet equivalent with the SAME call shape:
  * append commit        → atomic directory write + commit-log entry
  * snapshot-range read  → full read (offsets tracked by the checkpoint
    log at the pipeline level instead)
The pipeline code paths are identical either way — swap `ICEBERG_OK`
by adding the runtime jar + catalog conf in `session.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.org.apache.iceberg.Table` attribute access
    # NEVER raises — py4j returns a JavaPackage placeholder for any dotted
    # path — so the class must be resolved for real via Class.forName.
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")  # noqa: SLF001
        return True
    except Exception:
        return False


def write_append(df: DataFrame, identifier: str, *, fallback_path: str) -> None:
    """Append with an atomic commit: Iceberg snapshot if available, else
    an atomic parquet directory rename (Spark's committer)."""
    if iceberg_available(df.sparkSession):
        df.writeTo(identifier).append()
    else:
        df.write.mode("append").parquet(fallback_path)


def read_table(
    spark: SparkSession,
    identifier: str,
    *,
    fallback_path: str,
    start_snapshot_id: int | None = None,
    end_snapshot_id: int | None = None,
) -> DataFrame:
    """Read a table, optionally an incremental snapshot range (the
    Iceberg analog of the reference's file-offset resume)."""
    if iceberg_available(spark):
        reader = spark.read.format("iceberg")
        if start_snapshot_id is not None:
            reader = reader.option("start-snapshot-id", str(start_snapshot_id))
        if end_snapshot_id is not None:
            reader = reader.option("end-snapshot-id", str(end_snapshot_id))
        return reader.load(identifier)
    return spark.read.parquet(fallback_path)
