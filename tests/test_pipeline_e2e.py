"""End-to-end pipeline tests against an independent pandas oracle —
mirrors the reference's e2e verifications (test/engine/verify/count.go:30
LogCount, log_field.go:80 LogFieldKV, log_order.go:31 LogOrder)."""

from __future__ import annotations

import re
import shutil

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ilogtail_spark.operators.timeparse import gotime_op, strptime_op, strptime_to_java
from ilogtail_spark.plans.checkpoint import CheckpointTable
from ilogtail_spark.plans.pipeline import (
    FLAGSHIP_SPEC,
    NGINX_PATTERN,
    ROLE_DIM,
    build_pipeline,
    run_pipeline,
)

OUT = "/tmp/ilogtail_spark_test_out"


def _pandas_oracle_routes(pdf: pd.DataFrame) -> pd.Series:
    """Naive row-by-row reimplementation of the flagship routing."""
    pat = re.compile(NGINX_PATTERN)

    def route(row):
        if re.fullmatch("tool", row["role"] or ""):
            return "sink_tool"
        m = pat.search(row["text"] or "")
        if m and re.fullmatch(r"5\d\d", m.group(6)):
            return "sink_errors"
        if re.fullmatch("assistant|system", row["role"] or ""):
            return "sink_model"
        return "sink_default"

    return pdf.apply(route, axis=1)


class TestFlagshipVsOracle:
    def test_per_sink_counts_and_rows(self, spark, transcripts):
        routed = build_pipeline(transcripts, FLAGSHIP_SPEC)
        got = routed.select("conv_id", "turn_idx", "route").toPandas()

        pdf = transcripts.toPandas()
        pdf["route"] = _pandas_oracle_routes(pdf)

        # verify.LogCount per sink
        assert (
            got.groupby("route").size().to_dict()
            == pdf.groupby("route").size().to_dict()
        )
        # routed-row equality: exact (conv_id, turn_idx) set per sink
        g = set(map(tuple, got[["conv_id", "turn_idx", "route"]].values))
        e = set(map(tuple, pdf[["conv_id", "turn_idx", "route"]].values))
        assert g == e

    def test_role_group_enrichment(self, spark, transcripts):
        routed = build_pipeline(transcripts, FLAGSHIP_SPEC)
        bad = routed.filter(
            F.col("role_group") != F.element_at(
                F.create_map(*[F.lit(x) for kv in ROLE_DIM.items() for x in kv]),
                F.col("role"),
            )
        ).count()
        assert bad == 0

    def test_per_turn_text_equality_under_order(self, spark, transcripts):
        """Byte-for-byte text equality under stable (conv_id, turn_idx)
        ordering — the north-rule per-row invariant."""
        routed = build_pipeline(transcripts, FLAGSHIP_SPEC)
        got = (
            routed.orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text")
            .toPandas()
        )
        exp = (
            transcripts.orderBy("conv_id", "turn_idx")
            .select("conv_id", "turn_idx", "text")
            .toPandas()
        )
        assert got["text"].tolist() == exp["text"].tolist()

    def test_lineage_nonnull_unique(self, spark, transcripts):
        routed = build_pipeline(transcripts, FLAGSHIP_SPEC)
        n = routed.count()
        assert routed.filter(F.col("lineage").isNull()).count() == 0
        assert routed.select("lineage").distinct().count() == n


class TestRunAndResume:
    def test_write_aggregate_checkpoint_resume(self, spark, transcripts):
        shutil.rmtree(OUT, ignore_errors=True)
        counts = run_pipeline(spark, transcripts, FLAGSHIP_SPEC, OUT, run_id="t1")
        assert sum(counts.values()) == transcripts.count()

        # sink dirs exist per route
        routed = spark.read.parquet(f"{OUT}/routed")
        assert set(counts) == set(r["route"] for r in routed.select("route").distinct().collect())

        # grouped aggregate table written
        grouped = spark.read.parquet(f"{OUT}/group_route_role_group")
        assert grouped.count() > 0

        # checkpoint recorded; second run skips work and returns same counts
        ckpt = CheckpointTable(spark, f"{OUT}/_checkpoint")
        assert ckpt.is_committed("t1", "route_write")
        counts2 = run_pipeline(spark, transcripts, FLAGSHIP_SPEC, OUT, run_id="t1")
        assert counts2 == counts
        # new run id executes afresh
        counts3 = run_pipeline(spark, transcripts, FLAGSHIP_SPEC, OUT, run_id="t2")
        assert counts3 == counts

    def test_checkpoint_read_failure_raises(self, spark):
        from py4j.protocol import Py4JJavaError

        missing = CheckpointTable(spark, f"{OUT}_never_written/_checkpoint")
        assert not missing.is_committed("t1", "route_write")
        assert missing.payload("t1", "route_write") is None
        # a path that cannot be read is not "never committed"
        with pytest.raises(Py4JJavaError, match="nosuchfs"):
            CheckpointTable(spark, "nosuchfs:///x/_checkpoint").is_committed("t1", "route_write")


class TestTimeparse:
    def test_strptime_format_conversion(self):
        assert strptime_to_java("%Y-%m-%d %H:%M:%S") == "yyyy-MM-dd HH:mm:ss"
        with pytest.raises(ValueError):
            strptime_to_java("%Q")

    def test_strptime_op_parse_and_null(self, spark):
        df = spark.createDataFrame([("2024-03-05 06:07:08",), ("junk",)], "t string")
        out = strptime_op(df, "t", "%Y-%m-%d %H:%M:%S", dest="ts").collect()
        vals = {r["t"]: r["ts"] for r in out}
        assert vals["2024-03-05 06:07:08"] is not None
        assert vals["junk"] is None  # keep-on-error: null, row retained

    def test_strptime_epoch_mode(self, spark):
        df = spark.createDataFrame([("1704067200",)], "t string")
        out = strptime_op(df, "t", "%s", dest="ts").first()
        assert out["ts"].year == 2024

    def test_gotime_numeric_modes(self, spark):
        df = spark.createDataFrame([("1704067200",)], "t string")
        out = gotime_op(df, "t", "seconds", "ms", "milliseconds").first()
        assert out["ms"] == "1704067200000"

    def test_gotime_layout(self, spark):
        df = spark.createDataFrame([("2024-01-02 03:04:05",)], "t string")
        out = gotime_op(df, "t", "2006-01-02 15:04:05", "d", "2006/01/02").first()
        assert out["d"] == "2024/01/02"
