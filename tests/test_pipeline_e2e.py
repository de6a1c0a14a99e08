"""End-to-end pipeline tests against an independent pandas oracle —
mirrors the reference's e2e verifications (test/engine/verify/count.go:30
LogCount, log_field.go:80 LogFieldKV, log_order.go:31 LogOrder)."""

from __future__ import annotations

import json
import os
import re
import shutil

import pandas as pd
import pytest
from conftest import compiled_classes, spark_jobs
from pyspark.sql import functions as F

from ilogtail_spark.operators.timeparse import gotime_op, strptime_op, strptime_to_java
from ilogtail_spark.plans.checkpoint import _SCHEMA, CheckpointTable
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


def _rows(df) -> list:
    return sorted(map(repr, df.collect()))


def _log(path: str) -> list[dict]:
    """A commit log's entries, oldest first, read from its files."""
    names = sorted(n for n in os.listdir(path) if re.fullmatch(r"\d{20}\.json", n))
    return [json.loads(open(os.path.join(path, n)).read()) for n in names]


_ROUTER_SHAPES = {
    # sink_never matches no row and must be absent, not 0
    "exclusive_empty_route": ({"router": {"rules": [
        ["role", "nobody", "sink_never"], ["role", "tool", "sink_tool"],
        ["role", "assistant|system", "sink_model"]]}}, None),
    "drop_dismatch": ({"router": {"rules": [["role", "tool|user", "sink_tu"]],
                                  "drop_dismatch": True}}, None),
    # every user row fans out to two sinks
    "copy": ({"router": {"mode": "copy", "rules": [
        ["role", "user", "sink_user"], ["role", "user", "sink_audit"],
        ["role", "tool", "sink_tool"]]}}, None),
    "no_router": ({}, None),
    "shard_keys": (FLAGSHIP_SPEC, ["conv_id"]),
}


class TestSinkPath:
    @pytest.mark.parametrize("shape", sorted(_ROUTER_SHAPES))
    def test_observed_counts_match_grouping(self, spark, transcripts, shape):
        spec, shard_keys = _ROUTER_SHAPES[shape]
        out = f"{OUT}_shape_{shape}"
        shutil.rmtree(out, ignore_errors=True)
        counts = run_pipeline(spark, transcripts, spec, out, run_id="s1",
                              shard_keys=shard_keys, shard_count=8)
        grouped = {
            r["route"]: r["count"]
            for r in spark.read.parquet(f"{out}/routed").groupBy("route").count().collect()
        }
        table = {
            r["route"]: r["log_count"] for r in spark.read.parquet(f"{out}/sink_counts").collect()
        }
        assert counts == grouped == table
        if shape == "exclusive_empty_route":
            assert "sink_never" not in counts and "sink_default" in counts
        if shape == "copy":
            assert counts["sink_user"] == counts["sink_audit"] > 0
        payload = CheckpointTable(spark, f"{out}/_checkpoint").payload("s1", "route_write")
        assert payload["counts"] == counts
        assert payload["rows_out"] == sum(counts.values())
        shutil.rmtree(out, ignore_errors=True)

    def test_commit_payload_and_tables(self, spark, transcripts):
        out = f"{OUT}_payload"
        shutil.rmtree(out, ignore_errors=True)
        counts = run_pipeline(spark, transcripts, FLAGSHIP_SPEC, out, run_id="p1")
        payload = CheckpointTable(spark, f"{out}/_checkpoint").payload("p1", "route_write")
        n = transcripts.count()
        assert payload == {"counts": counts, "rows_in": n, "rows_out": n}
        assert sorted(os.listdir(out)) == [
            "_checkpoint", "group_route_role_group", "routed", "sink_counts"]
        shutil.rmtree(out, ignore_errors=True)

    def test_warm_flagship_job_budget(self, spark, transcripts):
        """A fresh flagship run is 4 jobs: the routed write, the grouped
        aggregate (shuffle map + result) and sink_counts. The commit is a
        driver-written log entry, not a job."""
        for i in range(2):
            out = f"{OUT}_jobs_{i}"
            shutil.rmtree(out, ignore_errors=True)
            n = spark_jobs(spark, lambda: run_pipeline(
                spark, transcripts, FLAGSHIP_SPEC, out, run_id="j1"))
            shutil.rmtree(out, ignore_errors=True)
        assert 0 < n <= 4

    def test_committed_rerun_no_jobs(self, spark, transcripts):
        """A committed run_id is answered from the commit log alone."""
        out = f"{OUT}_rerun_jobs"
        shutil.rmtree(out, ignore_errors=True)
        counts = run_pipeline(spark, transcripts, FLAGSHIP_SPEC, out, run_id="j1")
        again = {}
        n = spark_jobs(spark, lambda: again.update(run_pipeline(
            spark, transcripts, FLAGSHIP_SPEC, out, run_id="j1")))
        shutil.rmtree(out, ignore_errors=True)
        assert again == counts
        assert n == 0

    def test_read_of_many_partitions_returns_every_row(self, spark, tmp_path):
        """A sink with more route directories than Spark's parallel-listing
        threshold (32) is listed on the driver and reads back whole."""
        from ilogtail_spark.operators.route import write_routed

        df = spark.range(4000).select(
            "id", F.concat(F.lit("r"), (F.col("id") % 40).cast("string")).alias("route"))
        write_routed(df, str(tmp_path / "routed"))
        assert sum(n.startswith("route=") for n in os.listdir(tmp_path / "routed")) == 40
        back = spark.read.parquet(str(tmp_path / "routed"))
        assert _rows(back.select("id", "route")) == _rows(df)

    def test_rebuilt_flagship_compiles_nothing(self, spark, transcripts):
        """A second fresh run builds the same plans, so every generated
        class comes from the codegen cache."""
        outs = [f"{OUT}_codegen_{i}" for i in range(2)]
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
        run_pipeline(spark, transcripts, FLAGSHIP_SPEC, outs[0], run_id="c1")
        n = compiled_classes(spark, lambda: run_pipeline(
            spark, transcripts, FLAGSHIP_SPEC, outs[1], run_id="c1"))
        for out in outs:
            shutil.rmtree(out, ignore_errors=True)
        assert n == 0

    def test_fault_between_write_and_commit(self, spark, transcripts, monkeypatch):
        clean, faulted = f"{OUT}_clean", f"{OUT}_faulted"
        for d in (clean, faulted):
            shutil.rmtree(d, ignore_errors=True)
        run_pipeline(spark, transcripts, FLAGSHIP_SPEC, clean, run_id="f1")

        commit = CheckpointTable.commit
        calls = []

        def fail_once(self, *args, **kwargs):
            calls.append(args)
            if len(calls) == 1:
                raise RuntimeError("injected fault before commit")
            return commit(self, *args, **kwargs)

        monkeypatch.setattr(CheckpointTable, "commit", fail_once)
        with pytest.raises(RuntimeError, match="injected"):
            run_pipeline(spark, transcripts, FLAGSHIP_SPEC, faulted, run_id="f1")
        # the fault struck after the routed and aggregate writes
        assert {"routed", "sink_counts", "group_route_role_group"} <= set(os.listdir(faulted))
        assert not os.path.exists(f"{faulted}/_checkpoint")
        run_pipeline(spark, transcripts, FLAGSHIP_SPEC, faulted, run_id="f1")

        for table in ("routed", "sink_counts", "group_route_role_group"):
            assert _rows(spark.read.parquet(f"{faulted}/{table}")) == _rows(
                spark.read.parquet(f"{clean}/{table}")), table
        assert [e["run_id"] for e in _log(f"{faulted}/_checkpoint")] == ["f1"]
        for d in (clean, faulted):
            shutil.rmtree(d, ignore_errors=True)


class TestCheckpointFormat:
    def test_commit_log_entries(self, spark, tmp_path, monkeypatch):
        from py4j.protocol import Py4JJavaError

        ckpt = CheckpointTable(spark, str(tmp_path / "_checkpoint"))
        ckpt.commit("r1", "route_write", {"a": 1})
        ckpt.commit("r0", "route_write", {"a": 0})
        # one <seq>.json entry per commit, in commit order
        assert _log(ckpt.path) == [
            {"run_id": "r1", "stage": "route_write", "payload": {"a": 1}},
            {"run_id": "r0", "stage": "route_write", "payload": {"a": 0}},
        ]
        # a writer killed before its rename leaves a hidden temp file
        (tmp_path / "_checkpoint" / f".{5:020d}.json.0123.tmp").write_text("{torn")
        assert ckpt.payload("r1", "route_write") == {"a": 1}

        # a second writer that listed the log before the first one
        # committed picks the same sequence number and must not win
        late = CheckpointTable(spark, ckpt.path)
        stale = late._names()
        ckpt.commit("r1", "route_write", {"a": 2})
        monkeypatch.setattr(late, "_names", lambda: stale)
        with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
            late.commit("r1", "route_write", {"a": 3})
        assert ckpt.payload("r1", "route_write") == {"a": 2}
        assert [e["payload"] for e in _log(ckpt.path)] == [{"a": 1}, {"a": 0}, {"a": 2}]

    def test_lost_race_leaves_no_temp_file(self, spark, tmp_path, monkeypatch):
        from py4j.protocol import Py4JJavaError

        ckpt = CheckpointTable(spark, str(tmp_path / "_checkpoint"))
        ckpt.commit("r1", "route_write", {"a": 1})
        late = CheckpointTable(spark, ckpt.path)
        monkeypatch.setattr(late, "_names", lambda: [])
        with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
            late.commit("r1", "route_write", {"a": 2})
        entry = f"{0:020d}.json"
        # the loser's hidden temp file and its checksum are gone
        assert sorted(os.listdir(ckpt.path)) == sorted([entry, f".{entry}.crc"])
        assert _log(ckpt.path) == [{"run_id": "r1", "stage": "route_write", "payload": {"a": 1}}]

    def test_mixed_format_reads_back(self, spark, tmp_path):
        """Files written by createDataFrame (earlier commits, flat route →
        count payloads) and by the JVM-built commit row share a table."""
        out = str(tmp_path / "out")
        path = f"{out}/_checkpoint"
        old = [
            ("r1", "route_write", json.dumps({"sink_a": 3}), True, None),
            ("r1", "route_write", json.dumps({"sink_a": 4}), True, 1),
            ("r0", "route_write", json.dumps({"sink_a": 5}), True, 2),
        ]
        spark.createDataFrame(old, _SCHEMA).write.mode("append").parquet(path)
        ckpt = CheckpointTable(spark, path)
        assert ckpt.payload("r1", "route_write") == {"sink_a": 4}
        new = {"counts": {"sink_a": 6}, "rows_in": 6, "rows_out": 6}
        ckpt.commit("r1", "route_write", new)
        assert ckpt.payload("r1", "route_write") == new
        # a run committed by the earlier format resumes with its counts,
        # writing nothing
        df = spark.range(1).withColumn("role", F.lit("user"))
        assert run_pipeline(spark, df, {}, out, run_id="r0") == {"sink_a": 5}
        assert os.listdir(out) == ["_checkpoint"]


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
