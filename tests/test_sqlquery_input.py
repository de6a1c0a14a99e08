"""service_mysql/pgsql incremental SQL-query input in offline form
(sources/sqlquery.py vs plugins/input/mysql/mysql.go:58-115,296-370):
checkpointed incremental extraction with a user statement and a `?`
placeholder."""

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.sources.sqlquery import SqlQueryInput
from tests.conftest import spark  # noqa: F401


def _write_rows(spark, path, ids):  # noqa: F811
    spark.createDataFrame(
        [(i, f"event-{i}") for i in ids], "id long, payload string"
    ).write.mode("append").parquet(path)


class TestSqlQueryInput:
    def _input(self, spark, tmp_path, **kw):  # noqa: F811
        args = dict(
            tables={"src": str(tmp_path / "src")},
            ckpt_path=str(tmp_path / "ckpt"),
            checkpoint=True,
            checkpoint_column="id",
            checkpoint_column_type="int",
            checkpoint_start="0",
        )
        args.update(kw)
        return SqlQueryInput(
            spark, "SELECT * FROM src WHERE id > ? ORDER BY id", **args
        )

    def test_incremental_cycles(self, spark, tmp_path):  # noqa: F811
        src = str(tmp_path / "src")
        _write_rows(spark, src, range(1, 11))
        inp = self._input(spark, tmp_path)
        assert inp.collect().count() == 10
        assert inp.current_checkpoint() == "10"
        # nothing new: empty batch, checkpoint UNCHANGED (mysql.go:348)
        assert inp.collect().count() == 0
        assert inp.current_checkpoint() == "10"
        # new rows arrive: only they are read
        _write_rows(spark, src, range(11, 16))
        batch = inp.collect()
        assert sorted(r["id"] for r in batch.collect()) == [11, 12, 13, 14, 15]
        assert inp.current_checkpoint() == "15"

    def test_restart_resumes_from_durable_checkpoint(self, spark, tmp_path):  # noqa: F811
        src = str(tmp_path / "src")
        _write_rows(spark, src, range(1, 6))
        self._input(spark, tmp_path).collect()
        # a NEW instance (process restart) sees the committed value
        inp2 = self._input(spark, tmp_path)
        assert inp2.current_checkpoint() == "5"
        _write_rows(spark, src, [6])
        assert [r["id"] for r in inp2.collect().collect()] == [6]

    def test_int_ordering_not_lexicographic(self, spark, tmp_path):  # noqa: F811
        # ids 2 and 10: string max would pick "2"; int max must pick 10
        src = str(tmp_path / "src")
        _write_rows(spark, src, [2, 10])
        inp = self._input(spark, tmp_path)
        inp.collect()
        assert inp.current_checkpoint() == "10"

    def test_max_sync_size_bounds_batch(self, spark, tmp_path):  # noqa: F811
        src = str(tmp_path / "src")
        _write_rows(spark, src, range(1, 101))
        inp = self._input(spark, tmp_path, max_sync_size=30)
        batch = inp.collect()
        assert batch.count() == 30
        # checkpoint advanced only past what was emitted
        assert inp.current_checkpoint() == "30"
        assert inp.collect().count() == 30  # next page

    def test_requires_placeholder_and_column(self, spark, tmp_path):  # noqa: F811
        with pytest.raises(ValueError, match="placeholder"):
            SqlQueryInput(
                spark, "SELECT * FROM src",
                tables={}, ckpt_path=str(tmp_path / "c"),
                checkpoint=True, checkpoint_column="id",
            )
        with pytest.raises(ValueError, match="CheckPointColumn"):
            SqlQueryInput(
                spark, "SELECT * FROM src WHERE id > ?",
                tables={}, ckpt_path=str(tmp_path / "c"), checkpoint=True,
            )

    def test_yaml_adapter_end_to_end(self, spark, tmp_path):  # noqa: F811
        from ilogtail_spark.plans.config import read_inputs

        src = str(tmp_path / "src")
        _write_rows(spark, src, range(1, 8))
        cfg = {"inputs": [{
            "Type": "service_mysql",
            "StateMent": "SELECT id, payload FROM src WHERE id > ? ORDER BY id",
            "CheckPoint": True,
            "CheckPointColumn": "id",
            "CheckPointColumnType": "int",
            "CheckPointStart": "3",
            "Tables": {"src": src},
            "CheckPointPath": str(tmp_path / "ckpt"),
        }]}
        out = read_inputs(spark, cfg)
        assert sorted(r["id"] for r in out.collect()) == [4, 5, 6, 7]

    def test_statement_required(self, spark):  # noqa: F811
        from ilogtail_spark.plans.config import read_inputs

        with pytest.raises(ValueError, match="StateMent"):
            read_inputs(spark, {"inputs": [{"Type": "service_pgsql"}]})

    def test_committed_rerun_reads_nothing(self, spark, tmp_path):  # noqa: F811
        """A YAML run re-submitted under a committed run_id returns the
        committed counts without reading its inputs: routed/ stays
        byte-identical and the SQL checkpoint does not move, although new
        rows are waiting."""
        from pathlib import Path

        from ilogtail_spark.plans.config import run_ilogtail_config

        def snapshot(d):
            return {p.relative_to(d): p.read_bytes() for p in Path(d).rglob("*") if p.is_file()}

        src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
        _write_rows(spark, src, range(1, 6))
        cfg = {
            "inputs": [{
                "Type": "service_mysql",
                "StateMent": "SELECT id, payload FROM src WHERE id > ? ORDER BY id",
                "CheckPoint": True, "CheckPointColumn": "id",
                "CheckPointColumnType": "int", "CheckPointStart": "0",
                "Tables": {"src": src}, "CheckPointPath": ckpt,
            }],
            "flushers": [{"Type": "flusher_sls"}],
        }
        out_dir = str(tmp_path / "out")
        first = run_ilogtail_config(spark, cfg, out_dir=out_dir, run_id="r1")
        assert first == {"flusher_0_flusher_sls": 5}
        routed, ckpt_files = snapshot(f"{out_dir}/routed"), snapshot(ckpt)

        _write_rows(spark, src, range(6, 9))
        assert run_ilogtail_config(spark, cfg, out_dir=out_dir, run_id="r1") == first
        assert snapshot(f"{out_dir}/routed") == routed
        assert snapshot(ckpt) == ckpt_files
        # a new run_id does read them: the checkpoint can move
        assert run_ilogtail_config(spark, cfg, out_dir=out_dir, run_id="r2") == {
            "flusher_0_flusher_sls": 3}
        assert snapshot(ckpt) != ckpt_files
