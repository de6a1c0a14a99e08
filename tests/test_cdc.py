"""cdc_apply (operators/cdc.py): canal-shaped change-log application —
latest event per key wins, deletes remove, snapshots rank below the log
(input_canal.go:211-215,349-406 event model)."""

from ilogtail_spark.operators.cdc import cdc_apply
from tests.conftest import spark  # noqa: F401

SCHEMA = "pk long, _offset_ long, _event_ string, val string"


def _state(df, base=None):
    out = cdc_apply(df, ["pk"], order_cols=["_offset_"],
                    payload_cols=["val"], base=base)
    return {r["pk"]: r["val"] for r in out.collect()}


class TestCdcApply:
    def test_last_event_wins(self, spark):  # noqa: F811
        ev = spark.createDataFrame(
            [(1, 10, "row_insert", "a"),
             (1, 20, "row_update", "b"),
             (2, 5, "row_insert", "x")],
            SCHEMA,
        )
        assert _state(ev) == {1: "b", 2: "x"}

    def test_delete_removes_and_can_be_overwritten(self, spark):  # noqa: F811
        ev = spark.createDataFrame(
            [(1, 10, "row_insert", "a"),
             (1, 20, "row_delete", "a"),
             (2, 10, "row_insert", "x"),
             (2, 20, "row_delete", "x"),
             (2, 30, "row_insert", "x2")],  # re-insert after delete
            SCHEMA,
        )
        assert _state(ev) == {2: "x2"}

    def test_ddl_events_ignored(self, spark):  # noqa: F811
        ev = spark.createDataFrame(
            [(1, 10, "row_insert", "a"),
             (1, 99, "ddl", "ALTER TABLE ...")],
            SCHEMA,
        )
        assert _state(ev) == {1: "a"}

    def test_snapshot_base_loses_to_any_event(self, spark):  # noqa: F811
        base = spark.createDataFrame(
            [(1, "old"), (2, "keep"), (3, "gone")], "pk long, val string"
        )
        ev = spark.createDataFrame(
            [(1, 1, "row_update", "new"),
             (3, 1, "row_delete", "gone"),
             (4, 1, "row_insert", "fresh")],
            SCHEMA,
        )
        assert _state(ev, base=base) == {1: "new", 2: "keep", 4: "fresh"}

    def test_shuffle_carries_keys_not_events(self, spark):  # noqa: F811
        # the plan must be ONE partial-aggregating keyed agg — no window
        # sort over raw events, no join
        ev = spark.createDataFrame(
            [(1, 10, "row_insert", "a")], SCHEMA
        )
        plan = (
            cdc_apply(ev, ["pk"], payload_cols=["val"])
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "partial_max_by" in plan or "partial_maxby" in plan.lower()
        assert "Window" not in plan and "Join" not in plan


class TestCdcStateTable:
    """Streaming CDC materialization: generation-flip durability +
    per-batch idempotence."""

    def test_batches_fold_and_survive_restart(self, spark, tmp_path):
        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"])
        b1 = spark.createDataFrame(
            [(1, 10, "row_insert", "a"), (2, 11, "row_insert", "b")], SCHEMA
        )
        st.apply_batch(b1, 0)
        b2 = spark.createDataFrame(
            [(1, 20, "row_update", "a2"), (2, 21, "row_delete", "b"),
             (3, 22, "row_insert", "c")],
            SCHEMA,
        )
        st.apply_batch(b2, 1)
        got = {r["pk"]: r["val"] for r in st.current().collect()}
        assert got == {1: "a2", 3: "c"}
        # restart: a NEW handle reads the committed generation
        st2 = CdcStateTable(spark, path, ["pk"], payload_cols=["val"])
        assert {r["pk"]: r["val"] for r in st2.current().collect()} == got

    def test_replayed_batch_is_noop(self, spark, tmp_path):
        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"])
        b = spark.createDataFrame([(1, 10, "row_insert", "a")], SCHEMA)
        st.apply_batch(b, 0)
        gen_before = st._meta()["gen"]
        st.apply_batch(b, 0)  # retried micro-batch
        assert st._meta()["gen"] == gen_before
        assert {r["pk"]: r["val"] for r in st.current().collect()} == {1: "a"}

    def test_generation_gc(self, spark, tmp_path):
        import os

        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"],
                           keep_generations=2)
        for i in range(4):
            b = spark.createDataFrame(
                [(1, 10 + i, "row_update", f"v{i}")], SCHEMA
            )
            st.apply_batch(b, i)
        gens = sorted(d for d in os.listdir(path) if d.startswith("gen_"))
        assert gens == ["gen_3", "gen_4"]  # newest 2 kept, 1..2 GCed
        assert {r["val"] for r in st.current().collect()} == {"v3"}

    def test_foreachbatch_stream(self, spark, tmp_path):
        from ilogtail_spark.operators.cdc import CdcStateTable

        watch = tmp_path / "events"
        watch.mkdir()
        spark.createDataFrame(
            [(1, 10, "row_insert", "a"), (1, 20, "row_update", "b")], SCHEMA
        ).coalesce(1).write.mode("append").parquet(str(watch))
        st = CdcStateTable(spark, str(tmp_path / "state"), ["pk"],
                           payload_cols=["val"])
        stream = spark.readStream.schema(SCHEMA).parquet(str(watch))
        q = (
            stream.writeStream.foreachBatch(
                lambda df, bid: st.apply_batch(df, bid)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert {r["pk"]: r["val"] for r in st.current().collect()} == {1: "b"}

    def test_bucketed_partial_rewrite(self, spark, tmp_path):
        """A batch rewrites ONLY the buckets containing its keys: every
        untouched bucket's manifest entry keeps pointing at the PRIOR
        generation's directory and those files stay byte-identical —
        the O(touched + batch) per-trigger property (never O(|state|))."""
        import hashlib
        import os

        from ilogtail_spark.operators.cdc import CdcStateTable

        def dir_digest(d):
            out = {}
            for root, _, files in os.walk(d):
                for f in sorted(files):
                    p = os.path.join(root, f)
                    with open(p, "rb") as fh:
                        out[p] = hashlib.md5(fh.read()).hexdigest()
            return out

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"],
                           n_buckets=8)
        b1 = spark.createDataFrame(
            [(k, 10 + k, "row_insert", f"v{k}") for k in range(1, 21)],
            SCHEMA,
        )
        st.apply_batch(b1, 0)
        map1 = dict(st._meta()["buckets"])
        assert len(map1) > 1  # keys spread over several buckets
        # ONE key updated → exactly the buckets of that key are touched
        b2 = spark.createDataFrame([(1, 99, "row_update", "v1x")], SCHEMA)
        touched_bucket = str(
            spark.createDataFrame([(1,)], "pk long")
            .select(st._bucket_of().alias("b")).collect()[0]["b"]
        )
        before = {
            b: dir_digest(p) for b, p in map1.items() if b != touched_bucket
        }
        st.apply_batch(b2, 1)
        map2 = dict(st._meta()["buckets"])
        # untouched buckets: same directory by reference, same bytes
        for b, p in map1.items():
            if b == touched_bucket:
                assert map2[b] != p  # rewritten into the new generation
            else:
                assert map2[b] == p
                assert dir_digest(p) == before[b]
        # and the state itself equals a full recompute over the log
        got = {r["pk"]: r["val"] for r in st.current().collect()}
        want = {k: f"v{k}" for k in range(2, 21)}
        want[1] = "v1x"
        assert got == want

    def test_bucketed_delete_empties_bucket(self, spark, tmp_path):
        """Deleting a bucket's only key removes the bucket from the
        manifest; deleting EVERY key leaves a loadable empty state."""
        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"],
                           n_buckets=4)
        st.apply_batch(
            spark.createDataFrame([(1, 10, "row_insert", "a")], SCHEMA), 0
        )
        st.apply_batch(
            spark.createDataFrame([(1, 20, "row_delete", "a")], SCHEMA), 1
        )
        assert st._meta()["buckets"] == {}
        cur = st.current()
        assert cur is not None and cur.count() == 0
        assert set(cur.columns) == {"pk", "val"}

    def test_reattach_with_respelled_path_never_gcs_live_state(
        self, spark, tmp_path
    ):
        """GC liveness compares the gen/bucket SUFFIX, not the full
        path string: a handle reattached with a trailing-slash spelling
        of the same root must not delete directories the committed
        manifest references."""
        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"],
                           n_buckets=4)
        for i in range(3):
            st.apply_batch(
                spark.createDataFrame(
                    [(1, 10 + i, "row_update", f"v{i}")], SCHEMA
                ),
                i,
            )
        # reattach with a different spelling of the same root
        st2 = CdcStateTable(spark, path + "/", ["pk"], payload_cols=["val"],
                            n_buckets=4)
        st2.apply_batch(
            spark.createDataFrame([(1, 99, "row_update", "vX")], SCHEMA), 3
        )
        assert {r["val"] for r in st2.current().collect()} == {"vX"}
        # and the original-spelling handle still loads it too
        assert {r["val"] for r in st.current().collect()} == {"vX"}

    def test_keep_generations_retains_manifest_history(self, spark, tmp_path):
        """With keep_generations=3, the dirs referenced by the last 3
        manifests survive GC even when their generation number falls
        below the cutoff (a bucket untouched for many batches keeps its
        old-generation directory alive through the manifest history)."""
        import os

        from ilogtail_spark.operators.cdc import CdcStateTable

        path = str(tmp_path / "state")
        st = CdcStateTable(spark, path, ["pk"], payload_cols=["val"],
                           keep_generations=3, n_buckets=4)
        # key 2's bucket is written once at gen_1 and never touched again
        st.apply_batch(
            spark.createDataFrame(
                [(1, 10, "row_insert", "a"), (2, 11, "row_insert", "KEEP")],
                SCHEMA,
            ),
            0,
        )
        for i in range(1, 6):  # five more batches touching only key 1
            st.apply_batch(
                spark.createDataFrame(
                    [(1, 10 + i, "row_update", f"v{i}")], SCHEMA
                ),
                i,
            )
        # gen_1 is far below the cutoff but still holds key 2's bucket,
        # referenced by every retained manifest
        assert any(d.startswith("gen_1") for d in os.listdir(path))
        got = {r["pk"]: r["val"] for r in st.current().collect()}
        assert got == {1: "v5", 2: "KEEP"}

    def test_nondeterministic_batch_raises_before_commit(self, spark, tmp_path):
        """apply_batch evaluates the batch once for the buckets it touches
        and once for the write. A key that changes between the two (here:
        current_timestamp(), which Spark fixes per query) writes buckets
        whose committed rows were never merged in: it raises and commits
        nothing."""
        import pytest
        from pyspark.sql import functions as F

        from ilogtail_spark.operators.cdc import CdcStateTable

        st = CdcStateTable(spark, str(tmp_path / "state"), ["pk"], payload_cols=["val"],
                           n_buckets=256)
        st.apply_batch(spark.createDataFrame([(1, 10, "row_insert", "a")], SCHEMA), 0)
        meta = st._meta()
        moving = spark.range(8).select(
            (F.unix_micros(F.current_timestamp()) + F.col("id")).alias("pk"),
            F.col("id").alias("_offset_"),
            F.lit("row_insert").alias("_event_"),
            F.lit("x").alias("val"),
        )
        with pytest.raises(ValueError, match="nondeterministic"):
            st.apply_batch(moving, 1)
        assert st._meta() == meta
        assert {r["pk"]: r["val"] for r in st.current().collect()} == {1: "a"}

    def test_fault_between_generation_write_and_commit(
        self, spark, tmp_path, monkeypatch  # noqa: F811
    ):
        """A manifest commit that fails after its generation was written
        leaves the batch unapplied; re-applying the same batch_id through a
        fresh handle folds it in once, with the rows of a clean run."""
        import json
        import os

        import pytest

        from ilogtail_spark.operators.cdc import CdcStateTable
        from ilogtail_spark.plans.checkpoint import CheckpointTable

        batches = [
            spark.createDataFrame(
                [(1, 10, "row_insert", "a"), (2, 11, "row_insert", "b")], SCHEMA
            ),
            spark.createDataFrame(
                [(1, 20, "row_update", "a2"), (2, 21, "row_delete", "b"),
                 (3, 22, "row_insert", "c")],
                SCHEMA,
            ),
        ]

        def handle(path):
            return CdcStateTable(spark, path, ["pk"], payload_cols=["val"])

        def rows(st):
            return sorted(map(repr, st.current().collect()))

        clean = handle(str(tmp_path / "clean"))
        for i, b in enumerate(batches):
            clean.apply_batch(b, i)

        commit = CheckpointTable.commit
        calls = []

        def fail_once(self, *args, **kwargs):
            calls.append(args)
            if len(calls) == 1:
                raise RuntimeError("injected fault before commit")
            return commit(self, *args, **kwargs)

        path = str(tmp_path / "faulted")
        st = handle(path)
        st.apply_batch(batches[0], 0)
        monkeypatch.setattr(CheckpointTable, "commit", fail_once)
        with pytest.raises(RuntimeError, match="injected"):
            st.apply_batch(batches[1], 1)
        # the fault struck after gen_2 was written; the state is batch 0's
        assert os.path.isdir(f"{path}/gen_2")
        assert {r["val"] for r in handle(path).current().collect()} == {"a", "b"}

        handle(path).apply_batch(batches[1], 1)
        assert rows(handle(path)) == rows(clean)
        log = f"{path}/_commits"
        entries = [
            json.loads(open(os.path.join(log, n)).read())
            for n in sorted(os.listdir(log)) if n.endswith(".json") and n[0] != "."
        ]
        assert [e["payload"]["batch_id"] for e in entries] == [0, 1]
