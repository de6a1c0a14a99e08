"""Filter + enrich operator semantics (SURVEY.md §2.4, §2.5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.operators.enrich import (
    add_fields,
    appender,
    dict_map,
    geoip_range_join,
    rename_fields,
    tag_native,
)
from ilogtail_spark.operators.filters import (
    drop_last_key,
    fields_with_condition,
    filter_expr,
    filter_regex,
    pick_keys,
    rate_limit,
)


class TestFilterRegex:
    def test_include_exclude(self, spark):
        df = spark.createDataFrame(
            [("user", "ok"), ("user", "SECRET x"), ("tool", "ok")], "role string, text string"
        )
        out = filter_regex(df, include={"role": "user"}, exclude={"text": "SECRET.*"}).collect()
        assert len(out) == 1 and out[0]["text"] == "ok"

    def test_missing_include_key_drops(self, spark):
        # IsLogMatch: a row without the include key never matches (:77)
        df = spark.createDataFrame([(None, "x"), ("user", "x")], "role string, text string")
        out = filter_regex(df, include={"role": "user"}).collect()
        assert len(out) == 1

    def test_full_match_anchoring(self, spark):
        # the reference full-matches; substring must not pass
        df = spark.createDataFrame([("superuser",)], "role string")
        assert filter_regex(df, include={"role": "user"}).count() == 0


class TestFilterExpr:
    def test_tree(self, spark):
        df = spark.createDataFrame(
            [("a", "1"), ("b", "1"), ("a", "2")], "k string, v string"
        )
        tree = {"and": [{"key": "k", "regex": "a"}, {"not": {"key": "v", "regex": "2"}}]}
        out = filter_expr(df, tree).collect()
        assert len(out) == 1 and out[0]["v"] == "1"

    def test_bad_node_raises(self, spark):
        df = spark.createDataFrame([("a",)], "k string")
        with pytest.raises(ValueError):
            filter_expr(df, {"bogus": 1})


class TestFilterKeyRegexMap:
    def test_include_exclude_on_map_keys(self, spark):
        from ilogtail_spark.operators.filters import filter_key_regex_map

        df = spark.createDataFrame(
            [({"app_a": "1", "app_b": "2"},), ({"app_a": "1", "sys_x": "2"},)],
            "extra map<string,string>",
        )
        assert filter_key_regex_map(df, "extra", include=r"app_\w+").count() == 1
        assert filter_key_regex_map(df, "extra", exclude=r"sys_\w+").count() == 1


class TestOtelReshape:
    def test_span_shape(self, spark):
        from ilogtail_spark.operators.transform import otel_trace_reshape

        df = spark.createDataFrame(
            [("t1", "s1", "op", "2024-01-01 00:00:00", "2024-01-01 00:00:01", "x")],
            "tid string, sid string, op string, st string, en string, attr string",
        )
        out = otel_trace_reshape(
            df, trace_id="tid", span_id="sid", name="op",
            start_ts="st", end_ts="en", attr_keys=["attr"],
        ).first()
        assert out["traceId"] == "t1"
        assert out["endTimeUnixMicro"] - out["startTimeUnixMicro"] == 1_000_000
        assert out["attributes"]["attr"] == "x"


class TestMetadataGroup:
    def test_repartition_colocates(self, spark):
        from ilogtail_spark.operators.aggregate import metadata_group

        df = spark.createDataFrame(
            [("a", i) for i in range(10)] + [("b", i) for i in range(10)],
            "k string, v int",
        )
        out = metadata_group(df, ["k"], num_partitions=4)
        from pyspark.sql import functions as FF

        parts = (
            out.withColumn("p", FF.spark_partition_id())
            .groupBy("k").agg(FF.countDistinct("p").alias("np")).collect()
        )
        assert all(r["np"] == 1 for r in parts)  # each key in one partition


class TestFieldsWithCondition:
    def test_first_match_wins_and_drop(self, spark):
        df = spark.createDataFrame([("e1",), ("e2",), ("zz",)], "t string")
        cases = [
            {"when": {"key": "t", "regex": "e1"}, "add": {"sev": "high"}},
            {"when": {"key": "t", "regex": "e.*"}, "add": {"sev": "low"}},
        ]
        out = {r["t"]: r["sev"] for r in fields_with_condition(df, cases).collect()}
        assert out == {"e1": "high", "e2": "low", "zz": None}
        kept = fields_with_condition(df, cases, drop_if_not_match=True).count()
        assert kept == 2


class TestRateLimit:
    def test_deterministic_limit(self, spark):
        rows = [("k", i, f"2024-01-01 00:00:0{i % 2}") for i in range(8)]
        df = spark.createDataFrame(rows, "key string, i int, ts_s string").withColumn(
            "ts", F.to_timestamp("ts_s")
        )
        out = rate_limit(df, ["key"], 2, tiebreak=["i"]).collect()
        # 2 per (key, second-bucket) × 2 buckets
        assert len(out) == 4
        assert sorted(r["i"] for r in out) == [0, 1, 2, 3]  # lowest i win


class TestProjection:
    def test_pick_drop_rename(self, spark):
        df = spark.createDataFrame([(1, 2, 3)], "a int, b int, c int")
        assert pick_keys(df, include=["a"]).columns == ["a"]
        assert pick_keys(df, exclude=["b"]).columns == ["a", "c"]
        assert rename_fields(df, {"a": "x"}).columns == ["x", "b", "c"]

    def test_drop_last_key(self, spark):
        df = spark.createDataFrame(
            [("raw1", "p"), ("raw2", None)], "raw string, parsed string"
        )
        out = {r["parsed"]: r["raw"] for r in drop_last_key(df, "raw", ["parsed"]).collect()}
        assert out["p"] is None  # dropped once parse complete
        assert out[None] == "raw2"  # kept when parse incomplete


class TestDictMap:
    def test_literal_vs_join_methods_agree(self, spark):
        df = spark.createDataFrame([("user",), ("ghost",), (None,)], "role string")
        m = {"user": "human"}
        a = dict_map(df, m, "role", "g", handle_missing=True, missing="Unknown")
        b = dict_map(df, m, "role", "g", handle_missing=True, missing="Unknown",
                     method="join")
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))
        vals = {r["role"]: r["g"] for r in a.collect()}
        assert vals == {"user": "human", "ghost": "Unknown", None: "Unknown"}

    def test_join_dimension_built_in_jvm(self, spark):
        """The broadcast dimension is a literal frame, not a Python-fed RDD
        scan that would start Python workers."""
        df = spark.range(3).select(F.col("id").cast("string").alias("k"))
        out = dict_map(df, {"0": "zero", "1": "one"}, "k", "v", method="join")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "ExistingRDD" not in plan
        assert {r["k"]: r["v"] for r in out.collect()} == {"0": "zero", "1": "one", "2": None}

    def test_fill_vs_overwrite(self, spark):
        df = spark.createDataFrame(
            [("user", "keepme"), ("tool", None)], "role string, g string"
        )
        fill = {r["role"]: r["g"] for r in
                dict_map(df, {"user": "X", "tool": "Y"}, "role", "g", mode="fill").collect()}
        assert fill == {"user": "keepme", "tool": "Y"}
        over = {r["role"]: r["g"] for r in
                dict_map(df, {"user": "X", "tool": "Y"}, "role", "g", mode="overwrite").collect()}
        assert over == {"user": "X", "tool": "Y"}

    def test_max_dict_size(self, spark):
        df = spark.createDataFrame([("a",)], "k string")
        with pytest.raises(ValueError):
            dict_map(df, {str(i): "v" for i in range(1001)}, "k", "d")

    def test_missing_untouched_without_handle(self, spark):
        df = spark.createDataFrame([("ghost",)], "role string")
        out = dict_map(df, {"user": "h"}, "role", "g").first()
        assert out["g"] is None


class TestMiscEnrich:
    def test_add_fields_ignore_if_exist(self, spark):
        df = spark.createDataFrame([(1,)], "a int")
        out = add_fields(df, {"a": "n", "b": "v"}, ignore_if_exist=True).first()
        assert out["a"] == 1 and out["b"] == "v"

    def test_appender_template(self, spark):
        df = spark.createDataFrame([("x",)], "k string")
        out = appender(df, "k", "|{{__ip__}}", ctx={"__ip__": "1.2.3.4"}).first()
        assert out["k"] == "x|1.2.3.4"

    def test_tag_native(self, spark):
        df = spark.createDataFrame([(1,)], "a int")
        out = tag_native(df, {"host": "h1"}).first()
        assert out["tag_host"] == "h1"

    def test_geoip_range_join(self, spark):
        df = spark.createDataFrame([("10.0.0.5",), ("200.1.1.1",)], "ip string")
        ranges = spark.createDataFrame(
            [(167772160, 184549376, "cn-a")],  # 10.0.0.0/8
            "ip_start long, ip_end long, region string",
        )
        out = {r["ip"]: r["region"] for r in geoip_range_join(df, ranges, "ip").collect()}
        assert out == {"10.0.0.5": "cn-a", "200.1.1.1": None}


class TestAsofJoin:
    """asof_join: SCD temporal lookup via union + last-non-null window."""

    @staticmethod
    def _impl():
        from ilogtail_spark.operators.enrich import asof_join

        return asof_join

    def _run(self, spark, facts, dims):
        f = spark.createDataFrame(facts, "k string, t long, fv string")
        d = spark.createDataFrame(dims, "k string, eff long, rate double")
        return {
            (r["k"], r["t"]): r["rate"]
            for r in self._impl()(f, d, ["k"], "t", dim_ts_col="eff").collect()
        }

    def test_latest_version_wins(self, spark):
        got = self._run(
            spark,
            [("a", 5, "x"), ("a", 15, "y"), ("a", 25, "z")],
            [("a", 0, 1.0), ("a", 10, 2.0), ("a", 20, 3.0)],
        )
        assert got == {("a", 5): 1.0, ("a", 15): 2.0, ("a", 25): 3.0}

    def test_equal_ts_is_inclusive(self, spark):
        got = self._run(spark, [("a", 10, "x")], [("a", 0, 1.0), ("a", 10, 2.0)])
        assert got == {("a", 10): 2.0}

    def test_fact_before_first_version_is_null(self, spark):
        got = self._run(spark, [("a", 3, "x")], [("a", 5, 1.0)])
        assert got == {("a", 3): None}

    def test_keys_do_not_leak(self, spark):
        got = self._run(
            spark,
            [("a", 10, "x"), ("b", 10, "y")],
            [("a", 0, 1.0)],  # no dim for b at all
        )
        assert got == {("a", 10): 1.0, ("b", 10): None}

    def test_fact_payload_preserved(self, spark):
        f = spark.createDataFrame([("a", 10, "keepme")], "k string, t long, fv string")
        d = spark.createDataFrame([("a", 0, 1.0)], "k string, eff long, rate double")
        row = self._impl()(f, d, ["k"], "t", dim_ts_col="eff").first()
        assert row["fv"] == "keepme" and row["rate"] == 1.0 and row["t"] == 10

    def test_payload_clash_raises(self, spark):
        import pytest

        f = spark.createDataFrame([("a", 10, 9.9)], "k string, t long, rate double")
        d = spark.createDataFrame([("a", 0, 1.0)], "k string, eff long, rate double")
        with pytest.raises(ValueError, match="rate"):
            self._impl()(f, d, ["k"], "t", dim_ts_col="eff")

    def test_null_payload_in_latest_version_wins_atomically(self, spark):
        """ADVICE r6: a NULL in the latest applicable dim version must NOT
        let an older version's value leak through — the whole payload row
        wins or loses together (true as-of / DuckDB ASOF semantics)."""
        f = spark.createDataFrame([("a", 15, "x")], "k string, t long, fv string")
        d = spark.createDataFrame(
            [("a", 0, 1.0, "own0"), ("a", 10, None, "own1")],
            "k string, eff long, rate double, owner string",
        )
        row = self._impl()(f, d, ["k"], "t", dim_ts_col="eff").first()
        assert row["owner"] == "own1"
        assert row["rate"] is None  # NOT 1.0 leaked from the eff=0 version


class TestAsofJoinBroadcast(TestAsofJoin):
    """Same semantic matrix run against the broadcast-interval tier —
    the two implementations must be drop-in interchangeable."""

    @staticmethod
    def _impl():
        from ilogtail_spark.operators.enrich import asof_join_broadcast

        return asof_join_broadcast

    def test_differential_vs_window_form(self, spark):
        """Random-ish grid: both tiers agree row-for-row."""
        from ilogtail_spark.operators.enrich import asof_join, asof_join_broadcast

        facts = [
            (f"k{i % 3}", t, f"f{i}") for i, t in enumerate(range(0, 100, 7))
        ]
        dims = [
            (f"k{k}", eff, float(k * 100 + eff))
            for k in range(3)
            for eff in (5, 30, 60)
        ]
        f = spark.createDataFrame(facts, "k string, t long, fv string")
        d = spark.createDataFrame(dims, "k string, eff long, rate double")
        a = {
            (r["k"], r["t"]): (r["rate"], r["fv"])
            for r in asof_join(f, d, ["k"], "t", dim_ts_col="eff").collect()
        }
        b = {
            (r["k"], r["t"]): (r["rate"], r["fv"])
            for r in asof_join_broadcast(
                f, d, ["k"], "t", dim_ts_col="eff"
            ).collect()
        }
        assert a == b and len(a) == len(facts)
