"""Router + aggregator semantics (SURVEY.md §2.6, §2.8)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ilogtail_spark.operators.aggregate import (
    add_lineage,
    content_value_group,
    shard_hash,
    sink_counts,
    stable_order,
    stable_order_salted,
)
from ilogtail_spark.operators.multiline import merge_multiline
from ilogtail_spark.operators.parse import kv_parse
from ilogtail_spark.operators.route import (
    CopyCondition,
    RouteRule,
    route_copy,
    route_exclusive,
)


class TestRouteExclusive:
    def test_first_match_wins(self, spark):
        df = spark.createDataFrame([("tool", "500")], "role string, code string")
        rules = [RouteRule("role", "tool", "s1"), RouteRule("code", r"5\d\d", "s2")]
        assert route_exclusive(df, rules).first()["route"] == "s1"

    def test_full_match_anchored(self, spark):
        # aggregator_router.go:99 full-span check
        df = spark.createDataFrame([("tooling",)], "role string")
        out = route_exclusive(df, [RouteRule("role", "tool", "s1")]).first()
        assert out["route"] == "sink_default"

    def test_drop_dismatch(self, spark):
        df = spark.createDataFrame([("x",), ("tool",)], "role string")
        out = route_exclusive(df, [RouteRule("role", "tool", "s1")],
                              drop_dismatch=True).collect()
        assert len(out) == 1 and out[0]["route"] == "s1"

    def test_null_key_never_matches(self, spark):
        df = spark.createDataFrame([(None,)], "role string")
        assert route_exclusive(df, [RouteRule("role", ".*", "s1")]).first()[
            "route"
        ] == "sink_default"


class TestRouteCopy:
    def test_multi_match_duplicates(self, spark):
        # C++ Router: every matching conditional flusher gets the row
        df = spark.createDataFrame(
            [("search", "system"), ("none", "user")], "tool string, role string"
        )
        out = route_copy(df, [
            CopyCondition("s_tool", "tool", "search"),
            CopyCondition("s_sys", "role", "system"),
            CopyCondition("s_all"),
        ])
        counts = {r["route"]: r["log_count"] for r in sink_counts(out).collect()}
        assert counts == {"s_tool": 1, "s_sys": 1, "s_all": 2}

    def test_no_match_dropped(self, spark):
        df = spark.createDataFrame([("x",)], "tool string")
        assert route_copy(df, [CopyCondition("s", "tool", "y")]).count() == 0

    # rows matching every condition, one, none, and rows with null keys
    # (a missing key and a null line)
    KV_LINES = [
        "level:ERROR\tsvc:api", "level:ERROR\tsvc:db", "level:INFO\tsvc:api",
        "level:INFO\tsvc:db", "svc:api", "level:ERROR", "", None,
    ]
    KV_CONDS = [
        CopyCondition("s_err", "level", "ERROR"),
        CopyCondition("s_api", "svc", "api"),
        CopyCondition("s_all"),
    ]

    def _kv_routed(self, spark, conds):
        df = spark.createDataFrame([(i, x) for i, x in enumerate(self.KV_LINES)],
                                   "id int, content string")
        parsed = kv_parse(df, "content", delimiter="\t", separator=":",
                          keys=["level", "svc"])
        return parsed, route_copy(parsed, conds)

    def test_copy_kernel_parses_once_without_lambdas(self, spark):
        _, out = self._kv_routed(spark, self.KV_CONDS)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan.lower()
        assert "ArrayFilter" not in plan
        assert plan.count("str_to_map") == 1, plan

    def test_copy_kernel_fully_codegen(self, spark):
        _, out = self._kv_routed(spark, self.KV_CONDS)
        outside = []

        def walk(node, inside):
            name = node.nodeName()
            if name.startswith("WholeStageCodegen"):
                inside = True
            elif name == "InputAdapter":
                inside = False
            elif not inside:
                outside.append(name)
            children = node.children()
            for i in range(children.size()):
                walk(children.apply(i), inside)

        walk(out._jdf.queryExecution().executedPlan(), False)
        assert outside == []

    @pytest.mark.parametrize("n_conds", [3, 2], ids=["all", "conditional"])
    def test_copy_equals_union_of_filters(self, spark, n_conds):
        conds = self.KV_CONDS[:n_conds]
        parsed, out = self._kv_routed(spark, conds)
        want = None
        for c in conds:
            part = parsed.filter(c.to_column()).withColumn("route", F.lit(c.sink))
            want = part if want is None else want.unionByName(part)
        cols = ["id", "level", "svc", "route"]
        got_rows = sorted(tuple(r) for r in out.select(cols).collect())
        assert got_rows == sorted(tuple(r) for r in want.select(cols).collect())
        # every copy of a row comes out in condition order
        order = [c.sink for c in conds]
        by_id: dict[int, list[str]] = {}
        for r in out.select("id", "route").collect():
            by_id.setdefault(r["id"], []).append(r["route"])
        for routes in by_id.values():
            assert routes == [s for s in order if s in routes]
        if n_conds == 2:
            # rows matching no condition (INFO/db, the empty and the null
            # line) are dropped
            assert set(by_id) == {0, 1, 2, 4, 5}


class TestShardHash:
    def test_power_of_two_validation(self, spark):
        df = spark.createDataFrame([("a",)], "k string")
        with pytest.raises(ValueError):
            shard_hash(df, ["k"], 3)
        with pytest.raises(ValueError):
            shard_hash(df, ["k"], 1024)

    def test_buckets_in_range_and_deterministic(self, spark):
        df = spark.createDataFrame([(f"c{i}",) for i in range(64)], "k string")
        a = shard_hash(df, ["k"], 8).collect()
        b = shard_hash(df, ["k"], 8).collect()
        assert sorted(map(str, a)) == sorted(map(str, b))
        assert all(0 <= r["shard_bucket"] < 8 for r in a)


class TestStableOrderLineage:
    def test_dense_sequence(self, spark):
        df = spark.createDataFrame(
            [("c1", 10), ("c1", 3), ("c2", 1)], "conv_id string, turn_idx int"
        )
        out = {(r["conv_id"], r["turn_idx"]): r["seq"] for r in stable_order(df).collect()}
        assert out == {("c1", 3): 1, ("c1", 10): 2, ("c2", 1): 1}

    def test_salted_order_equals_plain(self, spark):
        # hot conv (900 turns, sparse non-contiguous idx) + cold convs —
        # the salted two-level plan must produce the identical sequence
        rows = [("hot", i * 3) for i in range(900)] + [
            ("cold1", 0), ("cold1", 7), ("cold2", 5),
        ]
        df = spark.createDataFrame(rows, "conv_id string, turn_idx int").repartition(8)
        plain = {(r["conv_id"], r["turn_idx"]): r["seq"]
                 for r in stable_order(df).collect()}
        salted = {(r["conv_id"], r["turn_idx"]): r["seq"]
                  for r in stable_order_salted(df, salt_width=64).collect()}
        assert plain == salted

    def test_lineage_distinct_and_rerun_stable(self, spark):
        df = spark.createDataFrame(
            [("c1", 0), ("c1", 1), ("c2", 0)], "conv_id string, turn_idx int"
        ).repartition(4)
        a = add_lineage(df, "cfg").select("lineage").collect()
        b = add_lineage(df, "cfg").select("lineage").collect()
        assert sorted(map(str, a)) == sorted(map(str, b))  # deterministic
        assert len(set(r["lineage"] for r in a)) == 3  # unique per row
        assert all(r["lineage"] is not None for r in a)

    def test_content_value_group_composite_key(self, spark):
        df = spark.createDataFrame(
            [("a", "x"), ("a", "x"), ("b", None)], "k1 string, k2 string"
        )
        out = {r["group_key"]: r["log_count"]
               for r in content_value_group(df, ["k1", "k2"]).collect()}
        assert out == {"a_x": 2, "b_": 1}  # null joined as '' (:160-172)


class TestMultilineMerge:
    def test_golden_merge(self, spark):
        rows = [
            ("c1", 0, "2024-01-01 start A"),
            ("c1", 1, "  cont A1"),
            ("c1", 2, "  cont A2"),
            ("c1", 3, "2024-01-02 start B"),
            ("c1", 4, "  cont B1"),
            ("c2", 0, "orphan line"),
        ]
        df = spark.createDataFrame(rows, "conv_id string, line_no int, line string")
        out = merge_multiline(
            df, line_col="line", partition_col="conv_id", order_col="line_no",
            begin_regex=r"^\d{4}-",
        ).collect()
        by_key = {(r["conv_id"], r["record_id"]): r["merged"] for r in out}
        assert by_key[("c1", 1)] == "2024-01-01 start A\n  cont A1\n  cont A2"
        assert by_key[("c1", 2)] == "2024-01-02 start B\n  cont B1"
        assert by_key[("c2", 0)] == "orphan line"  # pre-begin orphan record


class TestRateAnomalies:
    def test_planted_spike_flagged(self, spark):
        import datetime as dt

        from ilogtail_spark.operators.aggregate import rate_anomalies

        base = dt.datetime(2024, 1, 1)
        rows = []
        # 20 calm hours of 2 events, one hour with 40
        for h in range(21):
            n = 40 if h == 10 else 2
            for i in range(n):
                rows.append(("svc", base + dt.timedelta(hours=h, seconds=i)))
        df = spark.createDataFrame(rows, "role string, ts timestamp")
        out = rate_anomalies(df, ["role"], bucket_s=3600, z=2.0).collect()
        assert len(out) == 1
        r = out[0]
        assert r["n"] == 40 and r["bucket_start"] % 3600 == 0
        assert r["threshold"] < 40

    def test_uniform_stream_has_no_anomalies(self, spark):
        import datetime as dt

        from ilogtail_spark.operators.aggregate import rate_anomalies

        base = dt.datetime(2024, 1, 1)
        rows = [("svc", base + dt.timedelta(hours=h)) for h in range(24)]
        df = spark.createDataFrame(rows, "role string, ts timestamp")
        assert rate_anomalies(df, ["role"], bucket_s=3600, z=2.0).count() == 0
