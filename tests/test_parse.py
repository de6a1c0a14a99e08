"""Golden in/out tests for the parse family — style mirrors the
reference's plugin unit tests (plugins/processor/regex/regex_test.go:60,
processor_json_test.go): literal rows in, exact fields out."""

from __future__ import annotations

import pytest
from conftest import compiled_classes
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ilogtail_spark.grok import grok_parse
from ilogtail_spark.operators.parse import (
    anchor_extract,
    compile_dissect,
    csv_parse,
    dissect_keys,
    dissect_parse,
    json_parse,
    kv_parse,
    regex_parse,
    required_literals,
    split_char,
    split_log_string,
)
from ilogtail_spark.operators.netparse import _RFC5424_RE
from ilogtail_spark.plans.pipeline import NGINX_KEYS, NGINX_PATTERN
from ilogtail_spark.queries import _APP_RE

APSARA_LINE = "2021-08-27 13:04:14.920 77711773 [ThreadName] INFO  content detail"
APSARA_RE = r"(\d+-\d+-\d+ \d+:\d+:\d+\.\d+) (\d+) \[(\S+)\] (\w+)\s+(.*)"
APSARA_KEYS = ["time", "pid", "thread", "level", "msg"]


def _df(spark, rows, schema="text string"):
    return spark.createDataFrame(rows, schema)


class TestRegexParse:
    def test_golden_apsara(self, spark):
        # fixture format from plugins/processor/regex/regex_test.go:63
        df = _df(spark, [(APSARA_LINE,)])
        out = regex_parse(df, APSARA_RE, APSARA_KEYS).first()
        assert out["time"] == "2021-08-27 13:04:14.920"
        assert out["pid"] == "77711773"
        assert out["thread"] == "ThreadName"
        assert out["level"] == "INFO"
        assert out["msg"] == "content detail"

    def test_parse_fail_nulls_and_keep_source(self, spark):
        df = _df(spark, [(APSARA_LINE,), ("garbage",)])
        out = regex_parse(df, APSARA_RE, APSARA_KEYS).collect()
        ok = [r for r in out if r["level"] is not None][0]
        bad = [r for r in out if r["level"] is None][0]
        # success drops the raw source (regex.go:101-103 default)
        assert ok["text"] is None
        # failure keeps it (KeepSourceIfParseError default true)
        assert bad["text"] == "garbage"

    def test_keep_source_always(self, spark):
        df = _df(spark, [(APSARA_LINE,)])
        out = regex_parse(df, APSARA_RE, APSARA_KEYS, keep_source=True).first()
        assert out["text"] == APSARA_LINE

    def test_full_match(self, spark):
        df = _df(spark, [("abc123 tail",)])
        loose = regex_parse(df, r"(\w+) (\w+)", ["a", "b"]).first()
        assert loose["a"] == "abc123"
        strict = regex_parse(df, r"(\w+)", ["a"], full_match=True).first()
        assert strict["a"] is None  # span != whole value (regex.go:107)

    def test_dotall_crosses_newlines(self, spark):
        # the reference prepends (?s) (regex.go:56-57)
        df = _df(spark, [("line1\nline2",)])
        out = regex_parse(df, r"line1(.*)", ["rest"]).first()
        assert out["rest"] == "\nline2"

    def test_types_cast(self, spark):
        df = _df(spark, [("code=42",)])
        out = regex_parse(df, r"code=(\d+)", ["code"], types={"code": "int"}).first()
        assert out["code"] == 42

    def test_nginx_parse_matches_duckdb(self, spark, sf_dir):
        # the kernel over the 5-format corpus against DuckDB's
        # regexp_extract, as O_REGEX_PARSE checks the registry query —
        # here every row and all nine keys, unmatched rows NULL
        import duckdb

        from ilogtail_spark.queries import _CTE
        from ilogtail_spark.sources.transcripts import transcripts_df

        cols = ["conv_id", "turn_idx", *NGINX_KEYS]
        p = regex_parse(transcripts_df(spark, sf_dir), NGINX_PATTERN, NGINX_KEYS,
                        "text", keep_source=True)
        got = sorted(tuple(r) for r in p.select(*cols).collect())
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
        groups = ", ".join(
            f"CASE WHEN m THEN regexp_extract(text, '{NGINX_PATTERN}', {i}) END"
            for i in range(1, len(NGINX_KEYS) + 1)
        )
        want = sorted(con.sql(
            f"{_CTE}, t AS (SELECT *, regexp_matches(text, '{NGINX_PATTERN}') AS m "
            f"FROM transcripts) SELECT conv_id, turn_idx, {groups} FROM t"
        ).fetchall())
        assert sum(r[2] is not None for r in want) > 0
        assert got == want

    def test_separator_bytes_in_a_field(self, spark):
        # \x01/\x02 in the source would corrupt the one-pass packing;
        # such rows take per-key extraction inside the same expression
        rows = [("k=a\x01b c=\x02z",), ("k=plain c=y",), ("no match\x01",), (None,)]
        out = regex_parse(_df(spark, rows), r"k=(\S+) c=(\S+)", ["k", "c"],
                          keep_source=True).collect()
        assert {r["text"]: (r["k"], r["c"]) for r in out} == {
            "k=a\x01b c=\x02z": ("a\x01b", "\x02z"),
            "k=plain c=y": ("plain", "y"),
            "no match\x01": (None, None),
            None: (None, None),
        }

    def test_rebuilt_plan_compiles_nothing(self, spark):
        # a plan built again from the same calls must hit Spark's codegen
        # cache: a per-build literal in the generated Java (a rand seed)
        # would compile every run anew
        df = spark.range(16).select(
            F.concat(F.lit("2021-08-27 13:04:14.920 "), F.col("id").cast("string"),
                     F.lit(" [T] INFO  msg")).alias("text")
        )

        def run():
            return regex_parse(df, APSARA_RE, APSARA_KEYS).collect()

        assert all(r["pid"] is not None for r in run())
        assert compiled_classes(spark, run) == 0


class TestRequiredLiterals:
    @pytest.mark.parametrize("pattern,expected", [
        (NGINX_PATTERN, ("", " HTTP/")),
        (_APP_RE, ("", " request handled code=")),
        (_RFC5424_RE, ("<", ">1 ")),
        (r"\Aab(c+)", ("ab", "")),
        ("(?s)^(?:abc)$", ("abc", "")),
        ("(?m)^abc", ("", "abc")),  # under (?m), ^ is any line start
        ("(?:abc|abd)x", ("", "ab")),  # Python factors the shared prefix out
        (r"xx\\vyy", ("", "xx\\vyy")),  # an escaped backslash, then v
        (r"(?i:abc)d+", ("", "")),
    ])
    def test_derived(self, pattern, expected):
        assert required_literals(pattern) == expected

    @pytest.mark.parametrize("pattern", [
        "(?i)abcd", "(?x)ab cd", r"ab\vcd", r"ab\hcd", r"ab\Rcd", r"\Qab\Ecd",
        "ab[a[b]]cd", "ab[a-z&&[^c]]cd", r"(ab)cd\1", r"ab\0123cd", "ab(cd",
    ])
    def test_none_where_java_may_read_otherwise(self, pattern):
        assert required_literals(pattern) == ("", "")


class TestJsonParse:
    def test_nested_expand_connector(self, spark):
        # SplUnittest.cpp:151 shape
        df = _df(spark, [('{"action":"x","body":{"a":"1","b":"2"},"n":3}',)])
        out = json_parse(
            df, "text", schema="action string, body struct<a:string,b:string>, n int"
        ).first()
        assert out["action"] == "x"
        assert out["body_a"] == "1"
        assert out["body_b"] == "2"
        assert out["n"] == 3

    def test_expand_depth_stringifies_deeper(self, spark):
        df = _df(spark, [('{"body":{"a":"1"}}',)])
        out = json_parse(
            df, "text", schema="body struct<a:string>", expand_depth=1
        ).first()
        assert out["body"] == '{"a":"1"}'  # level beyond depth re-serialized

    def test_prefix_and_source_prefix(self, spark):
        df = _df(spark, [('{"a":"1"}',)])
        out = json_parse(
            df, "text", schema="a string", prefix="p_", use_source_key_as_prefix=True
        ).first()
        assert out["textp_a"] == "1"

    def test_map_mode_flat(self, spark):
        df = _df(spark, [('{"a":"1","b":"2"}',)])
        out = json_parse(df, "text").first()
        assert out["map"]["a"] == "1" and out["map"]["b"] == "2"


class TestCsvParse:
    def test_expand_others(self, spark):
        # processor_csv.go fixture: keys shorter than fields
        df = _df(spark, [("alice,42,running,extra1,extra2",)])
        out = csv_parse(df, ["name", "num", "state"], expand_others=True,
                        max_expand=2).first()
        assert (out["name"], out["num"], out["state"]) == ("alice", "42", "running")
        assert out["expand_1"] == "extra1" and out["expand_2"] == "extra2"

    def test_short_row_nulls(self, spark):
        df = _df(spark, [("alice,42",)])
        out = csv_parse(df, ["name", "num", "state"]).first()
        assert out["name"] == "alice" and out["state"] is None

    def test_quote_aware(self, spark):
        df = _df(spark, [('"a,b",2',)])
        out = csv_parse(df, ["x", "y"]).first()
        assert out["x"] == "a,b" and out["y"] == "2"


class TestKvSplit:
    def test_kv_golden(self, spark):
        # SplUnittest.cpp:415 fixture
        df = _df(spark, [("class=main&userid=123456&method=get&message=good",)])
        out = kv_parse(df, keys=["class", "userid", "method", "message"]).first()
        assert out["userid"] == "123456" and out["message"] == "good"

    def test_keyed_split_drops_its_map(self, spark):
        # the pairs are the output: no map column, and an input column
        # that happens to be called `kv` survives
        df = _df(spark, [("a=1&b=2&kv=3", "mine")], "text string, kv string")
        out = kv_parse(df, keys=["a", "b"])
        assert out.columns == ["text", "kv", "a", "b"]
        assert tuple(out.first()) == ("a=1&b=2&kv=3", "mine", "1", "2")

    def test_key_named_kv(self, spark):
        out = kv_parse(_df(spark, [("a=1&kv=3",)]), keys=["kv"])
        assert out.dtypes == [("text", "string"), ("kv", "string")]
        assert out.first()["kv"] == "3"

    def test_keyless_split_outputs_the_map(self, spark):
        out = kv_parse(_df(spark, [("a=1&b=2",)]), dest="pairs").first()
        assert out["pairs"] == {"a": "1", "b": "2"}

    def test_split_char_preserve_others(self, spark):
        df = _df(spark, [("a|b|c|d|e",)])
        out = split_char(df, ["k1", "k2"], sep="|", preserve_others=True).first()
        assert (out["k1"], out["k2"]) == ("a", "b")
        assert out["_split_preserve_"] == "c|d|e"

    def test_split_log_string_rows(self, spark):
        df = _df(spark, [("l1\nl2\nl3",)])
        out = split_log_string(df).orderBy("line_no").collect()
        assert [r["line"] for r in out] == ["l1", "l2", "l3"]
        assert [r["line_no"] for r in out] == [0, 1, 2]


class TestAnchor:
    def test_between_anchors(self, spark):
        df = _df(spark, [("time=[07/Jul/2022] status=200 end",)])
        out = anchor_extract(
            df, [("time=[", "]", "t"), ("status=", " end", "s")]
        ).first()
        assert out["t"] == "07/Jul/2022" and out["s"] == "200"

    def test_empty_start_is_line_begin(self, spark):
        df = _df(spark, [("head rest",)])
        out = anchor_extract(df, [("", " rest", "h")]).first()
        assert out["h"] == "head"


class TestDissect:
    """dissect_parse: %{field} patterns compiled to one anchored lazy regex
    (the north-star's dissect-style named-capture surface)."""

    def test_basic_fields(self, spark):
        df = _df(spark, [("alice 25 paris",)])
        out = dissect_parse(df, "%{name} %{age} %{city}", types={"age": "int"}).first()
        assert (out["name"], out["age"], out["city"]) == ("alice", 25, "paris")

    def test_failure_yields_nulls(self, spark):
        df = _df(spark, [("no-delimiters-here",)])
        out = dissect_parse(df, "%{a}|%{b}").first()
        assert out["a"] is None and out["b"] is None

    def test_append_with_order_and_separator(self, spark):
        # %{+key/n} assembles out of wire order; separator configurable
        df = _df(spark, [("john jacob smith",)])
        out = dissect_parse(
            df, "%{+full/2} %{+full/1} %{+full/3}", append_separator=" "
        ).first()
        assert out["full"] == "jacob john smith"

    def test_skip_and_named_skip(self, spark):
        df = _df(spark, [("drop1 keep drop2",)])
        out = dissect_parse(df, "%{} %{val} %{?ignored}")
        assert out.select("val").first()["val"] == "keep"
        assert "ignored" not in out.columns and "" not in out.columns

    def test_right_padding_modifier(self, spark):
        # %{a->} lets the following delimiter repeat (column-aligned logs)
        df = _df(spark, [("abc       def",)])
        assert dissect_parse(df, "%{a->} %{b}").first()["b"] == "def"
        # without the modifier the lazy group stops at the FIRST space
        plain = dissect_parse(df, "%{a} %{b}").first()
        assert plain["b"] == "      def"

    def test_reference_pair_emits_map(self, spark):
        df = _df(spark, [("status:200",)])
        out = dissect_parse(df, "%{*kv}:%{&kv}").first()
        assert out["kv"] == {"status": "200"}

    def test_trailing_literal_and_greedy_last(self, spark):
        df = _df(spark, [("a=1 b=2 tail!",)])
        out = dissect_parse(df, "a=%{a} b=%{rest}!").first()
        assert out["a"] == "1" and out["rest"] == "2 tail"

    def test_adjacent_fields_raise(self, spark):
        with pytest.raises(ValueError, match="adjacent fields"):
            compile_dissect("%{a}%{b}")

    def test_unpaired_ref_raises(self, spark):
        with pytest.raises(ValueError, match="unpaired"):
            compile_dissect("%{*k}:%{&other}")

    def test_keep_source_semantics(self, spark):
        df = _df(spark, [("x y",), ("nodelim",)])
        out = dissect_parse(df, "%{a}|%{b}", keep_source_if_parse_error=True)
        rows = {r["text"]: r for r in out.collect()}
        # both rows fail the parse -> source kept on both
        assert "x y" in rows and "nodelim" in rows

    def test_dissect_keys(self, spark):
        assert dissect_keys("%{a->} %{+b} %{+b/1} %{} %{?x} %{*k}:%{&k}") == [
            "a", "b", "k",
        ]


# every keyed parse processor, on a line it parses into a="1", b="2"
KEYED_PARSERS = {
    "regex": ("a=1 b=2", lambda df: regex_parse(df, r"a=(\d+) b=(\d+)", ["a", "b"])),
    "json": ('{"a": "1", "b": "2"}', lambda df: json_parse(df, schema="a string, b string")),
    "csv": ("1,2", lambda df: csv_parse(df, ["a", "b"])),
    "kv": ("a=1&b=2", lambda df: kv_parse(df, keys=["a", "b"])),
    "split_char": ("1,2", lambda df: split_char(df, ["a", "b"])),
    "dissect": ("1 2", lambda df: dissect_parse(df, "%{a} %{b}")),
    "grok": ("1 2", lambda df: grok_parse(df, "%{NUMBER:a} %{NUMBER:b}")),
    "grok_matches": ("1 2", lambda df: grok_parse(
        df, ["%{WORD:a}-%{WORD:b}", "%{NUMBER:a} %{NUMBER:b}"])),
}


@pytest.mark.parametrize("name", list(KEYED_PARSERS))
def test_keyed_parse_leaks_no_intermediate(spark, name):
    """A parser given its keys outputs the key columns and the source:
    no ``__*__`` intermediate and no map column reaches the routed rows."""
    line, parse = KEYED_PARSERS[name]
    out = parse(_df(spark, [(line,)]))
    assert [c for c in out.columns if c.startswith("__") and c.endswith("__")] == []
    assert [f.name for f in out.schema if isinstance(f.dataType, T.MapType)] == []
    assert sorted(out.columns) == ["a", "b", "text"]
    row = out.first()
    assert (row["a"], row["b"]) == ("1", "2")
