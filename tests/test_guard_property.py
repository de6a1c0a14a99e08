"""Property-based test: the guard regex_parse derives from a pattern
never rejects a row the pattern matches. Covers every pattern that
reaches the kernel from the registry and the network decoders, over
generated lines that include non-IPv4 nginx clients and app lines dated
outside 2024, plus random edits of them."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from ilogtail_spark.grok import compile_grok
from ilogtail_spark.operators import netparse
from ilogtail_spark.operators.parse import compile_dissect, literal_guard
from ilogtail_spark.plans.pipeline import NGINX_PATTERN
from ilogtail_spark.queries import _APP_RE, _DISSECT_PAT

GROK = (
    r"^%{TIMESTAMP_ISO8601:log_time} %{INT:pid:long} \[Thread-%{INT:thread:int}\] "
    r"%{LOGLEVEL:level} request handled code=%{INT:code:int}$"
)
# as the kernel sees them: (?s) where the caller leaves dotall on
PATTERNS = {
    "nginx": "(?s)" + NGINX_PATTERN,
    "app": _APP_RE,
    "rfc3164": netparse._RFC3164_RE,
    "rfc3164_nohost": netparse._RFC3164_NOHOST_RE,
    "rfc5424": netparse._RFC5424_RE,
    "statsd": netparse._STATSD_RE,
    "influx": netparse._INFLUX_RE,
    "grok": "(?s)" + compile_grok(GROK).regex,
    "dissect": "(?s)" + compile_dissect(_DISSECT_PAT)[0],
}

num = st.integers(0, 99999).map(str)
word = st.from_regex(r"[A-Za-z][A-Za-z0-9_.-]{0,8}", fullmatch=True)
ipv4 = st.tuples(*[st.integers(0, 255)] * 4).map(lambda t: ".".join(map(str, t)))
client = st.one_of(
    ipv4, st.sampled_from(["::1", "localhost", "::ffff:10.0.0.7", "gateway.internal"])
)
nginx = st.builds(
    '{} - {} [27/Aug/2021:13:04:14 +0000] "{} /{} HTTP/1.{}" {} {} "{}" "{}"'.format,
    client, st.sampled_from(["-", "bob"]), st.sampled_from(["GET", "POST"]), word,
    st.sampled_from("01"), st.sampled_from(["200", "404", "502"]), num, word, word,
)
app = st.builds(
    "{}-0{}-1{} 0{}:1{}:2{}.{:03d} {} [Thread-{}] {} request handled code={}".format,
    st.sampled_from(["2024", "2025", "1999"]), *[st.integers(1, 9)] * 5,
    st.integers(0, 999), num, num, st.sampled_from(["INFO", "ERROR"]), num,
)
syslog3 = st.builds(
    "<{}>{} {} 12:00:0{} {} {}[{}]: {}".format,
    st.integers(0, 191), st.sampled_from(["Jan", "Oct"]), st.integers(1, 31),
    st.integers(0, 9), word, word, num, word,
)
syslog3_nohost = st.builds("<{}>Oct 1 12:00:00 {}: {}".format, st.integers(0, 191), word, word)
syslog5 = st.builds(
    "<{}>1 2024-01-01T00:00:00Z {} {} {} {} {} {}".format,
    st.integers(0, 191), word, word, num, st.sampled_from(["-", "ID7"]),
    st.sampled_from(["-", '[ex@1 k="v"]']), word,
)
statsd = st.builds(
    "{}:{}|{}{}".format, word, num, st.sampled_from(["c", "g", "ms"]),
    st.sampled_from(["", "|@0.5", "|#a:b"]),
)
influx = st.builds("{},host={} value={} {}".format, word, word, num, num)
dissect = st.builds(
    '{} - - [{}] "{} {} HTTP/{}" {} {} "{}" "{}"'.format,
    client, word, word, word, num, num, num, word, word,
)
line = st.one_of(nginx, app, syslog3, syslog3_nohost, syslog5, statsd, influx, dissect)
text = st.text(st.characters(blacklist_categories=("Cs",)), max_size=4)
# a random edit: replace a short slice with a few random characters
edited = st.builds(
    lambda s, at, cut, ins: s[:at] + ins + s[at + cut:],
    line, st.integers(0, 80), st.integers(0, 3), text,
)


def test_every_pattern_has_a_guard():
    assert all(literal_guard(p, F.col("text")) is not None for p in PATTERNS.values())


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(line, edited), min_size=1, max_size=40))
def test_guard_holds_wherever_the_pattern_matches(spark, lines):
    src = F.col("text")
    df = spark.createDataFrame([(s,) for s in lines], "text string")
    bad = df.select(*[
        F.max(src.rlike(p) & ~literal_guard(p, src)).alias(name)
        for name, p in PATTERNS.items()
    ]).first()
    assert not any(bad), (bad, lines)
