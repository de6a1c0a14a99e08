"""Network-input DECODERS as batch operators.

The reference's network inputs are listener + decoder pairs: a socket /
HTTP server reads frames and a protocol decoder turns each frame into
log fields (`/root/reference/plugins/input/syslog/parser.go:54-60`,
`/root/reference/plugins/input/httpserver/input_http_server.go:58-117`
dispatching to `/root/reference/pkg/protocol/decoder/*`). The
listener/transport half is out of scope here (SURVEY §2.1 — this
repo's one source is the transcript table); the DECODER half is pure
row-level semantics, so it is implemented as fused Column projections
over a text/payload column — the Spark-first equivalent of feeding the
same bytes through the reference's parser, and the piece a reference
user actually needs to replay their syslog/statsd/influx/OTLP streams
from an archived table.

Scale note: every decoder here is a single zero-shuffle projection
(regexp + array/map built-ins inside whole-stage codegen; no Python on
workers). Decoding 100 TB of archived frames is then a pure map stage
— partition count follows the scan, nothing reshuffles until the user
groups the decoded rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import regex_parse

__all__ = [
    "syslog_parse",
    "statsd_decode",
    "influx_decode",
    "otlp_log_decode",
]

# reference emits strconv.Itoa(-1) for unparsed priority fields
# (plugins/input/syslog/parser.go:42-51 newParseResult)
_UNSET = "-1"

_MONTHS = {
    "Jan": 1, "Feb": 2, "Mar": 3, "Apr": 4, "May": 5, "Jun": 6,
    "Jul": 7, "Aug": 8, "Sep": 9, "Oct": 10, "Nov": 11, "Dec": 12,
}

# RFC3164: <PRI>Mmm [d]d hh:mm:ss HOSTNAME TAG[PID]: MSG
# (jeromer/syslogparser/rfc3164 via plugins/input/syslog/parser.go:83-119;
# vectors at parser_test.go:29-115). The `[PID]` part is optional and its
# body is free-form (`LOGSTASH[-]` in the vectors); PID is not surfaced —
# the reference only fills procID for RFC5424.
_RFC3164_RE = (
    r"^<(\d{1,3})>([A-Z][a-z]{2}) {1,2}(\d{1,2}) "
    r"(\d{2}:\d{2}:\d{2}) (\S+) ([^:\[\s]+)(?:\[[^\]]*\])?: ?(.*)$"
)
_RFC3164_KEYS = ["pri3", "mon3", "day3", "hms3", "host3", "prog3", "msg3"]

# RFC3164 without the hostname token — the reference's AddHostname mode
# for /dev/log unixgram frames (syslog.go:54, parser_test.go:132-170).
_RFC3164_NOHOST_RE = (
    r"^<(\d{1,3})>([A-Z][a-z]{2}) {1,2}(\d{1,2}) "
    r"(\d{2}:\d{2}:\d{2}) ([^:\[\s]+)(?:\[[^\]]*\])?: ?(.*)$"
)
_RFC3164_NOHOST_KEYS = ["pri3", "mon3", "day3", "hms3", "prog3", "msg3"]

# RFC5424: <PRI>1 TIMESTAMP HOSTNAME APP-NAME PROCID MSGID SD [MSG]
# (influxdata/go-syslog/rfc5424 via parser.go:122-172; vectors at
# parser_test.go:172-250). SD is `-` or adjacent `[elem ...]` groups.
# Caveat vs the reference lib: escaped `\]` inside an SD PARAM-VALUE is
# not recognized (the regex closes the element at the first `]`); none
# of the reference vectors use it.
_RFC5424_RE = (
    r"^<(\d{1,3})>1 (\S+) (\S+) (\S+) (\S+) (\S+) "
    r"(-|(?:\[[^\]]*\])+)(?: (.*))?$"
)
_RFC5424_KEYS = ["pri5", "ts5", "host5", "app5", "procid5", "msgid5", "sd5", "msg5"]

# SD-element → nested-map JSON, matching Go's json.Marshal of
# map[string]map[string]string (sorted keys, compact) at syslog.go:433-436.
_SD_ELEM_RE = r"\\[([^\\]]*)\\]"
_SD_KV_RE = r'([^ =]+)="([^"]*)"'


def _sd_json(col: str) -> Column:
    """`[id k="v" ...][id2 ...]` → `{"id":{"k":"v"},"id2":{}}` (keys
    sorted, compact — byte-compatible with Go json.Marshal of the
    reference's map[string]map[string]string). `col` is a column NAME
    interpolated into one SQL expression."""
    expr = f"""
      to_json(map_from_entries(transform(
        array_sort(regexp_extract_all({col}, '{_SD_ELEM_RE}', 1)),
        e -> struct(
          regexp_extract(e, '^([^ ]+)', 1) AS id,
          map_from_entries(array_sort(zip_with(
            regexp_extract_all(e, '{_SD_KV_RE}', 1),
            regexp_extract_all(e, '{_SD_KV_RE}', 2),
            (k, v) -> struct(k AS k, v AS v)))) AS params))))
    """
    return F.expr(expr)


def syslog_parse(
    df: DataFrame,
    source_key: str = "text",
    *,
    protocol: str = "auto",
    ignore_parse_failure: bool = True,
    add_hostname: bool = False,
    hostname_fallback: str = "spark-host",
    client_ip: str = "",
    host_ip: str = "",
    default_year: int = 2024,
    keep_source: bool = False,
) -> DataFrame:
    """service_syslog's decoder (plugins/input/syslog/parser.go:54-208,
    field emission at syslog.go:400-446) as ONE fused projection.

    protocol ∈ {'', 'rfc3164', 'rfc5424', 'auto'} as the reference's
    ParseProtocol (syslog.go:52, parser.go:203-208): '' stores the raw
    frame in `_content_` without parsing; 'auto' tries rfc3164 first,
    rfc5424 second (parser.go:175-200 order). On parse failure,
    `ignore_parse_failure=True` emits the raw frame as `_content_` with
    priority/facility/severity "-1" (parser.go:100-106); False DROPS
    the frame (syslog.go:403-408). `add_hostname` is the reference's
    AddHostname: the frame has no hostname token (unixgram /dev/log)
    and `hostname_fallback` supplies it.

    DELIBERATE delta for 'auto' + ignore_parse_failure=True: the
    reference builds each sub-parser with the SAME ignoreParseFailure
    flag, so its rfc3164 parser "succeeds" with the raw-content
    fallback on every frame and the autoParser NEVER reaches rfc5424
    (parser.go:97-106 + 183-186) — reference 'auto' only actually
    dispatches when IgnoreParseFailure is false. Here 'auto' always
    tries both grammars and falls back only when neither matches (the
    behavior the mode's name promises); with ignore_parse_failure=False
    the two implementations coincide exactly. Pinned by
    tests/test_netparse.py::TestSyslogAuto.

    Determinism deltas vs the reference (documented, test-pinned):
    - RFC3164 has no year; the reference stamps the agent's current
      year (parser_test.go uses nowTime.Year()) — here `default_year`.
    - unparseable/absent timestamps emit NULL `_unixtimestamp_` instead
      of time.Now() (newParseResult, parser.go:48).
    - `_ip_`/`_client_ip_` are caller-supplied constants, not
      util.GetIPAddress() — there is no socket.

    Emitted columns (names at syslog.go:411-443): `_program_`,
    `_priority_`, `_facility_`, `_severity_` (strings, "-1" unset),
    `_unixtimestamp_` (nanos string), `_hostname_`, `_client_ip_`,
    `_ip_`, `_content_`, `_structured_data_` (sorted-key JSON),
    `_message_id_`, `_process_id_` (NULL unless RFC5424 non-`-`).
    """
    if protocol not in ("", "rfc3164", "rfc5424", "auto"):
        raise ValueError(f"Unsupported parser protocol: {protocol!r}")
    if protocol == "" and not ignore_parse_failure:
        # syslog.go:79-81
        raise ValueError("Default parser must set IgnoreParseFailure")

    raw = F.col(source_key)
    out_cols = [
        "_program_", "_priority_", "_facility_", "_severity_",
        "_unixtimestamp_", "_hostname_", "_client_ip_", "_ip_",
        "_content_", "_structured_data_", "_message_id_", "_process_id_",
    ]

    if protocol == "":
        base = df.withColumns(
            {
                "_program_": F.lit(""),
                "_priority_": F.lit(_UNSET),
                "_facility_": F.lit(_UNSET),
                "_severity_": F.lit(_UNSET),
                "_unixtimestamp_": F.lit(None).cast("string"),
                "_hostname_": F.lit(hostname_fallback),
                "_client_ip_": F.lit(client_ip),
                "_ip_": F.lit(host_ip),
                "_content_": raw,
                "_structured_data_": F.lit(None).cast("string"),
                "_message_id_": F.lit(None).cast("string"),
                "_process_id_": F.lit(None).cast("string"),
            }
        )
        keep = ([source_key] if keep_source else [])
        others = [c for c in df.columns if c != source_key]
        return base.select(*others, *keep, *out_cols)

    p = df
    want3 = protocol in ("rfc3164", "auto")
    want5 = protocol in ("rfc5424", "auto")

    if want3:
        re3, keys3 = (
            (_RFC3164_NOHOST_RE, _RFC3164_NOHOST_KEYS)
            if add_hostname
            else (_RFC3164_RE, _RFC3164_KEYS)
        )
        p = regex_parse(p, re3, keys3, source_key, keep_source=True,
                        dotall=False)
        mon_num = F.element_at(
            F.create_map(*[F.lit(x) for kv in _MONTHS.items() for x in kv]),
            F.col("mon3"),
        )
        ok3 = (
            F.col("pri3").isNotNull()
            & (F.col("pri3").try_cast("int") <= 191)
            & mon_num.isNotNull()
        )
        ts3 = F.to_timestamp(
            F.concat_ws(
                "-",
                F.lit(str(default_year)),
                F.lpad(mon_num.cast("string"), 2, "0"),
                F.concat(F.lpad(F.col("day3"), 2, "0"), F.lit(" "), F.col("hms3")),
            )
        )
        host3 = (
            F.lit(hostname_fallback) if add_hostname else F.col("host3")
        )
        r3 = F.struct(
            F.col("prog3").alias("program"),
            F.col("pri3").alias("priority"),
            ts3.alias("ts"),
            host3.alias("hostname"),
            F.col("msg3").alias("content"),
            F.lit(None).cast("string").alias("sd"),
            F.lit(None).cast("string").alias("msgid"),
            F.lit(None).cast("string").alias("procid"),
        )

    if want5:
        p = regex_parse(p, _RFC5424_RE, _RFC5424_KEYS, source_key,
                        keep_source=True, dotall=False)
        ok5 = F.col("pri5").isNotNull() & (F.col("pri5").try_cast("int") <= 191)
        nil5 = lambda c: F.when(F.col(c) != "-", F.col(c))  # noqa: E731
        ts5 = nil5("ts5").try_cast("timestamp")
        r5 = F.struct(
            # '-' NILVALUEs: nil Appname leaves program "" and nil
            # Hostname falls back (parser.go:156-163, syslog.go:420-423)
            F.coalesce(nil5("app5"), F.lit("")).alias("program"),
            F.col("pri5").alias("priority"),
            ts5.alias("ts"),
            F.coalesce(nil5("host5"), F.lit("")).alias("hostname"),
            F.coalesce(F.col("msg5"), F.lit("")).alias("content"),
            F.when(F.col("sd5") != "-", _sd_json("sd5")).alias("sd"),
            nil5("msgid5").alias("msgid"),
            nil5("procid5").alias("procid"),
        )

    fail = F.struct(
        F.lit("").alias("program"),
        F.lit(None).cast("string").alias("priority"),
        F.lit(None).cast("timestamp").alias("ts"),
        F.lit("").alias("hostname"),
        raw.alias("content"),
        F.lit(None).cast("string").alias("sd"),
        F.lit(None).cast("string").alias("msgid"),
        F.lit(None).cast("string").alias("procid"),
    )

    if protocol == "rfc3164":
        r = F.when(ok3, r3).otherwise(fail)
        parsed = ok3
    elif protocol == "rfc5424":
        r = F.when(ok5, r5).otherwise(fail)
        parsed = ok5
    else:  # auto: rfc3164 first, then rfc5424 (parser.go:183-186)
        r = F.when(ok3, r3).when(ok5, r5).otherwise(fail)
        parsed = ok3 | ok5

    pri = r["priority"].try_cast("int")
    p = p.withColumn("__r", r).withColumns(
        {
            "_program_": F.col("__r.program"),
            "_priority_": F.coalesce(pri.cast("string"), F.lit(_UNSET)),
            "_facility_": F.coalesce(
                (pri / 8).cast("int").cast("string"), F.lit(_UNSET)
            ),
            "_severity_": F.coalesce(
                (pri % 8).cast("string"), F.lit(_UNSET)
            ),
            "_unixtimestamp_": (
                F.unix_micros(F.col("__r.ts")) * 1000
            ).cast("string"),
            "_hostname_": F.when(
                F.col("__r.hostname") != "", F.col("__r.hostname")
            ).otherwise(F.lit(hostname_fallback)),
            "_client_ip_": F.lit(client_ip),
            "_ip_": F.lit(host_ip),
            "_content_": F.col("__r.content"),
            "_structured_data_": F.col("__r.sd"),
            "_message_id_": F.col("__r.msgid"),
            "_process_id_": F.col("__r.procid"),
        }
    )
    if not ignore_parse_failure:
        p = p.filter(parsed)
    keep = ([source_key] if keep_source else [])
    others = [c for c in df.columns if c != source_key]
    return p.select(*others, *keep, *out_cols)


# --------------------------------------------------------------------
# statsd (dogstatsd dialect)
# --------------------------------------------------------------------

# name:value|type[|@rate][|#k:v,k2:v2]
_STATSD_RE = (
    r"^([^:|#\s]+):([-+]?[0-9]*\.?[0-9]+)\|(c|g|ms|s|h|d)"
    r"(?:\|@([0-9]*\.?[0-9]+))?(?:\|#([^|]*))?$"
)
_STATSD_KEYS = ["m_name", "m_value", "m_type", "m_rate", "m_tags"]


def _labels_from_pairs(tags: Column, sep: str) -> Column:
    """Tag list → the sorted MetricLabels string `k#$#v|k2#$#v2`
    (helper.NewMetricLog, pkg/helper/log_helper.go:258-286; sort is by
    label NAME, log_helper.go:140 — NOT by the raw 'k:v' pair string,
    which diverges whenever a key is a prefix of another and the
    separator doesn't sort where the comparison needs it, e.g.
    'env.id:3' vs 'env:prod'). Split each pair at the FIRST `sep`
    (values may contain it), sort struct(k, v), then render."""
    structs = F.transform(
        F.split(tags, ","),
        lambda t: F.struct(
            F.substring_index(t, sep, 1).alias("k"),
            t.substr(
                F.length(F.substring_index(t, sep, 1)) + F.lit(2),
                F.length(t),
            ).alias("v"),
        ),
    )
    kv = F.transform(
        F.array_sort(structs),
        lambda s: F.concat(s["k"], F.lit("#$#"), s["v"]),
    )
    return F.when(
        F.coalesce(tags, F.lit("")) != "", F.array_join(kv, "|")
    ).otherwise(F.lit(""))


def _labels_from_tags(tags: Column) -> Column:
    return _labels_from_pairs(tags, ":")


def statsd_decode(
    df: DataFrame,
    source_key: str = "text",
    *,
    time_col: str | None = "ts",
) -> DataFrame:
    """The statsd decoder (pkg/protocol/decoder/statsd/decoder.go:44-64):
    each dogstatsd frame `name:value|type[|@rate][|#tags]` becomes one
    metric row in SLS metric shape (`__name__`/`__labels__`/
    `__time_nano__`/`__value__` via helper.NewMetricLog). Counters are
    scaled by 1/sample-rate (the dogstatsd library's counter
    normalization); other types take the literal value. Unparseable
    frames are DROPPED (decoder.go logs and skips). The reference
    stamps arrival time.Now(); here `time_col` supplies the event time
    deterministically (None — e.g. an archive replay with no arrival
    time — emits NULL `__time_nano__`)."""
    p = regex_parse(df, _STATSD_RE, _STATSD_KEYS, source_key,
                    keep_source=True, dotall=False)
    value = F.col("m_value").try_cast("double")
    rate = F.col("m_rate").try_cast("double")
    scaled = F.when(
        (F.col("m_type") == "c") & rate.isNotNull() & (rate > 0),
        value / rate,
    ).otherwise(value)
    return (
        p.filter(F.col("m_name").isNotNull())
        .select(
            *[c for c in df.columns if c != source_key],
            F.col("m_name").alias("__name__"),
            _labels_from_tags(F.col("m_tags")).alias("__labels__"),
            (
                F.unix_micros(F.col(time_col).cast("timestamp")) * 1000
                if time_col
                else F.lit(None).cast("long")
            ).alias("__time_nano__"),
            scaled.alias("__value__"),
            F.col("m_type").alias("__statsd_type__"),
        )
    )


# --------------------------------------------------------------------
# influx line protocol
# --------------------------------------------------------------------

# measurement[,tag=v...] field=v[,field2=v2...] [timestamp]
_INFLUX_RE = r"^([^, ]+)((?:,[^= ]+=[^, ]+)*) ([^ ]+)(?: (\d+))?$"
_INFLUX_KEYS = ["i_meas", "i_tags", "i_fields", "i_ts"]

_BOOL_TRUE = ("t", "T", "true", "True", "TRUE")
_BOOL_FALSE = ("f", "F", "false", "False", "FALSE")


def influx_decode(
    df: DataFrame,
    source_key: str = "text",
    *,
    time_col: str | None = None,
    fields_extend: bool = False,
) -> DataFrame:
    """The influxdb line-protocol decoder
    (pkg/protocol/decoder/influxdb/decoder.go:160-220
    parsePointsToLogs): one metric row PER FIELD of each point —
    name = measurement for the field literally named `value`, else
    `measurement:field` (decoder.go:193-198); int (`42i`), float and
    bool (→"1"/"0") fields always emit; string fields only with
    `fields_extend` (decoder.go:181-189), which also adds the
    reference's `__type__` + `__field__` columns (decoder.go:206-210).
    `__labels__` is the sorted tag set; `__time_nano__` is the line's
    own nano timestamp, falling back to `time_col` (the reference falls
    back to arrival time, decoder.go:79-85).

    Caveat vs the influxdata models parser: backslash escape sequences
    (`\\,` `\\ ` `\\=`) and quoted-string commas are NOT handled — a
    field value containing them mis-splits. Float values are emitted as
    their literal line token (Go re-formats via FormatFloat(…,'g'),
    which round-trips plain decimal tokens identically).

    Shape: one regex pass + one explode over the per-line field array —
    no shuffle, rows out = Σ fields per point.
    """
    p = regex_parse(df, _INFLUX_RE, _INFLUX_KEYS, source_key,
                    keep_source=True, dotall=False)
    p = p.filter(F.col("i_meas").isNotNull())

    # key-sorted MetricLabels string (same name-sort contract as statsd)
    labels = _labels_from_pairs(
        F.regexp_replace(F.col("i_tags"), "^,", ""), "="
    )

    fields = F.split(F.col("i_fields"), ",")
    p = (
        p.withColumn("__labels__", labels)
        .withColumn(
            "__time_nano__",
            F.coalesce(
                F.col("i_ts").try_cast("long"),
                (
                    F.unix_micros(F.col(time_col).cast("timestamp")) * 1000
                    if time_col
                    else F.lit(None).cast("long")
                ),
            ),
        )
        .withColumn("__f", F.explode(fields))
    )
    fkey = F.substring_index(F.col("__f"), "=", 1)
    fval = F.col("__f").substr(
        F.length(fkey) + F.lit(2), F.length(F.col("__f"))
    )
    is_int = fval.rlike(r"^-?\d+i$")
    is_bool_t = fval.isin(*_BOOL_TRUE)
    is_bool_f = fval.isin(*_BOOL_FALSE)
    is_str = fval.rlike(r'^".*"$')
    is_float = fval.rlike(r"^[-+]?[0-9]*\.?[0-9]+(?:[eE][-+]?[0-9]+)?$")

    vtype = (
        F.when(is_int, F.lit("int"))
        .when(is_bool_t | is_bool_f, F.lit("bool"))
        .when(is_str, F.lit("string"))
        .when(is_float, F.lit("float"))
    )
    value = (
        F.when(is_int, F.regexp_replace(fval, "i$", ""))
        .when(is_bool_t, F.lit("1"))
        .when(is_bool_f, F.lit("0"))
        .when(is_str, F.regexp_replace(fval, '^"|"$', ""))
        .when(is_float, fval)
    )
    keep_types = (
        ("int", "bool", "float", "string")
        if fields_extend
        else ("int", "bool", "float")
    )
    p = p.filter(vtype.isin(*keep_types)).withColumns(
        {
            "__name__": F.when(
                fkey == "value", F.col("i_meas")
            ).otherwise(F.concat(F.col("i_meas"), F.lit(":"), fkey)),
            "__value__": value,
        }
    )
    extra = (
        [vtype.alias("__type__"), fkey.alias("__field__")]
        if fields_extend
        else []
    )
    return p.select(
        *[c for c in df.columns if c != source_key],
        "__name__", "__labels__", "__time_nano__", "__value__", *extra,
    )


# --------------------------------------------------------------------
# OTLP/JSON logs
# --------------------------------------------------------------------

_OTLP_ATTR = "array<struct<key:string,value:struct<stringValue:string>>>"
_OTLP_LOGS_SCHEMA = (
    "struct<resourceLogs:array<struct<"
    f"resource:struct<attributes:{_OTLP_ATTR}>,"
    "scopeLogs:array<struct<logRecords:array<struct<"
    "timeUnixNano:string,severityNumber:long,severityText:string,"
    f"body:struct<stringValue:string>,attributes:{_OTLP_ATTR}"
    ">>>>>>>"
)


def _attrs_json(attrs: Column) -> Column:
    """OTLP key/value list → compact sorted-key JSON object — what Go's
    json.Marshal(Attributes().AsRaw()) produces (otlpDataToSLSProto.go:
    310-317; Go marshals maps with sorted keys). Empty/absent → NULL
    (the reference omits the field when Len()==0)."""
    m = F.map_from_entries(
        F.array_sort(
            F.transform(
                attrs, lambda a: F.struct(
                    a["key"].alias("k"),
                    a["value"]["stringValue"].alias("v"),
                )
            )
        )
    )
    return F.when(F.size(attrs) > 0, F.to_json(m))


def otlp_log_decode(df: DataFrame, source_key: str = "body") -> DataFrame:
    """The OTLP/JSON logs decoder: ExportLogsServiceRequest JSON →
    one row per LogRecord with the reference's field names
    (pkg/protocol/decoder/opentelemetry/otlpDataToSLSProto.go:280-330):
    `time_unix_nano` (nanos string), `severity_number` (string),
    `severity_text`, `content` (body), `attributes` / `resources`
    (sorted-key compact JSON, NULL when empty). Body/attribute values
    are decoded as stringValue (the AnyValue kind the reference's own
    test vectors use); other kinds decode NULL.

    Shape: from_json + three generator expands — rows out = Σ records,
    no shuffle, JSON parsed once per frame.
    """
    j = F.from_json(F.col(source_key), _OTLP_LOGS_SCHEMA)
    others = [c for c in df.columns if c != source_key]
    p = (
        df.withColumn("__rl", F.explode(j["resourceLogs"]))
        .withColumn("__res", _attrs_json(F.col("__rl.resource.attributes")))
        .withColumn("__sl", F.explode(F.col("__rl.scopeLogs")))
        .withColumn("__lr", F.explode(F.col("__sl.logRecords")))
    )
    return p.select(
        *others,
        F.col("__lr.timeUnixNano").alias("time_unix_nano"),
        F.col("__lr.severityNumber").cast("string").alias("severity_number"),
        F.col("__lr.severityText").alias("severity_text"),
        F.col("__lr.body.stringValue").alias("content"),
        _attrs_json(F.col("__lr.attributes")).alias("attributes"),
        F.col("__res").alias("resources"),
    )
