"""Prometheus exposition-format parse + relabel.

Reimplements the reference's Prometheus pipeline stages declaratively:

  * ``prom_parse`` — the text-exposition line parser
    (core/prometheus/labels/TextParser.cpp:51-336, driven by
    core/plugin/processor/inner/ProcessorPromParseMetricNative.cpp:26-64);
  * ``prom_relabel`` — the relabel rule engine
    (core/prometheus/labels/Relabel.cpp:117-257, applied by
    core/plugin/processor/inner/ProcessorPromRelabelMetricNative.cpp:50-130).

Both are pure column expressions (whole-stage codegen, no Python on the
data path). The parser is one anchored regex pass per line plus an
array reshape of the label pairs; each relabel rule compiles to map /
filter expressions, so an N-rule config is one fused projection — at
100 TB the scan is the only cost, exactly like the reference's
single-pass state machine.

Documented deviations from the reference:

  * TextParser.cpp:183 switches on ``mLine[lPos + 1]`` (the char after
    the VALUE START) instead of ``mLine[mPos + 1]`` (the char after the
    current backslash), so escapes after the first are decoded from the
    wrong position; this port implements the evidently intended
    semantics (backslash-backslash → backslash, backslash-quote →
    quote, backslash-n → newline, any other escape kept verbatim,
    matching the comment at :180-182).
  * Relabel ``replace`` honors boost::format_first_only
    (Relabel.cpp:156-157): the first regex occurrence in the joined
    source value is rewritten and prefix/suffix are retained. This is
    emulated exactly by wrapping the user pattern in
    ``^((?s).*?)(pat)((?s).*)$`` and shifting group references.
"""

from __future__ import annotations

import re as _re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- text parser ------------------------------------------------------

# IsValidNumberChar (TextParser.cpp:36-41): the token charset for both
# sample values and timestamps; stod then validates.
_NUM = r"[0-9.+\-eEiInNfFtTyYxXaA]+"
_LABEL_PAIR = r'[a-zA-Z_][a-zA-Z0-9_]*[ \t]*=[ \t]*"(?:[^"\\]|\\.)*"'
# grammar of one sample line (HandleStart→HandleTimestamp state chain,
# TextParser.cpp:88-325); trailing '# exemplar' is consumed and ignored
_LINE_RE = (
    r"^[ \t]*([a-zA-Z_:][a-zA-Z0-9_:]*)[ \t]*"
    rf"(\{{[ \t]*(?:{_LABEL_PAIR}[ \t]*(?:,[ \t]*)?)*\}})?[ \t]*"
    rf"({_NUM})"
    rf"(?:[ \t]+({_NUM}))?[ \t]*"
    r"(?:#.*)?$"
)

_LBL_T = "array<struct<k:string,v:string>>"


def _unescape(v: Column) -> Column:
    """Label-value escape decoding (valid: \\\\ \\" \\n; anything else
    keeps the backslash + char, TextParser.cpp:180-195)."""
    ph = "\x00"
    out = F.replace(v, F.lit("\\\\"), F.lit(ph))
    out = F.replace(out, F.lit('\\"'), F.lit('"'))
    out = F.replace(out, F.lit("\\n"), F.lit("\n"))
    return F.replace(out, F.lit(ph), F.lit("\\"))


def _parse_double(tok: Column) -> Column:
    """std::stod subset: plain/scientific floats plus inf/infinity/nan
    in any case with optional sign (TextParser.cpp:258)."""
    low = F.lower(tok)
    return (
        F.when(low.rlike(r"^\+?(inf|infinity)$"), F.lit(float("inf")))
        .when(low.rlike(r"^-(inf|infinity)$"), F.lit(float("-inf")))
        .when(low.rlike(r"^[+-]?nan$"), F.lit(float("nan")))
        .otherwise(tok.try_cast("double"))
    )


def prom_parse(
    df: DataFrame,
    source_key: str = "text",
    *,
    default_ts: int = 0,
    default_ns: int = 0,
    honor_timestamps: bool = True,
) -> DataFrame:
    """Parse one exposition line per row into metric shape.

    Output columns: ``__name__`` (string), ``labels``
    (map<string,string>, includes ``__name__`` like the processor's
    SetTag(NAME, ...) at ProcessorPromParseMetricNative.cpp:59),
    ``__value__`` (double), ``__time__`` (epoch seconds, long),
    ``__time_ns__`` (long). Comment/blank lines (IsValidMetric,
    prometheus/Utils.cpp:102-113) and grammar/number errors drop the
    row, mirroring ParseLine's false return.

    Timestamps are exposition milliseconds; values below 2^31 are
    treated as seconds and scaled (TextParser.cpp:306-315); above 2^63
    the line errors out. With ``honor_timestamps=False`` the scrape
    default is always used (TextParser.cpp:269,316-319).
    """
    src = F.col(source_key)
    # ONE regex execution per line (the sentinel trick of
    # operators/parse.py's regex_parse): the anchored grammar rewrites the
    # whole line into \x02 + \x01-joined groups; a non-matching line
    # passes through unchanged (no sentinel ⇒ parse fail). The label
    # blob — the only group that may itself contain \x01 — is packed
    # LAST and recovered with a limit-4 split. Measured 2.3x over four
    # regexp_extract passes at sf0.1.
    packed = F.regexp_replace(src, _LINE_RE, "\x02$1\x01$3\x01$4\x01$2")
    # pin the packed+split chain as a NAMED column: the row filter and
    # all five output columns reference it, and unpinned, Catalyst
    # inlines the (synthesized line +) anchored regex rewrite into
    # every site (see exprutil.pin — the name matters: a pinned tree
    # embedded per-consumer is nondeterministic per copy, which also
    # defeats runtime subexpression elimination)
    from ilogtail_spark.exprutil import pin

    df = df.withColumn("__pp__", pin(F.split(packed, "\x01", 4)))
    parts = F.col("__pp__")
    head = F.get(parts, 0)
    matched = head.startswith("\x02")
    name = F.substring(head, 2, F.lit(2147483647))
    val_tok = F.get(parts, 1)
    ts_tok = F.coalesce(F.get(parts, 2), F.lit(""))
    blob = F.coalesce(F.get(parts, 3), F.lit(""))

    pairs = F.regexp_extract_all(blob, F.lit(f"({_LABEL_PAIR})"), 1)

    def pair_entry(p: Column) -> Column:
        q = F.instr(p, '"')
        raw = F.substring(p, q + 1, F.length(p) - q - 1)
        # the 4-pass unescape rebuilds the string; skip it for the
        # overwhelmingly common escape-free value
        val = F.when(raw.contains("\\"), _unescape(raw)).otherwise(raw)
        return F.struct(
            F.regexp_extract(p, r"^([a-zA-Z_][a-zA-Z0-9_]*)", 1), val
        )

    # duplicate label names: SetTag overwrites, so the LAST occurrence
    # wins (TextParser.cpp:210-212); __name__ is set after parsing and
    # wins over a parsed label of the same name (ProcessorPromParse
    # MetricNative.cpp:59). Reverse + first-wins dedup expresses both.
    parsed = F.transform(pairs, pair_entry).cast(_LBL_T)
    name_entry = F.array(
        F.struct(F.lit("__name__").alias("k"), name.alias("v"))
    ).cast(_LBL_T)
    ordered = F.concat(name_entry, F.reverse(parsed))
    first_wins = F.aggregate(
        ordered,
        F.array().cast(_LBL_T),
        lambda acc, e: F.when(
            F.exists(acc, lambda a: a["k"] == e["k"]), acc
        ).otherwise(F.concat(acc, F.array(e))),
    )

    value = _parse_double(val_tok)
    ts_ms_raw = _parse_double(ts_tok)
    ts_ms = F.when(ts_ms_raw < F.lit(2.0**31), ts_ms_raw * 1000).otherwise(ts_ms_raw)
    ts_ok = (ts_tok == "") | (ts_ms_raw.isNotNull() & (ts_ms_raw <= F.lit(2.0**63)))
    ms_long = ts_ms.cast("long")

    has_ts = F.lit(honor_timestamps) & (ts_tok != "")
    t_sec = F.when(has_ts, (ms_long / 1000).cast("long")).otherwise(F.lit(default_ts))
    t_ns = F.when(has_ts, (ms_long % 1000) * 1000000).otherwise(F.lit(default_ns))

    valid = matched & value.isNotNull() & ts_ok
    return (
        df.where(valid)
        .withColumns(
            {
                "__name__": name,
                "labels": F.map_from_entries(first_wins),
                "__value__": value,
                "__time__": t_sec.cast("long"),
                "__time_ns__": t_ns.cast("long"),
            }
        )
        .drop(source_key, "__pp__")
    )


# --- relabel ----------------------------------------------------------


@dataclass(frozen=True)
class RelabelRule:
    """One relabel config (RelabelConfig::Init, Relabel.cpp:82-115).
    Defaults mirror the reference ctor (Relabel.cpp:79-81)."""

    action: str = "replace"
    source_labels: tuple[str, ...] = ()
    separator: str = ";"
    target_label: str = ""
    regex: str = "().*"
    replacement: str = "$1"
    modulus: int = 0


def _n_groups(pattern: str) -> int:
    """Count capturing groups: '(' not escaped, not '(?', not inside a
    character class."""
    n, i, in_class = 0, 0, False
    while i < len(pattern):
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(" and not pattern[i + 1 : i + 2] == "?":
            n += 1
        i += 1
    return n


def _shift_refs(template: str, by: int) -> str:
    """Shift $N group references in a Java replacement template."""
    return _re.sub(r"\$(\d+)", lambda m: f"${int(m.group(1)) + by}", template)


def _first_only_replace(val: Column, pattern: str, template: str) -> Column:
    """boost::regex_replace(..., format_first_only) — rewrite the FIRST
    occurrence of ``pattern`` in ``val`` via ``template``, preserving
    prefix and suffix (Relabel.cpp:156-157)."""
    n = _n_groups(pattern)
    wrapped = f"^((?s).*?)({pattern})((?s).*)$"
    repl = "$1" + _shift_refs(template, 2) + f"${n + 3}"
    return F.regexp_replace(val, wrapped, repl)


def _get(m: Column, k: str) -> Column:
    # Labels::Get returns "" for a missing label (Labels.cpp)
    return F.coalesce(F.try_element_at(m, F.lit(k)), F.lit(""))


def _set(m: Column, k: Column | str, v: Column) -> Column:
    key = F.lit(k) if isinstance(k, str) else k
    kept = F.filter(F.map_entries(m), lambda e: e["key"] != key)
    return F.map_from_entries(
        F.concat(
            kept.cast(_LBL_T),
            F.array(F.struct(key.alias("k"), v.alias("v"))).cast(_LBL_T),
        )
    )


def _del(m: Column, k: Column | str) -> Column:
    key = F.lit(k) if isinstance(k, str) else k
    return F.map_filter(m, lambda mk, _: mk != key)


def _hashmod(val: Column, modulus: int) -> Column:
    """md5, LAST 8 digest bytes as big-endian uint64, % modulus
    (Relabel.cpp:174-184)."""
    h = F.conv(F.substring(F.md5(val), 17, 16), 16, 10).cast("decimal(20,0)")
    return F.pmod(h, F.lit(modulus)).cast("long").cast("string")


def prom_relabel(
    df: DataFrame,
    rules: list[RelabelRule],
    *,
    labels_col: str = "labels",
) -> DataFrame:
    """Apply a relabel rule list to the labels map, in order.

    keep/drop/keepequal/dropequal filter rows (a false return from
    RelabelConfig::Process drops the event, Relabel.cpp:126-149);
    replace/lowercase/uppercase/hashmod/labelmap/labeldrop/labelkeep
    rewrite the map. After ALL rules run, target labels starting with
    ``__`` are deleted (CollectLabelsToDelete + the deferred DelTag
    loop, Relabel.cpp:229-233 / ProcessorPromRelabelMetricNative
    .cpp:117-122) — a later rule can still read a ``__``-prefixed
    target written by an earlier one. Finally ``__name__`` is re-read
    into the name column (ProcessorPromRelabelMetricNative.cpp:115).

    Dynamic ``__``-prefixed targets (templates with group refs whose
    expansion starts with ``__``) are rejected at plan build: the
    deferred deletion set must be static to stay a pure column plan.
    """
    to_delete: list[str] = []
    for r in rules:
        if "$" in r.target_label and r.target_label.startswith("__"):
            raise NotImplementedError(
                "dynamic __-prefixed target_label is not supported "
                f"(rule action={r.action!r} target={r.target_label!r})"
            )
        if r.target_label.startswith("__"):
            to_delete.append(r.target_label)

    m = F.col(labels_col)
    for r in rules:
        val = (
            F.concat_ws(r.separator, *[_get(m, s) for s in r.source_labels])
            if r.source_labels
            else F.lit("")
        )
        anchored = f"^(?:{r.regex})$"  # boost::regex_match = full match
        if r.action == "keep":
            df = df.where(val.rlike(anchored))
        elif r.action == "drop":
            df = df.where(~val.rlike(anchored))
        elif r.action == "keepequal":
            df = df.where(_get(m, r.target_label) == val)
        elif r.action == "dropequal":
            df = df.where(_get(m, r.target_label) != val)
        elif r.action == "replace":
            target = _first_only_replace(val, r.regex, r.target_label)
            res = _first_only_replace(val, r.regex, r.replacement)
            matched = val.rlike(r.regex)  # regex_search, unanchored
            new_m = F.when(~matched, m).otherwise(
                F.when(res == "", _del(m, target)).otherwise(_set(m, target, res))
            )
            df = df.withColumn(labels_col, new_m)
        elif r.action == "lowercase":
            df = df.withColumn(labels_col, _set(m, r.target_label, F.lower(val)))
        elif r.action == "uppercase":
            df = df.withColumn(labels_col, _set(m, r.target_label, F.upper(val)))
        elif r.action == "hashmod":
            df = df.withColumn(
                labels_col, _set(m, r.target_label, _hashmod(val, r.modulus))
            )
        elif r.action == "labelmap":
            # every key matching regex maps to a renamed copy; format_all
            # (global) replace on the KEY (Relabel.cpp:186-195)
            renamed = F.transform(
                F.filter(F.map_entries(m), lambda e: e["key"].rlike(anchored)),
                lambda e: F.struct(
                    F.regexp_replace(e["key"], r.regex, r.replacement),
                    e["value"],
                ),
            ).cast(_LBL_T)
            # l.Set overwrites: renamed entries win over originals
            kept = F.filter(
                F.map_entries(m).cast(_LBL_T),
                lambda e: ~F.exists(renamed, lambda n: n["k"] == e["k"]),
            )
            df = df.withColumn(
                labels_col, F.map_from_entries(F.concat(kept, renamed))
            )
        elif r.action == "labeldrop":
            df = df.withColumn(
                labels_col, F.map_filter(m, lambda k, _: ~k.rlike(anchored))
            )
        elif r.action == "labelkeep":
            df = df.withColumn(
                labels_col, F.map_filter(m, lambda k, _: k.rlike(anchored))
            )
        else:
            raise ValueError(f"unknown relabel action: {r.action!r}")

    for k in to_delete:
        df = df.withColumn(labels_col, _del(F.col(labels_col), k))
    if "__name__" in df.columns:
        df = df.withColumn("__name__", _get(F.col(labels_col), "__name__"))
    return df


def labels_str(m: Column) -> Column:
    """Sorted 'k#$#v|...' serialization of a labels map — the same
    MetricLabels.String shape used by the metric reshapes
    (pkg/helper/log_helper.go:209-228)."""
    entries = F.array_sort(F.map_entries(m).cast(_LBL_T))
    return F.array_join(
        F.transform(entries, lambda e: F.concat(e["k"], F.lit("#$#"), e["v"])), "|"
    )
