"""Field-extraction (parse) operators.

Reimplements the reference's parse-processor family as declarative column
transforms (SURVEY.md §2.2). The contract shared by all of them:

  * they read one string `source_key` column and add typed field columns;
  * parse failure yields NULL fields (never an error row);
  * keep-source semantics follow plugins/processor/regex/regex.go:101-103 —
    source kept if `keep_source`, or on failed parse if
    `keep_source_if_parse_error`; otherwise the source column is nulled
    after a successful parse (dropping the raw bytes early is the
    columnar analog, and it lets Parquet/Tungsten drop the heaviest
    column before any shuffle).

Everything is built-in Column expressions (whole-stage codegen). Every
single-pattern regex parse — regex, grok, dissect, syslog, statsd/influx
and SPL ``parse-regexp`` — runs through the one kernel of :func:`regex_parse`,
which executes the regex once per row behind a literal guard derived from
the pattern itself.
"""

from __future__ import annotations

import re
from re import _constants as _sre
from re import _parser as _sre_parse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _apply_keep_source(
    df: DataFrame,
    source_key: str,
    matched: Column,
    keep_source: bool,
    keep_source_if_parse_error: bool,
) -> DataFrame:
    """plugins/processor/regex/regex.go:101-103 source-retention rules."""
    if keep_source:
        return df
    if keep_source_if_parse_error:
        return df.withColumn(
            source_key, F.when(matched, F.lit(None).cast("string")).otherwise(F.col(source_key))
        )
    return df.withColumn(source_key, F.lit(None).cast("string"))


# one-pass sentinel encoding: the matched groups are packed into a single
# \x01-delimited string prefixed with \x02, so the (expensive) regex runs
# exactly once per row instead of once per key. A source holding \x01 or
# \x02 could corrupt the packing, so such a row is marked with a bare \x01
# (a clean row's packed value never equals it) and takes per-key
# ``regexp_extract`` instead.
_ONEPASS_SEP = "\x01"
_ONEPASS_SENT = "\x02"


def regex_parse(
    df: DataFrame,
    pattern: str,
    keys: list[str],
    source_key: str = "text",
    *,
    types: dict[str, str] | None = None,
    keep_source: bool = False,
    keep_source_if_parse_error: bool = True,
    full_match: bool = False,
    dotall: bool = True,
    max_input_len: int | None = None,
) -> DataFrame:
    """processor_regex (plugins/processor/regex/regex.go:32-129) /
    ProcessorParseRegexNative (core/plugin/processor/ProcessorParseRegexNative.cpp:103).

    `keys[i]` receives capture group i+1. The reference prepends ``(?s)``
    so ``.`` crosses newlines (regex.go:56-57); `full_match` anchors the
    whole value (regex.go:107). Fewer matched groups than keys = parse
    fail (regex.go:115-120) — here expressed as: no match ⇒ all keys NULL.

    The regex runs ONCE per row: a sentinel ``regexp_replace`` packs the
    groups and ``split`` unpacks them — whole-stage codegen, zero Python,
    2.8× faster than per-key extraction on the 9-key nginx pattern. Rows
    that cannot match skip the regex: :func:`literal_guard` derives a
    ``startswith``/``contains`` test from the literals every match must
    hold (the literal prefilter of RE2 and Hyperscan).

    `max_input_len` TRUNCATES the matched input to its first N chars —
    the runtime stand-in for the reference's regexp2 MatchTimeout
    (processor_grok.go:322-333), which has no JVM-codegen equivalent: a
    user-supplied pattern whose catastrophic core eludes the compile-time
    lint does work bounded by the cap instead of the (unbounded) row
    length. Truncation semantics are explicit: captures come from the
    truncated prefix, and a match that would only complete beyond the cap
    is a parse failure. The source column itself is never modified.
    """
    pat = pattern
    if dotall and not pat.startswith("(?s)"):
        pat = "(?s)" + pat
    if full_match:
        pat = _anchor(pat)
    types = types or {}
    src = (
        F.substring(F.col(source_key), 1, max_input_len)
        if max_input_len is not None
        else F.col(source_key)
    )

    # The lazy ``^.*?`` wrapper reproduces search (find) semantics when
    # the caller didn't ask for a full match; a non-matching value passes
    # through unchanged (no sentinel ⇒ parse fail).
    flags, body = ("(?s)", pat[4:]) if pat.startswith("(?s)") else ("", pat)
    wrapped = pat if full_match else f"{flags}^(?:.*?)(?:{body})(?:.*)$"
    repl = _ONEPASS_SENT + _ONEPASS_SEP.join(f"${i}" for i in range(1, len(keys) + 1))
    packed = F.when(
        src.contains(_ONEPASS_SEP) | src.contains(_ONEPASS_SENT), F.lit(_ONEPASS_SEP)
    ).otherwise(F.regexp_replace(src, wrapped, repl))
    guard = literal_guard(pat, src)
    if guard is not None:
        packed = F.when(guard, packed)
    # pin the single regex execution as a NAMED column: the N key
    # columns, the matched flag, and any downstream filter on a parsed
    # key all reference it, and unpinned, Catalyst inlines the regex
    # (and whatever expression synthesized the source) into every site
    # (see exprutil.pin; spl_pipeline measured 8.9 s → see
    # OPTIMIZATION_r08.md)
    from ilogtail_spark.exprutil import pin

    df = df.withColumn("__rxp__", pin(packed))
    packed_ref = F.col("__rxp__")
    perkey = packed_ref == _ONEPASS_SEP
    matched = F.when(perkey, src.rlike(pat)).otherwise(
        packed_ref.isNotNull() & packed_ref.startswith(_ONEPASS_SENT)
    )
    arr = F.split(F.substring(packed_ref, 2, 2147483647), _ONEPASS_SEP)

    def group(i: int) -> Column:
        return F.when(perkey, F.regexp_extract(src, pat, i + 1)).otherwise(arr.getItem(i))

    cols = {}
    for k, idxs in _key_slots(keys).items():
        raw = group(idxs[0])
        for j in idxs[1:]:
            raw = F.coalesce(F.nullif(raw, F.lit("")), group(j))
        c = F.when(matched, raw)
        if k in types:
            c = c.cast(types[k])
        cols[k] = c
    # matched must be evaluated against the ORIGINAL column before
    # keep-source nulls it; withColumns computes from the same input row.
    df = df.withColumns(cols)
    df = _apply_keep_source(df, source_key, matched, keep_source, keep_source_if_parse_error)
    return df.drop("__rxp__")


def _key_slots(keys: list[str]) -> dict[str, list[int]]:
    """Map key name → 0-based capture-group positions feeding it. Grok
    aliases may repeat across alternation branches (e.g. HTTPD_ERRORLOG's
    timestamp); only one branch participates in a match, so the first
    non-empty capture is the value — the columnar analog of the
    reference's skip-empty-captures extraction (processor_grok.go:148)."""
    slots: dict[str, list[int]] = {}
    for i, k in enumerate(keys):
        slots.setdefault(k, []).append(i)
    return slots


def _anchor(pat: str) -> str:
    """Anchor a pattern for whole-value matching, preserving a leading (?s)."""
    flags = ""
    if pat.startswith("(?s)"):
        flags, pat = "(?s)", pat[4:]
    return f"{flags}^(?:{pat})$"


# ---------------------------------------------------------------------------
# literal guards
# ---------------------------------------------------------------------------

_ANCHOR, _BREAK = object(), object()
_REPEATS = (_sre.MAX_REPEAT, _sre.MIN_REPEAT, _sre.POSSESSIVE_REPEAT)


def _java_reads_alike(pattern: str) -> bool:
    """False when Java's regex engine may read `pattern` differently from
    Python's parser: ``\\v`` (a vertical-whitespace class in Java, one
    character in Python), digit escapes (octal and back-reference rules
    differ), and nested or intersected classes (``[a[b]]``, ``&&``, where
    Python sees literals). Escapes Python rejects (``\\h``, ``\\R``,
    ``\\Q``, ``\\p{..}``) fail its parse instead."""
    in_class = False
    i, n = 0, len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if pattern[i + 1 : i + 2] in ("v", *"0123456789"):
                return False
            i += 2
            continue
        if in_class:
            if c == "[" or pattern.startswith("&&", i):
                return False
            in_class = c != "]"
        elif c == "[":
            in_class = True
            # a leading ^ negates and a leading ] is a literal, in both
            i += 1 + pattern.startswith("^", i + 1)
            i += pattern.startswith("]", i)
            continue
        i += 1
    return True


def _flatten(items, multiline: bool, out: list) -> None:
    """Lay a parsed pattern out as the characters a match must consume in
    order, with _ANCHOR for start-of-input and _BREAK for anything else.
    Only plain groups and exactly-once repeats are entered; alternation,
    optional or variable repeats, classes and scoped flags break a run."""
    for op, av in items:
        if op is _sre.LITERAL:
            out.append(chr(av))
        elif op is _sre.AT and (
            av is _sre.AT_BEGINNING_STRING or (av is _sre.AT_BEGINNING and not multiline)
        ):
            out.append(_ANCHOR)
        elif op is _sre.SUBPATTERN and not av[1] and not av[2]:
            _flatten(av[3], multiline, out)
        elif op in _REPEATS and av[0] == av[1] == 1:
            _flatten(av[2], multiline, out)
        else:
            out.append(_BREAK)


def required_literals(pattern: str) -> tuple[str, str]:
    """(prefix, infix): literal text that every match of `pattern` must
    start the input with, and the longest literal run it must contain
    (``''`` where none is implied by the other or can be shown).

    Both are ``''`` when Python cannot parse the pattern, when it sets
    ``(?i)`` or ``(?x)``, or when Java may read it differently
    (:func:`_java_reads_alike`)."""
    if not _java_reads_alike(pattern):
        return "", ""
    try:
        parsed = _sre_parse.parse(pattern)
    except re.error:
        return "", ""
    flags = parsed.state.flags
    if flags & (re.IGNORECASE | re.VERBOSE):
        return "", ""
    tokens: list = []
    _flatten(parsed, bool(flags & re.MULTILINE), tokens)
    runs = [""]
    for t in tokens:
        if isinstance(t, str):
            runs[-1] += t
        else:
            runs.append("")
    prefix = runs[1] if tokens and tokens[0] is _ANCHOR else ""
    infix = max(runs, key=len)
    return prefix, "" if infix == prefix else infix


def literal_guard(pattern: str, src: Column) -> Column | None:
    """A cheap condition that holds on every `src` value `pattern` finds
    a match in, or None when no literal is required."""
    prefix, infix = required_literals(pattern)
    guard = src.startswith(prefix) if prefix else None
    if infix:
        guard = src.contains(infix) if guard is None else guard & src.contains(infix)
    return guard


def json_parse(
    df: DataFrame,
    source_key: str = "text",
    *,
    schema: str | T.StructType | None = None,
    prefix: str = "",
    use_source_key_as_prefix: bool = False,
    expand_connector: str = "_",
    expand_depth: int = 0,
    keep_source: bool = True,
    keep_source_if_parse_error: bool = True,
) -> DataFrame:
    """processor_json (plugins/processor/json/processor_json.go:29-201) /
    ProcessorParseJsonNative (core/plugin/processor/ProcessorParseJsonNative.cpp:58).

    With a known `schema` (the hot path): ``from_json`` + struct flatten
    with the reference's connector/prefix naming. Nested structs are
    flattened to `parent{connector}child` columns up to `expand_depth`
    levels (0 = unlimited), mirroring processor_json.go:141-201; a level
    beyond the depth is re-serialized with ``to_json`` (stringified, as
    the reference stringifies non-expanded subtrees).
    """
    if schema is None:
        # dynamic flat-object fallback: map<string,string>; non-flat rows null
        parsed = F.from_json(F.col(source_key), "map<string,string>")
        df = df.withColumn("__j__", parsed)
        matched = F.col("__j__").isNotNull()
        df = _apply_keep_source(df, source_key, matched, keep_source, keep_source_if_parse_error)
        return df.withColumnRenamed("__j__", _json_prefix(prefix, use_source_key_as_prefix, source_key) + "map")

    parsed = F.from_json(F.col(source_key), schema)
    df = df.withColumn("__j__", parsed)
    matched = F.col("__j__").isNotNull()
    pfx = _json_prefix(prefix, use_source_key_as_prefix, source_key)
    struct_type = df.schema["__j__"].dataType
    assert isinstance(struct_type, T.StructType)
    cols = _flatten_struct("__j__", struct_type, pfx, expand_connector, expand_depth, level=1)
    df = df.withColumns(cols)
    df = _apply_keep_source(df, source_key, matched, keep_source, keep_source_if_parse_error)
    return df.drop("__j__")


def _json_prefix(prefix: str, use_source: bool, source_key: str) -> str:
    return (source_key if use_source else "") + prefix


def _flatten_struct(
    path: str,
    st: T.StructType,
    prefix: str,
    connector: str,
    depth: int,
    level: int,
) -> dict[str, Column]:
    out: dict[str, Column] = {}
    for f in st.fields:
        child_path = f"{path}.{f.name}"
        name = prefix + f.name
        if isinstance(f.dataType, T.StructType) and (depth == 0 or level < depth):
            out.update(
                _flatten_struct(
                    child_path, f.dataType, name + connector, connector, depth, level + 1
                )
            )
        elif isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            out[name] = F.to_json(F.col(child_path))
        else:
            out[name] = F.col(child_path)
    return out


def csv_parse(
    df: DataFrame,
    split_keys: list[str],
    source_key: str = "text",
    *,
    sep: str = ",",
    quote: str = '"',
    trim_leading_space: bool = False,
    expand_others: bool = False,
    expand_key_prefix: str = "expand_",
    max_expand: int = 8,
    keep_source: bool = True,
    keep_source_if_parse_error: bool = True,
) -> DataFrame:
    """processor_csv (plugins/processor/csv/processor_csv.go:30-141) /
    ProcessorParseDelimiterNative (core/plugin/processor/ProcessorParseDelimiterNative.cpp:186).

    ``from_csv`` is quote-aware like the reference's FSM parser. Extra
    fields beyond `split_keys` are either preserved under expand keys
    (`ExpandOthers`, prefix+index naming, processor_csv.go:95-108) or
    dropped. Short rows leave missing keys NULL (`AllowingShortenedFields`).
    """
    n = len(split_keys)
    total = n + (max_expand if expand_others else 0)
    names = list(split_keys) + [f"{expand_key_prefix}{i+1}" for i in range(total - n)]
    schema = ", ".join(f"`{c}` string" for c in names)
    opts = {"sep": sep, "quote": quote}
    if trim_leading_space:
        opts["ignoreLeadingWhiteSpace"] = "true"
    parsed = F.from_csv(F.col(source_key), schema, opts)
    df = df.withColumn("__c__", parsed)
    matched = F.col(f"__c__.{split_keys[0]}").isNotNull()
    df = df.withColumns({c: F.col(f"__c__.`{c}`") for c in names})
    df = _apply_keep_source(df, source_key, matched, keep_source, keep_source_if_parse_error)
    return df.drop("__c__")


def kv_parse(
    df: DataFrame,
    source_key: str = "text",
    *,
    delimiter: str = "&",
    separator: str = "=",
    keys: list[str] | None = None,
    dest: str = "kv",
) -> DataFrame:
    """processor_split_key_value
    (plugins/processor/split/keyvalue/key_value_splitter.go:26-98) and the
    SPL `parse-kv` op (core/unittest/spl/SplUnittest.cpp:415).

    ``str_to_map`` does the pair/sep split JVM-side. Without `keys` the
    map is the output, under `dest`. With `keys`, each is projected to its
    own string column and the map is dropped, as the reference adds each
    pair as a flat field of the event (key_value_splitter.go:98): a routed
    row then holds every pair once, not again as a map that Parquet
    encodes with per-entry repetition levels. The map is a named column
    the key projections all reference, so Catalyst evaluates it once per
    row rather than inlining it into each of them.
    """
    kv = F.str_to_map(F.col(source_key), F.lit(delimiter), F.lit(separator))
    if not keys:
        return df.withColumn(dest, kv)
    df = df.withColumn("__kv__", kv)
    return df.withColumns({k: F.col("__kv__").getItem(k) for k in keys}).drop("__kv__")


def split_char(
    df: DataFrame,
    split_keys: list[str],
    source_key: str = "text",
    *,
    sep: str = ",",
    preserve_others: bool = False,
    preserve_key: str = "_split_preserve_",
) -> DataFrame:
    """processor_split_char / processor_split_string
    (plugins/processor/split/char/split_char.go:34-158,
    split/string/split_string.go:33-103): positional split into named keys.
    Not quote-aware (use csv_parse for that). Overflow tail optionally
    preserved joined back under `preserve_key`.
    """
    arr = F.split(F.col(source_key), re.escape(sep))
    df = df.withColumn("__arr__", arr)
    cols: dict[str, Column] = {
        k: F.col("__arr__").getItem(i) for i, k in enumerate(split_keys)
    }
    if preserve_others:
        n = len(split_keys)
        cols[preserve_key] = F.when(
            F.size("__arr__") > n,
            F.array_join(F.slice(F.col("__arr__"), n + 1, 2147483),
                         sep),
        )
    return df.withColumns(cols).drop("__arr__")


def split_log_string(
    df: DataFrame,
    source_key: str = "text",
    *,
    sep: str = "\n",
    line_col: str = "line",
    index_col: str = "line_no",
) -> DataFrame:
    """processor_split_log_string
    (plugins/processor/split/logstring/split_log_string.go:29-37) /
    ProcessorSplitLogStringNative
    (core/plugin/processor/inner/ProcessorSplitLogStringNative.cpp:87):
    row-generating split of one event into N lines. ``posexplode`` keeps
    the intra-event line index so downstream ordering stays deterministic
    (the reference preserves arrival order implicitly).
    """
    return df.select(
        "*",
        F.posexplode(F.split(F.col(source_key), re.escape(sep))).alias(
            index_col, line_col
        ),
    )


def anchor_extract(
    df: DataFrame,
    anchors: list[tuple[str, str, str]],
    source_key: str = "text",
) -> DataFrame:
    """processor_anchor (plugins/processor/anchor/anchor.go:62-172):
    substring between Start/Stop anchor strings per field. Expressed as a
    lazy regex `start(.*?)stop` — (?s) so anchors may span lines.
    `anchors` = [(start, stop, field_name), ...]; empty start = line
    begin, empty stop = line end (anchor.go ParseAnchors semantics).
    """
    cols = {}
    for start, stop, field in anchors:
        pat = "(?s)" + (re.escape(start) if start else "^") + "(.*?)" + (
            re.escape(stop) if stop else "$"
        )
        matched = F.col(source_key).rlike(pat)
        cols[field] = F.when(matched, F.regexp_extract(F.col(source_key), pat, 1))
    return df.withColumns(cols)


# ---------------------------------------------------------------------------
# dissect
# ---------------------------------------------------------------------------

_DISSECT_TOKEN_RE = re.compile(r"%\{([^}]*)\}")


class _DissectField:
    """One %{...} spec, decoded.

    kind: 'field' | 'skip' | 'append' | 'ref_name' | 'ref_value'
    """

    __slots__ = ("kind", "name", "order", "pad")

    def __init__(self, kind: str, name: str, order: int, pad: bool):
        self.kind, self.name, self.order, self.pad = kind, name, order, pad


def _parse_dissect_spec(spec: str) -> _DissectField:
    pad = spec.endswith("->")
    if pad:
        spec = spec[:-2]
    if spec == "":
        return _DissectField("skip", "", 0, pad)
    head, name = spec[0], spec
    order = 0
    if head == "+":
        name = spec[1:]
        if "/" in name:
            name, ords = name.rsplit("/", 1)
            order = int(ords)
        return _DissectField("append", name, order, pad)
    if head == "?":
        return _DissectField("skip", spec[1:], 0, pad)
    if head == "*":
        return _DissectField("ref_name", spec[1:], 0, pad)
    if head == "&":
        return _DissectField("ref_value", spec[1:], 0, pad)
    return _DissectField("field", name, order, pad)


def compile_dissect(pattern: str) -> tuple[str, list[_DissectField]]:
    """Compile a dissect pattern to ONE anchored regex + per-group plan.

    Dissect semantics (Logstash dissect / Beats dissect; the north-star's
    "dissect-style named-capture parsing"): the literal text between
    %{field} specs is a delimiter located left-to-right, each field takes
    the (possibly empty) run up to the next delimiter. That is exactly a
    single anchored regex with a lazy ``(.*?)`` group per field (greedy
    ``(.*)`` for a trailing field), so the whole parse stays one
    whole-stage-codegen'd JVM regex pass — no tokenizer loop, no Python.

    Modifiers: ``%{key->}`` lets the following delimiter repeat
    (``(?:delim)+``); ``%{+key}`` / ``%{+key/n}`` appends into `key`;
    ``%{}`` / ``%{?key}`` matches-and-discards; ``%{*k}`` + ``%{&k}``
    form a dynamic name→value pair emitted as a map column `k`.
    """
    plan: list[_DissectField] = []
    pos = 0
    last_was_field = False
    matches = list(_DISSECT_TOKEN_RE.finditer(pattern))
    if not matches:
        raise ValueError("dissect pattern has no %{field} specs")
    regex = ["^"]
    for m in matches:
        lit = pattern[pos : m.start()]
        if lit:
            f_prev = plan[-1] if plan else None
            esc = re.escape(lit)
            regex.append(f"(?:{esc})+" if (f_prev and f_prev.pad) else esc)
            last_was_field = False
        elif last_was_field:
            raise ValueError(
                f"dissect: adjacent fields with no delimiter at offset {m.start()}"
            )
        fld = _parse_dissect_spec(m.group(1))
        plan.append(fld)
        is_last = m.end() == len(pattern) or (
            m is matches[-1] and not pattern[m.end():]
        )
        regex.append("(.*)" if is_last else "(.*?)")
        last_was_field = True
        pos = m.end()
    tail = pattern[pos:]
    if tail:
        f_prev = plan[-1]
        esc = re.escape(tail)
        regex.append(f"(?:{esc})+" if f_prev.pad else esc)
    regex.append("$")
    # cross-validate ref pairs
    names = [f.name for f in plan if f.kind == "ref_name"]
    values = [f.name for f in plan if f.kind == "ref_value"]
    if sorted(names) != sorted(values):
        raise ValueError(f"dissect: unpaired */& refs: {names} vs {values}")
    return "".join(regex), plan


def dissect_keys(pattern: str) -> list[str]:
    """Final output column names for a dissect pattern, in emit order."""
    _, plan = compile_dissect(pattern)
    out: list[str] = []
    for f in plan:
        if f.kind == "field" or f.kind == "append":
            if f.name not in out:
                out.append(f.name)
        elif f.kind == "ref_name" and f.name not in out:
            out.append(f.name)
    return out


def dissect_parse(
    df: DataFrame,
    pattern: str,
    source_key: str = "text",
    *,
    append_separator: str = "",
    types: dict[str, str] | None = None,
    keep_source: bool = False,
    keep_source_if_parse_error: bool = True,
    max_input_len: int | None = None,
) -> DataFrame:
    """Dissect-style named-capture parse as one JVM regex pass.

    Compiles the dissect pattern with :func:`compile_dissect` and runs it
    through :func:`regex_parse` (one regex execution per row, whole-stage
    codegen, behind the guard derived from the delimiters). Fields assemble
    afterwards as zero-cost projections: appends concat their groups with
    `append_separator`, ``%{*k}``/``%{&k}`` pairs become a map column.

    The reference has no dissect processor — its users reach for
    processor_regex with hand-written groups (plugins/processor/regex/
    regex.go:32) — but the dissect surface compiles INTO that engine, so
    it inherits its scale behavior (derived guard, truncation).
    """
    regex, plan = compile_dissect(pattern)
    types = types or {}
    gkeys = [f"__d{i}" for i in range(len(plan))]
    parsed = regex_parse(
        df,
        regex,
        gkeys,
        source_key,
        keep_source=keep_source,
        keep_source_if_parse_error=keep_source_if_parse_error,
        dotall=True,
        max_input_len=max_input_len,
    )
    out_cols: dict[str, Column] = {}
    # simple + append fields
    slots: dict[str, list[tuple[int, int, int]]] = {}
    for i, f in enumerate(plan):
        if f.kind in ("field", "append"):
            slots.setdefault(f.name, []).append((f.order, i, i))
    for name, entries in slots.items():
        entries.sort()
        cols = [F.col(gkeys[i]) for _, _, i in entries]
        col = cols[0] if len(cols) == 1 else F.concat_ws(append_separator, *cols)
        out_cols[name] = col.cast(types[name]) if name in types else col
    # ref pairs -> map column per ref key
    ref_names = {f.name: i for i, f in enumerate(plan) if f.kind == "ref_name"}
    ref_values = {f.name: i for i, f in enumerate(plan) if f.kind == "ref_value"}
    for name, ni in ref_names.items():
        vi = ref_values[name]
        out_cols[name] = F.map_from_arrays(
            F.array(F.col(gkeys[ni])), F.array(F.col(gkeys[vi]))
        )
    parsed = parsed.withColumns(out_cols)
    return parsed.drop(*gkeys)
