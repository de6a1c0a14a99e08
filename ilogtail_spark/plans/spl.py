"""SPL → DataFrame compiler.

The reference embeds SPL, a pipe-syntax dataflow language, as its only
query language (processor_spl, core/plugin/processor/ProcessorSPL.h:25;
operator corpus in core/unittest/spl/SplUnittest.cpp; docs
docs/cn/plugins/processor/spl/processor-spl-native.md):

    * | where status='200' | parse-regexp content, '(..)' as ip, method
      | project-away content | project-rename client=ip

Each pipe stage maps 1:1 onto a DataFrame transform (SURVEY.md §2.9).
Expressions inside `where`/`extend` are passed to Spark SQL `expr()` —
SPL's expression dialect is SQL-shaped; the few divergent function names
are rewritten driver-side (json_extract → get_json_object).

Supported ops (the SplUnittest.cpp surface):
  where <expr>                        → filter
  extend k=<expr>[, k2=...]           → withColumn
  project k[, ...]                    → select
  project-away k[, ...]               → drop
  project-rename new=old[, ...]       → withColumnsRenamed
  parse-regexp <col>, '<pat>' as a, b → regex_parse
  parse-json <col>                    → json_parse (map mode + expand)
  parse-csv <col> as a, b, c          → csv_parse
  parse-kv -delims='&=' <col> as a, b → kv_parse
  limit N                             → limit
  sort by k [asc|desc][, ...]         → orderBy
  stats agg(col) as k[, ...] by g     → groupBy().agg()
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.operators.parse import csv_parse, kv_parse, regex_parse

# rows sampled to the driver for parse-json dynamic key discovery
_JSON_KEY_SAMPLE_ROWS = 1024

# SPL function names → Spark SQL equivalents
_FN_REWRITES = [
    (re.compile(r"\bjson_extract_scalar\s*\("), "get_json_object("),
    (re.compile(r"\bjson_extract\s*\("), "get_json_object("),
]


def _rewrite_expr(expr: str) -> str:
    for pat, repl in _FN_REWRITES:
        expr = pat.sub(repl, expr)
    return expr


def _split_pipes(query: str) -> list[str]:
    """Split on | outside quotes."""
    parts: list[str] = []
    buf: list[str] = []
    quote: str | None = None
    for ch in query:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == "|":
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    parts.append("".join(buf).strip())
    return [p for p in parts if p and p != "*"]


def _split_commas(s: str) -> list[str]:
    """Split on commas outside quotes/parens."""
    parts, buf, depth, quote = [], [], 0, None
    for ch in s:
        if quote:
            buf.append(ch)
            if ch == quote:
                quote = None
        elif ch in "'\"":
            quote = ch
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf).strip())
    return parts


def _unquote(s: str) -> str:
    s = s.strip()
    if len(s) >= 2 and s[0] == s[-1] and s[0] in "'\"":
        return s[1:-1]
    return s


def spl_query(df: DataFrame, query: str) -> DataFrame:
    """Compile and apply an SPL pipeline to a DataFrame."""
    for stage in _split_pipes(query):
        df = _apply_stage(df, stage)
    return df


def _apply_stage(df: DataFrame, stage: str) -> DataFrame:
    op, _, rest = stage.partition(" ")
    op = op.lower()
    rest = rest.strip()

    if op == "where":
        return df.filter(F.expr(_rewrite_expr(rest)))

    if op == "extend":
        cols: dict[str, Column] = {}
        for assign in _split_commas(rest):
            k, _, v = assign.partition("=")
            cols[k.strip()] = F.expr(_rewrite_expr(v.strip()))
        return df.withColumns(cols)

    if op == "project":
        return df.select(*[c.strip() for c in rest.split(",")])

    if op == "project-away":
        return df.drop(*[c.strip() for c in rest.split(",")])

    if op == "project-rename":
        renames = {}
        for assign in _split_commas(rest):
            new, _, old = assign.partition("=")
            renames[old.strip()] = new.strip()
        return df.withColumnsRenamed(renames)

    if op == "parse-regexp":
        # parse-regexp <col>, '<pattern>' as k1, k2, ...
        m = re.match(r"(\S+)\s*,\s*('(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\")\s+as\s+(.*)$",
                     rest, re.S)
        if not m:
            raise ValueError(f"bad parse-regexp: {stage}")
        col, pat, keys = m.group(1), _unquote(m.group(2)), m.group(3)
        return regex_parse(df, pat, [k.strip() for k in keys.split(",")],
                           col, keep_source=True)

    if op == "parse-json":
        # parse-json <col> [as k1, k2, ...]  (SplUnittest:198)
        # With `as`, the key set is given and the expansion is a single
        # columnar projection — the scale path (like the reference's SPL
        # configs, which carry the schema). Without it, keys are discovered
        # from a BOUNDED driver sample (take(N), the same cost class as
        # spark.read.json's samplingRatio inference) — never a full-data
        # scan/collect; rare keys outside the sample are missed, which is
        # the documented tradeoff of dynamic mode.
        m = re.match(r"(\S+?),?(?:\s+as\s+(.*))?$", rest, re.S)
        if not m:
            raise ValueError(f"bad parse-json: {stage}")
        col, keys_s = m.group(1), m.group(2)
        parsed = F.from_json(F.col(col), "map<string,string>")
        tmp = df.withColumn("__spl_json__", parsed)
        if keys_s:
            keys = [k.strip() for k in keys_s.split(",")]
        else:
            sample = tmp.select(F.map_keys("__spl_json__").alias("ks")).take(
                _JSON_KEY_SAMPLE_ROWS
            )
            keys = sorted({k for r in sample for k in (r["ks"] or [])})
        return tmp.withColumns(
            {k: F.col("__spl_json__").getItem(k) for k in keys}
        ).drop("__spl_json__")

    if op == "parse-csv":
        m = re.match(r"(\S+)\s+as\s+(.*)$", rest)
        if not m:
            raise ValueError(f"bad parse-csv: {stage}")
        col, keys = m.group(1), [k.strip() for k in m.group(2).split(",")]
        return csv_parse(df, keys, col)

    if op == "parse-kv":
        m = re.match(r"(?:-delims\s*=\s*(\S+)\s+)?(\S+)(?:\s+as\s+(.*))?$", rest)
        if not m:
            raise ValueError(f"bad parse-kv: {stage}")
        delims = _unquote(m.group(1) or "&=")
        pair_d, kv_d = (delims[0], delims[1]) if len(delims) >= 2 else (delims, "=")
        if not m.group(3):
            return df  # no `as` keys: nothing is added
        keys = [k.strip() for k in m.group(3).split(",")]
        return kv_parse(df, m.group(2), delimiter=pair_d, separator=kv_d, keys=keys)

    if op == "limit":
        return df.limit(int(rest))

    if op == "sort":
        rest = re.sub(r"^by\s+", "", rest)
        orders = []
        for part in _split_commas(rest):
            toks = part.split()
            c = F.col(toks[0])
            orders.append(c.desc() if len(toks) > 1 and toks[1].lower() == "desc" else c.asc())
        return df.orderBy(*orders)

    if op == "stats":
        m = re.match(r"(.*?)\s+by\s+(.*)$", rest, re.S)
        aggs_s, by_s = (m.group(1), m.group(2)) if m else (rest, "")
        aggs = []
        for part in _split_commas(aggs_s):
            am = re.match(r"(.*?)\s+as\s+(\w+)$", part.strip(), re.S)
            if not am:
                raise ValueError(f"bad stats agg: {part}")
            aggs.append(F.expr(_rewrite_expr(am.group(1))).alias(am.group(2)))
        keys = [k.strip() for k in by_s.split(",") if k.strip()]
        return df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)

    raise ValueError(f"unknown SPL op: {op}")
