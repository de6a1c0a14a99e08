"""Row-selection operators (SURVEY.md §2.4).

All filters compile to plain Column predicates so Catalyst can push them
into the scan — the automated version of the reference's "put filters
early in the config" guidance (its benchmark pipeline filters right after
parse, test/benchmark/test_cases/performance_file_to_blackhole_ilogtail/ilogtail.yaml).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def filter_regex(
    df: DataFrame,
    include: dict[str, str] | None = None,
    exclude: dict[str, str] | None = None,
) -> DataFrame:
    """processor_filter_regex
    (plugins/processor/filter/regex/processor_filter_regex.go:33-103):
    keep a row iff EVERY include[key] matches (missing/null key ⇒ drop,
    IsLogMatch :77) and NO exclude[key] matches. Reference regexes are
    full-match compiled (regexp.MatchString on ^pat$ via config) — we
    anchor likewise.
    """
    cond = F.lit(True)
    for k, pat in (include or {}).items():
        cond = cond & F.col(k).isNotNull() & F.col(k).rlike(f"^(?:{pat})$")
    for k, pat in (exclude or {}).items():
        cond = cond & ~(F.col(k).isNotNull() & F.col(k).rlike(f"^(?:{pat})$"))
    return df.filter(cond)


# --- ProcessorFilterNative boolean expression tree -----------------------
# core/plugin/processor/ProcessorFilterNative.h:102-143 defines an AST of
# And/Or/Not over (key regex value) leaves. We accept the same shape as
# nested dicts/lists and compile to one Column expression — Catalyst
# handles the tree natively (no interpreter loop at runtime).
#
#   {"and": [{"key": "role", "regex": "tool"},
#            {"not": {"key": "text", "regex": "CORRUPT.*"}}]}


def compile_filter_tree(node: dict) -> Column:
    if "and" in node:
        out = F.lit(True)
        for child in node["and"]:
            out = out & compile_filter_tree(child)
        return out
    if "or" in node:
        out = F.lit(False)
        for child in node["or"]:
            out = out | compile_filter_tree(child)
        return out
    if "not" in node:
        return ~compile_filter_tree(node["not"])
    if "key" in node and "regex" in node:
        return F.col(node["key"]).isNotNull() & F.col(node["key"]).rlike(
            f"^(?:{node['regex']})$"
        )
    if "key" in node and "eq" in node:
        return F.col(node["key"]) == F.lit(node["eq"])
    raise ValueError(f"bad filter node: {node}")


def filter_expr(df: DataFrame, tree: dict) -> DataFrame:
    """ProcessorFilterNative expression-mode
    (core/plugin/processor/ProcessorFilterNative.cpp:187)."""
    return df.filter(compile_filter_tree(tree))


def filter_key_regex_map(
    df: DataFrame,
    map_col: str,
    include: str | None = None,
    exclude: str | None = None,
) -> DataFrame:
    """processor_filter_key_regex
    (plugins/processor/filter/keyregex/processor_filter_key_regex.go:28-73)
    for the dynamic-schema case: the row's key set lives in a MapType
    column (the `extra` spill column of SURVEY §1.3). Keep a row iff every
    map key matches `include` and none matches `exclude`. For the fixed
    schema case this is just static column selection (pick_keys)."""
    keys = F.map_keys(F.col(map_col))
    cond = F.lit(True)
    if include:
        cond = cond & (F.size(F.filter(keys, lambda k: k.rlike(f"^(?:{include})$")))
                       == F.size(keys))
    if exclude:
        cond = cond & (F.size(F.filter(keys, lambda k: k.rlike(f"^(?:{exclude})$"))) == 0)
    return df.filter(cond)


def fields_with_condition(
    df: DataFrame,
    cases: list[dict],
    *,
    drop_if_not_match: bool = False,
) -> DataFrame:
    """processor_fields_with_condition
    (plugins/processor/fieldswithcondition/processor_fields_with_condition.go:278):
    switch-case — the FIRST matching condition applies its action.

    cases = [{"when": <filter tree>, "add": {field: value, ...}}, ...]
    Compiled to one chained when()/otherwise() per added field plus an
    optional drop of never-matched rows (DropIfNotMatchCondition).
    """
    conds = [compile_filter_tree(c["when"]) for c in cases]
    all_fields: list[str] = []
    for c in cases:
        for f_ in c.get("add", {}):
            if f_ not in all_fields:
                all_fields.append(f_)
    cols = {}
    for field in all_fields:
        expr: Column | None = None
        for cond, c in zip(conds, cases):
            v = c.get("add", {}).get(field)
            branch = F.lit(v) if v is not None else F.lit(None).cast("string")
            expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
        assert expr is not None
        cols[field] = expr
    df = df.withColumns(cols)
    if drop_if_not_match:
        any_match = F.lit(False)
        for cond in conds:
            any_match = any_match | cond
        df = df.filter(any_match)
    return df


def rate_limit(
    df: DataFrame,
    fields: list[str],
    limit: int,
    *,
    ts_col: str = "ts",
    window: str = "second",
    tiebreak: list[str] | None = None,
) -> DataFrame:
    """processor_rate_limit (plugins/processor/ratelimit/processor_rate_limit.go:57,
    token bucket at token_bucket.go:33): at most `limit` rows per distinct
    value-combination of `fields` per time window.

    The reference's wall-clock token bucket is nondeterministic; the
    deterministic distributed equivalent is a ranked window — rows ranked
    beyond `limit` within (fields, time-bucket) are dropped. One shuffle
    on (fields, bucket); at 100 TB the bucket column keeps hot keys from
    concentrating a whole key's history in one task.
    """
    bucket = F.date_trunc(window, F.col(ts_col))
    order = [F.col(ts_col)] + [F.col(c) for c in (tiebreak or [])]
    w = Window.partitionBy(*[F.col(f) for f in fields], bucket).orderBy(*order)
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= limit)
        .drop("__rn__")
    )


def pick_keys(
    df: DataFrame,
    include: list[str] | None = None,
    exclude: list[str] | None = None,
) -> DataFrame:
    """processor_pick_key (plugins/processor/pickkey/processor_pick_key.go:98):
    include wins over exclude."""
    if include:
        return df.select(*include)
    if exclude:
        return df.drop(*exclude)
    return df


def drop_fields(df: DataFrame, keys: list[str]) -> DataFrame:
    """processor_drop (plugins/processor/drop/processor_drop.go:51)."""
    return df.drop(*keys)


def drop_last_key(df: DataFrame, drop_key: str, include: list[str]) -> DataFrame:
    """processor_drop_last_key
    (plugins/processor/droplastkey/processor_drop_last_key.go:84): null the
    raw source column once every parsed key is present on the row."""
    cond = F.lit(True)
    for k in include:
        cond = cond & F.col(k).isNotNull()
    return df.withColumn(
        drop_key, F.when(cond, F.lit(None).cast("string")).otherwise(F.col(drop_key))
    )
