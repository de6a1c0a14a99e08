"""Output checks computed with DuckDB, apart from the program.

Each ``expect_*`` function computes what a correct run must produce from
the generated inputs alone; each ``check_*`` function compares one op's
outputs against it and returns a list of problems (empty when the output
is right). Nothing here imports the program, except the registry check,
which takes its oracle SQL as a string.
"""

from __future__ import annotations

import datetime
import math

import duckdb

# --- flagship -------------------------------------------------------------
# The nginx pattern and the routing rules of the flagship spec, written out
# again here: find semantics, a 5xx response routes to sink_errors unless
# the role already routed the row to sink_tool.
NGINX_RE = (
    r'(\S+) \S+ \S+ \[([^\]]+)\] "(\w+) (\S+) HTTP/([\d.]+)" (\d+) (\d+) "([^"]*)" "([^"]*)"'
)
ROLE_GROUP = {"user": "human", "assistant": "model", "system": "control", "tool": "machine"}


def _expected_rows_sql(src: str) -> str:
    groups = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in ROLE_GROUP.items())
    return f"""
    WITH p AS (
      SELECT conv_id, turn_idx, role, text,
        CASE WHEN regexp_matches(text, '{NGINX_RE}')
             THEN regexp_extract(text, '{NGINX_RE}', 6)::INTEGER END AS code,
        CASE WHEN regexp_matches(text, '{NGINX_RE}')
             THEN regexp_extract(text, '{NGINX_RE}', 7)::BIGINT END AS bytes
      FROM read_parquet('{src}/*.parquet'))
    SELECT conv_id, turn_idx, text, bytes,
      CASE role {groups} ELSE 'Unknown' END AS role_group,
      CASE WHEN role = 'tool' THEN 'sink_tool'
           WHEN code BETWEEN 500 AND 599 THEN 'sink_errors'
           WHEN role IN ('assistant', 'system') THEN 'sink_model'
           ELSE 'sink_default' END AS route
    FROM p
    """


def expect_flagship(con: duckdb.DuckDBPyConnection, src: str, table: str) -> dict:
    """Materialize the expected routed rows as `table`; return the counts."""
    con.execute(f"CREATE OR REPLACE TABLE {table} AS {_expected_rows_sql(src)}")
    sinks = dict(con.execute(f"SELECT route, count(*) FROM {table} GROUP BY 1").fetchall())
    groups = {
        (r, g): (n, b)
        for r, g, n, b in con.execute(
            f"SELECT route, role_group, count(*), coalesce(sum(bytes), 0)::BIGINT "
            f"FROM {table} GROUP BY 1, 2"
        ).fetchall()
    }
    return {"table": table, "sinks": sinks, "groups": groups}


def check_flagship(
    con: duckdb.DuckDBPyConnection, out_dir: str, counts: dict, expected: dict
) -> list[str]:
    """One run_pipeline op: returned counts, the sink_counts and grouped
    aggregate tables, and the routed rows themselves."""
    errs = []
    if counts != expected["sinks"]:
        errs.append(f"returned counts {counts} != expected {expected['sinks']}")
    sink_counts = dict(
        con.execute(f"SELECT route, log_count FROM read_parquet('{out_dir}/sink_counts/*.parquet')")
        .fetchall()
    )
    if sink_counts != expected["sinks"]:
        errs.append(f"sink_counts table {sink_counts} != expected {expected['sinks']}")
    routed = f"read_parquet('{out_dir}/routed/*/*.parquet', hive_partitioning = true)"
    groups = {
        (r, g): (n, b)
        for r, g, n, b in con.execute(
            f"SELECT route, role_group, count(*), coalesce(sum(bytes), 0)::BIGINT "
            f"FROM {routed} GROUP BY 1, 2"
        ).fetchall()
    }
    if groups != expected["groups"]:
        errs.append(f"per-(route, role_group) count/bytes differ: {_dict_diff(groups, expected['groups'])}")
    agg = {
        (r, g): n
        for r, g, n in con.execute(
            f"SELECT route, role_group, log_count "
            f"FROM read_parquet('{out_dir}/group_route_role_group/*.parquet')"
        ).fetchall()
    }
    want = {k: n for k, (n, _) in expected["groups"].items()}
    if agg != want:
        errs.append(f"group_route_role_group differs: {_dict_diff(agg, want)}")
    table = expected["table"]
    for a, b, what in ((routed, table, "unexpected"), (table, routed, "missing")):
        n = con.execute(
            f"SELECT count(*) FROM (SELECT conv_id, turn_idx, text, route FROM {a} "
            f"EXCEPT ALL SELECT conv_id, turn_idx, text, route FROM {b})"
        ).fetchone()[0]
        if n:
            errs.append(f"{n} {what} routed (conv_id, turn_idx, text, route) rows")
    n, nn, nd = con.execute(
        f"SELECT count(*), count(lineage), count(DISTINCT lineage) FROM {routed}"
    ).fetchone()
    if not n == nn == nd:
        errs.append(f"lineage not unique and non-null: rows={n} non-null={nn} distinct={nd}")
    return errs


def _dict_diff(got: dict, want: dict) -> dict:
    keys = sorted(set(got) | set(want), key=str)
    return {str(k): (got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)}


# --- YAML key-value stream ------------------------------------------------
def expect_stream(
    con: duckdb.DuckDBPyConnection, log_dir: str, flushers: list[dict], table: str
) -> dict:
    """Expected rows per flusher from the raw log lines: a flusher with a
    `Match` tag gets the lines whose field equals the value; one without
    gets every line."""
    con.execute(f"""
    CREATE OR REPLACE TABLE {table} AS
    SELECT regexp_extract(line, '(?:^|\\t)seq:([^\\t]*)', 1) AS seq,
           regexp_extract(line, '(?:^|\\t)level:([^\\t]*)', 1) AS level,
           regexp_extract(line, '(?:^|\\t)svc:([^\\t]*)', 1) AS svc
    FROM read_csv('{log_dir}/*.log', columns = {{'line': 'VARCHAR'}}, header = false,
                  delim = '\x01', quote = '', escape = '')
    """)
    want = {}
    for i, fl in enumerate(flushers):
        name = f"flusher_{i}_{fl['Type']}"
        m = fl.get("Match")
        where = f"WHERE {m['Key']} = '{m['Value']}'" if m else ""
        want[name] = con.execute(f"SELECT count(*) FROM {table} {where}").fetchone()[0]
    return {"table": table, "flushers": want}


def check_stream(
    con: duckdb.DuckDBPyConnection, out_dir: str, expected: dict, all_flusher: str
) -> list[str]:
    """Per-flusher counts, and every seq delivered exactly once to the
    flusher without a Match."""
    errs = []
    routed = f"read_parquet('{out_dir}/routed/*/*/*.parquet', hive_partitioning = true)"
    try:
        got = dict(con.execute(f"SELECT route, count(*) FROM {routed} GROUP BY 1").fetchall())
    except duckdb.IOException as exc:
        return [f"no routed output: {exc}"]
    if got != expected["flushers"]:
        errs.append(f"per-flusher counts {got} != expected {expected['flushers']}")
    table = expected["table"]
    for a, b, what in (
        (f"(SELECT seq FROM {routed} WHERE route = '{all_flusher}')", table, "extra or repeated"),
        (table, f"(SELECT seq FROM {routed} WHERE route = '{all_flusher}')", "undelivered"),
    ):
        n = con.execute(
            f"SELECT count(*) FROM (SELECT seq FROM {a} EXCEPT ALL SELECT seq FROM {b})"
        ).fetchone()[0]
        if n:
            errs.append(f"{n} {what} seq values at {all_flusher}")
    return errs


# --- registry oracles -----------------------------------------------------
# The comparison rule of the repository's oracle checker: row count,
# column names, canonical column types and order-insensitive values.
def _norm(v) -> str:
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _canon_spark(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint", "long", "integer"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    for prefix, name in (("decimal", "decimal"), ("timestamp", "ts"), ("array", "list")):
        if dt.startswith(prefix):
            return name
    return {"string": "str", "boolean": "bool", "date": "date"}.get(dt, dt)


def _canon_duck(t) -> str:
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        return "hugeint"
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s.endswith("[]") or s.startswith("LIST") or s.startswith("STRUCT("):
        return "list"
    return {"VARCHAR": "str", "JSON": "str", "BOOLEAN": "bool", "DATE": "date"}.get(s, s)


def expect_oracle(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    rel = con.sql(sql)
    cols = list(rel.columns)
    rows = rel.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return {
        "cols": [cols[i] for i in order],
        "types": {c: _canon_duck(t) for c, t in zip(cols, rel.types)},
        "rows": sorted(tuple(_norm(r[i]) for i in order) for r in rows),
    }


def check_oracle(rows: list, dtypes: list[tuple[str, str]], expected: dict) -> list[str]:
    """`rows`/`dtypes` are a collected Spark result and its df.dtypes."""
    cols = sorted(c for c, _ in dtypes)
    if cols != expected["cols"]:
        return [f"columns {cols} != {expected['cols']}"]
    bad = {
        c: (_canon_spark(t), expected["types"][c])
        for c, t in dtypes
        if _canon_spark(t) != expected["types"][c]
    }
    if bad:
        return [f"column types differ (spark, oracle): {bad}"]
    got = sorted(tuple(_norm(r[c]) for c in cols) for r in rows)
    if len(got) != len(expected["rows"]):
        return [f"row count {len(got)} != {len(expected['rows'])}"]
    if got != expected["rows"]:
        diff = [(a, b) for a, b in zip(got, expected["rows"]) if a != b][:2]
        return [f"values differ, e.g. {diff}"]
    return []
