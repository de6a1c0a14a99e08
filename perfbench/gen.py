"""Seeded input generators for the benchmark.

Every input is built here with DuckDB from the run's seed, so a change to
the program cannot change its own inputs. Pseudo-random choices come from
DuckDB's ``hash`` of (seed, row, salt): the same seed gives byte-identical
rows whatever the thread count. Sizes do not depend on the seed, so every
seed does the same amount of work.
"""

from __future__ import annotations

import os

import duckdb

# --- flagship transcripts -------------------------------------------------
# conv_id/turn_idx/role/text/tool/ts, the `transcripts` shape the flagship
# pipeline reads. Five text formats plus ~2 % corrupt rows; one
# conversation in 97 is hot (1000 turns instead of 20-26).
HOT_EVERY = 97
HOT_TURNS = 1000
FLAGSHIP_FILES = 8


def _h(seed: int, salt: int, *cols: str) -> str:
    """A DuckDB expression: a non-negative pseudo-random BIGINT."""
    return f"(hash({seed}, {salt}, {', '.join(cols)}) % 1000000007)::BIGINT"


def flagship_sql(seed: int, n_convs: int) -> str:
    r = lambda salt, *c: _h(seed, salt, *(c or ("c", "t")))  # noqa: E731
    return f"""
    WITH convs AS (
      SELECT c,
             CASE WHEN c % {HOT_EVERY} = {seed % HOT_EVERY} THEN {HOT_TURNS}
                  ELSE 20 + (c + {seed}) % 7 END AS n_turns
      FROM range({n_convs}) r(c)),
    turns AS (
      SELECT c, unnest(range(n_turns)) AS t FROM convs),
    base AS (
      SELECT c, t,
        {r(1)} % 100 AS fmt_draw,
        ['user', 'assistant', 'system', 'tool'][1 + {r(2)} % 4] AS role,
        {r(3)} AS a, {r(4)} AS b
      FROM turns)
    SELECT
      'conv-' || lpad(c::VARCHAR, 8, '0') || '-' || {seed} AS conv_id,
      t::INTEGER AS turn_idx,
      role,
      CASE
        WHEN fmt_draw < 2 THEN 'CORRUPT|' || a::VARCHAR
        WHEN fmt_draw < 22 THEN
          (10 + a % 240)::VARCHAR || '.' || (b % 256)::VARCHAR || '.'
          || (a % 256)::VARCHAR || '.' || (b % 199)::VARCHAR
          || ' - - [01/Jan/2024:00:' || lpad((a % 60)::VARCHAR, 2, '0') || ':'
          || lpad((b % 60)::VARCHAR, 2, '0') || ' +0000] "'
          || ['GET', 'POST', 'PUT', 'DELETE'][1 + a % 4] || ' /api/v' || (b % 3)::VARCHAR
          || '/item/' || (a % 10000)::VARCHAR || ' HTTP/1.1" '
          || CASE WHEN b % 9 = 0 THEN (500 + a % 4)::VARCHAR
                  WHEN b % 7 = 0 THEN '404' ELSE '200' END
          || ' ' || (a % 50000)::VARCHAR || ' "-" "agent-' || (b % 7)::VARCHAR || '"'
        WHEN fmt_draw < 42 THEN
          '2024-01-01 00:00:' || lpad((a % 60)::VARCHAR, 2, '0') || '.'
          || lpad((b % 1000)::VARCHAR, 3, '0') || ' ' || a::VARCHAR
          || ' [Thread-' || (b % 8)::VARCHAR || '] '
          || CASE WHEN a % 11 = 0 THEN 'ERROR' ELSE 'INFO' END
          || ' request handled code=' || (b % 97)::VARCHAR
        WHEN fmt_draw < 62 THEN
          '{{"action":"' || ['click', 'view', 'purchase', 'error', 'signup'][1 + a % 5]
          || '","body":{{"a":"a' || (a % 100)::VARCHAR || '","b":"b'
          || (b % 100)::VARCHAR || '"}},"latency_ms":' || (b % 1000)::VARCHAR || '}}'
        WHEN fmt_draw < 82 THEN
          'class=main&userid=' || c::VARCHAR || '&method='
          || CASE WHEN a % 2 = 0 THEN 'get' ELSE 'post' END
          || '&message=msg' || (b % 50)::VARCHAR
        ELSE 'u' || c::VARCHAR || ',' || (a % 97)::VARCHAR || ',running,extra1,extra2'
      END AS text,
      CASE WHEN role = 'tool'
           THEN ['search', 'browser', 'python', 'sql', 'shell', 'grep'][1 + b % 6]
      END AS tool,
      TIMESTAMP '2024-01-01 00:00:00' + to_seconds(c * 3600 + t * 7) AS ts
    FROM base
    """


# Rows the find-semantics nginx pattern parses but whose client field does
# not begin with a digit. Fixed: they do not depend on the seed.
EDGE_CLIENTS = ("::1", "localhost", "::ffff:10.0.0.7", "gateway.internal")


def edge_sql() -> str:
    clients = ", ".join(f"'{c}'" for c in EDGE_CLIENTS)
    return f"""
    SELECT 'edge-' || lpad((i // 8)::VARCHAR, 4, '0') AS conv_id,
           (i % 8)::INTEGER AS turn_idx,
           ['user', 'assistant', 'system', 'tool'][1 + i % 4] AS role,
           [{clients}][1 + i % {len(EDGE_CLIENTS)}]
             || ' - - [01/Jan/2024:00:00:' || lpad((i % 60)::VARCHAR, 2, '0')
             || ' +0000] "GET /api/v1/item HTTP/1.1" ' || (500 + i % 4)::VARCHAR
             || ' ' || (100 + i)::VARCHAR || ' "-" "agent-edge"' AS text,
           CASE WHEN i % 4 = 3 THEN 'shell' END AS tool,
           TIMESTAMP '2024-01-01 00:00:00' + to_seconds(i) AS ts
    FROM range(64) r(i)
    """


def write_flagship(con: duckdb.DuckDBPyConnection, seed: int, n_convs: int, out: str) -> int:
    """Write the transcripts as FLAGSHIP_FILES parquet files; return rows."""
    os.makedirs(out, exist_ok=True)
    con.execute(f"CREATE OR REPLACE TABLE flagship_src AS {flagship_sql(seed, n_convs)}")
    for i in range(FLAGSHIP_FILES):
        con.execute(
            f"COPY (SELECT * FROM flagship_src WHERE hash(conv_id) % {FLAGSHIP_FILES} = {i} "
            f"ORDER BY conv_id, turn_idx) TO '{out}/part-{i:02d}.parquet' (FORMAT parquet)"
        )
    return con.execute("SELECT count(*) FROM flagship_src").fetchone()[0]


def write_edge(con: duckdb.DuckDBPyConnection, out: str) -> None:
    os.makedirs(out, exist_ok=True)
    con.execute(f"COPY ({edge_sql()}) TO '{out}/part-00.parquet' (FORMAT parquet)")


# --- key-value app-log backlog for the YAML stream ------------------------
KV_LEVELS = ("INFO", "WARN", "ERROR", "DEBUG")
KV_SERVICES = ("api", "db", "web", "auth", "queue")


def write_kv_logs(
    con: duckdb.DuckDBPyConnection, seed: int, n_files: int, lines_per_file: int, out: str
) -> int:
    """One text file per shard; every line carries a unique `seq` field."""
    os.makedirs(out, exist_ok=True)
    levels = ", ".join(f"'{x}'" for x in KV_LEVELS)
    svcs = ", ".join(f"'{x}'" for x in KV_SERVICES)
    for f in range(n_files):
        lo = f * lines_per_file
        con.execute(f"""
        COPY (
          SELECT 'seq:' || (s * 7919 + {seed})::VARCHAR
            || chr(9) || 'level:' || [{levels}][1 + {_h(seed, 11, 's')} % {len(KV_LEVELS)}]
            || chr(9) || 'svc:' || [{svcs}][1 + {_h(seed, 12, 's')} % {len(KV_SERVICES)}]
            || chr(9) || 'code:' || (200 + {_h(seed, 13, 's')} % 400)::VARCHAR
            || chr(9) || 'msg:request handled in '
            || ({_h(seed, 14, 's')} % 5000)::VARCHAR || 'us' AS line
          FROM range({lo}, {lo + lines_per_file}) r(s) ORDER BY s
        ) TO '{out}/app-{f:03d}.log' (FORMAT csv, HEADER false)
        """)
    return n_files * lines_per_file


# --- registry tables ------------------------------------------------------
# `events` and `documents` with the columns the registry queries read.
# Documents draw words from a 31-word vocabulary; one in eight documents is
# a near copy of an earlier one (a few words swapped) and one in 64 an
# exact copy, so the dedup queries have clusters to find.
VOCAB = (
    "the a batch part spark line column order small sort fast value scan "
    "stream filter big merge group join agg hash vector query table slow "
    "customer key data index shard log"
).split()


def events_sql(seed: int, n_events: int, n_users: int) -> str:
    etypes = "['click', 'view', 'purchase', 'error', 'signup']"
    return f"""
    SELECT e::BIGINT AS event_id,
      TIMESTAMP '2024-01-01 00:00:00'
        + to_microseconds(e * 5000000 + {_h(seed, 21, 'e')} % 5000000) AS ts,
      ({_h(seed, 22, 'e')} % {n_users})::BIGINT AS user_id,
      {etypes}[1 + {_h(seed, 23, 'e')} % 5] AS event_type,
      round(({_h(seed, 24, 'e')} % 20000) / 100.0, 2)::DOUBLE AS value,
      '{{"k": ' || ({_h(seed, 25, 'e')} % 100)::VARCHAR || '}}' AS props
    FROM range({n_events}) r(e)
    """


def documents_sql(seed: int, n_docs: int) -> str:
    vocab = "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"
    nv = len(VOCAB)
    return f"""
    WITH d AS (
      SELECT d,
        CASE WHEN d % 64 = 63 THEN 'exact'
             WHEN d % 8 = 7 THEN 'near' ELSE 'fresh' END AS kind,
        -- a multiple of 8 below d: always a fresh document
        ({_h(seed, 31, 'd')} % (d // 8 + 1)) * 8 AS root
      FROM range({n_docs}) r(d)),
    fresh AS (
      SELECT d, list_transform(range(8 + {_h(seed, 32, 'd')} % 88),
               i -> {vocab}[1 + (hash({seed}, 33, d, i) % {nv})::BIGINT]) AS words
      FROM d WHERE kind = 'fresh'),
    texts AS (
      SELECT d.d,
        CASE WHEN d.kind = 'near' THEN list_transform(f.words, (w, i) ->
               CASE WHEN hash({seed}, 34, d.d, i) % 12 = 0
                    THEN {vocab}[1 + (hash({seed}, 35, d.d, i) % {nv})::BIGINT] ELSE w END)
             ELSE f.words END AS words
      FROM d JOIN fresh f ON f.d = CASE WHEN d.kind = 'fresh' THEN d.d ELSE d.root END)
    SELECT d::BIGINT AS doc_id, array_to_string(words, ' ') AS text,
      ['en', 'zh', 'de', 'fr', 'es'][1 + {_h(seed, 36, 'd')} % 5] AS lang,
      'src' || ({_h(seed, 37, 'd')} % 20)::VARCHAR AS source,
      length(array_to_string(words, ' '))::BIGINT AS n_chars
    FROM texts ORDER BY d
    """


def write_registry(
    con: duckdb.DuckDBPyConnection, seed: int, n_events: int, n_users: int, n_docs: int, out: str
) -> None:
    os.makedirs(out, exist_ok=True)
    con.execute(
        f"COPY ({events_sql(seed, n_events, n_users)}) TO '{out}/events.parquet' (FORMAT parquet)"
    )
    con.execute(
        f"COPY ({documents_sql(seed, n_docs)}) TO '{out}/documents.parquet' (FORMAT parquet)"
    )
