"""Shows that every output check bites: each is fed a correct output, which
it must accept, and deliberately wrong ones, which it must reject.

    python3 perfbench/selftest.py

Needs only DuckDB (no Spark); takes a few seconds. Exits 1 if a check
accepts a wrong output or rejects a correct one.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import duckdb  # noqa: E402
import gen  # noqa: E402

FAILURES: list[str] = []


def expect(name: str, errs: list[str], should_fail: bool) -> None:
    ok = bool(errs) == should_fail
    print(f"{'ok  ' if ok else 'BAD '} {name}: {'rejected' if errs else 'accepted'}"
          f"{' (' + errs[0][:120] + ')' if errs else ''}")
    if not ok:
        FAILURES.append(name)


def write_flagship_output(con, table: str, out: str, where: str = "TRUE", extra: str = "") -> dict:
    """A run_pipeline-shaped output built from the expected rows."""
    shutil.rmtree(out, ignore_errors=True)
    rows = f"""(SELECT conv_id, turn_idx, text, bytes, role_group, route,
                'L-' || conv_id || '-' || turn_idx AS lineage FROM {table} WHERE {where} {extra})"""
    os.makedirs(f"{out}/sink_counts")
    os.makedirs(f"{out}/group_route_role_group")
    con.execute(f"COPY {rows} TO '{out}/routed' (FORMAT parquet, PARTITION_BY (route))")
    con.execute(f"COPY (SELECT route, count(*) AS log_count FROM {rows} GROUP BY 1) "
                f"TO '{out}/sink_counts/part-0.parquet' (FORMAT parquet)")
    con.execute(f"COPY (SELECT route, role_group, count(*) AS log_count FROM {rows} GROUP BY 1, 2) "
                f"TO '{out}/group_route_role_group/part-0.parquet' (FORMAT parquet)")
    return dict(con.execute(f"SELECT route, count(*) FROM {rows} GROUP BY 1").fetchall())


def flagship(con, work: str) -> None:
    src = f"{work}/transcripts"
    gen.write_flagship(con, 5, 2 * 679, src)
    want = checks.expect_flagship(con, src, "want")
    out = f"{work}/out"
    counts = write_flagship_output(con, "want", out)
    expect("flagship: correct output", checks.check_flagship(con, out, counts, want), False)
    # the returned counts are right; only the written rows are wrong
    write_flagship_output(con, "want", out, "NOT (conv_id = (SELECT min(conv_id) FROM want) AND turn_idx = 3)")
    expect("flagship: one routed row dropped", checks.check_flagship(con, out, want["sinks"], want), True)
    write_flagship_output(con, "want", out, "TRUE",
                                   "UNION ALL (SELECT conv_id, turn_idx, text, bytes, role_group, route, "
                                   "'dup-' || conv_id FROM want WHERE turn_idx = 0 LIMIT 1)")
    expect("flagship: one routed row duplicated", checks.check_flagship(con, out, want["sinks"], want), True)
    con.execute("CREATE OR REPLACE TABLE moved AS SELECT * REPLACE ("
                "CASE WHEN route = 'sink_errors' AND turn_idx % 2 = 0 THEN 'sink_default' "
                "ELSE route END AS route) FROM want")
    counts = write_flagship_output(con, "moved", out)
    expect("flagship: 5xx rows routed to sink_default", checks.check_flagship(con, out, counts, want), True)
    counts = write_flagship_output(con, "want", out)
    con.execute(f"COPY (SELECT * REPLACE ('same' AS lineage) FROM "
                f"read_parquet('{out}/routed/route=sink_model/*.parquet')) "
                f"TO '{out}/routed/route=sink_model/data_0.parquet' (FORMAT parquet)")
    expect("flagship: lineage not unique", checks.check_flagship(con, out, counts, want), True)
    counts = write_flagship_output(con, "want", out)
    counts["sink_default"] += 1
    expect("flagship: wrong returned counts", checks.check_flagship(con, out, counts, want), True)

    edge = f"{work}/edge"
    gen.write_edge(con, edge)
    want_edge = checks.expect_flagship(con, edge, "want_edge")
    # what the hand-written ^\d guard produces: unparsed, so no 5xx route
    con.execute("CREATE OR REPLACE TABLE guarded AS SELECT * REPLACE ("
                "CASE WHEN route = 'sink_errors' THEN 'sink_default' ELSE route END AS route, "
                "NULL::BIGINT AS bytes) FROM want_edge")
    counts = write_flagship_output(con, "guarded", out)
    expect("flagship edge: guard rejects non-digit clients",
           checks.check_flagship(con, out, counts, want_edge), True)


def write_stream_output(con, table: str, flushers: list[dict], out: str, batches: list[str]) -> None:
    """A stream-runner-shaped output: routed/batch_id=<b>/route=<flusher>."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    parts = []
    for i, fl in enumerate(flushers):
        m = fl.get("Match")
        where = f"{m['Key']} = '{m['Value']}'" if m else "TRUE"
        parts.append(f"SELECT seq, level, svc, 'flusher_{i}_{fl['Type']}' AS route FROM {table} WHERE {where}")
    rows = " UNION ALL ".join(parts)
    for b in batches:
        con.execute(f"COPY (SELECT *, {b} AS batch_id FROM ({rows}) WHERE hash(seq) % 3 = {b} % 3) "
                    f"TO '{out}/routed' (FORMAT parquet, PARTITION_BY (batch_id, route), "
                    f"OVERWRITE_OR_IGNORE true, FILENAME_PATTERN 'b{b}_{{i}}')")


def stream(con, work: str) -> None:
    from workloads import YamlKvStream

    logs = f"{work}/kv"
    gen.write_kv_logs(con, 5, 6, 500, logs)
    flushers, all_fl = YamlKvStream.FLUSHERS, YamlKvStream.ALL_FLUSHER
    want = checks.expect_stream(con, logs, flushers, "want_kv")
    out = f"{work}/stream"
    write_stream_output(con, "want_kv", flushers, out, ["0", "1", "2"])
    expect("stream: correct output", checks.check_stream(con, out, want, all_fl), False)
    write_stream_output(con, "want_kv", flushers, out, ["0", "1", "2", "4"])
    expect("stream: one micro-batch delivered twice", checks.check_stream(con, out, want, all_fl), True)
    write_stream_output(con, "want_kv", flushers, out, ["0", "1"])
    expect("stream: one micro-batch undelivered", checks.check_stream(con, out, want, all_fl), True)
    shutil.rmtree(out, ignore_errors=True)
    expect("stream: no output at all", checks.check_stream(con, out, want, all_fl), True)


class Row(dict):
    """Stands in for a collected Spark Row: indexable by column name."""


def registry(con) -> None:
    con.execute("CREATE OR REPLACE TABLE t AS SELECT i::BIGINT AS id, 'v' || i AS v, i / 4 AS f "
                "FROM range(20) r(i)")
    want = checks.expect_oracle(con, "SELECT id, v, f FROM t")
    dtypes = [("id", "bigint"), ("v", "string"), ("f", "double")]
    rows = [Row(id=i, v=f"v{i}", f=i / 4) for i in reversed(range(20))]
    expect("registry: correct rows in another order", checks.check_oracle(rows, dtypes, want), False)
    bad = [Row(r) for r in rows]
    bad[5]["v"] = "altered"
    expect("registry: one value altered", checks.check_oracle(bad, dtypes, want), True)
    expect("registry: one row dropped", checks.check_oracle(rows[1:], dtypes, want), True)
    expect("registry: column type differs",
           checks.check_oracle(rows, [("id", "string"), ("v", "string"), ("f", "double")], want), True)


def main() -> int:
    root = os.path.dirname(HERE)
    work = os.path.join(root, ".bench_work", f"selftest-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    con = duckdb.connect()
    try:
        flagship(con, work)
        stream(con, work)
        registry(con)
    finally:
        con.close()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(FAILURES)} check(s) misjudged: {FAILURES}" if FAILURES else "every check bites")
    return 1 if FAILURES else 0


if __name__ == "__main__":
    sys.exit(main())
