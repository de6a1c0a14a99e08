"""Driver-mimic: run every queries() entry and its oracle_sql() via DuckDB
at a given SF dir; compare row count, column names, and order-insensitive
values. Usage: python tools/check_oracles.py [sf_dir] [name ...]"""

from __future__ import annotations

import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def norm(v):
    import datetime
    import math

    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.9g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def canon_spark_type(dt: str) -> str:
    dt = dt.lower()
    if dt in ("tinyint", "smallint", "int", "bigint", "long", "integer"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("timestamp"):
        return "ts"
    if dt.startswith("array"):
        return "list"
    return {"string": "str", "boolean": "bool", "date": "date"}.get(dt, dt)


def canon_duck_type(t) -> str:
    s = str(t).upper()
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if s in ("HUGEINT", "UHUGEINT"):
        # DuckDB promotes sum(INT/BIGINT) to HUGEINT; the driver's value-hash
        # is type-sensitive, so an oracle must CAST these to BIGINT explicitly.
        return "hugeint"
    if s in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if s.startswith("DECIMAL"):
        return "decimal"
    if s.startswith("TIMESTAMP"):
        return "ts"
    if s.endswith("[]") or s.startswith("LIST") or s.startswith("STRUCT("):
        return "list"
    return {"VARCHAR": "str", "JSON": "str", "BOOLEAN": "bool",
            "DATE": "date"}.get(s, s)


def main() -> None:
    argv = list(sys.argv[1:])
    json_path = None
    if "--json" in argv:
        i = argv.index("--json")
        json_path = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}

    from __spark_entry__ import oracle_sql, queries

    from ilogtail_spark.session import get_spark

    spark = get_spark(master="local[16]", shuffle_partitions=16,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, os_ = queries(), oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sorted(sdf.columns)
            sset = sorted(
                tuple(norm(r[c]) for c in scols) for r in srows
            )
        except Exception as e:
            failures.append(name)
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None,
                             "err": str(e).splitlines()[0][:200]}
            print(f"FAIL  {name}: spark error {str(e).splitlines()[0][:200]}")
            continue
        took = time.time() - t0
        if name not in os_:
            results[name] = {"rows_match": len(srows) >= 0, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": None,
                             "rows_only": True}
            print(f"ok-   {name}: rows={len(srows)} (rows-only, no oracle) [{took:.1f}s]")
            continue
        try:
            rel = con.sql(os_[name])
            dcols_raw = rel.columns
            drows = rel.fetchall()
        except Exception as e:
            failures.append(name)
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(srows),
                             "oracle_rows": None,
                             "err": str(e).splitlines()[0][:200]}
            print(f"FAIL  {name}: duckdb error {str(e).splitlines()[0][:200]}")
            continue
        dcols = sorted(dcols_raw)
        didx = [dcols_raw.index(c) for c in dcols]
        dset = sorted(tuple(norm(r[i]) for i in didx) for r in drows)
        stypes = {c: canon_spark_type(t) for c, t in sdf.dtypes}
        dtypes = {c: canon_duck_type(t) for c, t in zip(dcols_raw, rel.types)}
        badtypes = {c: (stypes[c], dtypes[c]) for c in stypes
                    if c in dtypes and stypes[c] != dtypes[c]}
        rows_match = len(sset) == len(dset)
        schema_match = scols == dcols and not badtypes
        hash_match = rows_match and schema_match and sset == dset
        results[name] = {"rows_match": rows_match, "schema_match": schema_match,
                         "hash_match": hash_match, "spark_rows": len(sset),
                         "oracle_rows": len(dset), "err": None}
        if scols != dcols:
            failures.append(name)
            print(f"FAIL  {name}: columns {scols} vs {dcols}")
        elif badtypes:
            failures.append(name)
            print(f"FAIL  {name}: type mismatch spark-vs-duckdb {badtypes}")
        elif len(sset) != len(dset):
            failures.append(name)
            print(f"FAIL  {name}: rowcount {len(sset)} vs {len(dset)}")
        elif sset != dset:
            failures.append(name)
            diff = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
            print(f"FAIL  {name}: values differ, e.g. {diff}")
        else:
            print(f"OK    {name}: rows={len(sset)} [{took:.1f}s]")
    spark.stop()
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_path} ({len(results)} queries)")
    print(f"\n{len(failures)} failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
