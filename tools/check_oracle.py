"""Driver-emulation correctness check.

Runs every `queries()` entry from __spark_entry__.py beside its
`oracle_sql()` in DuckDB at sf0.01 and reports per-query row-count,
schema (column-name set), and value-hash match — mirroring the driver's
compare (columns sorted by name before hashing, rows order-insensitive,
floats rounded to tolerate accumulation-order noise).

Usage: python tools/check_oracle.py [query_name ...]
"""
from __future__ import annotations

import hashlib
import json
import math
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def value_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    import __spark_entry__ as entry
    from sigmod_2024_contest_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    results = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, SF_DIR)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "SPARK_ERROR", "err": str(e)[:200]}
            continue
        if name not in oracles:
            results[name] = {"status": "rows_only", "rows": len(rows)}
            continue
        try:
            cur = con.sql(oracles[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
        except Exception as e:  # noqa: BLE001
            results[name] = {"status": "ORACLE_ERROR", "err": str(e)[:200]}
            continue
        schema_ok = sorted(cols) == sorted(ocols)
        count_ok = len(rows) == len(orows)
        hash_ok = (
            schema_ok
            and count_ok
            and value_hash(cols, rows) == value_hash(ocols, orows)
        )
        results[name] = {
            "status": "MATCH" if hash_ok else "MISMATCH",
            "rows": len(rows),
            "oracle_rows": len(orows),
            "schema_ok": schema_ok,
            "sec": round(time.time() - t0, 2),
        }
        if not schema_ok:
            results[name]["cols"] = cols
            results[name]["oracle_cols"] = ocols

    bad = {k: v for k, v in results.items() if v["status"] not in ("MATCH", "rows_only")}
    for name, r in results.items():
        print(f"{r['status']:>12}  {name}  {json.dumps({k: v for k, v in r.items() if k != 'status'})}")
    print(f"\n{len(results)} checked, {len(bad)} bad")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
