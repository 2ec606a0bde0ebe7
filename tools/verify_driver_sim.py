"""Verify-skill recipe: simulate the grading driver from a neutral cwd
with a plain SparkSession. Exact tuple compare vs the DuckDB oracle at
sf0.01 (stricter than the hash compare in check_oracle.py)."""
import importlib.util
import os
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
sys.path.insert(0, ROOT)
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession  # noqa: E402

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "8")
    .getOrCreate()
)
print("ENTRY rows:", len(mod.entry(spark).collect()), flush=True)
import duckdb  # noqa: E402

sf = "/root/testdata/sf0.01"
con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
qs, osql = mod.queries(), mod.oracle_sql()


def norm(v):
    """Array columns come back as list (Spark) / np.ndarray (DuckDB→pandas);
    normalize both to tuples so row tuples sort/compare."""
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


only = set(sys.argv[1:])  # optional: verify just these entries
failures = []
for name, fn in qs.items():
    if only and name not in only:
        continue
    try:
        sdf = fn(spark, sf)
        cols = sorted(sdf.columns)
        srows = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())
        if name in osql:
            odf = con.sql(osql[name]).df()
            assert sorted(odf.columns.tolist()) == cols, (name, list(odf.columns), cols)
            orows = sorted(tuple(norm(x) for x in r) for r in odf[cols].itertuples(index=False))
            assert srows == orows, f"{name}: value mismatch"
            print(name, len(srows), "MATCH", flush=True)
        else:
            print(name, "rows-only", len(srows), flush=True)
    except Exception:  # noqa: BLE001
        failures.append(name)
        print(name, "FAIL", flush=True)
        traceback.print_exc()
print("FAILURES:", failures, flush=True)
sys.exit(1 if failures else 0)
