from __future__ import annotations

import duckdb
import pytest

from sigmod_2024_contest_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    # an exported SPARK_GRAFT_CPUS sizes the test session; the cpus this
    # process may run on otherwise (session.default_cpus)
    s = get_spark("tests")
    yield s
    s.stop()


def force_shard_plan(monkeypatch) -> None:
    """Pin ``engine.knn_hybrid`` to its shard plan for the rest of the
    test: the broadcast bound ``knn.bc_rows_bound`` becomes 0 rows, so
    every corpus lies above it. The engine then runs the pairing it
    runs above the bound in production: the bf branch's query-broadcast
    scan and the pooled re-rank's window + join plan beside the shard
    cogroup. (The exact scan keeps its own row-count gate.)"""
    from sigmod_2024_contest_spark.operators import knn

    monkeypatch.setattr(knn, "bc_rows_bound", lambda dim: 0)


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def rows_set(df_rows):
    """Order-insensitive comparable set from Spark Rows / duckdb tuples."""
    out = set()
    for r in df_rows:
        t = tuple(r)
        out.add(tuple(tuple(x) if isinstance(x, list) else x for x in t))
    return out


def assert_matches_oracle(spark_df, con, sql):
    got = rows_set(spark_df.collect())
    want = rows_set(con.sql(sql).fetchall())
    missing = want - got
    extra = got - want
    assert not missing and not extra, (
        f"mismatch: {len(missing)} missing, {len(extra)} extra; "
        f"missing sample={sorted(missing)[:3]}, extra sample={sorted(extra)[:3]}"
    )
