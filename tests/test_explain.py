"""Route-plan EXPLAIN surface: the rendered decisions must agree with
the routing ladder and the shard-plan metadata the engine executes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from sigmod_2024_contest_spark.operators import engine, routing
from sigmod_2024_contest_spark.plans import workload
from sigmod_2024_contest_spark.plans.explain import (
    _slice_counts,
    explain_routes,
    render_route_report,
)
from sigmod_2024_contest_spark.sources.tables import base_vectors

from conftest import SF_SMOKE, force_shard_plan


def test_explain_one_row_per_query_and_route_parity(spark):
    """Every workload query appears exactly once, with the SAME route
    the ladder assigns (explain composes route_plan, it must not
    re-derive it)."""
    base = base_vectors(spark, SF_SMOKE)
    queries = workload.queries_df(spark, SF_SMOKE)
    want = {
        r["query_id"]: r["route"]
        for r in routing.route_plan(base, queries).collect()
    }
    got = {r["query_id"]: r["route"] for r in explain_routes(spark, SF_SMOKE).collect()}
    assert got == want


def test_explain_fanout_matches_shard_metadata(spark, monkeypatch):
    """On the shard side: bf → zero shards and zero shard rows;
    cat_graph → exactly that category's shard count and rows; decile
    routes → the summed rows of the deciles they probe (type 0: every
    decile, i.e. the corpus)."""
    force_shard_plan(monkeypatch)
    base = base_vectors(spark, SF_SMOKE)
    counts = _slice_counts(base, routing.CAT_GRAPH_THR)
    queries = {
        r["query_id"]: r
        for r in workload.queries_df(spark, SF_SMOKE)
        .select("query_id", "v", "l", "r")
        .collect()
    }
    total = sum(c for p, c in counts.items() if p.startswith("dec:"))
    for r in explain_routes(spark, SF_SMOKE).collect():
        q = queries[r["query_id"]]
        assert r["side"] == engine.SIDE_SHARDS
        if r["route"] == routing.ROUTE_BF:
            assert r["n_shards"] == 0 and r["rows_scanned"] == 0
            assert r["est_candidates"] >= 0
        elif r["route"] == routing.ROUTE_CAT_GRAPH:
            prefix = f"cat:{int(q['v'])}"
            want = math.ceil(counts[prefix] / engine.MAX_NODES_PER_GRAPH)
            assert r["n_shards"] == want
            assert r["rows_scanned"] == counts[prefix]
        elif r["query_type"] == 0:
            assert r["rows_scanned"] == total
        else:
            # a row sits in decile least(floor(ts·10), 9)
            lo = min(max(math.floor(q["l"] * 10), 0), 9)
            hi = min(max(math.floor(q["r"] * 10), 0), 9)
            want = sum(counts.get(f"dec:{d}", 0) for d in range(lo, hi + 1))
            assert r["n_shards"] >= 1 and r["rows_scanned"] == want


def test_explain_fanout_matches_engine_assignments(spark, monkeypatch):
    """The strongest tie: on the shard side, for every graph-routed
    query, the explain table's n_shards must equal the number of
    (query, pkey) pairs the ENGINE's assignment join actually produces
    against the analytic shard catalog — same slice math, same
    empty-slice drops."""
    force_shard_plan(monkeypatch)
    base = base_vectors(spark, SF_SMOKE)
    queries = workload.queries_df(spark, SF_SMOKE)
    plan = routing.route_plan(base, queries)
    counts = _slice_counts(base, routing.CAT_GRAPH_THR)
    splan = {p: math.ceil(c / engine.MAX_NODES_PER_GRAPH) for p, c in counts.items()}
    catalog = engine.catalog_from_plan(spark, splan)
    actual = {
        r["query_id"]: r["n"]
        for r in engine._assignments(queries, plan, catalog)
        .groupBy("query_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for r in explain_routes(spark, SF_SMOKE).collect():
        assert r["n_shards"] == actual.get(r["query_id"], 0), (
            r["query_id"],
            r["route"],
            r["n_shards"],
            actual.get(r["query_id"], 0),
        )


def test_explain_corpus_bc_side(spark):
    """Below the fused-plan bound every query runs on the fused
    corpus-broadcast kernel: no shard is probed and the kernel scores
    the query's predicate slice (rows_scanned = sel_num)."""
    base = base_vectors(spark, SF_SMOKE)
    queries = workload.queries_df(spark, SF_SMOKE)
    dim = len(base.select("vec").head()["vec"])
    assert engine.search_side(base.count(), dim) == engine.SIDE_CORPUS_BC
    sel = {
        r["query_id"]: r["sel_num"]
        for r in routing.route_plan(base, queries).collect()
    }
    rows = explain_routes(spark, SF_SMOKE).collect()
    assert {r["query_id"] for r in rows} == set(sel)
    for r in rows:
        assert r["side"] == engine.SIDE_CORPUS_BC
        assert r["n_shards"] == 0
        assert r["rows_scanned"] == sel[r["query_id"]]
        assert 0 <= r["est_candidates"] <= r["rows_scanned"]


def test_render_route_report_sections(spark):
    rep = render_route_report(spark, SF_SMOKE)
    assert "ROUTE PLAN" in rep and "SHARD CATALOG" in rep
    # every route that appears in the plan shows up in the table
    for route in {r["route"] for r in explain_routes(spark, SF_SMOKE).collect()}:
        assert route in rep
