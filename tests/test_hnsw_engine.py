"""HNSW build invariants + hybrid engine recall gates.

ANN paths are nondeterministic in principle (we pin seeds, but graph
quality varies), so correctness is a recall bound vs the exact oracle
— the reference's own methodology (utils.h:224-253, SURVEY §5)."""

from __future__ import annotations

import numpy as np
from conftest import SF_SMOKE

from sigmod_2024_contest_spark.operators import engine, knn
from sigmod_2024_contest_spark.operators.hnsw import NumpyHNSW, beam_search
from sigmod_2024_contest_spark.plans import workload
from sigmod_2024_contest_spark.sources.tables import base_vectors


def test_hnsw_local_recall():
    """Pure NumPy HNSW on a random corpus: top-10 recall >= 0.9."""
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(2000, 32)).astype(np.float32)
    nbrs = NumpyHNSW(m=16, ef_construction=100, seed=1).build(vecs)
    assert nbrs.shape == (2000, 32)
    # graph invariants (mirrors checkIntegrity, hnswalg.h:1210-1241)
    valid = nbrs[nbrs >= 0]
    assert valid.max() < 2000
    deg = (nbrs >= 0).sum(axis=1)
    assert (deg[1:] > 0).all()  # every node (but maybe isolated 0th) connected

    hits = 0
    total = 0
    for qi in range(50):
        q = vecs[qi].astype(np.float64)
        diff = vecs.astype(np.float64) - q
        exact = np.argsort(np.einsum("ij,ij->i", diff, diff), kind="stable")[:10]
        pos, _ = beam_search(vecs, nbrs, q, k=10, ef=150)
        hits += len(set(exact.tolist()) & set(pos.tolist()))
        total += 10
    assert hits / total >= 0.9, hits / total


def test_hnsw_filtered_search():
    rng = np.random.default_rng(3)
    vecs = rng.normal(size=(1000, 16)).astype(np.float32)
    nbrs = NumpyHNSW(m=12, ef_construction=80, seed=2).build(vecs)
    allowed = np.zeros(1000, dtype=bool)
    allowed[::3] = True
    pos, dists = beam_search(vecs, nbrs, vecs[0].astype(np.float64), k=10, ef=100, allowed=allowed)
    assert all(allowed[p] for p in pos)
    assert (np.diff(dists) >= 0).all()


def test_hybrid_engine_recall(spark):
    """Full pipeline recall@k vs exact oracle >= 0.95 (BASELINE.md bar)."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base, q).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    assert set(got) == set(exact), "every query must be answered exactly once"
    recalls = [len(exact[qid] & got.get(qid, set())) / len(exact[qid]) for qid in exact]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.95, mean_recall


def test_hybrid_engine_sharded_recall(spark):
    """Forcing tiny shards (max_nodes=64 → many sub-graphs per slice)
    must not change the answer quality: the shard fan-out + global
    merge is the 100 TB build path."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    idx = engine.build_index(base, max_nodes=16)
    nshards = engine.shard_catalog(idx).count()
    assert nshards > 20, nshards  # sharding actually kicked in
    exact = {}
    for r in knn.knn_exact_expr(base, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base, q, index=idx).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[qid] & got.get(qid, set())) / len(exact[qid]) for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.95, sum(recalls) / len(recalls)


def test_hybrid_engine_graph_path_recall(spark):
    """gemm_thr=0 forces every shard through the distributed beam
    search (the >GEMM_SHARD_THR path at 100 TB); recall bar must hold
    there too, independent of the small-shard GEMM fast path."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base, q, gemm_thr=0).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[qid] & got.get(qid, set())) / len(exact[qid]) for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.95, sum(recalls) / len(recalls)


def test_analytic_catalog_covers_built_shards(spark):
    """The analytic catalog (shard plan → metadata, no index scan) must
    enumerate every shard the build actually emits — a missed pkey
    would silently drop that shard from every search. Superset is fine:
    id-mod hashing can leave a planned shard empty, and an empty
    cogroup side contributes nothing."""
    base = base_vectors(spark, SF_SMOKE)
    from sigmod_2024_contest_spark.operators import routing

    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, max_nodes=16)
    idx = engine.build_index(base, max_nodes=16, shard_plan=splan)
    built = {r.pkey for r in engine.shard_catalog(idx).collect()}
    planned = {
        r.pkey for r in engine.catalog_from_plan(spark, splan).collect()
    }
    assert built <= planned, built - planned
    # and the two catalog paths answer identically end-to-end
    q = workload.queries_df(spark, SF_SMOKE)
    via_plan = sorted(
        (r.query_id, r.id) for r in engine.knn_hybrid(spark, base, q).collect()
    )
    via_index = sorted(
        (r.query_id, r.id)
        for r in engine.knn_hybrid(spark, base, q, index=engine.build_index(base)).collect()
    )
    assert via_plan == via_index


def test_pruned_knn_graph_recall():
    """The default shard build (exact candidates + RNG prune) must beat
    the incremental-HNSW recall bar at equal m."""
    from sigmod_2024_contest_spark.operators.hnsw import build_pruned_knn_graph

    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(2000, 32)).astype(np.float32)
    nbrs = build_pruned_knn_graph(vecs, m=16)
    assert nbrs.shape == (2000, 32)
    deg = (nbrs >= 0).sum(axis=1)
    assert (deg > 0).all()
    hits = total = 0
    for qi in range(50):
        q = vecs[qi].astype(np.float64)
        diff = vecs.astype(np.float64) - q
        exact = np.argsort(np.einsum("ij,ij->i", diff, diff), kind="stable")[:10]
        pos, _ = beam_search(vecs, nbrs, q, k=10, ef=150)
        hits += len(set(exact.tolist()) & set(pos.tolist()))
        total += 10
    assert hits / total >= 0.95, hits / total


def test_starved_filter_two_hop_recall():
    """K10/K6 regression (searcher.hpp:226-260): a type-3-style
    predicate keeping <1% of a >gemm_thr shard must still reach
    recall >= 0.9 — the 2-hop expansion harvests allowed islands the
    1-hop walk cannot reach."""
    from sigmod_2024_contest_spark.operators.hnsw import build_pruned_knn_graph

    rng = np.random.default_rng(11)
    n, d = 6000, 32
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    nbrs = build_pruned_knn_graph(vecs, m=16)
    allowed = np.zeros(n, dtype=bool)
    allowed[rng.choice(n, 55, replace=False)] = True  # sel < 1%
    idx = np.flatnonzero(allowed)
    hits = total = 0
    for qi in range(30):
        q = rng.normal(size=d).astype(np.float64)
        dv = vecs[idx].astype(np.float64) - q
        exact = set(idx[np.argsort(np.einsum("ij,ij->i", dv, dv), kind="stable")[:10]].tolist())
        ef = engine.adaptive_ef(3, n, int(allowed.sum()), 10)
        pos, _ = beam_search(vecs, nbrs, q, k=10, ef=ef, allowed=allowed)
        hits += len(exact & set(pos.tolist()))
        total += 10
    assert hits / total >= 0.9, hits / total


def test_upper_level_descent_entry_quality():
    """S9/B11 (hnswalg.h:821-946 level persistence;
    HNSWInitializer.hpp:36-58 greedy descent): on an 8192-node shard
    the upper-layer descent reaches a strictly closer entry point than
    positional seeding in O(log n) distance evals, and end recall is
    unchanged at matched ef."""
    from sigmod_2024_contest_spark.operators.hnsw import (
        NumpyHNSW,
        entry_descent,
    )

    rng = np.random.default_rng(9)
    n, d = 8192, 32
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    nbrs, levels, upper = NumpyHNSW(m=12, ef_construction=80, seed=4).build(
        vecs, return_levels=True
    )
    assert levels.max() >= 2  # a real hierarchy exists
    rec_p = rec_d = 0
    ent_p = ent_d = 0.0
    evals = 0
    total = 0
    seeds10 = np.unique(np.linspace(0, n - 1, 10).astype(np.int64))
    for qi in range(30):
        q = rng.normal(size=d).astype(np.float64)
        diff = vecs.astype(np.float64) - q
        dall = np.einsum("ij,ij->i", diff, diff)
        exact = set(np.argsort(dall, kind="stable")[:10].tolist())
        pos1, _ = beam_search(vecs, nbrs, q, k=10, ef=64)
        s: dict = {}
        e = entry_descent(vecs, q, levels, upper, stats=s)
        pos2, _ = beam_search(vecs, nbrs, q, k=10, ef=64, seeds=np.array([e]))
        ent_p += float(dall[seeds10].min())
        ent_d += float(dall[e])
        evals += s["ndist"]
        rec_p += len(exact & set(pos1.tolist()))
        rec_d += len(exact & set(pos2.tolist()))
        total += 10
    assert rec_d / total >= 0.9, rec_d / total
    assert rec_d / total >= rec_p / total - 0.05  # recall unchanged
    assert ent_d < ent_p, (ent_d / 30, ent_p / 30)  # closer entry
    assert evals / 30 < 150  # O(log n) descent, not a scan


def test_levels_index_save_load_descent_search(spark, tmp_path):
    """hnsw_levels build → parquet S9 round-trip → search: the level
    columns survive persistence and the engine answers from the loaded
    index at the recall bar."""
    from sigmod_2024_contest_spark.sources import layout

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    idx = engine.build_index(base, hnsw_levels=True)
    p = str(tmp_path / "idx_levels")
    layout.save_index(idx, p)
    idx2 = layout.load_index(spark, p)
    assert dict(idx2.dtypes)["level"] == "int"
    assert dict(idx2.dtypes)["upper"] == "array<array<int>>"
    exact = {}
    for r in knn.knn_exact_expr(base, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base, q, index=idx2, gemm_thr=0).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[qid] & got.get(qid, set())) / len(exact[qid]) for qid in exact]
    assert sum(recalls) / len(recalls) >= 0.95, sum(recalls) / len(recalls)


def test_edge_ts_filter_fewer_dists_same_recall():
    """F5/P10 (graph.hpp:21,81-83 / searcher.hpp:343-344): with
    per-edge timestamps the range-filtered beam never scores
    out-of-range targets — measurably fewer distance evaluations than
    the node-mask beam at equal ef, while recall holds the 0.95 bar."""
    from sigmod_2024_contest_spark.operators.hnsw import build_pruned_knn_graph

    rng = np.random.default_rng(5)
    n, d = 6000, 32
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    ts = rng.random(n)
    nbrs = build_pruned_knn_graph(vecs, m=16)
    kept = [row[row >= 0] for row in nbrs]
    m0 = nbrs.shape[1]
    nbr_ts = np.zeros((n, m0))
    for i, row in enumerate(kept):
        nbr_ts[i, : len(row)] = ts[row]
    lo, hi = 0.30, 0.45  # ~15% of the shard in range
    allowed = (ts >= lo) & (ts <= hi)
    idx = np.flatnonzero(allowed)
    rec = {"node": 0, "edge": 0}
    nd = {"node": 0, "edge": 0}
    total = 0
    for qi in range(30):
        q = rng.normal(size=d).astype(np.float64)
        dv = vecs[idx].astype(np.float64) - q
        exact = set(idx[np.argsort(np.einsum("ij,ij->i", dv, dv), kind="stable")[:10]].tolist())
        ef = engine.adaptive_ef(2, n, int(allowed.sum()), 10)
        s1: dict = {}
        pos1, _ = beam_search(vecs, nbrs, q, k=10, ef=ef, allowed=allowed, stats=s1)
        s2: dict = {}
        pos2, _ = beam_search(
            vecs, nbrs, q, k=10, ef=ef, allowed=allowed,
            nbr_ts=nbr_ts, ts_range=(lo, hi), stats=s2,
        )
        rec["node"] += len(exact & set(pos1.tolist()))
        rec["edge"] += len(exact & set(pos2.tolist()))
        nd["node"] += s1["ndist"]
        nd["edge"] += s2["ndist"]
        total += 10
    assert rec["edge"] / total >= 0.95, (rec["edge"] / total, rec["node"] / total)
    # the point of per-edge timestamps: strictly fewer distance evals
    assert nd["edge"] < 0.8 * nd["node"], (nd["edge"], nd["node"])


def test_search_range_filter_global_graph():
    """K9 SearchRangeFilter (searcher.hpp:493-569): range-filtered
    search over ONE global graph — spread in-range entry points,
    per-edge at_time admission, 2-hop starvation repair — holds the
    0.95 recall bar against the exact filtered answer and returns
    only in-range nodes."""
    from sigmod_2024_contest_spark.operators.hnsw import (
        build_pruned_knn_graph,
        search_range_filter,
    )

    rng = np.random.default_rng(11)
    n, d = 6000, 32
    vecs = rng.normal(size=(n, d)).astype(np.float32)
    ts = rng.random(n)
    nbrs = build_pruned_knn_graph(vecs, m=16)
    kept = [row[row >= 0] for row in nbrs]
    nbr_ts = np.zeros((n, nbrs.shape[1]))
    for i, row in enumerate(kept):
        nbr_ts[i, : len(row)] = ts[row]
    lo, hi = 0.2, 0.5
    idx = np.flatnonzero((ts >= lo) & (ts <= hi))
    hit = total = 0
    for qi in range(30):
        q = rng.normal(size=d).astype(np.float64)
        dv = vecs[idx].astype(np.float64) - q
        exact = set(
            idx[np.argsort(np.einsum("ij,ij->i", dv, dv), kind="stable")[:10]].tolist()
        )
        ef = engine.adaptive_ef(2, n, int(idx.size), 10)
        pos, _ = search_range_filter(
            vecs, nbrs, ts, q, k=10, ef=ef, ts_range=(lo, hi), nbr_ts=nbr_ts
        )
        assert all(lo <= ts[p] <= hi for p in pos.tolist())
        hit += len(exact & set(pos.tolist()))
        total += 10
    assert hit / total >= 0.95, hit / total


def test_knn_hybrid_bf_exact_oracle(spark):
    """The engine's bf branch end-to-end (route → SQ8 cut → exact
    re-rank → union), hash-matched against the exact-kNN oracle
    restricted to bf-routed query_ids."""
    from conftest import SF_SMOKE, assert_matches_oracle, duck_con

    from sigmod_2024_contest_spark import api

    assert_matches_oracle(
        api.queries()["knn_hybrid_bf_exact"](spark, SF_SMOKE),
        duck_con(SF_SMOKE),
        api.oracle_sql()["knn_hybrid_bf_exact"],
    )


def test_small_coverage_routes_to_masked_gemm(monkeypatch):
    """SMALL-coverage range queries on a graph shard must take the
    masked code GEMM over the covered rows (hybrid_graph.cpp:355-364,
    399-419) — exact on the slice, zero beam distance evals — while
    full-coverage queries still take the beam."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, hnsw

    rng = np.random.default_rng(11)
    n, dim, k = 600, 16, 10
    vecs = rng.normal(size=(n, dim))
    alpha = float(np.abs(vecs).max())
    codes = Q.encode_np(vecs, alpha)
    ts = np.linspace(0.0, 1.0, n)
    nbrs = hnsw.build_pruned_knn_graph(codes.astype(np.float32), m=8)
    kept = [row[row >= 0] for row in nbrs]
    index_pdf = pd.DataFrame(
        {
            "pkey": ["cat:0"] * n,
            "pos": np.arange(n, dtype=np.int64),
            "id": np.arange(n, dtype=np.int64),
            "category": np.zeros(n),
            "ts": ts,
            "codes": [codes[i].astype(np.int8).tobytes() for i in range(n)],
            "nbrs": [r.tolist() for r in kept],
            "nbr_ts": [ts[r].tolist() for r in kept],
            "level": np.zeros(n, dtype=np.int32),
            "upper": [[] for _ in range(n)],
        }
    )
    calls = {"n": 0}
    real_beam = engine.beam_search

    def counting_beam(*a, **kw):
        calls["n"] += 1
        return real_beam(*a, **kw)

    monkeypatch.setattr(engine, "beam_search", counting_beam)

    qvec = rng.normal(size=dim)
    q_small = pd.DataFrame(
        {
            "query_id": [1],
            "query_type": [2],
            "v": [-1.0],
            "l": [0.0],
            "r": [0.05],
            "qvec": [qvec.tolist()],
        }
    )
    def search(q_pdf):
        return engine._search_cogroup_arrow(
            pa.Table.from_pandas(index_pdf), pa.Table.from_pandas(q_pdf), k, None, 256, alpha
        ).to_pandas()

    out = search(q_small)
    assert calls["n"] == 0, "small-coverage query must not touch the beam"
    # exact over the covered slice: candidate distances are the
    # code-space top-kk of the allowed rows, nothing outside the slice
    allowed = np.flatnonzero(ts <= 0.05)
    assert set(out["id"]).issubset(set(allowed.tolist()))
    qc = Q.encode_np(qvec[None, :], alpha)[0].astype(np.float64)
    sub = codes[allowed].astype(np.float64)
    d = ((sub - qc[None, :]) ** 2).sum(axis=1)
    kk = max(k, int(np.ceil(engine.SHARD_REFINE_MULT * k)))
    expect_d = np.sort(d)[: min(kk, len(allowed))]
    np.testing.assert_allclose(np.sort(out["cdist"].to_numpy()), expect_d)

    q_full = q_small.assign(l=[0.0], r=[1.0])
    search(q_full)
    assert calls["n"] == 1, "full-coverage query still takes the beam"


def test_adaptive_ef_bands():
    """P4 (hybrid_graph.h:14-34): per-query ef follows the reference's
    type/selectivity bands, floored at k and capped by the filtered
    population."""
    k, n = 10, engine.MAX_NODES_PER_GRAPH
    assert engine.adaptive_ef(0, n, n, k) == 43  # ceil(4.25k)
    # category slope: bigger shard -> deeper beam
    assert engine.adaptive_ef(1, n, n, k) == 250
    assert engine.adaptive_ef(1, n // 2, n // 2, k) == 215
    assert engine.adaptive_ef(3, n, n, k) == 280
    # type-2 selectivity bands: lower coverage -> deeper beam
    assert engine.adaptive_ef(2, n, n, k) == 63
    assert engine.adaptive_ef(2, n, int(n * 0.65), k) == 68
    assert engine.adaptive_ef(2, n, int(n * 0.5), k) == 78
    assert engine.adaptive_ef(2, n, int(n * 0.1), k) == 118
    # pool cap: ef never exceeds the allowed population (floor k)
    assert engine.adaptive_ef(3, n, 55, k) == 55
    assert engine.adaptive_ef(3, n, 4, k) == k


def test_knn_auto_both_branches(spark):
    """knn_auto's two branches, forced via the flops bound: the scan
    branch must equal exact kNN row-for-row; the engine branch must be
    the routed engine's own (recall-gated) output — here compared on
    the bf-routed subset, where the engine is exact."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    exact = sorted(map(tuple, knn.knn_exact_arrow(spark, base, q).collect()))
    scan_branch = sorted(
        map(tuple, engine.knn_auto(spark, base, q, scan_flops_bound=float("inf")).collect())
    )
    assert scan_branch == exact
    # engine branch (bound 0 → always engine): exact at smoke scale
    # (every shard under GEMM_SHARD_THR + exact bf branch + K12 rerank)
    eng_branch = sorted(
        map(tuple, engine.knn_auto(spark, base, q, scan_flops_bound=0.0).collect())
    )
    assert eng_branch == exact


def test_upsert_index_rebuilds_only_affected_shards(spark):
    """Incremental ingest (upsert_index): new rows confined to one
    ts-decile must leave every other decile's shards BYTE-identical
    (pure filter pass-through), while affected shards rebuild to the
    same member sets and codes a from-scratch build over the union
    produces under the same fixed plan/alpha."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing
    from pyspark.sql import functions as F

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    new = base_all.filter(F.col("ts") < 0.1)
    old = base_all.filter(F.col("ts") >= 0.1)
    assert new.count() > 0 and old.count() > 0

    idx_old = engine.build_index(old, shard_plan=splan, alpha=alpha, max_nodes=64)
    idx_up = engine.upsert_index(idx_old, new, splan, alpha).cache()
    idx_full = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=64)

    affected = {r["pkey"] for r in engine._slice_rows(new, splan, alpha)
                .select("pkey").distinct().collect()}
    assert affected and any(p.startswith("dec:1") or p.startswith("dec:9")
                            for p in splan)  # other deciles exist to stay untouched

    untouched_up = sorted(
        (tuple(r) for r in idx_up.filter(~F.col("pkey").isin(list(affected))).collect())
    )
    untouched_old = sorted(
        (tuple(r) for r in idx_old.filter(~F.col("pkey").isin(list(affected))).collect())
    )
    assert untouched_up == untouched_old and len(untouched_up) > 0

    def members(df):
        out = {}
        for r in df.select("pkey", "id", "codes").collect():
            out.setdefault(r["pkey"], {}) [r["id"]] = bytes(r["codes"])
        return out

    assert members(idx_up) == members(idx_full)


def test_upsert_index_search_recall(spark):
    """Search quality over an incrementally-grown index: full-pipeline
    recall vs the exact oracle over the UNION corpus >= 0.9 (the graph
    in an affected shard is rebuilt, not patched, so quality matches a
    fresh build's)."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing
    from pyspark.sql import functions as F

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    idx = engine.build_index(
        base_all.filter(F.col("ts") >= 0.1), shard_plan=splan, alpha=alpha, max_nodes=64
    )
    idx = engine.upsert_index(idx, base_all.filter(F.col("ts") < 0.1), splan, alpha)

    q = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base_all, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base_all, q, index=idx, alpha=alpha).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    assert set(got) == set(exact)
    recalls = [len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)


def test_upsert_index_new_category_rides_deciles(spark):
    """Delta-contract pin: vectors of a category UNSEEN by the fixed
    shard plan route only to their decile shards (no cat: pkey exists
    for them) — they stay searchable through the decile/global path
    until a compaction re-derives the plan."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing
    from pyspark.sql import functions as F

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    new = base_all.filter(F.col("ts") < 0.05).withColumn("category", F.lit(99))
    assert new.count() > 0
    assigned = {
        r["pkey"] for r in engine._slice_rows(new, splan, alpha)
        .select("pkey").distinct().collect()
    }
    assert assigned and all(p.startswith("dec:") for p in assigned)
    idx = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=64)
    upserted = engine.upsert_index(idx, new, splan, alpha)
    # every new id is present in the index (reachable by search)
    new_ids = {r["id"] for r in new.select("id").collect()}
    got_ids = {r["id"] for r in upserted.select("id").distinct().collect()}
    assert new_ids <= got_ids


def test_upsert_index_replay_idempotent(spark):
    """Streaming checkpoint replay safety: re-applying a micro-batch
    the index already absorbed must change NOTHING — the arrival
    anti-join drops the retained duplicates before the rebuild, so a
    retried foreachBatch fold converges to the same snapshot."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    batch = base_all.filter(F.col("ts") < 0.1)
    idx0 = engine.build_index(
        base_all.filter(F.col("ts") >= 0.1), shard_plan=splan, alpha=alpha, max_nodes=64
    )

    def snap(df):
        return sorted(
            (r["pkey"], r["id"], r["category"], r["ts"], bytes(r["codes"]),
             tuple(r["nbrs"]), tuple(r["nbr_ts"]), r["level"])
            for r in df.collect()
        )

    once = engine.upsert_index(idx0, batch, splan, alpha).cache()
    twice = engine.upsert_index(once, batch, splan, alpha)
    s1, s2 = snap(once), snap(twice)
    # each corpus row appears once per slice it routes to (cat + dec),
    # never duplicated within a shard
    assert len(s1) == engine._slice_rows(base_all, splan, alpha).count()
    assert len({(p, i) for p, i, *_ in s1}) == len(s1)
    assert s1 == s2


def test_compact_index_restores_shard_bounds(spark):
    """Delta + compact split, the compact half: sustained upsert ingest
    under a FIXED plan overflows shards past factor*max_nodes; the
    compaction_due catalog query fires, compact_index re-derives the
    plan from the raw corpus, per-shard occupancy returns under the
    bound, and search recall over the compacted index stays >= 0.95."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    max_nodes = 16
    seed = base_all.filter(F.col("ts") < 0.2)
    splan = engine._shard_plan(seed, routing.CAT_GRAPH_THR, max_nodes)
    idx = engine.build_index(seed, shard_plan=splan, alpha=alpha, max_nodes=max_nodes)
    assert not engine.compaction_due(idx, splan, max_nodes=max_nodes)

    # sustained ingest: 4 deltas against the frozen plan → ~5x growth
    for lo, hi in ((0.2, 0.4), (0.4, 0.6), (0.6, 0.8), (0.8, 1.01)):
        delta = base_all.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        idx = engine.upsert_index(idx, delta, splan, alpha)
    occ = idx.groupBy("pkey").count()
    assert occ.agg(F.max("count")).collect()[0][0] > engine.COMPACT_FACTOR * max_nodes
    assert engine.compaction_due(idx, splan, max_nodes=max_nodes)

    idx2, plan2, alpha2 = engine.compact_index(
        idx, base_all, splan, alpha, max_nodes=max_nodes
    )
    assert plan2 != splan  # plan re-derived for the grown corpus
    occ2 = {r["pkey"]: r["count"] for r in idx2.groupBy("pkey").count().collect()}
    # pmod(id) spreads a slice across its shards: bounded by the
    # trigger threshold with slack only for id-mod imbalance
    assert max(occ2.values()) <= engine.COMPACT_FACTOR * max_nodes
    assert not engine.compaction_due(idx2, plan2, max_nodes=max_nodes)
    assert idx2.select("id").distinct().count() == base_all.count()

    q = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base_all, q).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base_all, q, index=idx2, alpha=alpha2).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.95, sum(recalls) / len(recalls)


def test_compaction_due_new_big_category(spark):
    """Trigger condition 2: a category absent from the fixed plan that
    grows past cat_thr of the corpus fires compaction even when no
    shard has overflowed."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 4096)
    idx = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=4096)
    assert not engine.compaction_due(idx, splan, max_nodes=4096)
    # relabel 30% of the corpus to an unseen category IN THE INDEX —
    # simulating what sustained category-skewed ingest accumulates
    drifted = idx.withColumn(
        "category",
        F.when(F.col("ts") < 0.3, F.lit(77)).otherwise(F.col("category")),
    )
    assert engine.compaction_due(drifted, splan, max_nodes=4096)


def test_compaction_due_counts_null_pkey_shard(spark):
    """Rows whose slice prefix is missing from a frozen plan get a null
    pkey (``_pkey_expr``'s map lookup misses); they form one group, and
    that group must still trip the size trigger."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    # the plan of the ts < 0.2 corpus has deciles 0 and 1 only
    splan = engine._shard_plan(base_all.filter(F.col("ts") < 0.2), routing.CAT_GRAPH_THR, 4096)
    idx = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=4096).persist()
    sizes = {r["pkey"]: r["count"] for r in idx.groupBy("pkey").count().collect()}
    max_nodes = 64
    bound = engine.COMPACT_FACTOR * max_nodes
    assert sizes.get(None, 0) > bound
    assert max(c for p, c in sizes.items() if p is not None) <= bound
    assert engine.compaction_due(idx, splan, max_nodes=max_nodes)
    assert not engine.compaction_due(
        idx.filter(F.col("pkey").isNotNull()), splan, max_nodes=max_nodes
    )
    idx.unpersist()


def _job_group_run(spark, fn) -> str:
    """Runs ``fn()`` under a fresh Spark job group; returns the group."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return group


def _jobs_run(spark, fn) -> int:
    """Spark jobs ``fn()`` starts, counted through a job group."""
    group = _job_group_run(spark, fn)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _last_stage_tasks(spark, fn) -> int:
    """Tasks of the last stage ``fn()`` runs (its result stage)."""
    group = _job_group_run(spark, fn)
    st = spark.sparkContext.statusTracker()
    stages = [sid for jid in st.getJobIdsForGroup(group) for sid in st.getJobInfo(jid).stageIds]
    return st.getStageInfo(max(stages)).numTasks


def test_ingest_edges_job_budget(spark, tmp_path):
    """The ingest fold's fixed job costs: ``compaction_due`` is one
    aggregation collected once (≤ 2 jobs under AQE), and a query .bin
    decodes without a shuffle (``count()`` ≤ 2 jobs, no Exchange in
    the reader's plan)."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing
    from sigmod_2024_contest_spark.sources import bin_format

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    idx = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=64).persist()
    idx.count()
    assert _jobs_run(spark, lambda: engine.compaction_due(idx, splan, max_nodes=64)) <= 2
    idx.unpersist()

    rng = np.random.default_rng(3)
    n, dim = 3000, 8
    p = str(tmp_path / "q.bin")
    bin_format.write_queries_bin(
        p, rng.integers(0, 4, n), rng.integers(-1, 5, n), rng.random(n), rng.random(n),
        rng.standard_normal((n, dim)).astype(np.float32),
    )
    q = bin_format.read_queries_bin(spark, p, dim=dim)
    assert "Exchange" not in q._jdf.queryExecution().executedPlan().toString()
    assert _jobs_run(spark, q.count) <= 2


def test_upsert_index_preserves_hnsw_levels_parity(spark):
    """Upsert under the S9 levels build (hnsw_levels=True): rebuilt
    shards must reproduce the from-scratch level structure too —
    levels and upper-layer adjacency, not just base-layer members
    (the build is deterministic per shard: crc32(pkey) seed, id-sorted
    input)."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    old = base_all.filter(F.col("id") % 5 != 0)
    new = base_all.filter(F.col("id") % 5 == 0)

    idx = engine.build_index(
        old, shard_plan=splan, alpha=alpha, max_nodes=64, hnsw_levels=True
    )
    up = engine.upsert_index(idx, new, splan, alpha, hnsw_levels=True)
    scratch = engine.build_index(
        base_all, shard_plan=splan, alpha=alpha, max_nodes=64, hnsw_levels=True
    )

    def snap(df):
        return sorted(
            (r["pkey"], r["id"], r["level"], tuple(r["nbrs"]),
             tuple(tuple(u) for u in r["upper"]))
            for r in df.collect()
        )

    s_up, s_scr = snap(up), snap(scratch)
    assert s_up == s_scr
    assert any(lvl > 0 for _, _, lvl, _, _ in s_up)  # levels actually built


def test_build_groups_bit_identical_to_grouped_pandas(spark):
    """Equivalence harness for the r14 batched build (engine.build_groups):
    the mapInArrow multi-shard kernel must reproduce the grouped-pandas
    ``applyInPandas(_build_group)`` path BIT-IDENTICALLY — every column
    including adjacency, per-edge timestamps, codes bytes, level and
    upper layers — on both build flavors (RNG graph and hnsw_levels).
    The parity entries hash-pin these rows, so this is the contract."""
    from pyspark.sql import functions as F  # noqa: F401

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)

    def snap(df):
        return sorted(
            (
                "\x00<null>" if r["pkey"] is None else r["pkey"],
                r["pos"], r["id"], r["category"], r["ts"],
                bytes(r["codes"]), tuple(r["nbrs"]), tuple(r["nbr_ts"]),
                r["level"], tuple(tuple(u) for u in r["upper"]),
            )
            for r in df.collect()
        )

    for max_nodes, gmn, levels in ((64, 0, False), (64, 0, True), (48, 16, False)):
        splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, max_nodes)
        sliced = engine._slice_rows(base, splan, alpha)
        a = float(alpha)
        def make_ref(_a, _g, _l):
            return lambda pdf: engine._build_group(pdf, 16, 100, _g, _a, _l)

        reference = sliced.groupBy("pkey").applyInPandas(
            make_ref(a, gmn, levels), engine.INDEX_SCHEMA
        )
        batched = engine.build_groups(
            sliced, 16, 100, gmn, a, levels, n_groups=sum(splan.values())
        )
        ref_rows, new_rows = snap(reference), snap(batched)
        assert ref_rows == new_rows, (max_nodes, gmn, levels)
        assert len(ref_rows) > 0

    # frozen-plan edge: rows whose decile is absent from the plan get a
    # NULL pkey (the delta+compact contract) — both paths must emit the
    # identical null-keyed group
    frozen = engine._shard_plan(base.filter(F.col("ts") < 0.2), routing.CAT_GRAPH_THR, 64)
    sliced = engine._slice_rows(base, frozen, alpha)
    reference = sliced.groupBy("pkey").applyInPandas(
        make_ref(float(alpha), 0, False), engine.INDEX_SCHEMA
    )
    batched = engine.build_groups(
        sliced, 16, 100, 0, float(alpha), False, n_groups=sum(frozen.values())
    )
    ref_rows, new_rows = snap(reference), snap(batched)
    assert ref_rows == new_rows
    assert any(r[0] == "\x00<null>" for r in ref_rows)  # null group exercised


def _index_rows(df):
    """Every index column of every row, null pkey first, in a total order."""
    return sorted(
        (
            r["pkey"] is not None, r["pkey"] or "", r["pos"], r["id"], r["category"],
            r["ts"], bytes(r["codes"]), tuple(r["nbrs"]), tuple(r["nbr_ts"]),
            r["level"], tuple(tuple(u) for u in r["upper"]),
        )
        for r in df.collect()
    )


def test_build_groups_streams_runs_across_batches(spark):
    """The build kernel reads a (pkey, id)-sorted stream and builds each
    shard as its pkey run closes, carrying the open run from one Arrow
    batch to the next. With 7-row batches almost every shard straddles
    a batch boundary; the rows must still equal the grouped-pandas
    reference, the frozen plan's null-pkey group included."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    alpha = float(Q.train_alpha(base))
    frozen = engine._shard_plan(base.filter(F.col("ts") < 0.2), routing.CAT_GRAPH_THR, 64)
    sliced = engine._slice_rows(base, frozen, alpha)
    ref_rows = _index_rows(
        sliced.groupBy("pkey").applyInPandas(
            lambda pdf: engine._build_group(pdf, 16, 100, 0, alpha, False),
            engine.INDEX_SCHEMA,
        )
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        new_rows = _index_rows(
            engine.build_groups(
                sliced, 16, 100, 0, alpha, False, n_groups=sum(frozen.values())
            )
        )
    finally:
        spark.conf.set(key, old)
    assert new_rows == ref_rows
    assert not ref_rows[0][0]  # the null group is there
    sizes = {}
    for r in ref_rows:
        sizes[r[1]] = sizes.get(r[1], 0) + 1
    assert sum(n > 7 for n in sizes.values()) >= len(sizes) // 2  # runs span batches


def test_build_groups_task_count(spark):
    """The build's Python stage runs at most min(n_groups, 2 ×
    defaultParallelism) tasks (2 × defaultParallelism when the group
    count is unknown): every Python task has a fixed cost, so tasks
    past the slots' second wave, or holding no shard, are waste."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    alpha = float(Q.train_alpha(base))
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, 16)
    sliced = engine._slice_rows(base, splan, alpha)
    n_groups = sum(splan.values())
    slots2 = 2 * spark.sparkContext.defaultParallelism
    assert n_groups > slots2  # the slot bound is the one that binds
    for ng, bound in ((n_groups, slots2), (None, slots2), (3, 3)):
        built = engine.build_groups(sliced, 16, 100, 0, alpha, False, n_groups=ng)
        assert 1 <= _last_stage_tasks(spark, built.collect) <= bound, ng


def test_upsert_keeps_shards_beside_null_pkey_arrivals(spark):
    """Arrivals whose slice prefix is missing from the frozen plan route
    to the null-pkey shard, so the rebuild's affected list holds None
    (beside other shards, then alone). Neither the untouched shards
    nor the null shard's earlier members may drop out: after the
    upserts the index holds exactly the rows a build of the whole
    corpus under the same plan holds, graphs and positions included."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    seed = base_all.filter(F.col("ts") < 0.2)
    first = base_all.filter((F.col("ts") >= 0.2) & (F.col("ts") < 0.35))
    frozen = engine._shard_plan(seed, routing.CAT_GRAPH_THR, 64)
    idx = engine.build_index(seed, shard_plan=frozen, alpha=alpha, max_nodes=64)
    idx = engine.upsert_index(idx, first, frozen, alpha)
    late = base_all.filter(F.col("ts") >= 0.35)  # the smoke corpus's ts < 0.5
    # a category outside the plan: these rows reach only unplanned deciles
    null_only = late.filter(F.col("id") % 2 == 0).withColumn("category", F.lit(99))
    rest = late.filter(F.col("id") % 2 == 1)
    assert {r["pkey"] for r in engine._slice_rows(null_only, frozen, alpha).collect()} == {None}
    idx = engine.upsert_index(idx, rest, frozen, alpha)
    idx = engine.upsert_index(idx, null_only, frozen, alpha)

    corpus = seed.unionByName(first).unionByName(null_only).unionByName(rest)
    got = _index_rows(idx)
    assert not got[0][0]  # the null shard is there
    # every shard, rebuilt or passed through, equals a from-scratch build's
    assert got == _index_rows(
        engine.build_index(corpus, shard_plan=frozen, alpha=alpha, max_nodes=64)
    )
