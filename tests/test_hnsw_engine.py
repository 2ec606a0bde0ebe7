"""Hybrid engine: index build/upsert invariants and recall gates.

The engine ranks candidates in SQ8 code space before the exact
re-rank, so correctness is a recall bound vs the exact oracle — the
reference's own methodology (utils.h:224-253, SURVEY §5)."""

from __future__ import annotations

import re

import numpy as np
from conftest import SF_CORRECT, SF_SMOKE, force_shard_plan

from sigmod_2024_contest_spark.operators import engine, knn
from sigmod_2024_contest_spark.plans import workload
from sigmod_2024_contest_spark.sources.tables import base_vectors


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


def test_hybrid_engine_sharded_recall(spark, monkeypatch):
    """Forcing tiny shards (max_nodes=16 → many shards per slice)
    must not change the answer quality: the shard fan-out + global
    merge is the 100 TB build path."""
    force_shard_plan(monkeypatch)
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


def test_analytic_catalog_covers_built_shards(spark, monkeypatch):
    """The analytic catalog (shard plan → metadata, no index scan) must
    enumerate every shard the build actually emits — a missed pkey
    would silently drop that shard from every search. Superset is fine:
    id-mod hashing can leave a planned shard empty, and an empty
    cogroup side contributes nothing."""
    force_shard_plan(monkeypatch)
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


def test_knn_auto_both_branches(spark, monkeypatch):
    """knn_auto's two branches, forced by moving SCAN_FLOPS_BOUND: the
    scan branch must equal exact kNN row-for-row; the engine branch must
    be the routed engine's own (recall-gated) output — here compared on
    the bf-routed subset, where the engine is exact."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    exact = sorted(map(tuple, knn.knn_exact_arrow(spark, base, q).collect()))
    monkeypatch.setattr(engine, "SCAN_FLOPS_BOUND", float("inf"))
    scan_branch = sorted(map(tuple, engine.knn_auto(spark, base, q).collect()))
    assert scan_branch == exact
    # engine branch (bound 0 → always engine): exact at smoke scale
    # (exact code-space shard scans + exact bf branch + K12 rerank)
    monkeypatch.setattr(engine, "SCAN_FLOPS_BOUND", 0.0)
    eng_branch = sorted(map(tuple, engine.knn_auto(spark, base, q).collect()))
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
            out.setdefault(r["pkey"], {}) [r["id"]] = tuple(r["codes"])
        return out

    assert members(idx_up) == members(idx_full)


def test_upsert_index_search_recall(spark, monkeypatch):
    """Search quality over an incrementally-grown index: full-pipeline
    recall vs the exact oracle over the UNION corpus >= 0.9 (an
    affected shard holds exactly a fresh build's rows)."""
    force_shard_plan(monkeypatch)
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
            (r["pkey"], r["id"], r["category"], r["ts"], tuple(r["codes"]))
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


def test_compact_index_restores_shard_bounds(spark, monkeypatch):
    """Delta + compact split, the compact half: sustained upsert ingest
    under a FIXED plan overflows shards past factor*max_nodes; the
    compaction_due catalog query fires, compact_index re-derives the
    plan from the raw corpus, per-shard occupancy returns under the
    bound, and search recall over the compacted index stays >= 0.95."""
    force_shard_plan(monkeypatch)
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


def _index_rows(df):
    """Every index column of every row, null pkey first, in a total order."""
    return sorted(
        (
            r["pkey"] is not None, r["pkey"] or "", r["id"], r["category"],
            r["ts"], tuple(r["codes"]),
        )
        for r in df.collect()
    )


def test_upsert_keeps_shards_beside_null_pkey_arrivals(spark):
    """Arrivals whose slice prefix is missing from the frozen plan route
    to the null-pkey shard, so the rebuild's affected list holds None
    (beside other shards, then alone). Neither the untouched shards
    nor the null shard's earlier members may drop out: after the
    upserts the index holds exactly the rows a build of the whole
    corpus under the same plan holds."""
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


def _clustered_space(rng, dim: int, latent: int = 16, clusters: int = 48):
    """Embedding-like vectors: a Gaussian mixture in a low-dimensional
    latent space, linearly embedded in ``dim`` dimensions plus a little
    isotropic noise. Returns a sampler ``n → (n, dim) float32``."""
    centers = 2.0 * rng.standard_normal((clusters, latent))
    proj = rng.standard_normal((latent, dim)) / np.sqrt(latent)

    def sample(n: int) -> np.ndarray:
        comp = rng.integers(0, clusters, n)
        z = centers[comp] + 0.6 * rng.standard_normal((n, latent))
        return (z @ proj + 0.05 * rng.standard_normal((n, dim))).astype(np.float32)

    return sample


def test_clustered_big_category_shard_recall(spark, monkeypatch):
    """A clustered 20k × 100 corpus whose category 0 holds 6000 rows:
    its cat: slice is one shard above GEMM_SHARD_THR. Type-1/3 queries
    on category 0 route to cat_graph and must reach recall@100 ≥ 0.9
    per query and ≥ 0.95 on average against a NumPy brute force."""
    force_shard_plan(monkeypatch)
    import pandas as pd

    from sigmod_2024_contest_spark.operators import routing

    k, n, dim, big = 100, 20_000, 100, 6000
    rng = np.random.default_rng(3)
    sample = _clustered_space(rng, dim)
    vecs = sample(n)
    cats = np.concatenate([np.zeros(big, np.int32), rng.integers(1, 21, n - big).astype(np.int32)])
    rng.shuffle(cats)
    ts = rng.random(n)
    base = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "category": cats, "ts": ts,
                      "vec": list(vecs)}),
        "id long, category int, ts double, vec array<float>",
    )
    nq = 40
    qtype = np.repeat([1, 3], nq // 2)
    ql = np.where(qtype == 3, 0.5 * rng.random(nq), -1.0)
    qr = np.where(qtype == 3, ql + 0.5, -1.0)
    qvecs = sample(nq)
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.arange(nq, dtype=np.int64), "query_type": qtype.astype(np.int32),
                      "v": np.zeros(nq, np.int32), "l": ql, "r": qr, "qvec": list(qvecs)}),
        "query_id long, query_type int, v int, l double, r double, qvec array<float>",
    )
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH)
    assert splan["cat:0"] == 1 and big > engine.GEMM_SHARD_THR
    plan = routing.route_plan(base, queries).cache()
    assert {r["route"] for r in plan.collect()} == {routing.ROUTE_CAT_GRAPH}

    got: dict[int, set] = {}
    for r in engine.knn_hybrid(spark, base, queries, k=k, plan=plan).collect():
        got.setdefault(r["query_id"], set()).add(r["id"])
    v64 = vecs.astype(np.float64)
    recalls = []
    for qi in range(nq):
        ok = cats == 0
        if qtype[qi] == 3:
            ok &= (ts >= ql[qi]) & (ts <= qr[qi])
        idx = np.flatnonzero(ok)
        d = ((v64[idx] - qvecs[qi].astype(np.float64)) ** 2).sum(axis=1)
        want = set(idx[np.lexsort((idx, d))[:k]].tolist())
        recalls.append(len(want & got.get(qi, set())) / len(want))
    assert min(recalls) >= 0.9, sorted(recalls)[:5]
    assert sum(recalls) / nq >= 0.95, sum(recalls) / nq
    plan.unpersist()


def test_index_build_and_upserts_run_no_python_stage(spark):
    """The index is its rows: build_index, upsert_index and
    upsert_index_epoch plan only JVM operators — no Python node in
    their executed plans — and a fold adds the arrivals' partitions to
    the index's, never a second copy of the index's."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base_all = base_vectors(spark, SF_SMOKE)
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    old = base_all.filter(F.col("id") % 5 != 0)
    new = base_all.filter(F.col("id") % 5 == 0)
    idx = engine.build_index(old, shard_plan=splan, alpha=alpha, max_nodes=64)
    up = engine.upsert_index(idx, new, splan, alpha)
    epoch, _, _ = engine.upsert_index_epoch(
        idx, new, splan, alpha, engine._epoch_state_from_plan(splan), max_nodes=64
    )
    for name, df in (("build", idx), ("upsert", up), ("epoch", epoch)):
        assert df.count() > 0
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for node in ("MapInArrow", "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                     "BatchEvalPython", "FlatMapCoGroupsIn"):
            assert node not in plan, (name, node)
    grown = idx.rdd.getNumPartitions() + new.rdd.getNumPartitions()
    assert up.rdd.getNumPartitions() <= grown


def test_graph_search_keeps_index_partitioning(spark):
    """The shard scan cogroups on the pkey ``partition_index_for_search``
    already clusters a persisted index by: only the assignments side
    shuffles, never the index."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, 64)
    idx = engine.partition_index_for_search(
        engine.build_index(base, shard_plan=splan, alpha=alpha)
    ).persist()
    idx.count()
    assigns = engine._assignments(
        q, routing.route_plan(base, q), engine.catalog_from_plan(spark, splan)
    )
    cands = engine.graph_search(idx, assigns, k=workload.K, alpha=alpha)
    assert cands.count() > 0
    lines = cands._jdf.queryExecution().executedPlan().toString().splitlines()
    cg = next(i for i, ln in enumerate(lines) if "FlatMapCoGroupsInArrow" in ln)
    index_side = lines[cg + 1 : next(i for i in range(cg, len(lines)) if "InMemoryTableScan" in lines[i])]
    assert index_side and not any("Exchange" in ln for ln in index_side), lines[cg : cg + 4]
    idx.unpersist()


def _outside_cached(plan_text: str) -> list[str]:
    """The executed-plan lines that are not inside an InMemoryRelation,
    i.e. what the query runs itself rather than reads from a cache."""
    out, cached_at = [], None
    for ln in plan_text.splitlines():
        col = len(ln) - len(ln.lstrip(" :|+-"))
        if cached_at is not None and col > cached_at:
            continue
        cached_at = col if "InMemoryRelation" in ln else None
        out.append(ln)
    return out


def _query_id_join_lookups(lines: list[str]) -> list[str]:
    """For every join keyed on query_id in ``lines`` (an executed plan's
    lines outside cached relations), its right child's first scan."""
    out = []
    for i, ln in enumerate(lines):
        if not re.search(r"Join \[[^\]]*query_id", ln):
            continue
        col = len(ln) - len(ln.lstrip(" :|+-"))
        right = next(
            j for j in range(i + 1, len(lines))
            if lines[j][col : col + 3] == "+- "
            and len(lines[j]) - len(lines[j].lstrip(" :|+-")) == col + 3
        )
        out.append(next(x for x in lines[right:] if "Scan" in x).strip(" :|+-"))
    return out


def test_knn_hybrid_reads_queries_only_through_the_route_plan(spark, tmp_path, monkeypatch):
    """The persisted route plan is the batch's one query table: the
    route plan itself is narrow (no exchange, no join), and the engine
    reads the query source only through the plan's InMemoryTableScan,
    with no ``queries ⋈ plan`` join. On the shard plan the only joins
    keyed on query_id are the window re-ranks' query-vector lookups:
    each reads just (query_id, qvec) from the plan, plus ``route`` where
    the lookup is the bf branch's and filters the plan to bf rows."""
    force_shard_plan(monkeypatch)
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    qpath = str(tmp_path / "route_plan_queries")
    workload.queries_df(spark, SF_SMOKE).write.parquet(qpath)
    q = spark.read.parquet(qpath)

    own = routing.route_plan(base, q)
    own.collect()
    text = own._jdf.queryExecution().executedPlan().toString()
    for node in ("Exchange", "Join"):
        assert node not in text, (node, text)

    plan = routing.route_plan(base, q).persist()
    res = engine.knn_hybrid(spark, base, q, plan=plan)
    assert len(res.collect()) > 0
    text = res._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in text
    outside = _outside_cached(text)
    assert not [ln for ln in outside if "route_plan_queries" in ln], text
    for scan in _query_id_join_lookups(outside):
        assert re.fullmatch(
            r"InMemoryTableScan \[query_id#\d+L, qvec#\d+(, route#\d+)?\].*", scan
        ), text
    plan.unpersist()


def _ranked(df) -> list[tuple[int, int, int]]:
    return sorted((r["query_id"], r["id"], r["rnk"]) for r in df.collect())


def test_fused_and_shard_plans_identical(spark, monkeypatch):
    """Below the fused-plan bound one corpus-broadcast kernel answers
    every row at one cut depth; forced onto the shard plan, the same
    persisted route plan goes through the bf branch's query-broadcast
    scan + shard cogroup + window re-rank. Both give the same
    (query_id, id, rnk) rows, and both equal the exact scan."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    for sf in (SF_SMOKE, SF_CORRECT):
        base = base_vectors(spark, sf)
        q = workload.queries_df(spark, sf)
        n = base.count()
        dim = len(base.select("vec").head()["vec"])
        alpha = Q.train_alpha(base)
        plan = routing.route_plan(base, q).persist()
        routes = {r["route"] for r in plan.select("route").distinct().collect()}
        assert routes - {routing.ROUTE_BF}, routes  # shard routes are present
        kw = dict(plan=plan, alpha=alpha, corpus_rows=n, dim=dim)
        assert engine.search_side(n, dim) == engine.SIDE_CORPUS_BC
        fused = _ranked(engine.knn_hybrid(spark, base, q, **kw))
        with monkeypatch.context() as m:
            force_shard_plan(m)
            assert engine.search_side(n, dim) == engine.SIDE_SHARDS
            sharded = _ranked(engine.knn_hybrid(spark, base, q, **kw))
        assert fused == sharded
        assert fused == _ranked(knn.knn_exact_arrow(spark, base, q, corpus_rows=n, dim=dim))
        plan.unpersist()


def test_fused_knn_hybrid_job_budget(spark):
    """Below the fused-plan bound, once the corpus payload is resident
    (it is cached per corpus and grid, so the first batch ships it), a
    batch over an unmaterialized persisted route plan runs at most 3
    Spark jobs — the plan's cache stage, the query repartition and the
    kernel — with no shard cogroup and no catalog broadcast in its
    executed plan, even when an index and a catalog are passed in."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    n = base.count()
    dim = len(base.select("vec").head()["vec"])
    alpha = Q.train_alpha(base)
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH)
    index = engine.build_index(base, shard_plan=splan, alpha=alpha)
    catalog = engine.catalog_from_plan(spark, splan)
    out = {}

    def run():
        out["df"] = engine.knn_hybrid(
            spark, base, q, index=index, plan=plan, alpha=alpha, catalog=catalog,
            corpus_rows=n, dim=dim,
        )
        out["rows"] = out["df"].collect()

    plan = routing.route_plan(base, q).persist()
    run()  # the first batch ships the corpus payload
    plan.unpersist()
    plan = routing.route_plan(base, q).persist()
    assert _jobs_run(spark, run) <= 3
    assert len(out["rows"]) > 0
    text = out["df"]._jdf.queryExecution().executedPlan().toString()
    for node in ("FlatMapCoGroupsInArrow", "BroadcastExchange"):
        assert node not in text, (node, text)
    plan.unpersist()


def _refuse(*_a, **_kw):
    raise AssertionError("called on a plan that must not call it")


def test_shard_plan_broadcasts_no_corpus(spark, monkeypatch):
    """Above the broadcast bound the shard plan pairs the shard cogroup
    with the bf branch's query-broadcast scan and the pooled re-rank's
    window + join: no corpus-broadcast kernel and no corpus payload run
    anywhere in the search, and the rows equal the exact scan's."""
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    want = _ranked(knn.knn_exact_arrow(spark, base, q))
    # the route plan ships its stats snapshot through the same cache
    plan = routing.route_plan(base, q).persist()
    force_shard_plan(monkeypatch)
    monkeypatch.setattr(knn, "corpus_broadcast_topk", _refuse)
    monkeypatch.setattr(knn, "cached_corpus_broadcast", _refuse)
    assert _ranked(engine.knn_hybrid(spark, base, q, plan=plan)) == want
    plan.unpersist()


def test_fused_plan_builds_no_route_plan(spark, monkeypatch, tmp_path):
    """Below the bound the fused kernel never reads the route, so with
    no plan given none is built: no route plan, no selectivity pass.
    ``knn_stream_indexed`` builds neither per micro-batch nor the
    routing stats per stream: its micro-batch equals the exact scan."""
    from sigmod_2024_contest_spark.operators import routing, stats
    from sigmod_2024_contest_spark.streaming import vector as V

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    want = _ranked(knn.knn_exact_arrow(spark, base, q))
    monkeypatch.setattr(routing, "route_plan", _refuse)
    monkeypatch.setattr(stats, "corpus_stats", _refuse)
    monkeypatch.setattr(stats, "selectivity", _refuse)
    assert _ranked(engine.knn_hybrid(spark, base, q, plan=None)) == want

    qdir, out = str(tmp_path / "q"), str(tmp_path / "out")
    q.coalesce(1).write.parquet(qdir)
    # the index argument is never read below the bound
    sq = V.knn_stream_indexed(
        spark, base, base.limit(0), V.stream_queries(spark, qdir), out, str(tmp_path / "ckpt"),
        k=workload.K,
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    assert _ranked(spark.read.parquet(out)) == want


def test_stress_corpus_independent_of_row_count(spark):
    """The stress corpus derives every value from the row id: rows
    0..999 are the same whether 1000 or 4000 rows are drawn (so
    whatever the partition boundaries fall on)."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tools.stress_scale import synth_base

    def rows(n):
        df = synth_base(spark, n).filter("id < 1000")
        return sorted((r["id"], r["category"], r["ts"], tuple(r["vec"])) for r in df.collect())

    small, big = rows(1000), rows(4000)
    assert len(small) == 1000
    assert small == big
    assert {c for _, c, _, _ in small} == set(range(12))


def test_time_graph_probes_the_decile_holding_r(spark, monkeypatch):
    """A row sits in decile least(floor(ts·10), 9). With r = 0.5 the
    row at ts == 0.5 is in decile 5; a type-2 query over [0.3, 0.5]
    whose vector IS that row must rank it first on the shard plan."""
    import pandas as pd

    from sigmod_2024_contest_spark.operators import routing

    force_shard_plan(monkeypatch)
    rng = np.random.default_rng(11)
    n, dim = 2000, 8
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    ts = rng.random(n)
    ts[7] = 0.5
    base = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64),
                      "category": rng.integers(0, 5, n).astype(np.int32), "ts": ts,
                      "vec": list(vecs)}),
        "id long, category int, ts double, vec array<float>",
    )
    queries = spark.createDataFrame(
        pd.DataFrame({"query_id": np.array([0], np.int64), "query_type": np.array([2], np.int32),
                      "v": np.array([-1], np.int32), "l": [0.3], "r": [0.5],
                      "qvec": [vecs[7]]}),
        "query_id long, query_type int, v int, l double, r double, qvec array<float>",
    )
    plan = routing.route_plan(base, queries).persist()
    assert [r["route"] for r in plan.collect()] == [routing.ROUTE_TIME_GRAPH]
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH)
    probed = {r["pkey"] for r in engine._assignments(
        None, plan, engine.catalog_from_plan(spark, splan)).collect()}
    assert probed == {"dec:3:0", "dec:4:0", "dec:5:0"}, probed
    got = _ranked(engine.knn_hybrid(spark, base, queries, k=5, plan=plan))
    assert got[0][1] == 7, got
    assert got == _ranked(knn.knn_exact_arrow(spark, base, queries, k=5))
    plan.unpersist()


def test_shard_catalogs_plan_no_python_stage(spark):
    """Both catalogs are local relations: broadcasting one runs no
    ``parallelize|map`` job (no ``Scan ExistingRDD`` in its plan). They
    hold one (prefix, pkey) row per planned shard; an empty plan gives
    an empty catalog."""
    from sigmod_2024_contest_spark.operators import routing

    base = base_vectors(spark, SF_SMOKE)
    splan = engine._shard_plan(base, routing.CAT_GRAPH_THR, 64)
    want = {(p, f"{p}:{s}") for p, n in splan.items() for s in range(n)}
    for cat in (
        engine.catalog_from_plan(spark, splan),
        engine.shard_catalog(engine.build_index(base, shard_plan=splan)),
    ):
        assert {(r["prefix"], r["pkey"]) for r in cat.collect()} == want
        text = cat._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in text, text
        assert "LocalTableScan" in text, text
    empty = engine.catalog_from_plan(spark, {})
    assert empty.columns == ["prefix", "pkey"] and empty.count() == 0
