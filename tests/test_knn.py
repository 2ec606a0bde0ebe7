"""Exact filtered kNN vs the DuckDB oracle (reference semantics:
utils.h:80-158 brute force, searcher.hpp:29-43 predicates)."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE, assert_matches_oracle, duck_con, force_shard_plan, rows_set

from sigmod_2024_contest_spark.operators import knn
from sigmod_2024_contest_spark.plans import workload
from sigmod_2024_contest_spark.sources.tables import base_vectors


def test_knn_expr_matches_oracle(spark):
    df = knn.knn_exact_expr(base_vectors(spark, SF_SMOKE), workload.queries_df(spark, SF_SMOKE))
    assert_matches_oracle(df, duck_con(SF_SMOKE), knn.knn_oracle_sql())


def test_knn_arrow_matches_expr(spark):
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    expr_rows = rows_set(knn.knn_exact_expr(base, q).collect())
    arrow_rows = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    assert expr_rows == arrow_rows


def test_all_query_types_present(spark):
    q = workload.queries_df(spark, SF_SMOKE)
    types = {r.query_type for r in q.select("query_type").distinct().collect()}
    assert types == {0, 1, 2, 3}


def test_every_query_answered(spark):
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    res = knn.knn_exact_expr(base, q)
    nq = q.count()
    answered = res.select("query_id").distinct().count()
    assert answered == nq


def test_knn_arrow_chunked_batches_match(spark):
    """Chunked query broadcast (batch_rows smaller than the query set)
    must produce exactly the single-batch result — the union of
    per-batch packed candidate sets feeds one global merge. The
    chunked side calls the query-broadcast scan itself, so the
    multi-batch branch of chunked_broadcast_scan (localCheckpoint,
    unpersist, union) really runs."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    whole = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    chunked = rows_set(knn.knn_exact_scan(base, q, batch_rows=7).collect())
    assert whole == chunked


def test_knn_arrow_100k_queries_bounded_driver(spark):
    """Contest-scale query-count stress (1M queries in production;
    100k here): on a small corpus the side rule picks the
    corpus-broadcast kernel, which partitions the 100k queries across
    tasks — the driver never collects the query table and every query
    gets its k rows."""
    from pyspark.sql import functions as F

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE).filter(F.col("query_type") == 0).limit(10)
    reps = spark.range(10000).select(F.col("id").alias("rep"))
    big = (
        q.crossJoin(reps)
        .select(
            (F.col("query_id") * 10000 + F.col("rep")).alias("query_id"),
            "query_type",
            "v",
            "l",
            "r",
            "qvec",
        )
    )
    n_q = big.count()
    assert n_q == 100_000
    res = knn.knn_exact_arrow(spark, base, big, k=3)
    assert res.count() == n_q * 3


def test_sq8_paths_identical(spark, monkeypatch):
    """knn_sq8_rerank's two physical plans — the fused corpus-broadcast
    kernel (small base) and the query-broadcast codes scan + pool
    window + K12 rerank (the 100 TB shape, pinned by moving the
    broadcast bound below the corpus) — must emit identical rows, and
    both must match the fully-declarative variant."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_sq8

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)
    fused = rows_set(bruteforce_sq8.knn_sq8_rerank(base, q, alpha).collect())
    force_shard_plan(monkeypatch)
    scan = rows_set(bruteforce_sq8.knn_sq8_rerank(base, q, alpha).collect())
    expr = rows_set(bruteforce_sq8.knn_sq8_rerank_expr(base, q, alpha).collect())
    assert fused == scan == expr


def test_exact_rerank_pooled_paths_identical(spark):
    """exact_rerank_pooled's window pool + candidates-only join equals a
    NumPy reference of the same rule on the same candidate rows: pool
    the per-query top ``pool_k`` by (cdist, id), then rank the pooled
    rows by exact L2 — a float64 left-to-right fold, as the oracle
    folds — with (dist, id) ties."""
    import numpy as np
    from pyspark.sql import functions as F

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    # synthetic candidates: every query × 40 base ids, code distance =
    # a deterministic shuffle so pooling has real work to do
    cands = (
        q.select("query_id")
        .crossJoin(base.select("id").orderBy("id").limit(40))
        .select(
            "query_id",
            "id",
            ((F.col("id") * 7919 + F.col("query_id")) % 1000).cast("long").alias("cdist"),
        )
    )
    k, pool_k = 5, 12
    got = sorted(
        map(tuple, knn.exact_rerank_pooled(base, q, cands, k=k, pool_k=pool_k).collect())
    )

    vecs = {r["id"]: np.asarray(r["vec"], dtype=np.float64) for r in base.collect()}
    qvecs = {r["query_id"]: np.asarray(r["qvec"], dtype=np.float64) for r in q.collect()}
    by_q: dict[int, list[tuple[int, int]]] = {}
    for r in cands.collect():
        by_q.setdefault(r["query_id"], []).append((r["cdist"], r["id"]))
    want = []
    for qid, cs in by_q.items():
        pooled = [i for _, i in sorted(cs)[:pool_k]]
        scored = []
        for i in pooled:
            diff = qvecs[qid] - vecs[i]
            d = 0.0
            for x in diff * diff:
                d += x
            scored.append((d, i))
        want += [(qid, i, r + 1) for r, (_, i) in enumerate(sorted(scored)[:k])]
    assert got == sorted(want)
    assert len(got) == q.count() * k


def test_corpus_broadcast_cache_reuse(spark):
    """Repeat invocations over one corpus must reuse ONE broadcast (the
    streaming leak fix): knn_stream_indexed calls knn_hybrid per
    micro-batch, and without the cache every batch re-collected the
    corpus and left its broadcast on the executors."""
    from pyspark.sql import functions as F

    base = base_vectors(spark, SF_SMOKE)
    knn._CORPUS_BC_CACHE.clear()
    bc1 = knn.cached_corpus_broadcast(base, ("id", "vec"), "ids_vec", knn._ids_vec_payload)
    bc2 = knn.cached_corpus_broadcast(base, ("id", "vec"), "ids_vec", knn._ids_vec_payload)
    assert bc1 is bc2 and len(knn._CORPUS_BC_CACHE) == 1
    # a semantically different corpus is a different entry, and the
    # bounded eviction unpersists instead of accumulating
    knn.cached_corpus_broadcast(
        base.filter(F.col("id") % 2 == 0), ("id", "vec"), "ids_vec", knn._ids_vec_payload
    )
    assert len(knn._CORPUS_BC_CACHE) == 2
    knn._CORPUS_BC_CACHE.clear()


def test_quant_variants_paths_identical(spark, monkeypatch):
    """asym/SQ4 inherit the same cost-based twin plans via
    quant_rerank — fused corpus-broadcast vs the codes scan (the bound
    moved below the corpus) must be row-identical for both grids."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_quant as BQ

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    mins, maxs = Q.train_minmax(base, "vec")
    mn, mx = Q.train_global_minmax(base, "vec")
    asym = rows_set(BQ.knn_asym_rerank(base, q, mins, maxs).collect())
    sq4 = rows_set(BQ.knn_sq4_rerank(base, q, mn, mx).collect())
    force_shard_plan(monkeypatch)
    assert asym == rows_set(BQ.knn_asym_rerank(base, q, mins, maxs).collect())
    assert sq4 == rows_set(BQ.knn_sq4_rerank(base, q, mn, mx).collect())


def test_sq8_fused_plan_shape(spark):
    """The fused corpus-broadcast plan's contract is physical: ONE
    exchange (the pinned query repartition), no window, no sort, no
    join — both phases live inside a single MapInArrow stage."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_sq8

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)
    res = bruteforce_sq8.knn_sq8_rerank(base, q, alpha)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan
    for op in ("Window", "SortMergeJoin", "BroadcastHashJoin", "Sort "):
        assert op not in plan, (op, plan)


@pytest.mark.parametrize("variant", ["sq8", "asym", "sq4"])
def test_quant_family_one_side_rule(spark, monkeypatch, variant):
    """SQ8, asym and SQ4 share one side rule,
    ``corpus_rows <= knn.bc_rows_bound(dim)``: with the bare row bound
    below the smoke corpus but the byte bound (CORPUS_BC_MAX_CELLS //
    dim) above it, each variant given ``dim`` must still take the fused
    corpus-broadcast plan — a single MapInArrow behind at most one
    exchange, no window, sort or join."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_quant as BQ
    from sigmod_2024_contest_spark.operators import bruteforce_sq8

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    rows = base.count()
    dim = len(base.select("vec").head()["vec"])
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 16)
    assert knn.CORPUS_BC_MAX_ROWS < rows <= knn.CORPUS_BC_MAX_CELLS // dim
    if variant == "sq8":
        res = bruteforce_sq8.knn_sq8_rerank(base, q, Q.train_alpha(base), dim=dim)
    elif variant == "asym":
        mins, maxs = Q.train_minmax(base, "vec")
        res = BQ.knn_asym_rerank(base, q, mins, maxs, dim=dim)
    else:
        mn, mx = Q.train_global_minmax(base, "vec")
        res = BQ.knn_sq4_rerank(base, q, mn, mx, dim=dim)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert plan.count("Exchange") <= 1, plan
    for op in ("Window", "SortMergeJoin", "BroadcastHashJoin", "Sort ", "Cogroup"):
        assert op not in plan, (op, plan)


def test_cached_corpus_broadcast_lru(spark):
    """A cache hit moves the entry to the eviction tail (LRU): cycling
    through max+1 distinct corpora must never evict the entry that was
    touched most recently."""
    from sigmod_2024_contest_spark.operators import knn

    knn._CORPUS_BC_CACHE.clear()
    bases = [
        spark.createDataFrame([(i, [float(i)])], "id long, vec array<double>")
        for i in range(knn._CORPUS_BC_CACHE_MAX + 1)
    ]
    build = lambda pdf: pdf["id"].to_numpy()  # noqa: E731
    handles = [
        knn.cached_corpus_broadcast(b, ("id", "vec"), "lru-test", build) for b in bases
    ]
    # cache is full with entries 1..MAX (entry 0 evicted); touch entry 1
    hit = knn.cached_corpus_broadcast(bases[1], ("id", "vec"), "lru-test", build)
    assert hit is handles[1]  # same broadcast object = cache hit
    # adding one more evicts the LRU entry — which must NOT be entry 1
    knn.cached_corpus_broadcast(bases[0], ("id", "vec"), "lru-test", build)
    still = knn.cached_corpus_broadcast(bases[1], ("id", "vec"), "lru-test", build)
    assert still is handles[1]
    knn._CORPUS_BC_CACHE.clear()


def test_exact_side_selection_ladder():
    """exact_plan_is_corpus_bc is the one broadcast bound, as a pure
    gate: corpus-broadcast iff ``corpus_rows <= bc_rows_bound(dim)``,
    whatever the query count. The bound is CORPUS_BC_MAX_ROWS when the
    width is unknown and the byte bound (CORPUS_BC_MAX_CELLS // dim)
    when it is known; the ignored perfbench arguments change nothing."""
    g = knn.exact_plan_is_corpus_bc
    assert knn.bc_rows_bound(None) == knn.CORPUS_BC_MAX_ROWS
    assert knn.bc_rows_bound(64) == knn.CORPUS_BC_MAX_CELLS // 64 == 625_000
    assert knn.bc_rows_bound(100) == 400_000
    # never below the row default, however wide the vectors
    assert knn.bc_rows_bound(1000) == knn.CORPUS_BC_MAX_ROWS
    for rows, dim in [
        (20_000, 100), (200_000, None), (200_001, None), (500_000, 64),
        (625_000, 64), (625_001, 64), (400_001, 100), (1_000_000, 100),
    ]:
        want = rows <= knn.bc_rows_bound(dim)
        for nq in (None, 8, 2_048, 100_000):
            for prepared in (False, True):
                assert g(rows, dim, nq, prepared) == want, (rows, dim, nq, prepared)
    # the stress shape: 500k × 64 with 2048 queries broadcasts the corpus
    assert g(500_000, 64, 2_048, False)
    assert not g(500_000, None, 2_048, False)
    assert not g(1_000_000, 100, 10_000_000, True)


def test_forced_scan_three_way_parity(spark, monkeypatch):
    """The packed query-broadcast scan path — ``knn_exact_scan`` through
    ``packed_topk_merge`` and the grouped range GEMMs — must produce
    exactly the corpus-broadcast plan's rows and the declarative
    oracle-twin's rows, at a corpus size ABOVE the (monkeypatched)
    broadcast bound so the side-choice gate genuinely routes to the
    scan."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    # drop the bounds so this corpus counts as "too big to broadcast"
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 16)
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_CELLS", 16)
    # the scan gate must now pick query-broadcast on its own
    rows = base.count()
    assert not knn.exact_plan_is_corpus_bc(rows, None, q.count(), False)
    auto_rows = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    forced_rows = rows_set(knn.knn_exact_scan(base, q).collect())
    # restore the real bound for the corpus-broadcast reference side
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 200_000)
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_CELLS", 40_000_000)
    bc_rows = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    expr_rows = rows_set(knn.knn_exact_expr(base, q).collect())
    assert forced_rows == expr_rows
    assert auto_rows == expr_rows
    assert bc_rows == expr_rows


def test_exact_side_follows_byte_bound(spark, monkeypatch):
    """The exact scan has no query-count gate: with the row default
    below the smoke corpus but the byte bound above it, an 8-query
    ``knn_exact_arrow`` call given ``dim`` broadcasts the corpus — one
    MapInArrow and no packed merge — and returns the scan's rows."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE).orderBy("query_id").limit(8)
    rows = base.count()
    dim = len(base.select("vec").head()["vec"])
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 16)
    assert knn.CORPUS_BC_MAX_ROWS < rows <= knn.CORPUS_BC_MAX_CELLS // dim
    res = knn.knn_exact_arrow(spark, base, q, corpus_rows=rows, dim=dim)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInArrow" not in plan, plan
    assert rows_set(res.collect()) == rows_set(knn.knn_exact_scan(base, q).collect())


def test_packed_topk_merge_matches_window(spark):
    """Unit pin for the r13 packed merge kernel: on packed candidate
    lists with planted equal distances across ids, the kernel's rows
    equal the row_number window over the exploded candidates — the
    (dist, id) tie-break included."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = []
    for qid in range(40):
        for part in range(4):  # 4 "scan tasks" per query
            ds = sorted(round(rng.uniform(0, 3), 1) for _ in range(6))  # many ties
            ids = rng.sample(range(part * 100, part * 100 + 50), 6)
            rows.append((qid, ids, [float(d) for d in ds]))
    packed = spark.createDataFrame(rows, knn.PACKED_CAND_SCHEMA)
    exploded = packed.select(
        "query_id", F.explode(F.arrays_zip("cids", "cdists")).alias("z")
    ).select(
        "query_id",
        F.col("z.cids").alias("id"),
        F.col("z.cdists").alias("dist"),
    )
    want = rows_set(knn._topk_window(exploded, 7).collect())
    got = rows_set(knn.packed_topk_merge(packed, 7).collect())
    assert got == want
