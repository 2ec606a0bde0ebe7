"""Exact filtered kNN vs the DuckDB oracle (reference semantics:
utils.h:80-158 brute force, searcher.hpp:29-43 predicates)."""

from __future__ import annotations

import pytest
from conftest import SF_SMOKE, assert_matches_oracle, duck_con, rows_set

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
    chunked side is pinned to the query-broadcast scan, so the
    multi-batch branch of chunked_broadcast_scan (localCheckpoint,
    unpersist, union) really runs."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    whole = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    chunked = rows_set(
        knn.knn_exact_arrow(spark, base, q, batch_rows=7, force_query_broadcast=True).collect()
    )
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


def test_sq8_paths_identical(spark):
    """knn_sq8_rerank's two physical plans — the fused corpus-broadcast
    kernel (small base) and the query-broadcast codes scan + pool
    window + K12 rerank (the 100 TB shape) — must emit identical rows,
    and both must match the fully-declarative variant."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_sq8

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)
    fused = rows_set(bruteforce_sq8.knn_sq8_rerank(base, q, alpha).collect())
    scan = rows_set(
        bruteforce_sq8.knn_sq8_rerank(base, q, alpha, force_scan=True).collect()
    )
    expr = rows_set(bruteforce_sq8.knn_sq8_rerank_expr(base, q, alpha).collect())
    assert fused == scan == expr


def test_exact_rerank_pooled_paths_identical(spark):
    """exact_rerank_pooled's cogroup kernel over the broadcast corpus
    vs its window pool + candidates-only join fallback: same candidate
    rows in, identical final rows out."""
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
    fused = sorted(
        map(tuple, knn.exact_rerank_pooled(base, q, cands, k=5, pool_k=12, corpus_rows=1).collect())
    )
    windowed = sorted(
        map(
            tuple,
            knn.exact_rerank_pooled(base, q, cands, k=5, pool_k=12, corpus_rows=1 << 40).collect(),
        )
    )
    assert fused == windowed
    assert len(fused) == q.count() * 5


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


def test_quant_variants_paths_identical(spark):
    """asym/SQ4 inherit the same cost-based twin plans via
    quant_rerank — fused corpus-broadcast vs forced codes scan must
    be row-identical for both grids."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_quant as BQ

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    mins, maxs = Q.train_minmax(base, "vec")
    assert rows_set(BQ.knn_asym_rerank(base, q, mins, maxs).collect()) == rows_set(
        BQ.knn_asym_rerank(base, q, mins, maxs, force_scan=True).collect()
    )
    mn, mx = Q.train_global_minmax(base, "vec")
    assert rows_set(BQ.knn_sq4_rerank(base, q, mn, mx).collect()) == rows_set(
        BQ.knn_sq4_rerank(base, q, mn, mx, force_scan=True).collect()
    )


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
    """exact_plan_is_corpus_bc is the scan's whole side-choice, as a
    pure gate — pins the r6 measured crossovers: a prepared broadcast
    always rides; the unconditional row bound is nq-independent; the
    byte-extended region (float-corpus ship ≈ 256 MB at 500k×64)
    requires a known amortizing query count, and unknown nq falls to
    the 100 TB-safe scan."""
    g = knn.exact_plan_is_corpus_bc
    # prepared broadcast: already paid, any size/nq
    assert g(10_000_000, 64, None, True)
    # unconditional row bound (contest: 20k corpus, 100k queries)
    assert g(20_000, 100, 100_000, False)
    assert g(knn.CORPUS_BC_MAX_ROWS, None, None, False)
    # byte-extended region: 500k×64 fits the cells cap...
    assert 500_000 <= knn.bc_rows_bound(64)
    #   ...but 2048 queries can't amortize the ship (measured 47 s vs
    #   5.6 s scan) and unknown nq must not gamble
    assert not g(500_000, 64, 2_048, False)
    assert not g(500_000, 64, None, False)
    #   a contest-sized batch does amortize it
    assert g(500_000, 64, knn.CORPUS_BC_EXT_MIN_NQ, False)
    # above the cells cap: never, regardless of nq
    assert not g(1_000_000, 100, 10_000_000, False)


def test_forced_scan_three_way_parity(spark, monkeypatch):
    """r13 verdict item 4: the packed query-broadcast scan path —
    ``force_query_broadcast=True`` through ``packed_topk_merge`` and
    the grouped range GEMMs — must produce exactly the corpus-broadcast
    plan's rows and the declarative oracle-twin's rows, at a corpus
    size ABOVE the (monkeypatched) broadcast bound so the side-choice
    gate genuinely routes to the scan."""
    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    # drop the bounds so this corpus counts as "too big to broadcast"
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 16)
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_CELLS", 16)
    # the scan gate must now pick query-broadcast on its own
    rows = base.count()
    assert not knn.exact_plan_is_corpus_bc(rows, None, q.count(), False)
    auto_rows = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    forced_rows = rows_set(
        knn.knn_exact_arrow(spark, base, q, force_query_broadcast=True).collect()
    )
    # restore the real bound for the corpus-broadcast reference side
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_ROWS", 200_000)
    monkeypatch.setattr(knn, "CORPUS_BC_MAX_CELLS", 40_000_000)
    bc_rows = rows_set(knn.knn_exact_arrow(spark, base, q).collect())
    expr_rows = rows_set(knn.knn_exact_expr(base, q).collect())
    assert forced_rows == expr_rows
    assert auto_rows == expr_rows
    assert bc_rows == expr_rows


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
