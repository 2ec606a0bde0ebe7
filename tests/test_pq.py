"""Product quantization: twin-parity, exact hash gate, recall gate,
and the compressed-pipeline invariants; plus the planted-duplicate tie
test shared by the whole embedding ANN family."""

from __future__ import annotations

import numpy as np
import pytest

from sigmod_2024_contest_spark import api
from sigmod_2024_contest_spark.operators import pq, similarity
from sigmod_2024_contest_spark.sources.tables import load_table

from conftest import SF_SMOKE, assert_matches_oracle, duck_con


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_pq_exact_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["knn_pq_rerank"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["knn_pq_rerank"])


def test_pq_recall_gate_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["recall_pq_vs_exact"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["recall_pq_vs_exact"])


def test_pq_train_twins_identical(spark):
    """The driver-side Lloyd and the distributed one-pass-per-iteration
    loop share init + update arithmetic; forcing the distributed path
    (local_rows=0 — the 100 TB route) must produce the same books."""
    emb = _emb(spark)
    local = pq.pq_train(emb)
    dist = pq.pq_train(emb, local_rows=0)
    assert local.shape == dist.shape == (pq.PQ_M, pq.PQ_KSUB, 64 // pq.PQ_M)
    assert np.allclose(local, dist), float(np.abs(local - dist).max())


def test_pq_train_twins_identical_noncontiguous_ids(spark):
    """r7 advice #3: the local twin seeded by sorted POSITION while the
    distributed twin filtered by id VALUE — they only agreed when
    vec_ids were contiguous from 0. Both now use the value rule, so a
    shifted/strided id space (7*id + 3: no id is a seed multiple the
    positional rule would pick) must still train identical codebooks
    through both paths."""
    from pyspark.sql import functions as F

    emb = (
        _emb(spark)
        .limit(512)
        .select((F.col("vec_id") * 7 + 3).alias("vec_id"), "embedding")
    )
    local = pq.pq_train(emb)
    dist = pq.pq_train(emb, local_rows=0)
    assert local.shape == dist.shape
    assert local.shape[1] > 0  # the value rule must still find seeds
    assert np.allclose(local, dist), float(np.abs(local - dist).max())


def test_pq_pool_all_equals_exact(spark):
    """pool=None re-ranks everything: the full codes -> ADC -> pool ->
    exact-rerank pipeline must reproduce the exact cosine top-k."""
    emb = _emb(spark)
    exact = {tuple(r) for r in similarity.ann_cosine_topk(emb).collect()}
    got = {tuple(r) for r in pq.knn_pq_rerank(emb).collect()}
    assert got == exact and len(got) > 0


def test_pq_approx_recall_above_bar(spark):
    """The production pool config holds the gate bar on the smoke
    embeddings (deterministic training -> deterministic recall)."""
    emb = _emb(spark)
    exact = {(r["query_id"], r["id"]) for r in similarity.ann_cosine_topk(emb).collect()}
    approx = {
        (r["query_id"], r["id"])
        for r in pq.knn_pq_rerank(emb, pool=pq.PQ_POOL).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.90, recall


def test_pq_codes_shape_and_range(spark):
    """Codes are m ints in [0, ksub) per vector — the n x m compressed
    replica that rides where floats can't."""
    emb = _emb(spark)
    books = pq.pq_train(emb)
    rows = pq.pq_codes(emb, books).collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert len(r["codes"]) == pq.PQ_M
        assert all(0 <= c < pq.PQ_KSUB for c in r["codes"])


def test_pq_finite_pool_cuts_candidates(spark):
    """A finite pool must change (degrade or equal) the result set —
    i.e. the ADC cut is real, not a masked full scan: with a pool of 1
    only the ADC-nearest candidate survives to re-rank, so per-query
    output shrinks to exactly 1 row."""
    emb = _emb(spark)
    got = pq.knn_pq_rerank(emb, pool=1).collect()
    per_q: dict = {}
    for r in got:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert per_q and all(v == 1 for v in per_q.values())


def test_ivfpq_exhaustive_equals_exact(spark):
    """nprobe=nlist + pool=None scores and exactly re-ranks every
    vector — the full cluster-route + residual-codes pipeline must
    reproduce the exact cosine top-k (the registry's hash gate)."""
    emb = _emb(spark)
    exact = {tuple(r) for r in similarity.ann_cosine_topk(emb).collect()}
    got = {
        tuple(r)
        for r in pq.knn_ivfpq_rerank(emb, nprobe=pq.IVFPQ_NLIST, pool=None).collect()
    }
    assert got == exact and len(got) > 0


def test_ivfpq_production_recall_above_bar(spark):
    emb = _emb(spark)
    exact = {(r["query_id"], r["id"]) for r in similarity.ann_cosine_topk(emb).collect()}
    approx = {(r["query_id"], r["id"]) for r in pq.knn_ivfpq_rerank(emb).collect()}
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.70, recall


def test_ivfpq_codes_carry_cell_partition_key(spark):
    """The index table is (vec_id, cell, codes): cell values live in
    [0, nlist), every vector is assigned, and codes stay in-range —
    the 100 TB layout contract (cell = partition key, codes = the
    compressed payload)."""
    emb = _emb(spark)
    _, books, codes = pq.ivfpq_index(emb)
    rows = codes.collect()
    assert len(rows) == emb.count()
    for r in rows[:50]:
        assert 0 <= r["cell"] < pq.IVFPQ_NLIST
        assert len(r["codes"]) == pq.PQ_M
        assert all(0 <= c < pq.PQ_KSUB for c in r["codes"])


def test_ivfpq_probe_restriction_is_real(spark):
    """nprobe=1 must restrict scoring to one cell per query: every
    returned candidate's cell is among the query's single probe —
    i.e. cluster pruning genuinely happens, not a masked full scan."""
    emb = _emb(spark)
    got = pq.knn_ivfpq_rerank(emb, nprobe=1, pool=None).collect()
    _, _, codes = pq.ivfpq_index(emb)
    cell_of = {r["vec_id"]: r["cell"] for r in codes.collect()}
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], set()).add(cell_of[r["id"]])
    # each query's results all come from exactly one cell
    assert by_q and all(len(cells) == 1 for cells in by_q.values())


def _planted_duplicates(spark, qid=0, n_dup=15, seed=7):
    """Smoke embeddings with ``n_dup`` non-query rows overwritten by
    query ``qid``'s vector: every duplicate ties at the query's best
    cosine, so its top-10 is exactly the 10 smallest duplicate ids under
    the (cos desc, id asc) rule. One more non-query row is all zeros:
    its cosine is undefined (the oracle's NULL, sorted last), so it must
    neither rank nor disturb the rows scored with it."""
    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.plans.workload import QUERY_STRIDE

    emb = _emb(spark)
    ids = np.array(sorted(r["vec_id"] for r in emb.select("vec_id").collect()))
    pool = ids[(ids % QUERY_STRIDE != 0) & (ids != qid)]
    picked = np.random.default_rng(seed).choice(pool, n_dup + 1, replace=False)
    planted, zero = sorted(int(x) for x in picked[:n_dup]), int(picked[n_dup])
    qvec = emb.filter(F.col("vec_id") == qid).first()["embedding"]
    lit = F.array(*[F.lit(float(x)) for x in qvec]).cast("array<float>")
    zeros = F.array(*[F.lit(0.0)] * len(qvec)).cast("array<float>")
    emb = emb.withColumn(
        "embedding",
        F.when(F.col("vec_id").isin(planted), lit)
        .when(F.col("vec_id") == zero, zeros)
        .otherwise(F.col("embedding")),
    )
    return emb, planted


PLANTED_OPS = {
    "ann_cosine_topk": lambda emb: similarity.ann_cosine_topk(emb),
    "ann_lsh_topk": lambda emb: similarity.ann_lsh_topk(emb),
    "ann_ivf_topk_exhaustive": lambda emb: similarity.ann_ivf_topk(
        emb, nprobe=similarity.N_LIST
    ),
    "knn_pq_rerank_all": lambda emb: pq.knn_pq_rerank(emb, pool=None),
    "knn_ivfpq_rerank_exhaustive": lambda emb: pq.knn_ivfpq_rerank(
        emb, nprobe=pq.IVFPQ_NLIST, pool=None
    ),
}


@pytest.mark.parametrize("op", sorted(PLANTED_OPS))
def test_planted_duplicates_rank_by_id(spark, op):
    """More than k exact ties: every operator must keep the k smallest
    ids, as the oracle's ``ORDER BY cos DESC, id ASC`` does — a bare
    distance cut keeps an arbitrary subset of the tied rows."""
    emb, planted = _planted_duplicates(spark)
    got = sorted(
        (r["rnk"], r["id"]) for r in PLANTED_OPS[op](emb).filter("query_id = 0").collect()
    )
    assert [i for _, i in got] == planted[:10], (got, planted)
    assert [r for r, _ in got] == list(range(1, 11))


def test_cosine_kernel_drops_zero_norm_rows():
    """A zero-norm row has no cosine (0/0): the shared scan-and-top-k
    body must drop that row alone. Left as NaN it fails the running
    merge's ``min < worst`` guard, and every query loses the whole
    chunk it sits in."""
    import pyarrow as pa

    from sigmod_2024_contest_spark.operators import knn

    rng = np.random.default_rng(3)
    n, dim, k = 300, 8, 10
    V = rng.standard_normal((n, dim))
    V[37] = 0.0
    ids = np.arange(n, dtype=np.int64)
    block = pa.table(
        {
            "id": ids,
            "category": np.zeros(n, dtype=np.int64),
            "ts": np.zeros(n, dtype=np.int64),
        }
    )
    qids = np.array([0, 10, 20, 30], dtype=np.int64)
    qm = np.column_stack([qids, np.zeros((len(qids), 4))]).astype(np.float64)
    out = pa.Table.from_batches(
        list(knn.packed_scan_topk(qm, V[qids], [block], lambda t: V, knn.COSINE, k))
    )
    got = dict(zip(out.column("query_id").to_pylist(), out.column("cids").to_pylist()))
    vn = np.linalg.norm(V, axis=1)
    for q in qids:
        keep = (ids != q) & (vn > 0)
        cos = (V[keep] @ V[q]) / (vn[keep] * vn[q])
        want = ids[keep][np.lexsort((ids[keep], -cos))][:k]
        assert got[int(q)] == want.tolist(), (q, got[int(q)], want)
