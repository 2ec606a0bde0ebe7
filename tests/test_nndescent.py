"""NN-Descent (B12) — structure, determinism, and convergence vs the
exact kNN-graph truth (reference: nndescent.hpp:17+, re-expressed as
an iterative DataFrame join)."""

from __future__ import annotations

from conftest import SF_SMOKE

from sigmod_2024_contest_spark.operators import evaluate, nndescent
from sigmod_2024_contest_spark.sources.tables import load_table


def _emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_nndescent_graph_shape_and_invariants(spark):
    g = nndescent.nndescent_graph(
        _emb(spark), vec_col="embedding", id_col="vec_id", local_rows=0
    )
    rows = g.collect()
    assert rows, "graph is empty"
    by_node: dict[int, list] = {}
    for r in rows:
        assert r.id != r.nbr, "self edge"
        assert r.dist >= 0.0
        by_node.setdefault(r.id, []).append((r.rnk, r.dist, r.nbr))
    for nid, es in by_node.items():
        es.sort()
        assert len(es) <= nndescent.NND_K
        assert [e[0] for e in es] == list(range(1, len(es) + 1)), nid
        # rnk order must be (dist, nbr) order
        assert es == sorted(es, key=lambda e: (e[1], e[2])), nid


def test_nndescent_deterministic(spark):
    emb = _emb(spark)
    a = sorted(map(tuple, nndescent.nndescent_graph(
        emb, vec_col="embedding", id_col="vec_id", local_rows=0).collect()))
    b = sorted(map(tuple, nndescent.nndescent_graph(
        emb, vec_col="embedding", id_col="vec_id", local_rows=0).collect()))
    assert a == b


def test_nndescent_converges_to_exact(spark):
    from pyspark.sql import functions as F

    emb = _emb(spark)
    g = nndescent.nndescent_graph(
        emb, vec_col="embedding", id_col="vec_id", local_rows=0
    )
    t = nndescent.exact_knn_graph(emb, vec_col="embedding", id_col="vec_id")
    as_res = lambda df: df.select(  # noqa: E731
        F.col("id").alias("query_id"), F.col("nbr").alias("id")
    )
    mean_ppm = (
        evaluate.recall_at_k(as_res(g), as_res(t))
        .agg({"recall_ppm": "avg"})
        .collect()[0][0]
    )
    assert mean_ppm >= 950_000, mean_ppm


def test_nndescent_edge_sizes(spark):
    """Degenerate inputs: empty, single node, and n ≤ k must not crash
    and must respect k ≤ n−1 — on BOTH kernels (local and the forced
    distributed loop)."""
    for local_rows in (nndescent.NND_LOCAL_ROWS, 0):
        for n in (0, 1, 3):
            rows = [(int(i), [float(i), float(i) + 0.5]) for i in range(n)]
            df = spark.createDataFrame(rows, "id long, vec array<double>")
            g = nndescent.nndescent_graph(df, k=10, iters=2, local_rows=local_rows)
            out = g.collect()
            if n <= 1:
                assert out == []
                continue
            per = {}
            for r in out:
                assert r.id != r.nbr
                per.setdefault(r.id, set()).add(r.nbr)
            # with n=3 and k capped to n-1=2, every node sees both others
            assert all(len(v) == n - 1 for v in per.values())
            assert len(per) == n


def test_nndescent_local_kernel_equals_exact_twin(spark):
    """The cost-based local kernel (default route at smoke scale) must
    equal exact_knn_graph BIT-FOR-BIT — same difference-einsum floats,
    same (dist, nbr) tie-break — so routing by size never changes any
    downstream result that consumes the graph's id sets or ranks."""
    emb = _emb(spark)
    local = sorted(
        map(tuple, nndescent.nndescent_graph(
            emb, vec_col="embedding", id_col="vec_id").collect())
    )
    exact = sorted(
        map(tuple, nndescent.exact_knn_graph(
            emb, vec_col="embedding", id_col="vec_id").collect())
    )
    assert local == exact
    assert len(local) > 0
