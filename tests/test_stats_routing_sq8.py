"""Stats, routing, SplitInterval and the SQ8 two-phase pipeline vs
DuckDB oracles (reference hybrid_graph.cpp:91-230, sq8_sym_quant.hpp)."""

from __future__ import annotations

import numpy as np
from conftest import SF_SMOKE, assert_matches_oracle, duck_con

from sigmod_2024_contest_spark import api


def _check(spark, name):
    fn = api.queries()[name]
    sql = api.oracle_sql()[name]
    assert_matches_oracle(fn(spark, SF_SMOKE), duck_con(SF_SMOKE), sql)


def test_category_counts(spark):
    _check(spark, "stats_category_counts")


def test_selectivity(spark):
    _check(spark, "selectivity")


def test_route_plan(spark):
    _check(spark, "route_plan")


def _brute_selectivity(cat, ts, qt, v, l, r):
    """Per-query predicate counts by direct evaluation over the rows."""
    out = []
    for t, vv, ll, rr in zip(qt, v, l, r):
        in_cat = cat == vv
        in_ts = (ts >= ll) & (ts <= rr)
        m = {0: np.ones_like(in_cat), 1: in_cat, 2: in_ts, 3: in_cat & in_ts}[int(t)]
        out.append(int(m.sum()))
    return out


def test_selectivity_kernel_matches_brute_force_counts(spark):
    """The binary-search kernel equals direct predicate counts over a
    crafted corpus, on the binned (ts_bins=1000) and the exact
    (ts_bins=None) stats table: every query type, a category absent
    from the corpus, l > r, bounds exactly on bin edges, r beyond the
    last edge, and an empty query frame."""
    import pandas as pd

    from sigmod_2024_contest_spark.operators import stats

    rng = np.random.default_rng(11)
    n = 4000
    cat = rng.choice([0, 1, 2, 5], size=n, p=[0.5, 0.3, 0.15, 0.05]).astype(np.int32)
    ts = rng.random(n)
    ts[:200] = rng.integers(0, 1000, 200) / 1000.0  # rows sitting on bin edges
    base = spark.createDataFrame(
        pd.DataFrame({"id": np.arange(n, dtype=np.int64), "category": cat, "ts": ts,
                      "vec": [[0.0, 0.0]] * n}),
        "id long, category int, ts double, vec array<float>",
    )
    for bins in (1000, None):
        tsb = np.floor(ts * bins) / float(bins) if bins else ts
        edge_l, edge_r = np.sort(tsb[:200])[[20, 150]]
        rows = [
            (0, -1, -1.0, -1.0),
            (1, 0, -1.0, -1.0), (1, 5, -1.0, -1.0), (1, 9, -1.0, -1.0),  # 9: absent
            (2, -1, 0.2, 0.7), (2, -1, 0.7, 0.2),  # l > r
            (2, -1, edge_l, edge_r), (2, -1, edge_r, edge_r),  # on bin edges
            (2, -1, 0.5, 3.0), (2, -1, -1.0, 3.0),  # r beyond the last edge
            (3, 1, 0.1, 0.6), (3, 2, edge_l, edge_r), (3, 0, 0.9, 2.0),
            (3, 9, 0.0, 1.0), (3, 1, 0.6, 0.1),
        ]
        qt, v, l, r = (np.array(c) for c in zip(*rows))
        queries = spark.createDataFrame(
            [(i, int(t), int(vv), float(ll), float(rr)) for i, (t, vv, ll, rr) in enumerate(rows)],
            "query_id long, query_type int, v int, l double, r double",
        )
        sel = stats.selectivity(base, queries, ts_bins=bins)
        assert sel.columns == queries.columns + ["sel_num", "n_total"]
        got = {x["query_id"]: (x["sel_num"], x["n_total"]) for x in sel.collect()}
        want = _brute_selectivity(cat, tsb, qt, v, l, r)
        assert got == {i: (w, n) for i, w in enumerate(want)}, (bins, got, want)
        assert stats.selectivity(base, queries.limit(0), ts_bins=bins).count() == 0


def test_split_interval(spark):
    _check(spark, "split_interval")


def test_sq8_encode(spark):
    _check(spark, "sq8_encode")


def test_knn_sq8_rerank(spark):
    _check(spark, "knn_sq8_rerank")


def test_sq8_recall_vs_exact(spark):
    """The quantized+rerank path must stay near the exact result
    (reference operates at recall@100 in the 80-100 band; with a
    140-deep refine at this scale we expect ~1.0)."""
    from sigmod_2024_contest_spark.operators import bruteforce_sq8, knn
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources.tables import base_vectors

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    exact = {(r.query_id, r.id) for r in knn.knn_exact_expr(base, q).collect()}
    alpha = Q.train_alpha(base)
    approx = {(r.query_id, r.id) for r in bruteforce_sq8.knn_sq8_rerank(base, q, alpha).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.99, recall


def test_sq4_encode_oracle(spark):
    from conftest import SF_SMOKE, assert_matches_oracle, duck_con

    from sigmod_2024_contest_spark import api

    con = duck_con(SF_SMOKE)
    df = api.queries()["sq4_encode"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["sq4_encode"])


def test_sq4_roundtrip_error_bounded(spark):
    """Decoded SQ4 values must sit within half a quantization step."""
    import numpy as np

    from conftest import SF_SMOKE

    from sigmod_2024_contest_spark import api
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    mn, mx = Q.train_global_minmax(emb, "embedding")
    rows = api._sq4_encode(spark, SF_SMOKE).orderBy("vec_id").limit(20).collect()
    orig = {r["vec_id"]: r["embedding"] for r in emb.orderBy("vec_id").limit(20).collect()}
    step = (mx - mn) / 15.0
    for r in rows:
        vec = np.asarray(orig[r["vec_id"]], dtype=np.float64)
        codes = np.asarray(r["codes"], dtype=np.int64)
        nibs = np.empty(codes.size * 2, dtype=np.int64)
        nibs[0::2] = codes % 16
        nibs[1::2] = codes // 16
        dec = mn + nibs[: vec.size] * step
        clamped = np.clip(vec, mn, mx)
        assert np.abs(dec - clamped).max() <= step / 2 + 1e-9


def test_sq8_arrow_matches_expr_path(spark):
    """The Arrow int-GEMM path and the declarative expression path are
    two physical strategies for the same logical op — identical rows."""
    from conftest import SF_SMOKE

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_sq8
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources.tables import base_vectors

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)
    alpha = Q.train_alpha(base)
    fast = sorted(map(tuple, bruteforce_sq8.knn_sq8_rerank(base, q, alpha).collect()))
    slow = sorted(map(tuple, bruteforce_sq8.knn_sq8_rerank_expr(base, q, alpha).collect()))
    assert fast == slow


def test_sq8_chunked_batches_match(spark, monkeypatch):
    """Multi-batch query broadcast (batch_rows < nq) through the
    running-top-k scan kernel must equal the single-batch result — the
    regression class where a per-chunk emit degenerates to all pairs.
    The whole batch is answered first; the chunked side then runs with
    the broadcast bound below the corpus (force_shard_plan), so the
    multi-batch branch of chunked_broadcast_scan runs for every grid:
    SQ8, asym and SQ4."""
    from conftest import SF_SMOKE, force_shard_plan

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import bruteforce_quant, bruteforce_sq8
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources.tables import base_vectors

    base = base_vectors(spark, SF_SMOKE)
    q = workload.queries_df(spark, SF_SMOKE)

    def both(fn, *args):
        whole = sorted(map(tuple, fn(base, q, *args).collect()))
        with monkeypatch.context() as m:
            force_shard_plan(m)
            chunked = sorted(map(tuple, fn(base, q, *args, batch_rows=7).collect()))
        return whole, chunked

    whole, chunked = both(bruteforce_sq8.knn_sq8_rerank, Q.train_alpha(base))
    assert whole == chunked
    whole, chunked = both(bruteforce_quant.knn_asym_rerank, *Q.train_minmax(base, "vec"))
    assert whole == chunked
    whole, chunked = both(bruteforce_quant.knn_sq4_rerank, *Q.train_global_minmax(base, "vec"))
    assert whole == chunked


def test_knn_asym_rerank_oracle(spark):
    """D4: asymmetric decode-on-the-fly cut (fixed-point) + exact
    re-rank matches the DuckDB mirror bit-for-bit."""
    _check(spark, "knn_asym_rerank")


def test_knn_sq4_rerank_oracle(spark):
    """D5: integer nibble-distance cut + exact re-rank vs oracle."""
    _check(spark, "knn_sq4_rerank")
