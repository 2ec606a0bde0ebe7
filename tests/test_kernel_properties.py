"""Property tests for the NumPy kernels under every brute-force path
(no Spark session — these pin the algebra, the oracle tests pin the
plans). Hypothesis drives adversarial shapes: boundary ties, masked
sentinels, chunk widths narrower than the kept set."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from sigmod_2024_contest_spark.functions import quantization as Q
from sigmod_2024_contest_spark.operators.knn import running_topk_merge


@st.composite
def merge_streams(draw):
    nq = draw(st.integers(1, 4))
    keep = draw(st.integers(1, 8))
    n_chunks = draw(st.integers(1, 5))
    chunks = []
    for _ in range(n_chunks):
        w = draw(st.integers(1, 12))
        # small value range → dense ties, the adversarial regime
        d = draw(
            st.lists(
                st.lists(st.integers(0, 6), min_size=w, max_size=w),
                min_size=nq,
                max_size=nq,
            )
        )
        chunks.append(np.asarray(d, dtype=np.int64))
    return nq, keep, chunks


@given(merge_streams())
@settings(max_examples=200, deadline=None)
def test_running_topk_merge_keeps_smallest_values(stream):
    """After any chunk sequence (including guard-skipped chunks), the
    kept distance multiset per query equals the true top-keep distance
    multiset of everything seen — the dist-level exactness the merge
    guarantees (id assignment inside a tie group is resolved later by
    the PAD + lexsort emit)."""
    nq, keep, chunks = stream
    best_d = np.full((nq, 0), np.int64(1) << 62, dtype=np.int64)
    best_i = np.full((nq, 0), -1, dtype=np.int64)
    seen = [[] for _ in range(nq)]
    next_id = 0
    for d in chunks:
        w = d.shape[1]
        ids = np.arange(next_id, next_id + w, dtype=np.int64)
        next_id += w
        best_d, best_i = running_topk_merge(best_d, best_i, d.copy(), ids, keep)
        for q in range(nq):
            seen[q].extend(d[q].tolist())
    for q in range(nq):
        want = np.sort(np.asarray(seen[q], dtype=np.int64))[:keep]
        got = np.sort(best_d[q])[: len(want)]
        np.testing.assert_array_equal(got, want)


@given(merge_streams())
@settings(max_examples=100, deadline=None)
def test_running_topk_merge_ids_consistent(stream):
    """Every kept (dist, id) pair must be a pair that actually occurred
    — the merge may choose among equal-dist rows but can never invent
    or cross-wire an id."""
    nq, keep, chunks = stream
    best_d = np.full((nq, 0), np.int64(1) << 62, dtype=np.int64)
    best_i = np.full((nq, 0), -1, dtype=np.int64)
    occurred = [set() for _ in range(nq)]
    next_id = 0
    for d in chunks:
        w = d.shape[1]
        ids = np.arange(next_id, next_id + w, dtype=np.int64)
        next_id += w
        best_d, best_i = running_topk_merge(best_d, best_i, d.copy(), ids, keep)
        for q in range(nq):
            occurred[q].update(zip(d[q].tolist(), ids.tolist()))
    for q in range(nq):
        for dist, i in zip(best_d[q].tolist(), best_i[q].tolist()):
            assert (dist, i) in occurred[q]


@given(
    st.integers(1, 6),
    st.integers(1, 8),
    st.integers(2, 120),
    st.integers(0, 2**32),
)
@settings(max_examples=50, deadline=None)
def test_code_l2_sqr_blas_path_is_exact_sq8(nq, nb, dim, seed):
    """The float32 BLAS path must reproduce the int64 ground truth
    bit-for-bit on the SQ8 grid ([-127, 127])."""
    rng = np.random.default_rng(seed)
    q = rng.integers(-127, 128, size=(nq, dim)).astype(np.int16)
    b = rng.integers(-127, 128, size=(nb, dim)).astype(np.int16)
    got = Q.code_l2_sqr_np(q, b)
    q64, b64 = q.astype(np.int64), b.astype(np.int64)
    want = ((q64[:, None, :] - b64[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_array_equal(got, want)
    assert got.dtype == np.int64


@given(st.integers(0, 2**32))
@settings(max_examples=25, deadline=None)
def test_code_l2_sqr_blas_path_is_exact_asym_grid(seed):
    """Same exactness on the asymmetric fixed-point grid (values up to
    255·256+128 — the float64 dgemm regime)."""
    rng = np.random.default_rng(seed)
    q = rng.integers(0, 255 * 256 + 1, size=(3, 100)).astype(np.int64)
    b = rng.integers(0, 255 * 256 + 1, size=(4, 100)).astype(np.int64)
    got = Q.code_l2_sqr_np(q, b)
    want = ((q[:, None, :] - b[None, :, :]) ** 2).sum(axis=2)
    np.testing.assert_array_equal(got, want)


@given(st.integers(0, 10_000))
@settings(max_examples=25, deadline=None)
def test_sliced_predicate_topk_equals_masked(seed):
    """The predicate-sliced scan (sorted-replica binary search, S3/F2-F4)
    must keep what GEMM-then-mask keeps, for all 4 query types, after
    the (dist, id) resolve. Both kernels share the same documented
    boundary-tie contract — the kept set is exact up to
    ``keep − out_k`` duplicates at the out_k-th distance (production
    slack is MERGE_PAD=64; this test draws dense integer ties, so the
    id comparison is asserted only for queries within that bound;
    distances must match for ALL queries regardless)."""
    from sigmod_2024_contest_spark.operators import knn

    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 400))
    nq = int(rng.integers(1, 40))
    dim = int(rng.integers(2, 16))
    keep = int(rng.integers(2, 24))
    out_k = max(1, keep - 4)
    # small integer grid => dense distance ties
    codes = rng.integers(-4, 5, (n, dim)).astype(np.int16)
    qc = rng.integers(-4, 5, (nq, dim)).astype(np.int16)
    cats = rng.integers(0, 4, n).astype(np.float64)
    ts = np.round(rng.random(n), 1)
    ids = rng.permutation(np.arange(5, 5 + n)).astype(np.int64)
    qt = rng.integers(0, 4, nq).astype(np.int64)
    vv = np.where(np.isin(qt, (1, 3)), rng.integers(0, 5, nq), -1).astype(np.float64)
    lo = np.round(rng.random(nq), 1)
    hi = np.minimum(lo + np.round(rng.random(nq) * 0.5, 1), 1.0)
    ll = np.where(np.isin(qt, (2, 3)), lo, -1.0)
    rr = np.where(np.isin(qt, (2, 3)), hi, -1.0)
    big = np.int64(1) << 62
    qpred = (qt, vv, ll, rr)

    bd1 = np.full((nq, keep), big, dtype=np.int64)
    bi1 = np.full((nq, keep), -1, dtype=np.int64)
    knn.blocked_masked_topk(
        bd1, bi1, qpred, ids, cats, ts,
        lambda qs, qe, cs, ce: Q.code_l2_sqr_np(qc[qs:qe], codes[cs:ce]), keep, big,
    )
    d1, i1, f1 = knn.resolve_topk_rows(bd1, bi1, out_k, big)

    bd2 = np.full((nq, keep), big, dtype=np.int64)
    bi2 = np.full((nq, keep), -1, dtype=np.int64)
    knn.sliced_predicate_topk(
        bd2, bi2, qpred, ids, cats, ts, codes,
        lambda qsel, sub, rows: Q.code_l2_sqr_np(qc[qsel], sub), keep,
    )
    d2, i2, f2 = knn.resolve_topk_rows(bd2, bi2, out_k, big)

    assert np.array_equal(f1, f2)
    assert np.array_equal(d1[f1], d2[f2])
    # ids: exact where the TRUE boundary-tie multiplicity (over all
    # admissible rows) fits the slack — and there, both kernels must
    # equal the brute-force truth, not merely each other
    slack = keep - out_k
    full = Q.code_l2_sqr_np(qc, codes)  # nq × n, exact int64
    for qi in range(nq):
        fin = f1[qi]
        if not fin.any():
            continue
        t = qt[qi]
        ok = np.ones(n, dtype=bool)
        if t in (1, 3):
            ok &= cats == vv[qi]
        if t in (2, 3):
            ok &= (ts >= ll[qi]) & (ts <= rr[qi])
        dq, iq = full[qi][ok], ids[ok]
        kth = d1[qi][fin][-1]
        if int((dq == kth).sum()) <= slack:
            o = np.lexsort((iq, dq))[: int(fin.sum())]
            assert np.array_equal(i1[qi][fin], iq[o]), qi
            assert np.array_equal(i2[qi][fin], iq[o]), qi


def test_sq8_arrow_path_end_to_end_tiny(spark):
    """Signature-drift canary (r5 post-mortem): one REAL Arrow path —
    ``knn_sq8_rerank`` fused AND forced-scan — end-to-end over a tiny
    inline corpus, checked against a NumPy brute-force truth. A kernel
    contract change that misses a call site fails HERE in seconds
    instead of in 23 downstream Spark tests."""
    from sigmod_2024_contest_spark.operators import bruteforce_sq8

    rng = np.random.default_rng(7)
    n, nq, dim, k = 60, 8, 6, 5
    vecs = rng.random((n, dim)).round(3)
    cats = rng.integers(0, 3, n)
    ts = rng.random(n).round(2)
    base = spark.createDataFrame(
        [
            (int(i), float(cats[i]), float(ts[i]), [float(x) for x in vecs[i]])
            for i in range(n)
        ],
        "id long, category double, ts double, vec array<double>",
    )
    qt = np.array([0, 1, 2, 3, 0, 1, 2, 3])
    qv = rng.random((nq, dim)).round(3)
    vvq = np.where(np.isin(qt, (1, 3)), rng.integers(0, 3, nq), -1).astype(float)
    llq = np.where(np.isin(qt, (2, 3)), 0.2, -1.0)
    rrq = np.where(np.isin(qt, (2, 3)), 0.8, -1.0)
    q = spark.createDataFrame(
        [
            (int(i), int(qt[i]), float(vvq[i]), float(llq[i]), float(rrq[i]),
             [float(x) for x in qv[i]])
            for i in range(nq)
        ],
        "query_id long, query_type long, v double, l double, r double, qvec array<double>",
    )
    alpha = Q.train_alpha(base)
    fused = sorted(map(tuple, bruteforce_sq8.knn_sq8_rerank(base, q, alpha, k=k).collect()))
    scan = sorted(
        map(tuple, bruteforce_sq8.knn_sq8_rerank(base, q, alpha, k=k, force_scan=True).collect())
    )
    # NumPy truth: exact float64 L2 with the 4-type predicate
    want = []
    for qi in range(nq):
        ok = np.ones(n, dtype=bool)
        if qt[qi] in (1, 3):
            ok &= cats == vvq[qi]
        if qt[qi] in (2, 3):
            ok &= (ts >= llq[qi]) & (ts <= rrq[qi])
        d = ((vecs[ok] - qv[qi]) ** 2).sum(axis=1)
        ids_ok = np.flatnonzero(ok)
        o = np.lexsort((ids_ok, d))[:k]
        for rnk, j in enumerate(o, 1):
            want.append((qi, int(ids_ok[j]), rnk))
    assert fused == scan == sorted(want)


def test_codes_weighted_digest_batch_uniform_and_ragged():
    """The codes digest kernel over array<tinyint> rows: uniform-width
    batches take the single-GEMV path, ragged batches the per-row
    fallback — both must equal the obvious per-row fold, including
    negative int8 values."""
    import numpy as np
    import pandas as pd

    from sigmod_2024_contest_spark.operators.engine import _codes_weighted_digest_batch

    def ref(a):
        a = np.asarray(a, dtype=np.int64)
        return int((a * np.arange(1, a.size + 1)).sum())

    uni = [np.array([1, -2, 127], np.int8), np.array([-128, 0, 5], np.int8)]
    got = _codes_weighted_digest_batch(pd.Series(uni)).tolist()
    assert got == [ref(a) for a in uni]

    ragged = [np.array([7], np.int8), np.array([-1, -1, -1, -1], np.int8),
              np.array([], np.int8)]
    got = _codes_weighted_digest_batch(pd.Series(ragged)).tolist()
    assert got == [ref(a) for a in ragged]
    assert _codes_weighted_digest_batch(pd.Series([], dtype=object)).tolist() == []
