"""Seeded workload inputs, the independent NumPy oracle, and result checks.

Every corpus, query batch and ingest micro-batch is drawn from one
``numpy.random.default_rng(seed)`` stream and written in the contest
``.bin`` layout, so the data the engine decodes is byte-identical at any
cpu or partition count. The oracle is a float64 brute force over the
same float32 values the engine decodes, ranked by ``(dist, id)``, with
the four predicates of the contest (type 0: none; 1: category == v;
2: l <= ts <= r; 3: both, bounds inclusive).
"""

from __future__ import annotations

import hashlib
import os
import struct

import numpy as np

K = 100
# ids of ingested rows start here, far above any base id
INGEST_ID_OFFSET = 1 << 32
INGEST_ID_STRIDE = 1 << 24
# candidates kept from the float64 GEMM screen before the exact re-score
ORACLE_SLACK = 32


def category_probs(n_cats: int, skew: tuple[float, ...]) -> np.ndarray:
    """``skew`` gives the share of the first categories; the rest of the
    mass spreads evenly over the remaining ones."""
    p = np.empty(n_cats)
    p[: len(skew)] = skew
    rest = n_cats - len(skew)
    if rest:
        p[len(skew):] = (1.0 - sum(skew)) / rest
    return p / p.sum()


class Rows:
    """Base or ingest rows as the engine sees them after decode."""

    def __init__(self, ids: np.ndarray, cats: np.ndarray, ts: np.ndarray, vecs: np.ndarray):
        self.ids = ids.astype(np.int64)
        self.cats = cats.astype(np.float32)
        self.ts = ts.astype(np.float32)
        self.vecs = vecs.astype(np.float32)

    def __len__(self) -> int:
        return len(self.ids)

    @staticmethod
    def concat(parts: list["Rows"]) -> "Rows":
        return Rows(
            np.concatenate([p.ids for p in parts]),
            np.concatenate([p.cats for p in parts]),
            np.concatenate([p.ts for p in parts]),
            np.concatenate([p.vecs for p in parts]),
        )


class Queries:
    def __init__(self, qtype, v, l, r, vecs):
        self.qtype = qtype.astype(np.float32)
        self.v = v.astype(np.float32)
        self.l = l.astype(np.float32)
        self.r = r.astype(np.float32)
        self.vecs = vecs.astype(np.float32)

    def __len__(self) -> int:
        return len(self.qtype)


def exact_categories(rng, n: int, probs: np.ndarray) -> np.ndarray:
    """Category labels with exact per-category counts (largest remainder),
    shuffled: the shard plan and the compaction trigger do not drift with
    the seed."""
    raw = probs * n
    counts = np.floor(raw).astype(np.int64)
    counts[np.argsort(counts - raw)[: n - counts.sum()]] += 1
    cats = np.repeat(np.arange(len(probs)), counts)
    rng.shuffle(cats)
    return cats


class Space:
    """Vectors with a low intrinsic dimension, like real embeddings: a
    Gaussian mixture in a ``latent``-dimensional space, linearly embedded
    in ``dim`` dimensions, plus a little isotropic noise."""

    def __init__(self, rng, dim: int, latent: int = 16, clusters: int = 48):
        self.dim = dim
        self.centers = 2.0 * rng.standard_normal((clusters, latent))
        self.proj = rng.standard_normal((latent, dim)) / np.sqrt(latent)

    def sample(self, rng, n: int) -> np.ndarray:
        comp = rng.integers(0, len(self.centers), n)
        z = self.centers[comp] + 0.6 * rng.standard_normal((n, self.centers.shape[1]))
        return z @ self.proj + 0.05 * rng.standard_normal((n, self.dim))


def make_rows(rng, n, space, probs=None, ts_lo=0.0, ts_hi=1.0, id0=0, cats=None) -> Rows:
    vecs = space.sample(rng, n)
    if cats is None:
        cats = exact_categories(rng, n, probs)
    ts = ts_lo + (ts_hi - ts_lo) * rng.random(n)
    return Rows(np.arange(n, dtype=np.int64) + id0, cats, ts, vecs)


def make_queries(rng, n, space, probs, w_lo=0.02, w_hi=0.32) -> Queries:
    """Stratified mix: exactly n/4 queries of each type and exact category
    counts (shuffled), so the route mix does not drift with the seed."""
    qtype = np.resize(np.arange(4), n)
    rng.shuffle(qtype)
    v = exact_categories(rng, n, probs)
    w = rng.uniform(w_lo, w_hi, n)
    l = rng.random(n) * (1.0 - w)
    vecs = space.sample(rng, n)
    no_cat = (qtype == 0) | (qtype == 2)
    no_rng = (qtype == 0) | (qtype == 1)
    v = np.where(no_cat, -1, v)
    l = np.where(no_rng, -1.0, l)
    r = np.where(no_rng, -1.0, l + w)
    return Queries(qtype, v, l, r, vecs)


# The writers mirror bin_format's on purpose: the benchmark's inputs must
# not change when the program under test changes.
def write_base(path: str, rows: Rows) -> None:
    n, dim = rows.vecs.shape
    buf = np.empty((n, dim + 2), dtype="<f4")
    buf[:, 0] = rows.cats
    buf[:, 1] = rows.ts
    buf[:, 2:] = rows.vecs
    with open(path, "wb") as f:
        f.write(struct.pack("<I", n))
        f.write(buf.tobytes())


def write_queries(path: str, q: Queries) -> None:
    n, dim = q.vecs.shape
    buf = np.empty((n, dim + 4), dtype="<f4")
    buf[:, 0] = q.qtype
    buf[:, 1] = q.v
    buf[:, 2] = q.l
    buf[:, 3] = q.r
    buf[:, 4:] = q.vecs
    with open(path, "wb") as f:
        f.write(struct.pack("<I", n))
        f.write(buf.tobytes())


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# ---------------------------------------------------------------------------
# Oracle
# ---------------------------------------------------------------------------


def predicate_masks(q: Queries, sel: slice, rows: Rows) -> np.ndarray:
    """(queries in ``sel``) × rows admissibility matrix."""
    t = q.qtype[sel][:, None]
    cat_ok = rows.cats[None, :] == q.v[sel][:, None]
    ts = rows.ts.astype(np.float64)[None, :]
    ts_ok = (ts >= q.l[sel].astype(np.float64)[:, None]) & (ts <= q.r[sel].astype(np.float64)[:, None])
    return (
        (t == 0)
        | ((t == 1) & cat_ok)
        | ((t == 2) & ts_ok)
        | ((t == 3) & cat_ok & ts_ok)
    )


def oracle(q: Queries, rows: Rows, k: int = K, block: int = 256) -> list[np.ndarray]:
    """Per query, the ids of its k nearest admissible rows in (dist, id)
    order. A float64 GEMM screens candidates; the kept ones are re-scored
    as an explicit float64 sum of squared differences."""
    b = rows.vecs.astype(np.float64)
    bb = np.einsum("ij,ij->i", b, b)
    keep = min(len(rows), k + ORACLE_SLACK)
    out: list[np.ndarray] = []
    for s in range(0, len(q), block):
        sel = slice(s, s + block)
        qv = q.vecs[sel].astype(np.float64)
        d = (np.einsum("ij,ij->i", qv, qv)[:, None] + bb[None, :]) - 2.0 * (qv @ b.T)
        adm = predicate_masks(q, sel, rows)
        d[~adm] = np.inf
        cand = np.argpartition(d, keep - 1, axis=1)[:, :keep]
        diff = b[cand] - qv[:, None, :]
        exact = np.sum(diff * diff, axis=2)
        exact[~np.take_along_axis(adm, cand, axis=1)] = np.inf
        for j in range(len(qv)):
            order = np.lexsort((rows.ids[cand[j]], exact[j]))
            order = order[np.isfinite(exact[j][order])][:k]
            out.append(rows.ids[cand[j][order]])
    return out


def load_or_compute_oracle(cache_dir: str, key: str, fn) -> list[np.ndarray]:
    """Oracle answers cached on disk per (workload, seed, inputs digest)."""
    path = os.path.join(cache_dir, f"oracle-{key}.npz")
    if os.path.exists(path):
        with np.load(path) as z:
            lens, flat = z["lens"], z["flat"]
        return np.split(flat, np.cumsum(lens)[:-1]) if len(lens) else []
    res = fn()
    lens = np.array([len(a) for a in res], dtype=np.int64)
    flat = np.concatenate(res) if res else np.empty(0, dtype=np.int64)
    tmp = path + f".tmp{os.getpid()}.npz"
    np.savez(tmp, lens=lens, flat=flat)
    os.replace(tmp, path)
    return res


# ---------------------------------------------------------------------------
# Result checks
# ---------------------------------------------------------------------------


class CheckResult:
    def __init__(self, recall_sum: float, n_queries: int, bad_queries: int, first_error: str):
        self.recall_sum = recall_sum
        self.n_queries = n_queries
        self.bad_queries = bad_queries
        self.first_error = first_error


def check_batch(
    q: Queries, rows: Rows, truth: list[np.ndarray], result: dict[int, np.ndarray], k: int = K
) -> CheckResult:
    """``result`` maps query ordinal → returned ids. Each query must return
    exactly min(k, admissible) distinct ids, all admissible; recall@k is
    measured against the oracle."""
    order = np.argsort(rows.ids)
    sorted_ids = rows.ids[order]
    adm = predicate_masks(q, slice(0, len(q)), rows)
    n_adm = adm.sum(axis=1)
    recall_sum = 0.0
    bad = 0
    first = ""
    for i in range(len(q)):
        got = np.asarray(result.get(i, np.empty(0, dtype=np.int64)), dtype=np.int64)
        want = truth[i]
        pos = np.minimum(np.searchsorted(sorted_ids, got), len(sorted_ids) - 1)
        err = ""
        if len(np.unique(got)) != len(got):
            err = f"query {i}: duplicate ids"
        elif len(got) != min(k, n_adm[i]):
            err = f"query {i}: {len(got)} ids, expected {min(k, n_adm[i])}"
        elif not np.array_equal(sorted_ids[pos], got):
            err = f"query {i}: unknown id"
        elif not adm[i, order[pos]].all():
            err = f"query {i}: {int((~adm[i, order[pos]]).sum())} ids violate the predicate"
        if err:
            bad += 1
            first = first or err
        recall_sum += (
            len(np.intersect1d(got, want)) / len(want) if len(want) else float(len(got) == 0)
        )
    return CheckResult(recall_sum, len(q), bad, first)
