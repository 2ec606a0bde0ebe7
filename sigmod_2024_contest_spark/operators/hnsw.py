"""Partitioned HNSW graph index: NumPy build + filtered beam search.

Reference: ``/root/reference/hnswalg.h`` (addPoint 1087-1202,
searchBaseLayer 525-620, neighbor heuristic 629-656, bidirectional
connect 682-797), wrapped per partition by ``hnsw.hpp:33-89`` and
orchestrated per category / per decile by ``hybrid_graph.cpp:29-89``.

Spark mapping (SURVEY §2.5): shared-memory incremental insertion does
not distribute, so — exactly like the reference, which builds one
graph per category / decile slice — the unit of parallelism is the
*partition*: ``groupBy(pkey).applyInPandas(build)`` constructs each
graph sequentially inside one task, embarrassingly parallel across
partitions. The index is a plain DataFrame
``(pkey, pos, id, category, ts, vec, nbrs)`` persisted as Parquet —
node rows carry their vectors so a search task needs exactly one
partition of one table.

Determinism: levels are drawn from a NumPy RNG seeded by the partition
key, and rows are inserted in id order, so a rebuild of the same slice
yields the same graph (the reference's OMP build is order-racy; we pin
it — SURVEY §7.6). ANN results are still gated by recall, not
hash-match.

Scale notes: a partition too big for one task at 100 TB splits into
sub-shards (coarse split → one graph per shard → search all shards,
merge by distance); the search path below already merges arbitrary
many partitions, so sub-sharding changes only the build keying.
"""

from __future__ import annotations

import numpy as np


class NumpyHNSW:
    """Single-partition HNSW (reference hnswalg.h semantics, NumPy body).

    M / efConstruction defaults follow hybrid_graph.h:9-12 (M=28,
    efC=200) scaled down for testdata-sized partitions.
    """

    def __init__(self, m: int = 16, ef_construction: int = 100, seed: int = 0):
        self.m = m
        self.m0 = 2 * m
        self.efc = ef_construction
        self.ml = 1.0 / np.log(m)
        self.rng = np.random.default_rng(seed)

    def build(self, vecs: np.ndarray, return_levels: bool = False):
        """Insert all rows (in index order) → per-node neighbor lists
        for layer 0 (dense int32 array N×m0, −1 padded). Upper layers
        are used during build for entry-point descent and then folded
        into the flat graph (the searcher re-seeds instead — reference
        keeps an HNSWInitializer; our filtered searches use positional
        seeding like searcher.hpp:306-313, which subsumes it).

        ``return_levels=True`` additionally returns the level
        assignments and the upper-layer adjacency — the S9 persistence
        payload (``hnswalg.h:821-946`` saves the full level structure;
        ``HNSWInitializer`` keeps exactly these upper graphs for the
        greedy entry descent): ``(nbrs0, levels, upper)`` where
        ``upper[i]`` is a list of neighbor lists for layers 1..levels[i].
        """
        n = vecs.shape[0]
        v = vecs.astype(np.float32)
        levels = np.minimum(
            np.floor(-np.log(self.rng.random(n)) * self.ml).astype(np.int64), 8
        )
        max_level = int(levels.max(initial=0))
        # adjacency per layer: list of lists (python) — frozen at the end
        adj: list[list[list[int]]] = [[] for _ in range(max_level + 1)]
        node_at_layer: list[list[int]] = [[] for _ in range(max_level + 1)]
        for lc in range(max_level + 1):
            adj[lc] = [None] * n  # type: ignore[list-item]

        def dist_to(q: np.ndarray, ids) -> np.ndarray:
            diff = v[ids] - q
            return np.einsum("ij,ij->i", diff, diff)

        def search_layer(q: np.ndarray, eps: list[int], ef: int, lc: int) -> list[tuple[float, int]]:
            """Best-first beam (searchBaseLayer, hnswalg.h:525-620)."""
            visited = set(eps)
            d = dist_to(q, eps)
            cand = sorted(zip(d.tolist(), eps))  # min-heap by list (small ef)
            top = list(cand)  # result pool, kept sorted asc
            import heapq

            heap = list(cand)
            heapq.heapify(heap)
            worst = top[-1][0] if len(top) >= ef else np.inf
            while heap:
                dc, c = heapq.heappop(heap)
                if dc > worst:
                    break
                nbrs = [x for x in (adj[lc][c] or []) if x not in visited]
                if not nbrs:
                    continue
                visited.update(nbrs)
                dn = dist_to(q, nbrs)
                for dd, nb in zip(dn.tolist(), nbrs):
                    if len(top) < ef or dd < worst:
                        heapq.heappush(heap, (dd, nb))
                        top.append((dd, nb))
                if len(top) > ef:
                    top.sort()
                    del top[ef:]
                worst = top[-1][0] if len(top) >= ef else np.inf
            top.sort()
            return top

        def select_heuristic(q: np.ndarray, cands: list[tuple[float, int]], m: int) -> list[int]:
            """RNG diversity prune (getNeighborsByHeuristic2,
            hnswalg.h:629-656): keep c iff c is closer to q than to
            every already-kept neighbor."""
            kept: list[int] = []
            for dc, c in cands:
                if len(kept) >= m:
                    break
                ok = True
                if kept:
                    dk = dist_to(v[c], kept)
                    if (dk < dc).any():
                        ok = False
                if ok:
                    kept.append(c)
            return kept

        entry = 0
        entry_level = int(levels[0]) if n else 0
        for lc in range(entry_level + 1):
            adj[lc][0] = []
        for i in range(1, n):
            q = v[i]
            lvl = int(levels[i])
            for lc in range(lvl + 1):
                adj[lc][i] = []
            ep = [entry]
            for lc in range(max(entry_level, lvl), lvl, -1):
                if lc > entry_level:
                    continue
                res = search_layer(q, ep, 1, lc)
                ep = [res[0][1]]
            for lc in range(min(lvl, entry_level), -1, -1):
                cands = search_layer(q, ep, self.efc, lc)
                mmax = self.m0 if lc == 0 else self.m
                nbrs = select_heuristic(q, cands, self.m)
                adj[lc][i] = list(nbrs)
                for nb in nbrs:
                    lst = adj[lc][nb]
                    lst.append(i)
                    if len(lst) > mmax:
                        # overflow re-prune (mutuallyConnectNewElement, hnswalg.h:682-797)
                        dl = dist_to(v[nb], lst)
                        order = np.argsort(dl, kind="stable")
                        pruned = select_heuristic(
                            v[nb], [(float(dl[j]), lst[j]) for j in order], mmax
                        )
                        adj[lc][nb] = pruned
                ep = [c for _, c in cands[:1]] or ep
            if lvl > entry_level:
                entry = i
                entry_level = lvl
        out = np.full((n, self.m0), -1, dtype=np.int32)
        for i in range(n):
            row = adj[0][i] or []
            out[i, : len(row)] = row[: self.m0]
        if not return_levels:
            return out
        upper: list[list[list[int]]] = [
            [list(adj[lc][i] or []) for lc in range(1, int(levels[i]) + 1)]
            for i in range(n)
        ]
        return out, levels.astype(np.int32), upper


def entry_descent(
    vecs: np.ndarray,
    q: np.ndarray,
    levels: np.ndarray,
    upper: list[list[list[int]]],
    stats: dict | None = None,
) -> int:
    """Greedy upper-layer descent to the level-0 entry point (B11 —
    ``HNSWInitializer::initialize``, ``HNSWInitializer.hpp:36-58``;
    build-side walk at ``hnswalg.h:1148-1176``): start at the highest-
    level node, and at each layer hop to the closer neighbor until no
    improvement, then drop a layer. O(log n) hops instead of scoring
    ``n_seeds`` arbitrary positions — the win grows with shard size.

    ``stats``: accumulates ``ndist`` like ``beam_search``."""
    qd = q.astype(np.float64)

    def d(i: int) -> float:
        if stats is not None:
            stats["ndist"] = stats.get("ndist", 0) + 1
        diff = vecs[i].astype(np.float64) - qd
        return float(diff @ diff)

    max_level = int(levels.max(initial=0))
    ep = int(np.argmax(levels))  # first max-level node — deterministic
    cur = d(ep)
    for lc in range(max_level, 0, -1):
        improved = True
        while improved:
            improved = False
            nbrs_l = upper[ep][lc - 1] if lc <= int(levels[ep]) else []
            for nb in nbrs_l:
                dn = d(int(nb))
                if dn < cur:
                    ep, cur = int(nb), dn
                    improved = True
    return ep


def build_pruned_knn_graph(
    vecs: np.ndarray, m: int = 16, cand_mult: int = 3, block: int = 2048
) -> np.ndarray:
    """Exact-candidate RNG graph — the default shard build.

    Because sub-sharding bounds a shard to ``max_nodes`` rows, exact
    top-C neighbors are affordable: one GEMM block over the shard
    (O(n²d) at n ≤ 8192 ≈ 4 s, vs ~22 s for the incremental HNSW
    insert loop) followed by the reference's own diversity rule
    (getNeighborsByHeuristic2, ``hnswalg.h:629-656``: keep a candidate
    iff it is closer to the node than to every already-kept neighbor)
    applied to the exact candidate list, plus capped reverse edges
    (the bidirectional link of ``hnswalg.h:682-797``). Same graph
    family the reference builds — reached via exact candidates instead
    of approximate beam search, which measurably *improves* recall
    (~1.0 vs ~0.9 at equal m). Deterministic: no RNG draws at all.
    """
    n = vecs.shape[0]
    v = vecs.astype(np.float32)
    if n <= 1:
        return np.full((n, 2 * m), -1, dtype=np.int32)
    vv = np.einsum("ij,ij->i", v, v)
    C = min(cand_mult * m, n - 1)
    m0 = 2 * m
    cands = np.empty((n, C), dtype=np.int32)
    cdist = np.empty((n, C), dtype=np.float32)
    for s in range(0, n, block):
        e = min(s + block, n)
        D = vv[s:e, None] + vv[None, :] - 2.0 * (v[s:e] @ v.T)
        D[np.arange(e - s), np.arange(s, e)] = np.inf
        part = np.argpartition(D, C - 1, axis=1)[:, :C]
        rows = np.arange(e - s)[:, None]
        order = np.argsort(D[rows, part], kind="stable", axis=1)
        cands[s:e] = part[rows, order]
        cdist[s:e] = D[rows, part][rows, order]
    nbrs = np.full((n, m0), -1, dtype=np.int32)
    deg = np.zeros(n, dtype=np.int32)
    # candidate-to-candidate distances batched per block (one batched
    # GEMM instead of n small ones); the prune itself is sequential per
    # node by construction (each keep decision depends on prior keeps)
    # but the dominance test is precomputed as a bitmask per candidate
    # (dom[j] bit k set ⟺ candidate k would disqualify j), so the
    # inner loop is pure machine-int ops — no per-check NumPy dispatch
    prune_block = max(1, (1 << 24) // (C * C))
    for s in range(0, n, prune_block):
        e = min(s + prune_block, n)
        CV = v[cands[s:e]]  # (B, C, d)
        cc = np.einsum("bcd,bcd->bc", CV, CV)
        CC = cc[:, :, None] + cc[:, None, :] - 2.0 * np.einsum("bcd,bed->bce", CV, CV)
        B = CC < cdist[s:e][:, :, None]
        if C <= 63:
            # bitmask via packbits: bit k of DOM[b, j] ⟺ B[b, j, k] —
            # the exact integers the former B.astype(int64) @ (1 << k)
            # matmul produced, without materializing a C²-wide int64
            # temporary (int64 matmul has no BLAS; measured ~10-40×
            # slower than the pack, and allocation-churn-prone)
            Bp = np.zeros(B.shape[:2] + (64,), dtype=bool)
            Bp[:, :, :C] = B
            DOM = np.packbits(Bp, axis=-1, bitorder="little").view("<i8")[:, :, 0]
        else:
            DOM = None
        for i in range(s, e):
            kept: list[int] = []
            if DOM is not None:
                domi = DOM[i - s]
                kmask = 0
                for j in range(C):
                    if len(kept) >= m:
                        break
                    if not (int(domi[j]) & kmask):
                        kmask |= 1 << j
                        kept.append(j)
            else:  # C > 63: bitmask would overflow int64 — array path
                Bi = B[i - s]
                for j in range(C):
                    if len(kept) >= m:
                        break
                    if not kept or not Bi[j, kept].any():
                        kept.append(j)
            kk = cands[i][kept]
            nbrs[i, : len(kk)] = kk
            deg[i] = len(kk)
    # Capped reverse edges, vectorized — semantics identical to the
    # sequential pass it replaces (`for i: for j in nbrs[i]: append i
    # to nbrs[j] if room and not already present`): each (i → j)
    # forward edge is unique, so the only membership that can reject a
    # reverse edge is j's FORWARD list, and arrivals at j happen in
    # ascending i (the outer loop order) — so the kept arrivals are the
    # first (m0 − deg[j]) of the ascending-i candidates.
    src = np.repeat(np.arange(n, dtype=np.int64), deg)
    dst = nbrs[nbrs >= 0].astype(np.int64)  # row-major ⇒ i-ascending
    if dst.size:
        fwd_keys = src * n + dst
        mutual = np.isin(dst * n + src, fwd_keys)  # i already in forward(j)
        srcc, dstc = src[~mutual], dst[~mutual]
        order = np.argsort(dstc, kind="stable")  # stable ⇒ src stays asc
        dsts, srcs = dstc[order], srcc[order]
        newg = np.concatenate([[True], dsts[1:] != dsts[:-1]])
        gstart = np.maximum.accumulate(np.where(newg, np.arange(len(dsts)), 0))
        rank = (np.arange(len(dsts)) - gstart).astype(np.int64)
        keep = rank < (m0 - deg[dsts])
        dk, rk = dsts[keep], rank[keep]
        nbrs[dk, deg[dk] + rk] = srcs[keep]
    return nbrs


def search_range_filter(
    vecs: np.ndarray,
    nbrs: np.ndarray,
    ts: np.ndarray,
    q: np.ndarray,
    k: int,
    ef: int,
    ts_range: tuple[float, float],
    nbr_ts: np.ndarray | None = None,
    n_seeds: int = 10,
    stats: dict | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """K9 ``SearchRangeFilter`` (searcher.hpp:493-569): range-filtered
    best-first search over a single (global) graph — entry points
    spread evenly across the in-range positions (the reference samples
    ``num_ep = 10`` points across the id_bound of its ts-sorted ids,
    searcher.hpp:498-507; range seeding over allowed positions is the
    same policy without requiring ts-sorted storage), per-edge
    ``at_time`` admission before any distance call
    (searcher.hpp:539-540), and the 2-hop starvation expansion
    (searcher.hpp:544-569). All three already live in
    :func:`beam_search`; this wrapper derives the allowed mask from the
    node timestamps and forwards. Unused in the reference's final path
    (the hybrid engine routes range queries to decile sub-graphs, K7),
    provided for parity."""
    lo, hi = ts_range
    allowed = (ts >= lo) & (ts <= hi)
    return beam_search(
        vecs,
        nbrs,
        q,
        k,
        ef,
        allowed,
        n_seeds=n_seeds,
        nbr_ts=nbr_ts,
        ts_range=ts_range if nbr_ts is not None else None,
        stats=stats,
    )


def beam_search(
    vecs: np.ndarray,
    nbrs: np.ndarray,
    q: np.ndarray,
    k: int,
    ef: int,
    allowed: np.ndarray | None = None,
    n_seeds: int = 10,
    nbr_ts: np.ndarray | None = None,
    ts_range: tuple[float, float] | None = None,
    stats: dict | None = None,
    seeds: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Filtered best-first search over the flat graph.

    ``allowed`` is a bool mask over positions (the in-traversal
    predicate of searcher.hpp:301-374): traversal crosses all edges,
    but only allowed nodes enter the result pool. Entry points are
    evenly spaced allowed positions (range seeding, searcher.hpp:306-313).

    **Per-edge timestamps (F5/P10)**: the reference annotates every
    edge with its target's timestamp (``graph.hpp:21,64``, copied at
    build by ``hnsw.hpp:64``) so a range-filtered traversal decides
    edge admission from the adjacency rows alone — out-of-range
    targets are never even scored (``graph.hpp:81-83`` ``at_time``,
    checked before the distance call at ``searcher.hpp:343-344`` and
    ``:460-461``). Pass ``nbr_ts`` (per-edge target timestamps,
    parallel to ``nbrs``) and ``ts_range=(l, r)`` to enable the same
    behavior: traversal is restricted to in-range edges, distance
    evaluations drop proportionally to the filtered-out fraction, and
    the 2-hop expansion repairs connectivity across rejected regions.
    Without them the node-mask behavior (score every neighbor, admit
    allowed ones to the pool) is unchanged.

    ``stats``: optional dict accumulating ``ndist`` (number of
    distance evaluations) — the instrumentation the edge-filter tests
    assert on.

    **2-hop starvation expansion** (searcher.hpp:226-260 ``two_hop``,
    used by ``SearchCategoryRangeImpl`` at searcher.hpp:330-374): when a
    popped node's filtered 1-hop harvest falls short of its unfiltered
    harvest (count1 < count2 — the predicate is rejecting neighbors),
    the search additionally walks that node's 2-hop neighborhood and
    pools the allowed nodes found there, until the deficit is repaid.
    Without this, an ultra-selective in-graph predicate starves the
    result pool: the allowed nodes form islands the 1-hop walk cannot
    reach. Each node's 2-hop fan-out runs at most once (the reference's
    ``vis1`` bitset).

    Returns (positions, dists) of ≤k best allowed nodes, float64 exact.
    """
    import heapq

    n = vecs.shape[0]
    v = vecs
    filtered = allowed is not None
    if allowed is None:
        allowed = np.ones(n, dtype=bool)
    edge_mode = filtered and nbr_ts is not None and ts_range is not None
    lo, hi = ts_range if edge_mode else (0.0, 0.0)
    idx = np.flatnonzero(allowed)
    if idx.size == 0:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    if seeds is None:
        # range seeding: evenly spaced allowed positions (searcher.hpp:306-313)
        seeds = idx[
            np.unique(np.linspace(0, idx.size - 1, min(n_seeds, idx.size)).astype(np.int64))
        ]
    qd = q.astype(np.float64)

    def dist_to(ids):
        if stats is not None:
            stats["ndist"] = stats.get("ndist", 0) + len(ids)
        diff = v[ids].astype(np.float64) - qd
        return np.einsum("ij,ij->i", diff, diff)

    visited = np.zeros(n, dtype=bool)
    expanded = np.zeros(n, dtype=bool) if filtered else None
    visited[seeds] = True
    ds = dist_to(seeds)
    heap = sorted(zip(ds.tolist(), seeds.tolist()))
    result = [(dd, s) for dd, s in heap if allowed[s]]
    result.sort()
    del result[ef:]
    worst = result[-1][0] if len(result) >= ef else np.inf
    heap = list(heap)
    heapq.heapify(heap)
    while heap:
        dc, c = heapq.heappop(heap)
        if dc > worst and len(result) >= ef:
            break
        cn = nbrs[c]
        valid = cn >= 0
        cn = cn[valid]
        unv = ~visited[cn]
        if edge_mode:
            # edge-side admission (graph.hpp:81-83 at_time, checked
            # before the distance call at searcher.hpp:343-344): only
            # in-range targets are scored or traversed; rejects are
            # marked visited so no edge is inspected twice. The
            # count1/count2 deficit below then repairs connectivity
            # through the rejected region via 2-hop.
            ets = nbr_ts[c][valid]
            adm = unv & (ets >= lo) & (ets <= hi)
            new = cn[adm]
            count2 = int(unv.sum())
            count1 = int(new.size)
            visited[cn[unv]] = True
        else:
            new = cn[unv]
            count2 = int(new.size)
            count1 = int(allowed[new].sum()) if new.size else 0
            visited[new] = True
        if new.size:
            dn = dist_to(new)
            for dd, nb in zip(dn.tolist(), new.tolist()):
                if len(result) < ef or dd < worst:
                    heapq.heappush(heap, (dd, nb))
                    if allowed[nb]:
                        result.append((dd, nb))
        if filtered:
            if count1 < count2:
                # harvest allowed 2-hop neighbors until the deficit is
                # repaid (searcher.hpp:345-373)
                for nei in cn.tolist():
                    if count1 >= count2:
                        break
                    if expanded[nei]:
                        continue
                    expanded[nei] = True
                    nn = nbrs[nei]
                    nn = nn[nn >= 0]
                    nn = nn[~visited[nn]]
                    if nn.size == 0:
                        continue
                    visited[nn] = True
                    ok = nn[allowed[nn]]
                    if ok.size == 0:
                        continue
                    dn2 = dist_to(ok)
                    for dd, nb in zip(dn2.tolist(), ok.tolist()):
                        if len(result) < ef or dd < worst:
                            heapq.heappush(heap, (dd, nb))
                            result.append((dd, nb))
                    count1 += int(ok.size)
        if new.size == 0 and not filtered:
            continue
        if len(result) > ef:
            result.sort()
            del result[ef:]
            worst = result[-1][0]
        elif result:
            result.sort()
            if len(result) >= ef:
                worst = result[-1][0]
    result.sort()
    result = result[:k]
    if not result:
        return np.empty(0, np.int64), np.empty(0, np.float64)
    pos = np.array([p for _, p in result], dtype=np.int64)
    dd = np.array([d for d, _ in result], dtype=np.float64)
    return pos, dd
