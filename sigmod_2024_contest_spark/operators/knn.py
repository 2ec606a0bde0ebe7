"""Exact filtered kNN — the reference's core workload and our
permanent test oracle.

Reference: brute-force ground truth ``/root/reference/utils.h:80-158``
(per-type predicate + float L2 + k=100 heap). Two Spark physical
strategies for the same logical op:

1. ``knn_exact_expr`` — fully declarative: broadcast-nested-loop join
   of base × queries on the type-dispatched predicate, distance as a
   Catalyst higher-order-function fold, global top-k as a window.
   Bit-reproducible (float64 left-to-right fold) → hash-matches the
   DuckDB oracle. At scale the plan is: queries broadcast (small side),
   base streamed — no shuffle of the corpus, only (nq×k-ish) rows into
   the final window.

2. ``knn_exact_arrow`` — the Arrow path, one of two plans picked by
   the one broadcast bound, ``corpus_rows <= bc_rows_bound(dim)``:

   - within it, the **corpus-broadcast kernel**
     (:func:`corpus_broadcast_topk`): the id-sorted corpus ships to
     every query partition and each task answers its queries
     completely — output is final;
   - above it, the **query-broadcast scan kernel**
     (:func:`query_broadcast_topk`, run by :func:`knn_exact_scan`):
     queries ship in bounded batches to every base partition, each
     task keeps a running top-k over its Arrow blocks and emits packed
     per-query lists (``PACKED_CAND_SCHEMA``), and
     :func:`packed_topk_merge` merges them into the global top-k.
     Shuffle volume is ≤P rows per query; the corpus never leaves its
     partitions.

The same two kernels and the same bound serve the quantized brute
force (SQ8, asym, SQ4 — ``bruteforce_sq8.quant_rerank``) with integer
code distances; above the bound their candidates go through the one
pooled exact re-rank, :func:`exact_rerank_pooled`. The embedding ANN
family (``similarity``, ``pq``) runs the query-broadcast kernel's body
too: the cosine and PQ scans through :func:`query_broadcast_topk`
(``COSINE``/``PQ_ADC`` distances), the LSH/IVF/IVF-PQ probes per bucket
or cell through :func:`probe_cogroup_topk`, all merged by
:func:`packed_topk_merge`.

Top-k ordering is explicit ``(dist, id)`` everywhere (the reference's
heap leaves ties unspecified; we pin them — SURVEY §7.6).
"""

from __future__ import annotations

import os
from typing import Callable, NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import quantization as Q
from ..functions.distance import l2_sqr_expr
from ..plans import workload

# Per-worker-process allocator tuning (guide §5 memory churn),
# idempotent per process: ``mallopt(M_MMAP_THRESHOLD/M_TRIM_THRESHOLD)``
# keeps the kernels' large NumPy buffers (distance blocks are ~64 MB
# each) in the sbrk arena and keeps them after free, instead of
# mmap/munmap + refault per allocation. session.get_spark already sets
# the equivalent env for workers it spawns; calling mallopt in the LIVE
# worker also covers sessions this package did not create (the
# driver-contract ``__spark_entry__`` path, where executorEnv is frozen
# before we load). Standard public glibc tunables; on a cluster, size
# executor memoryOverhead to include the retained arena (≤ the
# threshold per worker). SPARK_GRAFT_MALLOC_ARENA_MB=0 disables it.
_ARENA_PID: int | None = None


def tune_worker_arena() -> None:
    global _ARENA_PID
    pid = os.getpid()
    if _ARENA_PID == pid:
        return
    _ARENA_PID = pid
    try:
        arena_mb = int(os.environ.get("SPARK_GRAFT_MALLOC_ARENA_MB", 1024))
    except (TypeError, ValueError):
        arena_mb = 1024
    if arena_mb > 0:
        try:
            import ctypes

            libc = ctypes.CDLL(None)
            thr = min(arena_mb << 20, (1 << 31) - 1)
            libc.mallopt(ctypes.c_int(-3), ctypes.c_int(thr))  # M_MMAP_THRESHOLD
            libc.mallopt(ctypes.c_int(-1), ctypes.c_int(thr))  # M_TRIM_THRESHOLD
        except Exception:
            pass  # non-glibc platform: the env-based tuning still applies


def list_column_matrix(batch, name: str, dtype=np.float64) -> np.ndarray:
    """Arrow list<float> column of a RecordBatch or Table → (n, dim)
    NumPy matrix without materializing Python lists (to_pylist builds
    n·dim PyObjects — the single biggest overhead of a GEMM-per-batch
    kernel). Zero-copy when offsets are dense; falls back to to_pylist
    for ragged input."""
    col = batch.column(name)
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    try:
        offs = col.offsets.to_numpy()
        widths = np.diff(offs)
        if widths.size and (widths == widths[0]).all():
            vals = col.values.to_numpy(zero_copy_only=False)
            return vals[offs[0] : offs[-1]].reshape(len(col), int(widths[0])).astype(dtype)
    except AttributeError:
        pass  # FixedSizeListArray or chunked — fall through
    try:
        vals = col.values.to_numpy(zero_copy_only=False)
        return vals.reshape(len(col), -1).astype(dtype)
    except Exception:
        return np.asarray(col.to_pylist(), dtype=dtype)


# The contest workload is 1M queries × 100 floats ≈ 800 MB as one
# driver collect + broadcast — too big a single object. Query-broadcast
# kernels therefore loop over bounded batches: ≤ batch_rows queries are
# ever live on the driver, each batch broadcasts, scans the corpus, and
# its candidates (nq_batch×k×P rows) are eagerly materialized so the
# batch's broadcast can be dropped before the next one loads. The
# single-batch case (every test/bench scale) stays fully lazy —
# identical plan to the un-chunked original.
QUERY_BATCH_ROWS = 65536

# Running-merge slack: argpartition cuts on dist alone, so a boundary
# tie (duplicate vectors ⇒ equal float distances) could drop the
# smaller-id row before the final (dist, id) lexsort. Keeping k+PAD
# columns through the merge and resolving the boundary with the lexsort
# at emit makes the kept set exact up to >PAD duplicates at the kth
# distance — every brute-force kernel keeps this slack.
MERGE_PAD = 64


def running_topk_merge(
    best_d: np.ndarray, best_i: np.ndarray, d: np.ndarray, ids64: np.ndarray, keep: int
) -> tuple[np.ndarray, np.ndarray]:
    """One step of the running per-partition top-``keep`` merge shared
    by every brute-force kernel (exact float, SQ8, asym, SQ4 — the
    sentinel for masked rows may be inf or a big int; both sort last).

    Merge guard: once the kept set is full, only queries whose chunk
    minimum beats their current worst kept value pay the
    concatenate+argpartition — after the first few chunks most queries'
    thresholds are settled and whole chunks skip in O(nq·w) compares
    instead of O(nq·(keep+w)) partition work (the r3 quantized-rerank
    regression was exactly this re-sort running every chunk).

    Wide chunks (w > keep) are PRE-CUT to their own per-row top-keep
    before the union partition, so the concatenate/partition/gather
    pipeline runs over (nq, 2·keep) instead of (nq, keep+w): the kept
    value multiset is unchanged (top-keep of a union ≡ top-keep of the
    per-side top-keeps) and boundary ties stay inside the same
    documented PAD slack. Measured r13: 2.4× on the type-0 merge at
    contest shape — the full-union concat+partition was the kernel's
    single largest source of memory traffic."""
    if best_d.shape[1] == keep:
        worst = best_d.max(axis=1)
        upd = np.nonzero(d.min(axis=1) < worst)[0]
        if upd.size == 0:
            return best_d, best_i
        dsub = d[upd]
        if dsub.shape[1] > keep:
            part0 = np.argpartition(dsub, keep - 1, axis=1)[:, :keep]
            rows = np.arange(upd.size)[:, None]
            dk = dsub[rows, part0]
            ik = ids64[part0]
        else:
            dk = dsub
            ik = np.broadcast_to(ids64[None, :], dsub.shape)
        all_d = np.concatenate([best_d[upd], dk], axis=1)
        all_i = np.concatenate([best_i[upd], ik], axis=1)
        part = np.argpartition(all_d, keep - 1, axis=1)[:, :keep]
        rows = np.arange(upd.size)[:, None]
        best_d[upd] = all_d[rows, part]
        best_i[upd] = all_i[rows, part]
        return best_d, best_i
    all_d = np.concatenate([best_d, d], axis=1)
    all_i = np.concatenate([best_i, np.broadcast_to(ids64[None, :], d.shape)], axis=1)
    kk = min(keep, all_d.shape[1])
    part = np.argpartition(all_d, kk - 1, axis=1)[:, :kk]
    rows = np.arange(best_d.shape[0])[:, None]
    return all_d[rows, part], all_i[rows, part]


# Query-block width for the double-blocked kernels below. The blocked
# loop exists because the alternative — chunking only the corpus with
# the FULL query batch as the other GEMM side — degenerates at contest
# query counts: bounding the dist block to sim_elems elements with
# nq=64k forces ~64-row corpus chunks, and the per-chunk mask/merge
# overhead (six nq×chunk temporaries per chunk) dominates the GEMM ~5×.
# Blocking the queries first keeps every GEMM wide (qblock × ~2k rows)
# with the same peak memory.
QBLOCK = 4096
SIM_ELEMS = 1 << 23  # ≈8M cells per dist block (64 MB at int64)
# Query-group width for the type-2/3 union-slice GEMMs in
# sliced_predicate_topk: large enough that one GEMM amortizes the
# per-group numpy overhead, small enough that sorted-by-start groups
# keep tight unions (and the (group × union) dist block stays inside
# the SIM_ELEMS chunking anyway).
RANGE_QGROUP = 256


def blocked_masked_topk(
    best_d: np.ndarray,
    best_i: np.ndarray,
    qpred: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    ids64: np.ndarray,
    cats: np.ndarray,
    ts: np.ndarray,
    dist_fn,
    keep: int,
    sentinel,
) -> None:
    """Merge one corpus slice into the running per-query top-``keep``,
    query-blocked: for each ≤QBLOCK query rows, chunk the corpus so the
    dist block stays ≤SIM_ELEMS cells, apply the type-dispatched
    predicate mask (Filter functor, searcher.hpp:23-44) in place, and
    run the guarded ``running_topk_merge``.

    ``best_d``/``best_i`` are pre-allocated ``(nq, keep)`` arrays
    filled with ``sentinel`` / −1 and are updated in place (the merge's
    full-width branch writes through the row views). ``dist_fn(qs, qe,
    cs, ce)`` returns the freshly-allocated dist block for that
    (query-block × corpus-chunk) — the mask writes into it."""
    qtype, vv, ll, rr = qpred
    nq = best_d.shape[0]
    nb = len(ids64)
    for qs in range(0, nq, QBLOCK):
        qe = min(qs + QBLOCK, nq)
        t = qtype[qs:qe, None]
        is0, is1 = t == 0, t == 1
        is2, is3 = t == 2, t == 3
        chunk = max(2 * keep, SIM_ELEMS // max(qe - qs, 1))
        bd, bi = best_d[qs:qe], best_i[qs:qe]  # views; merge writes through
        for cs in range(0, nb, chunk):
            ce = min(cs + chunk, nb)
            d = dist_fn(qs, qe, cs, ce)
            cat_ok = cats[None, cs:ce] == vv[qs:qe, None]
            ts_ok = (ts[None, cs:ce] >= ll[qs:qe, None]) & (
                ts[None, cs:ce] <= rr[qs:qe, None]
            )
            mask = is0 | (is1 & cat_ok) | (is2 & ts_ok) | (is3 & cat_ok & ts_ok)
            d[~mask] = sentinel
            running_topk_merge(bd, bi, d, ids64[cs:ce], keep)


def sliced_predicate_topk(
    best_d: np.ndarray,
    best_i: np.ndarray,
    qpred: tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray],
    ids64: np.ndarray,
    cats: np.ndarray,
    ts: np.ndarray,
    mat: np.ndarray,
    pair_dist,
    keep: int,
    sentinel=None,
) -> None:
    """Predicate-sliced counterpart of :func:`blocked_masked_topk` —
    the sorted-replica scan (reference S3/F2-F4: ``SortDataset``'s
    codes_both/codes_time replicas + binary search to the predicate
    slice, hybrid_graph.cpp:505-524) applied inside one kernel block.

    Sorts the block ONCE by (category, ts) and by ts, then routes each
    query type to the smallest distance computation that covers exactly
    its admissible rows: type 0 → chunked all-rows GEMM (no predicate);
    type 1 → one GEMM per distinct category over its contiguous slice;
    type 2/3 → grouped union-slice GEMMs over per-query ``searchsorted``
    position ranges (``RANGE_QGROUP`` queries per GEMM, masked by
    column position). No corpus-wide nq×n mask is
    ever materialized and out-of-predicate rows are never scored — for
    the bf-routed regime (selectivity < 8 % by construction) that is
    >10× less distance work AND >10× less memory traffic than
    GEMM-then-mask, which is what made the full-scan-shaped kernel
    lose to the plain float scan at 500k rows.

    ``mat`` is the (n, width) row matrix (codes or float vecs);
    ``pair_dist(q_indices, sub, rows_orig)`` → freshly-allocated dist
    block for those query rows × ``sub`` (an (m, width) matrix —
    usually a contiguous VIEW of a pre-gathered sorted copy);
    ``rows_orig`` gives the original row indices (slice or array) for
    per-row aux lookups (e.g. precomputed norms). The block is gathered
    into its two replica orders ONCE — every per-query range slice is
    then a zero-copy view instead of a fancy-index gather (measured:
    the gathers, ~20 MB per mid-selectivity query, dominated the fused
    kernel's wall). Updates ``best_d``/``best_i`` (pre-filled
    (nq, keep) sentinel arrays) in place via the same guarded
    :func:`running_topk_merge` — kept sets and the final (dist, id)
    resolve are identical to the masked path's."""
    qtype, vv, ll, rr = qpred
    n = len(ids64)
    if n == 0 or best_d.shape[0] == 0:
        return
    if sentinel is None:
        # the two grids in use: float64 kernels fill with inf, integer
        # (code-space) kernels with 2^62 — match the caller's prefill
        sentinel = np.inf if np.issubdtype(best_d.dtype, np.floating) else np.int64(1) << 62

    def batched_merge(qsel: np.ndarray, m, ids_v, rows_orig) -> None:
        """Merge one query group × row set, double-blocked: ≤QBLOCK
        queries at a time (bounds the merge temporaries — same reason
        blocked_masked_topk blocks queries first) and row chunks sized
        to SIM_ELEMS cells."""
        nrows = len(ids_v)
        for qs in range(0, qsel.size, QBLOCK):
            sub = qsel[qs : qs + QBLOCK]
            bd, bi = best_d[sub], best_i[sub]
            chunk = max(2 * keep, SIM_ELEMS // int(sub.size))
            for cs in range(0, nrows, chunk):
                ce = min(cs + chunk, nrows)
                d = pair_dist(sub, m[cs:ce], rows_orig[cs:ce])
                running_topk_merge(bd, bi, d, ids_v[cs:ce], keep)
            best_d[sub], best_i[sub] = bd, bi

    t0 = np.flatnonzero(qtype == 0)
    if t0.size:
        batched_merge(t0, mat, ids64, np.arange(n))
    t1 = np.flatnonzero(qtype == 1)
    t2 = np.flatnonzero(qtype == 2)
    t3 = np.flatnonzero(qtype == 3)
    if not (t1.size or t2.size or t3.size):
        return
    ocb = cats_cb = ts_cb = mat_cb = ids_cb = None
    if t1.size or t3.size:
        ocb = np.lexsort((ts, cats))  # (category, ts) replica order
        cats_cb, ts_cb = cats[ocb], ts[ocb]
        mat_cb, ids_cb = mat[ocb], ids64[ocb]
    if t1.size:
        for v in np.unique(vv[t1]):
            qs = t1[vv[t1] == v]
            lo = np.searchsorted(cats_cb, v, "left")
            hi = np.searchsorted(cats_cb, v, "right")
            if hi <= lo:
                continue
            batched_merge(qs, mat_cb[lo:hi], ids_cb[lo:hi], ocb[lo:hi])
    def grouped_ranged_merge(qsel, lows, highs, mat_o, ids_o, rows_o) -> None:
        """Type-2/3 slices batched: queries (sorted by slice start) are
        processed in ≤RANGE_QGROUP groups; each group pays ONE GEMM over
        its union position range — a contiguous view of the replica —
        and masks out-of-slice cells by column POSITION (the slice
        bounds ARE positions) before the shared merge. Replaces a
        per-query GEMV loop whose ~30 numpy dispatches per query, not
        its FLOPs, dominated the kernel at contest query counts;
        sorting by slice start keeps each group's union close to its
        members' own ranges, so the masked extra cells stay a small
        constant factor. Masked cells hold ``sentinel`` and resolve
        drops them — the kept real rows are exactly the per-slice
        scan's (same values, same documented boundary-tie slack)."""
        ne = highs > lows
        qsel, lows, highs = qsel[ne], lows[ne], highs[ne]
        if not qsel.size:
            return
        order = np.lexsort((highs, lows))
        qsel, lows, highs = qsel[order], lows[order], highs[order]
        # greedy grouping with a union-bloat guard (r13 ADVICE): groups
        # were cut every RANGE_QGROUP queries regardless of shape, so
        # one straggler with a far-right `high` stretched the group's
        # union over mostly out-of-slice cells — GEMM+mask paid for
        # cells every member masks away. Close the group early when
        # admitting the next query would push the union width past 4×
        # the members' summed slice widths (tiny unions are exempt —
        # the split only matters when the masked area is real work).
        cuts = [0]
        gs = 0
        while gs < qsel.size:
            ge = gs + 1
            glo = int(lows[gs])
            ghi = int(highs[gs])
            wsum = ghi - glo
            while ge < min(gs + RANGE_QGROUP, qsel.size):
                nhi = max(ghi, int(highs[ge]))
                w = int(highs[ge]) - int(lows[ge])
                if (nhi - glo) > 4 * (wsum + w) and (nhi - glo) > 4096:
                    break
                ghi, wsum = nhi, wsum + w
                ge += 1
            cuts.append(ge)
            gs = ge
        for gs, ge in zip(cuts[:-1], cuts[1:]):
            g = qsel[gs:ge]
            glo = int(lows[gs])  # sorted by lows → the group min
            ghi = int(highs[gs:ge].max())
            bd, bi = best_d[g], best_i[g]
            chunk = max(2 * keep, SIM_ELEMS // int(g.size))
            for cs in range(glo, ghi, chunk):
                ce = min(cs + chunk, ghi)
                d = pair_dist(g, mat_o[cs:ce], rows_o[cs:ce])
                col = np.arange(cs, ce)
                bad = (col[None, :] < lows[gs:ge, None]) | (
                    col[None, :] >= highs[gs:ge, None]
                )
                d[bad] = sentinel
                running_topk_merge(bd, bi, d, ids_o[cs:ce], keep)
            best_d[g], best_i[g] = bd, bi

    if t2.size:
        ot = np.argsort(ts, kind="stable")  # ts replica order
        ts_t, mat_ts, ids_ts = ts[ot], mat[ot], ids64[ot]
        lows = np.searchsorted(ts_t, ll[t2], "left")
        highs = np.searchsorted(ts_t, rr[t2], "right")
        grouped_ranged_merge(t2, lows, highs, mat_ts, ids_ts, ot)
    if t3.size:
        for v in np.unique(vv[t3]):
            qs = t3[vv[t3] == v]
            clo = np.searchsorted(cats_cb, v, "left")
            chi = np.searchsorted(cats_cb, v, "right")
            if chi <= clo:
                continue
            tlo = clo + np.searchsorted(ts_cb[clo:chi], ll[qs], "left")
            thi = clo + np.searchsorted(ts_cb[clo:chi], rr[qs], "right")
            grouped_ranged_merge(qs, tlo, thi, mat_cb, ids_cb, ocb)


def resolve_topk_rows(
    best_d: np.ndarray, best_i: np.ndarray, out_k: int, sentinel
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row-wise exact (dist, id) order over the kept set → the first
    ``out_k`` columns, vectorized (stable argsort by id then by dist ≡
    per-row lexsort; sentinel entries sort last). Returns (d, i, finite)
    matrices of width ≤out_k."""
    rows = np.arange(best_d.shape[0])[:, None]
    o1 = np.argsort(best_i, axis=1, kind="stable")
    d1, i1 = best_d[rows, o1], best_i[rows, o1]
    o2 = np.argsort(d1, axis=1, kind="stable")[:, :out_k]
    d2, i2 = d1[rows, o2], i1[rows, o2]
    fin = np.isfinite(d2) if np.isinf(sentinel) else (d2 < sentinel)
    return d2, i2, fin


def query_batches(queries: DataFrame, batch_rows: int = QUERY_BATCH_ROWS):
    """Stream the query table to the driver in bounded Row batches
    (``toLocalIterator`` holds one partition, not the whole table)."""
    buf: list = []
    for row in queries.toLocalIterator(prefetchPartitions=True):
        buf.append(row)
        if len(buf) >= batch_rows:
            yield buf
            buf = []
    if buf:
        yield buf


# Scan-task sizing for the query-broadcast kernels: every task pays a
# cost PROPORTIONAL TO THE QUERY COUNT on top of its GEMM share — the
# (nq × keep) running-merge state, the per-query-group dispatch of the
# sliced kernel (RANGE_QGROUP groups × row chunks), and the packed
# candidate emission — so for a fixed corpus, total work grows with
# the task count while only the GEMM parallelizes. Size tasks to at
# least this many corpus rows and never above the session parallelism.
# Measured r14 on the contest shape (20k rows × 100k queries, warm
# min-of-2, plans/r14/scan_task_sweep.txt): 5 tasks → 17-21 s,
# 20 tasks → 74-95 s, 32 tasks → 29-57 s — MORE tasks is strictly
# worse; the leg's 8-vs-32-cpu flatness (r13 verdict item 6) is this
# granularity (5 tasks run at either core count), not a bandwidth
# ceiling. A 100 TB corpus keeps P = parallelism and each task's slice
# stays big enough that the GEMM dominates its nq-proportional
# constant — the regime the rule was designed for.
MIN_SCAN_ROWS_PER_TASK = 4096


def chunked_broadcast_scan(
    scan: DataFrame,
    queries: DataFrame,
    payload_fn,
    kernel_fn,
    out_schema: str,
    batch_rows: int = QUERY_BATCH_ROWS,
    scan_rows: int | None = None,
) -> DataFrame | None:
    """Per query batch: broadcast ``payload_fn(rows)``, run
    ``mapInArrow(kernel_fn(bc), out_schema)`` over the corpus scan,
    union the candidate sets. Returns None when there are no queries.

    Multi-batch runs trade extra corpus scans (one per batch) for O(1)
    driver/broadcast memory — the corpus side is the scan of codes or
    vecs only, so each extra pass is the cheap wide phase, and the
    eager ``localCheckpoint`` caps live broadcasts at one.

    ``scan_rows``: corpus row count when the caller knows it (skips
    one count job); used to size scan tasks (MIN_SCAN_ROWS_PER_TASK)."""
    from itertools import chain

    spark = scan.sparkSession
    if scan_rows is None:
        scan_rows = scan.count()
    gen = query_batches(queries, batch_rows)
    first = next(gen, None)
    if first is None:
        return None
    second = next(gen, None)
    target = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-scan_rows // MIN_SCAN_ROWS_PER_TASK),
        ),
    )
    cur = scan.rdd.getNumPartitions()
    if cur < target:
        scan = scan.repartition(target)  # thin source (e.g. one .bin shard)
    elif cur > target:
        scan = scan.coalesce(target)  # narrow — no shuffle of the corpus
    if second is None:
        bc = spark.sparkContext.broadcast(payload_fn(first))
        return scan.mapInArrow(kernel_fn(bc), out_schema)
    parts = []
    for rows in chain([first, second], gen):
        bc = spark.sparkContext.broadcast(payload_fn(rows))
        cand = scan.mapInArrow(kernel_fn(bc), out_schema).localCheckpoint(eager=True)
        bc.unpersist()
        parts.append(cand)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Corpus-payload broadcast cache for the corpus-broadcast kernels.
# ``knn_stream_indexed`` invokes knn_hybrid once per micro-batch over
# ONE base; without this every batch re-collects the corpus and leaks a
# ~corpus-sized broadcast on the executors for the stream's lifetime.
# Keyed by (application, canonicalized plan, payload kind); a hit is
# confirmed with ``sameSemantics`` (exact plan equality — semanticHash
# alone could collide), a miss with a colliding key recomputes without
# poisoning the cache. Bounded: evicting the oldest entry unpersists
# its broadcast.
_CORPUS_BC_CACHE: dict[tuple, tuple[DataFrame, object]] = {}
_CORPUS_BC_CACHE_MAX = 4


def cached_corpus_broadcast(base: DataFrame, cols: tuple[str, ...], extra_key, builder):
    """Broadcast of ``builder(pdf)`` over ``base.select(*cols)``,
    cached per (application, corpus plan, extra_key). Returns None for
    an empty corpus. ``extra_key`` must capture anything else the
    payload depends on (e.g. the quantizer scale).

    ASSUMES IMMUTABLE UNDERLYING DATA within one application: the key
    is the logical plan, so overwriting a plan-identical source's files
    mid-application would serve a stale payload — re-create the
    DataFrame (new files ⇒ new plan) or bypass the cache in that case.
    Eviction is LRU: a hit is reinserted at the tail, so a repeating
    cycle of up-to-_CORPUS_BC_CACHE_MAX corpora never thrashes."""
    spark = base.sparkSession
    try:
        key = (spark.sparkContext.applicationId, base.semanticHash(), cols, extra_key)
    except Exception:
        key = None
    if key is not None:
        hit = _CORPUS_BC_CACHE.pop(key, None)
        if hit is not None and hit[0].sameSemantics(base):
            _CORPUS_BC_CACHE[key] = hit  # reinsert at tail → LRU order
            return hit[1]
        # colliding key (semanticHash match, different plan): dropped —
        # the recompute below re-inserts under the same key
    pdf = base.select(*cols).toPandas()
    if len(pdf) == 0:
        return None
    bc = spark.sparkContext.broadcast(builder(pdf))
    if key is not None:
        while len(_CORPUS_BC_CACHE) >= _CORPUS_BC_CACHE_MAX:
            _, old = _CORPUS_BC_CACHE.pop(next(iter(_CORPUS_BC_CACHE)))
            old.unpersist()
        _CORPUS_BC_CACHE[key] = (base, bc)
    return bc


# Corpus columns every corpus-broadcast payload collects; one cache
# entry per (corpus, quantizer grid) serves the exact scan, the
# quantized scans and the pooled re-rank alike.
CORPUS_COLS = ("id", "category", "ts", "vec")
QUERY_COLS = ("query_id", "query_type", "v", "l", "r", "qvec")
RESULT_SCHEMA = "query_id long, id long, rnk long"
_RESULT_TYPE = pa.schema(
    [pa.field("query_id", pa.int64()), pa.field("id", pa.int64()), pa.field("rnk", pa.int64())]
)


def _ids_vec_payload(pdf, encode_b=None) -> dict[str, np.ndarray]:
    """The one corpus-broadcast payload: the collected columns as NumPy
    arrays with rows sorted by id, so position order IS id order and
    the kernels carry positions (position ties ≡ id ties). ``vec``
    becomes a float64 (n, dim) matrix; ``category``/``ts`` float64
    vectors when collected. With a quantizer grid ``encode_b``,
    ``codes`` holds the corpus encoded once on the driver — pre-cast to
    float32 when every code is ≤127 (exact in f32), so
    code_l2_sqr_np's sgemm cast is a no-op per task."""
    ids = pdf["id"].to_numpy().astype(np.int64)
    order = np.argsort(ids)
    out = {"id": ids[order]}
    out["vec"] = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])[order]
    for c in ("category", "ts"):
        if c in pdf:
            out[c] = pdf[c].to_numpy().astype(np.float64)[order]
    if encode_b is not None:
        codes = encode_b(out["vec"])
        if np.abs(codes).max(initial=0) <= 127:
            codes = codes.astype(np.float32)
        out["codes"] = codes
    return out


def _topk_window(scored: DataFrame, k: int, by: str = "dist") -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.col(by).asc(), F.col("id").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "id", F.col("rnk").cast("long").alias("rnk"))
    )


def _group_ranks(keys: np.ndarray) -> np.ndarray:
    """Ranks 0.. within each contiguous run of ``keys``."""
    n = len(keys)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    new = np.concatenate([[True], keys[1:] != keys[:-1]])
    gstart = np.maximum.accumulate(np.where(new, np.arange(n), 0))
    return np.arange(n) - gstart


# Packed candidate schema for the query-broadcast scan's final merge:
# one row per (scan task, query) carrying the task's top-k as arrays,
# instead of nq×k×P exploded rows. Same bytes, ~k× fewer rows — the
# exploded shape made the final merge (row shuffle + rank window over
# nq×k×P rows) cost ~¼–½ of the whole forced-scan leg at contest query
# counts; arrays keep the shuffle machinery out of the per-candidate
# path. The merge kernel reproduces the window's exact (dist, id)
# per-query order, so results are identical.
PACKED_CAND_SCHEMA = "query_id long, cids array<long>, cdists array<double>"
_PACKED_TYPE = pa.schema(
    [
        pa.field("query_id", pa.int64()),
        pa.field("cids", pa.list_(pa.int64())),
        pa.field("cdists", pa.list_(pa.float64())),
    ]
)


def packed_topk_merge(packed: DataFrame, k: int) -> DataFrame:
    """Final top-k over packed per-partition candidate lists:
    (query_id, cids, cdists) rows — ≤ P per query — are bucketed by
    query hash (coarse buckets, same device as exact_rerank_pooled) and
    each bucket's lists are exploded, lexsorted by (dist, id) per query
    and cut to k inside one Arrow kernel. Bit-identical rows to the
    row_number window it replaces: float64 compare is a total order on
    the never-NaN distances and the (dist, id) tie-break is the same."""
    spark = packed.sparkSession
    nbuckets = spark.sparkContext.defaultParallelism * 4
    b = packed.withColumn("qb", F.pmod(F.hash("query_id"), F.lit(nbuckets)))

    def kernel(tbl):
        if tbl.num_rows == 0:
            return _RESULT_TYPE.empty_table()
        tbl = tbl.combine_chunks()

        def list_parts(name):
            col = tbl.column(name)
            if isinstance(col, pa.ChunkedArray):
                col = col.combine_chunks()
            offs = col.offsets.to_numpy()
            vals = col.values.to_numpy(zero_copy_only=False)
            return offs, vals[offs[0] : offs[-1]]

        qid = tbl.column("query_id").to_numpy(zero_copy_only=False).astype(np.int64)
        offs, ids_v = list_parts("cids")
        _, d_v = list_parts("cdists")
        lens = np.diff(offs)
        rowq = np.repeat(qid, lens)
        ids_v = ids_v.astype(np.int64)
        o = np.lexsort((ids_v, d_v, rowq))
        rnk = _group_ranks(rowq[o])
        keepm = rnk < k
        sel = o[keepm]
        return pa.table(
            {
                "query_id": rowq[sel],
                "id": ids_v[sel],
                "rnk": (rnk[keepm] + 1).astype(np.int64),
            },
            schema=_RESULT_TYPE,
        )

    return b.groupby("qb").applyInArrow(kernel, RESULT_SCHEMA)


def read_codes(tbl) -> np.ndarray:
    """An Arrow block's ``array<tinyint>`` SQ8 codes column as an (n, d)
    int16 matrix — the row reader of every persisted-codes scan."""
    return list_column_matrix(tbl, "codes", dtype=np.int16)


def unpack_candidates(packed: DataFrame) -> DataFrame:
    """Packed candidate lists (``PACKED_CAND_SCHEMA``) → one
    ``(query_id, id, cdist)`` row per candidate, the input of
    :func:`exact_rerank_pooled`."""
    z = packed.select("query_id", F.explode(F.arrays_zip("cids", "cdists")).alias("z"))
    return z.select("query_id", F.col("z.cids").alias("id"), F.col("z.cdists").alias("cdist"))


def knn_exact_expr(base: DataFrame, queries: DataFrame, k: int = workload.K) -> DataFrame:
    """Declarative exact kNN for all four query types.

    Returns (query_id, id, rnk) — ids of the k nearest rows satisfying
    each query's predicate, rank-ordered by (L2², id).
    """
    b = base.alias("b")
    q = F.broadcast(queries.alias("q"))
    cond = workload.predicate_expr(b, q)
    scored = b.join(q, cond).select(
        F.col("q.query_id").alias("query_id"),
        F.col("b.id").alias("id"),
        l2_sqr_expr(F.col("q.qvec"), F.col("b.vec")).alias("dist"),
    )
    return _topk_window(scored, k)


def knn_oracle_sql(k: int = workload.K) -> str:
    """DuckDB SQL computing the identical result (same fold order,
    same tie-break) on the raw parquet views."""
    return f"""
WITH b AS ({workload.base_cte_sql()}),
     q AS ({workload.queries_cte_sql()}),
scored AS (
  SELECT q.query_id, b.id,
         list_sum(list_transform(range(1, len(b.vec) + 1),
                  i -> (q.qvec[i]::DOUBLE - b.vec[i]::DOUBLE)
                     * (q.qvec[i]::DOUBLE - b.vec[i]::DOUBLE))) AS dist
  FROM b, q
  WHERE {workload.PREDICATE_SQL}
),
ranked AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rnk
  FROM scored
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM ranked WHERE rnk <= {k}
"""




# ---------------------------------------------------------------------------
# Distances and the exact re-rank
# ---------------------------------------------------------------------------


class PairDistance(NamedTuple):
    """A top-k kernel's distance. ``make(qmat, mat, qids, ids)`` returns
    the ``pair_dist(qsel, sub, rows)`` callable
    :func:`sliced_predicate_topk` expects for query-side matrix ``qmat``
    against row matrix ``mat``; ``qids``/``ids`` are the query ids and
    the rows' ids, for distances that exclude a query's own row.
    ``sentinel`` fills empty top-k slots and sorts after every real
    distance (it also fixes the running top-k's dtype)."""

    make: Callable
    sentinel: object


def _l2_pairs(qv: np.ndarray, mat: np.ndarray, _qids, _ids):
    qq = np.einsum("ij,ij->i", qv, qv)
    bb = np.einsum("ij,ij->i", mat, mat)

    def pair_dist(qsel, sub, rows):
        # GEMM on the pre-gathered view; norms indexed by the original
        # row positions. In-place (qq + bb) − 2·G — bitwise-identical
        # to the naive broadcast expression at half the temporaries.
        g = qv[qsel] @ sub.T
        t = np.add(qq[qsel][:, None], bb[rows][None, :])
        g *= 2.0
        np.subtract(t, g, out=t)
        np.maximum(t, 0.0, out=t)
        return t

    return pair_dist


def _code_pairs(qc: np.ndarray, codes: np.ndarray, _qids, _ids):
    # integer code distance, exact via float BLAS (Q.code_l2_sqr_np);
    # order-independent, so it equals the SQL oracle's fold bit-for-bit
    return lambda qsel, sub, rows: Q.code_l2_sqr_np(qc[qsel], sub)


def _mask_self(d, qids, ids, qsel, rows):
    # the embedding family queries the corpus with its own rows: a
    # query's own row sorts last (dropped at resolve, like the sentinel)
    d[qids[qsel][:, None] == ids[rows][None, :]] = np.inf
    return d


def _cosine_pairs(qv: np.ndarray, mat: np.ndarray, qids, ids):
    qn = np.sqrt(np.einsum("ij,ij->i", qv, qv))
    vn = np.sqrt(np.einsum("ij,ij->i", mat, mat))

    def pair_dist(qsel, sub, rows):
        # dist = −cos, so ascending (dist, id) is the oracle's
        # (cos desc, id asc); negation is exact. A zero-norm side gives
        # 0/0 = NaN: it sorts last like the sentinel (the oracle's NULL
        # cos sorts last), and a NaN left in the block would fail the
        # running merge's `min < worst` guard for the whole chunk
        with np.errstate(invalid="ignore", divide="ignore"):
            d = (qv[qsel] @ sub.T) / (qn[qsel][:, None] * vn[rows][None, :])
        np.negative(d, out=d)
        d[np.isnan(d)] = np.inf
        return _mask_self(d, qids, ids, qsel, rows)

    return pair_dist


def _adc_pairs(luts: np.ndarray, codes: np.ndarray, qids, ids):
    def pair_dist(qsel, sub, rows):
        # ADC: dist[q, r] = sum_j LUT[q, j, code_j(r)], folded in j order
        lq = luts[qsel]
        d = np.zeros((lq.shape[0], sub.shape[0]))
        for j in range(lq.shape[1]):
            d += lq[:, j, sub[:, j]]
        return _mask_self(d, qids, ids, qsel, rows)

    return pair_dist


CODE_SENTINEL = np.int64(1) << 62
EXACT_L2 = PairDistance(_l2_pairs, np.inf)  # float64 rows, float64 queries
CODE_L2 = PairDistance(_code_pairs, CODE_SENTINEL)  # integer codes, both sides
# float64 rows and queries; self and zero-norm rows excluded
COSINE = PairDistance(_cosine_pairs, np.inf)
# PQ codes against per-query lookup tables (nq, m, ksub), self excluded
PQ_ADC = PairDistance(_adc_pairs, np.inf)


def rerank_exact(
    qv: np.ndarray, qrow: np.ndarray, V: np.ndarray, pos: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """K12 exact re-rank core (hybrid_graph.cpp:207-228): float64
    ``qq + bb − 2·q·b`` for the (query row, corpus position) pairs, then
    per query the ``k`` smallest by (dist, position) — position order is
    id order in the id-sorted payload. Returns (sel, rnk): indices into
    the pairs in output order and their 1-based ranks."""
    sub = V[pos]
    qq = np.einsum("ij,ij->i", qv, qv)
    d = qq[qrow] + np.einsum("ij,ij->i", sub, sub) - 2.0 * np.einsum("ij,ij->i", sub, qv[qrow])
    np.maximum(d, 0.0, out=d)
    o = np.lexsort((pos, d, qrow))
    rnk = _group_ranks(qrow[o])
    keep = rnk < k
    return o[keep], rnk[keep] + 1


def exact_rerank_pooled(
    base: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    k: int,
    pool_k: int,
    corpus_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The one K12 exact re-rank: pool the candidate rows
    ``(query_id, id, cdist)`` to the per-query top ``pool_k`` by
    (cdist, id), then rank the pooled rows by exact L2 with the
    (dist, id) tie-break → (query_id, id, rnk). Serves the shard plan's
    candidates and the quantized scans' candidates — both run only
    above ``bc_rows_bound(dim)``, so this is the plan that never
    broadcasts the corpus: a window pool, a candidates-only join and a
    window. Its join input stays nq×pool_k rows, independent of corpus
    size and of the shard fan-out.

    ``corpus_rows`` and ``dim`` are ignored; perfbench still passes
    them, so they stay until the next benchmark change."""
    rer = (
        _topk_window(cands, pool_k, by="cdist")
        .select("query_id", "id")
        .join(base.select("id", "vec"), "id")
        .join(queries.select("query_id", "qvec"), "query_id")
        .select("query_id", "id", l2_sqr_expr("qvec", "vec").alias("dist"))
    )
    return _topk_window(rer, k)


# ---------------------------------------------------------------------------
# The two brute-force kernels: query-broadcast scan, corpus broadcast
# ---------------------------------------------------------------------------


def _query_payload(qrows, encode_q) -> tuple[np.ndarray, np.ndarray]:
    """(qmeta, qmat) for one query batch: (query_id, query_type, v, l, r)
    as float64 columns, and the query-side matrix — float64 qvecs, or
    their codes under ``encode_q``."""
    qmeta = np.array(
        [(r["query_id"], r["query_type"], r["v"], r["l"], r["r"]) for r in qrows],
        dtype=np.float64,
    )
    qvecs = np.array([r["qvec"] for r in qrows], dtype=np.float64)
    return qmeta, (qvecs if encode_q is None else encode_q(qvecs))


def packed_scan_topk(qm, qmat, blocks, read_rows, dist: PairDistance, out_k: int):
    """The kernel body every scan and probe kernel runs: a RUNNING
    top-(out_k + MERGE_PAD) per query across the Arrow ``blocks``
    (id, category, ts, <row column>) with the predicate-sliced ``dist``
    scan, emitted ONCE at the end — a per-block emit degenerates to all
    pairs whenever blocks are narrower than out_k. The emit resolves the
    exact (dist, id) boundary, so ≤ out_k candidates per query leave,
    packed one row per query (``PACKED_CAND_SCHEMA``; integer code
    distances are exact in its float64 list wherever code_l2_sqr_np
    takes its float path, 4·d·m² < 2⁵²). ``qm`` is the (nq, 5) float64
    (query_id, query_type, v, l, r) matrix, ``qmat`` the query-side
    matrix ``dist.make`` takes; ``read_rows(tbl)`` reads a block's row
    matrix.

    Tie note: chunk merges pre-cut by distance with MERGE_PAD slack; a
    tie is mis-cut only if >PAD rows share the boundary distance."""
    nq = len(qm)
    if nq == 0:
        return
    keep = out_k + MERGE_PAD
    qid = qm[:, 0].astype(np.int64)
    qpred = (qm[:, 1].astype(np.int64), qm[:, 2], qm[:, 3], qm[:, 4])
    best_d = np.full((nq, keep), dist.sentinel)
    best_i = np.full((nq, keep), -1, dtype=np.int64)
    saw = False
    for tbl in blocks:
        ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
        if not len(ids):
            continue
        saw = True
        cats = tbl.column("category").to_numpy(zero_copy_only=False).astype(np.float64)
        ts = tbl.column("ts").to_numpy(zero_copy_only=False)
        mat = read_rows(tbl)
        # predicate-sliced scan (S3/F2-F4): selective queries score only
        # their (cat, ts) slice of the block
        sliced_predicate_topk(
            best_d, best_i, qpred, ids, cats, ts, mat, dist.make(qmat, mat, qid, ids), keep
        )
    if saw:
        d2, i2, fin = resolve_topk_rows(best_d, best_i, out_k, dist.sentinel)
        offsets = np.concatenate([[0], np.cumsum(fin.sum(axis=1))]).astype(np.int32)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(qid),
                pa.ListArray.from_arrays(offsets, pa.array(i2[fin])),
                pa.ListArray.from_arrays(
                    offsets, pa.array(d2[fin].astype(np.float64, copy=False))
                ),
            ],
            schema=_PACKED_TYPE,
        )


def query_broadcast_topk(
    scan: DataFrame,
    queries: DataFrame,
    read_rows,
    dist: PairDistance,
    out_k: int,
    encode_q=None,
    batch_rows: int = QUERY_BATCH_ROWS,
    scan_rows: int | None = None,
) -> DataFrame | None:
    """The one query-broadcast scan kernel (exact, SQ8, asym, SQ4,
    cosine, PQ ADC).

    Queries broadcast in bounded batches (:func:`chunked_broadcast_scan`)
    as (qmeta, ``encode_q(qvecs)``) — float qvecs when ``encode_q`` is
    None. ``scan`` is (id, category, ts, <row column>); ``read_rows(tbl)``
    reads an Arrow block's row matrix (float ``vec``, an in-kernel
    encode, or the persisted ``codes`` column). Each partition runs
    :func:`packed_scan_topk` over its blocks, so ≤ out_k candidates per
    query leave the task, packed one row per query; merge them with
    :func:`packed_topk_merge`. Returns None when there are no queries."""

    def make_kernel(bc):
        def kernel(batches):
            tune_worker_arena()
            qm, qmat = bc.value
            yield from packed_scan_topk(qm, qmat, batches, read_rows, dist, out_k)

        return kernel

    return chunked_broadcast_scan(
        scan,
        queries.select(*QUERY_COLS),
        lambda qrows: _query_payload(qrows, encode_q),
        make_kernel,
        PACKED_CAND_SCHEMA,
        batch_rows,
        scan_rows=scan_rows,
    )


def probe_cogroup_topk(
    scan: DataFrame,
    key: str,
    queries: DataFrame,
    read_rows,
    dist: PairDistance,
    out_k: int,
    encode_q=None,
) -> DataFrame:
    """The probe family's plan (LSH buckets, IVF cells) on the same
    kernel body as :func:`query_broadcast_topk`: ``scan`` (id, category,
    ts, <row column>, ``key``) shuffles once on ``key`` and cogroups
    with ``queries`` (``QUERY_COLS`` + ``probe``, one row per probed
    key); each group runs :func:`packed_scan_topk` over its rows, so a
    query is scored only against the keys it probes. ``encode_q(qvecs,
    key)`` maps the group's queries onto the rows' space (IVF-PQ: the
    cell's residual lookup tables); None keeps float qvecs. Emits
    ``PACKED_CAND_SCHEMA`` rows — one per (probed key, query) — for
    :func:`packed_topk_merge`."""

    def kernel(btbl, qtbl):
        tune_worker_arena()
        if btbl.num_rows == 0 or qtbl.num_rows == 0:
            return _PACKED_TYPE.empty_table()
        qb = qtbl.combine_chunks().to_batches()[0]
        qm = np.column_stack(
            [qb.column(c).to_numpy(zero_copy_only=False).astype(np.float64) for c in QUERY_COLS[:5]]
        )
        qv = list_column_matrix(qb, "qvec")
        qmat = qv if encode_q is None else encode_q(qv, btbl.column(key)[0].as_py())
        # a group emits at most its own rows: an exhaustive pool (out_k
        # = corpus size) must not size every group's top-k to the corpus
        kk = min(out_k, btbl.num_rows)
        out = packed_scan_topk(qm, qmat, btbl.to_batches(), read_rows, dist, kk)
        return pa.Table.from_batches(list(out), schema=_PACKED_TYPE)

    cg = scan.groupby(key).cogroup(queries.groupby("probe"))
    return cg.applyInArrow(kernel, PACKED_CAND_SCHEMA)


def corpus_broadcast_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    encode_q=None,
    encode_b=None,
    refine_k: int | None = None,
    grid_key="exact",
) -> DataFrame:
    """The one corpus-broadcast kernel: the small-corpus plan of the
    exact scan, of every quantized brute force and of the hybrid
    engine's fused plan. Output is final (query_id, id, rnk) — zero
    candidate shuffle, no window.

    The id-sorted corpus payload (:func:`_ids_vec_payload`, cached per
    (corpus, ``grid_key``) by :func:`cached_corpus_broadcast`) ships to
    every *query* partition. Exact (``encode_b`` None): each task cuts
    its queries' top-k by float64 L2 with the predicate-sliced scan.
    Quantized: ``encode_b`` codes the corpus once on the driver,
    ``encode_q`` the queries per batch; the task cuts to the top
    ``refine_k`` by code distance, then re-ranks those survivors by
    exact L2 in place (:func:`rerank_exact`) — both phases in one
    kernel. The query task count is pinned to the session parallelism:
    an upstream shuffle would otherwise be AQE-coalesced to one small
    partition (serializing the kernel) and a thin file source
    under-splits it."""
    spark = base.sparkSession
    bc = cached_corpus_broadcast(
        base, CORPUS_COLS, grid_key, lambda pdf: _ids_vec_payload(pdf, encode_b)
    )
    if bc is None:
        return spark.createDataFrame([], RESULT_SCHEMA)
    quantized = encode_b is not None
    dist = CODE_L2 if quantized else EXACT_L2
    out_k = refine_k if quantized else k
    keep = out_k + MERGE_PAD

    def kernel(batches):
        tune_worker_arena()
        p = bc.value
        ids_s, V = p["id"], p["vec"]
        rows = p["codes"] if quantized else V
        pos64 = np.arange(len(ids_s), dtype=np.int64)
        for tbl in batches:
            qid = tbl.column("query_id").to_numpy(zero_copy_only=False).astype(np.int64)
            nq = len(qid)
            if nq == 0:
                continue
            qpred = (
                tbl.column("query_type").to_numpy(zero_copy_only=False).astype(np.int64),
                tbl.column("v").to_numpy(zero_copy_only=False).astype(np.float64),
                tbl.column("l").to_numpy(zero_copy_only=False),
                tbl.column("r").to_numpy(zero_copy_only=False),
            )
            qv = list_column_matrix(tbl, "qvec")
            qmat = encode_q(qv) if quantized else qv
            best_d = np.full((nq, keep), dist.sentinel)
            best_p = np.full((nq, keep), -1, dtype=np.int64)
            # best_p holds corpus POSITIONS: (dist, pos) ≡ (dist, id)
            sliced_predicate_topk(
                best_d, best_p, qpred, pos64, p["category"], p["ts"], rows,
                dist.make(qmat, rows, qid, ids_s), keep,
            )
            _, p2, fin = resolve_topk_rows(best_d, best_p, out_k, dist.sentinel)
            qrow, col = np.nonzero(fin)  # row-major ⇒ per-query rank order
            pos = p2[fin]
            if quantized:
                sel, rnk = rerank_exact(qv, qrow, V, pos, k)
                qrow, pos = qrow[sel], pos[sel]
            else:
                rnk = (col + 1).astype(np.int64)
            yield pa.RecordBatch.from_arrays(
                [pa.array(qid[qrow]), pa.array(ids_s[pos]), pa.array(rnk)], schema=_RESULT_TYPE
            )

    qdf = queries.select(*QUERY_COLS)
    target = spark.sparkContext.defaultParallelism
    if qdf.rdd.getNumPartitions() != target:
        qdf = qdf.repartition(target)
    return qdf.mapInArrow(kernel, RESULT_SCHEMA)


# ---------------------------------------------------------------------------
# Side selection and the exact Arrow operator
# ---------------------------------------------------------------------------


# The one broadcast bound. Every corpus-broadcast plan (the exact scan,
# the SQ8/asym/SQ4 brute force, the hybrid engine's fused kernel) ships
# the id-sorted float64 corpus — plus, in the quantized kernels, its
# codes — to every query task, once per corpus (cached_corpus_broadcast).
# The bound caps that payload: CORPUS_BC_MAX_CELLS float64 cells
# (≈320 MB) when the caller knows the vector width — 625k rows at
# dim 64, 400k at dim 100 — and CORPUS_BC_MAX_ROWS rows (≈160 MB at
# dim 100) when it does not. Above the bound the query-broadcast plans
# run, and the corpus never leaves its partitions. Within it the
# broadcast wins on a warm cache whatever the query count: at 500k × 64
# with 2048 queries (4 vCPU, local[4], BENCH_pairs_r16.json) the exact
# scan ran 4.9 s against the query broadcast's 6.4 s (medians of the
# per-run best warm rep). The first call pays the collect and ship:
# 12.0 s against 9.7 s, with the process tree's peak RSS 7.9 GiB
# against 4.5 GiB.
CORPUS_BC_MAX_ROWS = 200_000
CORPUS_BC_MAX_CELLS = 40_000_000


def bc_rows_bound(dim: int | None) -> int:
    """Max corpus rows for the corpus-broadcast plans given the vector
    width (``None`` = unknown → CORPUS_BC_MAX_ROWS, never less). Every
    brute-force plan choice is ``corpus_rows <= bc_rows_bound(dim)``."""
    if dim is None:
        return CORPUS_BC_MAX_ROWS
    return max(CORPUS_BC_MAX_ROWS, CORPUS_BC_MAX_CELLS // int(dim))


def exact_plan_is_corpus_bc(
    corpus_rows: int,
    dim: int | None,
    n_queries: int | None = None,
    have_prepared_bc: bool = False,
) -> bool:
    """Whether :func:`knn_exact_arrow` broadcasts the corpus: the one
    side rule, ``corpus_rows <= bc_rows_bound(dim)``. ``n_queries`` and
    ``have_prepared_bc`` are ignored; perfbench still passes them, so
    they stay until the next benchmark change."""
    return corpus_rows <= bc_rows_bound(dim)


def knn_exact_scan(
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    batch_rows: int = QUERY_BATCH_ROWS,
    corpus_rows: int | None = None,
) -> DataFrame:
    """The exact scan's query-broadcast plan, the 100 TB regime:
    queries ship to every base partition in batches of ``batch_rows``
    (:func:`query_broadcast_topk`), so the driver never holds the full
    query table and the corpus never leaves its partitions; each
    partition emits its packed per-query top-k and
    :func:`packed_topk_merge` merges the ≤P lists per query.
    ``corpus_rows``: pass when known to skip the count job."""
    candidates = query_broadcast_topk(
        base.select(*CORPUS_COLS),
        queries,
        lambda tbl: list_column_matrix(tbl, "vec"),
        EXACT_L2,
        k,
        batch_rows=batch_rows,
        scan_rows=corpus_rows,
    )
    if candidates is None:
        return base.sparkSession.createDataFrame([], RESULT_SCHEMA)
    return packed_topk_merge(candidates, k)


def knn_exact_arrow(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    batch_rows: int = QUERY_BATCH_ROWS,
    corpus_rows: int | None = None,
    dim: int | None = None,
    n_queries: int | None = None,
) -> DataFrame:
    """Exact kNN, the distributed plan: broadcast the small side, as
    Catalyst does for joins (:func:`exact_plan_is_corpus_bc`).

    - Within ``bc_rows_bound(dim)``, **corpus broadcast**
      (:func:`corpus_broadcast_topk`): the whole base ships to every
      *query* partition; each task answers its queries exactly and
      completely — output is final. The broadcast is cached per corpus
      plan, so repeated callers (streaming micro-batches) ship it once.
    - Above it, **query broadcast** (:func:`knn_exact_scan`).

    Both plans use the same distance formula and (dist, id) tie-break,
    so they produce identical rows. ``corpus_rows`` / ``dim``: pass
    when known — the first skips the count job, the second lifts the
    bound from the row default to the byte bound. ``n_queries`` is
    ignored; perfbench still passes it, so it stays until the next
    benchmark change.
    """
    if corpus_rows is None:
        corpus_rows = base.count()
    if exact_plan_is_corpus_bc(corpus_rows, dim):
        return corpus_broadcast_topk(base, queries, k)
    return knn_exact_scan(base, queries, k, batch_rows, corpus_rows)
