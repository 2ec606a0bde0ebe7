"""Hybrid batch search engine: routing + partitioned graph ANN +
quantized brute force + global merge/re-rank.

Reference: ``HybridGraph::BatchSearch`` (``/root/reference/
hybrid_graph.cpp:147-503``) — the six-phase executor. The Spark
translation (SURVEY §3.2): each phase is a DataFrame job, phase
boundaries are shuffles:

1. selectivity + routing   → stats join + ``route`` column (routing.py)
2. brute-force branch      → SQ8 cut + exact re-rank on knn.py's
                             brute-force kernels: the corpus-broadcast
                             kernel, or the query-broadcast scan kernel
                             + the pooled re-rank (bruteforce_sq8.py)
3. type-1/3 graph branch   → per-category index partitions
4. type-0 branch           → all decile index partitions
5. type-2 branch           → overlapped decile partitions (SplitInterval)
6. global merge            → union candidates + the pooled K12 re-rank
                             ``knn.exact_rerank_pooled`` (one cogroup
                             kernel over the broadcast corpus when
                             corpus_rows ≤ knn.bc_rows_bound(dim);
                             window pool + candidates-only join above)

Index partitions are built once (``build_index``) as a Parquet-able
DataFrame; search ships each query group to exactly the partitions its
predicate can touch (partition pruning done relationally — queries ⨝
partition catalog). The index stores SQ8 codes only (Q6, matching the
reference's codes-only HNSW storage, hnswalg.h:237-297); search ranks
in integer code space and a K12 exact re-rank join over the merged
candidates restores float ranks.
"""

from __future__ import annotations

import math
import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import quantization as Q
from ..plans import workload
from . import bruteforce_sq8, routing
from .hnsw import NumpyHNSW, beam_search, build_pruned_knn_graph
from .hnsw import entry_descent as hnsw_entry_descent

# Codes-only index (Q6): node rows carry SQ8 codes, never float
# vectors — the reference HNSW likewise stores only the 112-byte code
# block per vector (hnswalg.h:237-297). One global α makes code-space
# integer distances comparable across every shard, so search and the
# cross-shard merge run entirely on codes; exact float ranks are
# restored by the K12 re-rank join over merged candidates only. Index
# bytes/row: d bytes (binary) vs 4d+ for array<float> — 4× less
# memory, shuffle and parquet at any scale.
# nbr_ts: per-edge target timestamps parallel to nbrs (F5/P10 —
# graph.hpp:21,64, copied at build by hnsw.hpp:64): a range-filtered
# beam decides edge admission from the adjacency row alone and never
# scores out-of-range targets (searcher.hpp:343-344). Stored double to
# stay bit-identical with the node ts column the result pool checks.
# level/upper: the S9 level structure (hnswalg.h:821-946 persists it;
# HNSWInitializer.hpp keeps the upper graphs) as two more columns of
# the same rows — node i's level and its neighbor lists for layers
# 1..level. The default RNG-graph build emits level 0 / empty (its
# searches seed positionally); the hnsw_levels build fills them and
# unfiltered searches then enter via greedy descent.
INDEX_SCHEMA = (
    "pkey string, pos long, id long, category int, ts double, codes binary, "
    "nbrs array<int>, nbr_ts array<double>, level int, upper array<array<int>>"
)
CAND_SCHEMA = "query_id long, id long, cdist double"


def _build_group_graph(
    pkey_val: str,
    codes: np.ndarray,
    ts_arr: np.ndarray,
    m: int,
    efc: int,
    graph_min_nodes: int,
    hnsw_levels: bool,
):
    """The per-shard graph construction shared by the pandas adapter
    (:func:`_build_group`) and the batched Arrow kernel
    (:func:`build_groups`) — one implementation, so the two entry
    points are bit-identical by construction. ``codes`` is the (n, d)
    int8 matrix in id-ascending row order. Returns
    (nbr_lists, nbr_ts_lists, level_arr, upper_lists)."""
    n = len(ts_arr)
    level_arr = np.zeros(n, dtype=np.int32)
    upper_lists: list[list[list[int]]] = [[] for _ in range(n)]
    if n <= graph_min_nodes:
        # this shard will be answered by the code-GEMM search path —
        # skip the O(n²) graph construction entirely
        nbr_lists: list[list[int]] = [[] for _ in range(n)]
        nbr_ts_lists: list[list[float]] = [[] for _ in range(n)]
    else:
        # graph built on the codes (as float32): code-space distances
        # are the float distances scaled by (α/127)² uniformly, so
        # every build comparison — candidate ranking and the RNG prune
        # rule — decides identically on the quantized grid, and the
        # graph matches the space the beam searches in. Each edge
        # carries its target's timestamp (hnsw.hpp:64).
        cvecs = codes.astype(np.float32)
        if hnsw_levels:
            # incremental HNSW keeping the level structure (S9):
            # deterministic seed from the shard key — crc32, not the
            # builtin hash(), which is PYTHONHASHSEED-salted and only
            # reproducible because PySpark happens to pin the worker
            # seed; rebuild determinism must not depend on that
            seed = zlib.crc32(str(pkey_val).encode()) % (1 << 31)
            nbrs, level_arr, upper_lists = NumpyHNSW(
                m=m, ef_construction=efc, seed=seed
            ).build(cvecs, return_levels=True)
        else:
            nbrs = build_pruned_knn_graph(cvecs, m=m)
        kept = [row[row >= 0] for row in nbrs]
        nbr_lists = [row.tolist() for row in kept]
        nbr_ts_lists = [ts_arr[row].tolist() for row in kept]
    return nbr_lists, nbr_ts_lists, level_arr, upper_lists


def _build_group(
    pdf: pd.DataFrame,
    m: int,
    efc: int,
    graph_min_nodes: int,
    alpha: float,
    hnsw_levels: bool = False,
) -> pd.DataFrame:
    pdf = pdf.sort_values("id").reset_index(drop=True)
    # rows arrive pre-encoded (Q6 in-build quantization,
    # hnswalg.h:237-297): the JVM encodes before the build shuffle, so
    # tasks receive 1-byte codes, not 4-byte floats — 4× less shuffle
    # at any scale
    codes = (
        np.asarray([np.asarray(c, dtype=np.int8) for c in pdf["codes"]])
        if len(pdf)
        else np.empty((0, 0), np.int8)
    )
    ts_arr = pdf["ts"].to_numpy()
    n = len(pdf)
    pkey_val = str(pdf["pkey"].iloc[0]) if n else ""
    nbr_lists, nbr_ts_lists, level_arr, upper_lists = _build_group_graph(
        pkey_val, codes, ts_arr, m, efc, graph_min_nodes, hnsw_levels
    )
    return pd.DataFrame(
        {
            "pkey": pdf["pkey"],
            "pos": np.arange(n, dtype=np.int64),
            "id": pdf["id"].to_numpy(),
            "category": pdf["category"].to_numpy(),
            "ts": ts_arr,
            "codes": [row.tobytes() for row in codes],
            "nbrs": nbr_lists,
            "nbr_ts": nbr_ts_lists,
            "level": level_arr,
            "upper": upper_lists,
        }
    )


def build_groups(
    sliced: DataFrame,
    m: int,
    efc: int,
    graph_min_nodes: int,
    alpha: float,
    hnsw_levels: bool = False,
    n_groups: int | None = None,
) -> DataFrame:
    """Batched shard construction: every per-shard build in one
    ``mapInArrow`` pass over ``(pkey, id, category, ts, codes)`` rows,
    running the SAME :func:`_build_group_graph` core per shard as the
    grouped-pandas reference ``groupBy(pkey).applyInPandas(_build_group)``
    (bit-identical rows; the codes column decodes per shard via Arrow
    offsets instead of a pandas frame + per-row decode).

    **Task count: ``min(n_groups, 2 × defaultParallelism)``** (``2 ×
    defaultParallelism`` when ``n_groups`` is unknown). A Python task
    has a fixed cost whatever it carries: at ``local[2]`` on a 4-vCPU
    VM, 8 one-row ``mapInArrow`` tasks take 1.1-1.4 s against
    0.07-0.18 s for the same job without Python. Tasks past the slots'
    second wave, and tasks that hold no shard, only add set-up time;
    two waves still let multi-second graph shards balance against
    GEMM-sized ones that build no graph. The explicit count is a
    user-specified N (REPARTITION_BY_NUM), which AQE keeps.

    **Streaming bound.** ``sortWithinPartitions(pkey, id)`` runs in the
    JVM (spillable), so the kernel walks the Arrow batches, cuts a run
    where ``pkey`` changes, carries the open run across batch
    boundaries and builds each shard as its run closes: a Python worker
    holds one shard plus one batch, not its whole partition. Rows of a
    run arrive id-ascending — the reference's ``sort_values("id")``.
    Null pkeys (rows whose slice prefix is missing from a frozen shard
    plan, between compactions) sort first and form ONE group, as
    ``groupBy(pkey)`` makes them.
    """
    npart = 2 * sliced.sparkSession.sparkContext.defaultParallelism
    if n_groups:
        npart = max(1, min(int(n_groups), npart))
    part = sliced.repartition(npart, "pkey").sortWithinPartitions("pkey", "id")

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        from .knn import tune_worker_arena

        tune_worker_arena()
        out_schema = pa.schema(
            [
                pa.field("pkey", pa.string()),
                pa.field("pos", pa.int64()),
                pa.field("id", pa.int64()),
                pa.field("category", pa.int32()),
                pa.field("ts", pa.float64()),
                pa.field("codes", pa.binary()),
                pa.field("nbrs", pa.list_(pa.int32())),
                pa.field("nbr_ts", pa.list_(pa.float64())),
                pa.field("level", pa.int32()),
                pa.field("upper", pa.list_(pa.list_(pa.int32()))),
            ]
        )
        # the null pkey's run key: no real "prefix:int" pkey can equal it
        null_key = "\x00null"

        def shard(run, key):
            tbl = pa.Table.from_batches(run).combine_chunks()
            n = tbl.num_rows
            ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
            cats = tbl.column("category").to_numpy(zero_copy_only=False).astype(np.int32)
            ts = tbl.column("ts").to_numpy(zero_copy_only=False).astype(np.float64)
            cc = tbl.column("codes").chunk(0)
            offs = cc.offsets.to_numpy()
            cvals = cc.values.to_numpy(zero_copy_only=False).astype(np.int8, copy=False)
            widths = np.diff(offs)
            d = int(widths[0])
            if (widths == d).all():
                codes = cvals[offs[0] : offs[-1]].reshape(n, d)
            else:  # ragged codes — not produced by the encoders; stay safe
                codes = np.asarray(cc.to_pylist(), dtype=np.int8)
                d = codes.shape[1]
            is_null = key == null_key
            # the pandas reference saw pkey=None here: its seed key was
            # str(None) and its output pkey stayed null
            pkey_val = str(None) if is_null else key
            nbr_lists, nbr_ts_lists, level_arr, upper_lists = _build_group_graph(
                pkey_val, codes, ts, m, efc, graph_min_nodes, hnsw_levels
            )
            codes_arr = pa.Array.from_buffers(
                pa.binary(),
                n,
                [
                    None,
                    pa.py_buffer((np.arange(n + 1, dtype=np.int32) * d).tobytes()),
                    pa.py_buffer(codes.tobytes()),
                ],
            )
            pkey_arr = (
                pa.nulls(n, pa.string())
                if is_null
                else pa.array(np.full(n, pkey_val, dtype=object), type=pa.string())
            )
            return pa.RecordBatch.from_arrays(
                [
                    pkey_arr,
                    pa.array(np.arange(n, dtype=np.int64)),
                    pa.array(ids),
                    pa.array(cats),
                    pa.array(ts),
                    codes_arr,
                    pa.array(nbr_lists, type=pa.list_(pa.int32())),
                    pa.array(nbr_ts_lists, type=pa.list_(pa.float64())),
                    pa.array(level_arr),
                    pa.array(upper_lists, type=pa.list_(pa.list_(pa.int32()))),
                ],
                schema=out_schema,
            )

        run: list = []  # batch slices of the open pkey run
        run_key = None
        for rb in batches:
            n = rb.num_rows
            if not n:
                continue
            pk = pc.fill_null(rb.column("pkey"), null_key)
            cuts = np.flatnonzero(
                pc.not_equal(pk[1:], pk[:-1]).to_numpy(zero_copy_only=False)
            ) + 1
            for s, e in zip([0, *cuts.tolist()], [*cuts.tolist(), n]):
                key = pk[s].as_py()
                if run and key != run_key:
                    yield shard(run, run_key)
                    run = []
                run.append(rb.slice(s, e - s))
                run_key = key
        if run:
            yield shard(run, run_key)

    return part.mapInArrow(kernel, INDEX_SCHEMA)


MAX_NODES_PER_GRAPH = 8192


def _shard_plan(
    base: DataFrame, cat_thr: float, max_nodes: int
) -> dict[str, int]:
    """``{slice prefix: shard count}`` for every slice that gets an
    index partition — the driver-side twin of the reference's replica
    maps (utils.h:352-479). ONE bounded job: per-category and
    per-decile counts union into a |cats|+10-row stats table, a global
    window adds the corpus total (deciles partition the corpus, so
    their sum IS the total), and only big categories + the ten deciles
    come back to the driver (≤ 1/cat_thr + 10 rows at any corpus
    size). Knowing shard counts up front means the shard catalog is
    plain metadata — search never has to materialize the index just to
    learn which shards exist."""
    dec = F.least(F.floor(F.col("ts") * 10).cast("int"), F.lit(9))
    # ONE corpus scan: every row contributes its (cat, key) and
    # (dec, key) memberships via a 2-element explode, and map-side
    # partial aggregation collapses the doubled rows to |cats|+10
    # before the shuffle — vs two separate scans for the two groupBys
    both = base.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("cat").alias("kind"),
                    F.col("category").cast("long").alias("key"),
                ),
                F.struct(F.lit("dec").alias("kind"), dec.cast("long").alias("key")),
            )
        ).alias("m")
    ).groupBy(F.col("m.kind").alias("kind"), F.col("m.key").alias("key")).agg(
        F.count("*").alias("cnt")
    )
    # corpus total = sum over the decile rows (deciles partition the
    # corpus); a broadcast cross-join of the 1-row aggregate — NOT a
    # constant-partition window, which Catalyst folds into an empty
    # partition spec and executes as a single-task WindowExec
    total = both.filter(F.col("kind") == "dec").agg(F.sum("cnt").alias("total"))
    rows = (
        both.crossJoin(F.broadcast(total))
        .filter(
            (F.col("kind") == "dec")
            | (F.col("cnt") >= F.lit(cat_thr) * F.col("total"))
        )
        .collect()
    )
    return {
        f"{r['kind']}:{r['key']}": math.ceil(r["cnt"] / max_nodes) for r in rows
    }


def _pkey_expr(plan: dict[str, int], prefix_expr: F.Column) -> F.Column:
    """pkey = ``<prefix>:<id % nshards>`` with nshards looked up in a
    literal map — big-cat/decile cardinality is bounded, so the map is
    a constant expression, not a join."""
    pairs: list[F.Column] = []
    for prefix, nshards in plan.items():
        pairs += [F.lit(prefix), F.lit(nshards)]
    ns = F.element_at(F.create_map(*pairs), prefix_expr).cast("long")
    return F.concat(prefix_expr, F.lit(":"), F.pmod(F.col("id"), ns).cast("string"))


def build_index(
    base: DataFrame,
    cat_thr: float = routing.CAT_GRAPH_THR,
    m: int = 16,
    efc: int = 100,
    max_nodes: int = MAX_NODES_PER_GRAPH,
    graph_min_nodes: int = 0,
    shard_plan: dict[str, int] | None = None,
    alpha: float | None = None,
    hnsw_levels: bool = False,
) -> DataFrame:
    """Build all graph partitions as one DataFrame job.

    Two partition families, mirroring the reference's sorted replicas
    (utils.h:352-479): ``cat:<v>`` for every category holding ≥ cat_thr
    of the corpus (hybrid_graph.cpp:47-70) and ``dec:<d>`` for the ten
    ts-deciles (hybrid_graph.cpp:72-89). Each group builds its HNSW
    sequentially inside one task — parallel across groups.

    **Sub-sharding (the 100 TB piece the reference lacks):** a slice
    larger than ``max_nodes`` splits into ``ceil(cnt/max_nodes)``
    shards (``cat:<v>:<s>``, deterministic ``id % nshards``), so one
    task never builds an unbounded graph and build parallelism grows
    with the data. Search fans each query out to every shard of its
    slice via the shard catalog (``shard_catalog``) and the global
    top-k merge re-unifies — shard count changes cost, never results.

    ``graph_min_nodes``: shards at or under this size get empty
    neighbor lists (no O(n²) build) — pass the search's ``gemm_thr``
    so exactly the shards the exact-GEMM path serves skip the build.
    Must be ≤ the gemm_thr used at search time (``knn_hybrid`` couples
    them automatically when it builds the index itself).
    """
    if alpha is None:
        alpha = Q.train_alpha(base)
    if shard_plan is None:
        shard_plan = _shard_plan(base, cat_thr, max_nodes)
    both = _slice_rows(base, shard_plan, alpha)
    return build_groups(
        both, m, efc, graph_min_nodes, float(alpha), hnsw_levels,
        n_groups=sum(shard_plan.values()),
    )


def _slice_rows(base: DataFrame, shard_plan: dict[str, int], alpha: float) -> DataFrame:
    """(pkey, id, category, ts, codes): each base row exploded to its
    slice shards under a FIXED shard plan — the row-routing half of
    ``build_index``, shared with :func:`upsert_index` so incremental
    ingest routes rows exactly like the original build."""
    return _prefix_rows(base, shard_plan, alpha).select(
        _pkey_expr(shard_plan, F.col("prefix")).alias("pkey"),
        "id",
        "category",
        "ts",
        "codes",
    )


def _prefix_rows(base: DataFrame, shard_plan: dict[str, int], alpha: float) -> DataFrame:
    """(prefix, id, category, ts, codes): slice-prefix routing without
    the shard assignment — shared by the hash router (``_slice_rows``)
    and the append-only epoch router (``_slice_rows_epoch``)."""
    big_cats = [
        int(p.split(":")[1]) for p in shard_plan if p.startswith("cat:")
    ]
    dec = F.least(F.floor(F.col("ts") * 10).cast("int"), F.lit(9))
    # ONE corpus scan: each row explodes to its slice prefixes (its
    # decile always, its category slice iff big) instead of a
    # two-branch union that scans the corpus twice
    dec_key = F.concat(F.lit("dec:"), dec.cast("long"))
    if big_cats:
        cat_key = F.when(
            F.col("category").cast("long").isin(big_cats),
            F.concat(F.lit("cat:"), F.col("category").cast("long")),
        )
        pref_arr = F.array_compact(F.array(cat_key, dec_key))
    else:
        pref_arr = F.array(dec_key)
    # no explicit repartition: groupBy().applyInPandas already hash-
    # shuffles on pkey — a repartition here would shuffle the rows twice.
    # Encode BEFORE the explode/shuffle (Q6): the shuffle moves 1-byte
    # codes, not floats, and the per-row encode runs once even though
    # the row lands in up to two slices.
    enc = base.select(
        "id", "category", "ts",
        Q.encode_expr("vec", alpha).cast("array<tinyint>").alias("codes"),
    )
    return enc.select(
        F.explode(pref_arr).alias("prefix"),
        "id",
        "category",
        "ts",
        "codes",
    )


def _bin_to_codes_batch(bs: pd.Series) -> pd.Series:
    """BINARY codes column (int8.tobytes()) → array<tinyint> rows, the
    exact inverse of the index writer. One frombuffer over the
    concatenated batch, then per-row views — no row-at-a-time decode;
    the slices alias the single flat buffer."""
    raw = [bytes(b) for b in bs]
    flat = np.frombuffer(b"".join(raw), dtype=np.int8)
    offs = np.zeros(len(raw) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in raw], out=offs[1:])
    return pd.Series([flat[offs[i]: offs[i + 1]] for i in range(len(raw))])


def _codes_weighted_digest_batch(bs: pd.Series) -> pd.Series:
    """Per-row position-weighted code digest Σ_j (j+1)·code_j over a
    BINARY codes column (int8 bytes) — a compact, SQL-reproducible
    fingerprint of the code vector (the oracle computes the same fold
    over its re-encoded list). One frombuffer + one GEMV per batch."""
    raw = [bytes(b) for b in bs]
    if not raw:
        return pd.Series([], dtype="int64")
    flat = np.frombuffer(b"".join(raw), dtype=np.int8).astype(np.int64)
    lens = np.fromiter((len(b) for b in raw), dtype=np.int64, count=len(raw))
    if (lens == lens[0]).all() and lens[0] > 0:
        mat = flat.reshape(-1, int(lens[0]))
        w = np.arange(1, int(lens[0]) + 1, dtype=np.int64)
        return pd.Series(mat @ w)
    out, pos = [], 0
    for n in lens:
        out.append(int(flat[pos: pos + n] @ np.arange(1, n + 1, dtype=np.int64)))
        pos += n
    return pd.Series(out, dtype="int64")


def upsert_index(
    index: DataFrame,
    new_base: DataFrame,
    shard_plan: dict[str, int],
    alpha: float,
    m: int = 16,
    efc: int = 100,
    graph_min_nodes: int = 0,
    hnsw_levels: bool = False,
    affected: list[str] | None = None,
) -> DataFrame:
    """Incremental index maintenance: fold new vectors into an existing
    partitioned graph index, rebuilding ONLY the shards they land in.

    ``affected``: the arrival pkey list, if the caller already computed
    it (the ingest fold needs it for the manifest owners map) — passing
    it skips the internal distinct-collect job.

    The reference builds once and searches (baseline.cpp) — continuous
    ingest is a beyond-reference capability, and the shard layout makes
    it cheap: new rows route to pkeys under the SAME fixed
    ``shard_plan``/``alpha`` the index was built with (``_slice_rows``,
    shared code), untouched shards pass through as a pure filter (no
    rebuild, no decode — their rows are byte-identical), and each
    affected shard rebuilds from its retained members (the index rows
    already carry id/category/ts/codes — no second look at the
    original corpus) plus the arrivals. Cost per micro-batch is
    O(affected shards × max_nodes log), independent of corpus size.

    Delta-architecture contract (documented, test-pinned): the plan and
    alpha stay FIXED between compactions, so shards grow past
    ``max_nodes`` under sustained ingest and brand-new big categories
    keep riding their decile shards until :func:`compaction_due` fires
    and :func:`compact_index` re-derives the plan/alpha from the raw
    corpus — the classic delta + compact split. ``shard_catalog``/
    search need no changes between compactions: pkeys are stable.
    """
    sliced = _slice_rows(new_base, shard_plan, alpha)
    if affected is None:
        affected = [r["pkey"] for r in sliced.select("pkey").distinct().collect()]
    if not affected:
        return index
    return _rebuild_affected(
        index, new_base, sliced, affected, alpha, m, efc, graph_min_nodes,
        hnsw_levels,
    )


def _rebuild_affected(
    index: DataFrame,
    new_base: DataFrame,
    sliced: DataFrame,
    affected: list[str],
    alpha: float,
    m: int,
    efc: int,
    graph_min_nodes: int,
    hnsw_levels: bool,
) -> DataFrame:
    """The rebuild tail of both upserts: shards outside ``affected``
    pass through as a pure filter; each affected shard rebuilds from
    its retained rows (codes decoded back to arrays) plus the
    arrivals ``sliced`` (pkey, id, category, ts, codes).

    Replay idempotence: a retried micro-batch (streaming checkpoint
    replay after the LATEST pointer already moved) re-applies rows the
    index already holds; without the anti-join the rebuild would
    duplicate them and diverge from the from-scratch build. Dropping
    retained rows whose id re-arrives also gives true UPSERT semantics
    for value updates — under the standing assumption that (category,
    ts) per id are immutable (routing is deterministic in them, so the
    stale copy lives in an affected shard). For the append-only epoch
    fold only the open shard has retained rows and the anti-join is
    defense in depth. The arrival-id side is micro-batch-sized —
    broadcast, and not de-duplicated: a left-anti join ignores
    duplicate keys, and a distinct would add an aggregate shuffle.

    ``affected`` holds ``None`` when an arrival's slice prefix is
    missing from the frozen plan (its rows form the null-pkey shard).
    ``pkey IN (..., NULL)`` is never false and ``NULL IN (...)`` is
    never true, so the null shard is decided apart from the ``IN``:
    ``hit`` is true or false on every row, never NULL, and no shard
    drops out of both sides of the split."""
    pkey = F.col("pkey")
    hit = F.when(pkey.isNull(), F.lit(None in affected)).otherwise(
        pkey.isin([p for p in affected if p is not None])
    )
    untouched = index.filter(~hit)
    arrival_ids = F.broadcast(new_base.select("id"))
    bin_to_codes = F.pandas_udf(_bin_to_codes_batch, "array<tinyint>")
    retained = (
        index.filter(hit)
        .join(arrival_ids, "id", "left_anti")
        .select(
            "pkey", "id", "category", "ts",
            bin_to_codes(F.col("codes")).alias("codes"),
        )
    )
    rebuilt = build_groups(
        retained.unionByName(sliced), m, efc, graph_min_nodes, float(alpha),
        hnsw_levels, n_groups=len(affected),
    )
    return untouched.unionByName(rebuilt)


# ---------------------------------------------------------------------------
# Append-only EPOCH sub-sharding — the ingest write-floor fix.
#
# Hash sub-sharding (``_slice_rows``: shard = id % ns) spreads every
# micro-batch's arrivals across ALL shards of each touched slice, so in
# manifest-mode ingest a hot big-CATEGORY slice — whose rows span all
# time — rebuilds every one of its shards every batch: the measured
# ~112-shard/batch write floor (tools/measure_manifest.py at commit
# 9f5e074, README).
# Epoch routing assigns shard ids append-only instead: each slice keeps
# ONE open shard that fills to ``max_nodes`` and seals; arrivals go to
# the open shard (and spill into fresh epochs when a batch overflows
# it), so a batch rebuilds O(touched slices + batch/max_nodes) shards
# regardless of how large the slice has grown. Sealed shards are
# immutable — byte-identical across versions, never rewritten. The
# pkey shape is unchanged (``prefix:<int>``, ids just grow monotonically
# per slice), so the shard catalog, assignment join, search cogroup and
# persistence all work untouched; search fans out to every shard of the
# slice exactly as with hash shards.
#
# Contract: APPEND-ONLY ids (the standard vector-log assumption).
# A re-arriving id would land in the open epoch while its first copy
# sits in a sealed shard the fold never reopens — updates need the
# hash-routed ``upsert_index`` (deterministic id → shard) or a
# compaction. Replay safety therefore comes from the fold's batch-id
# guard (a replayed micro-batch whose snapshot already committed
# no-ops), not from the anti-join.
# ---------------------------------------------------------------------------


def _epoch_state_from_plan(shard_plan: dict[str, int]) -> dict[str, list[int]]:
    """Initial epoch state over an existing HASH-built index: every
    slice's next epoch starts beyond its hash shards (``prefix:ns``),
    with an empty open shard. State shape: prefix → [open_epoch,
    open_count] (JSON-serializable for the ingest manifest)."""
    return {prefix: [ns, 0] for prefix, ns in shard_plan.items()}


def _slice_rows_epoch(
    new_base: DataFrame,
    shard_plan: dict[str, int],
    alpha: float,
    state: dict[str, list[int]],
    max_nodes: int,
) -> tuple[DataFrame, dict[str, list[int]], list[str]]:
    """Epoch-routed (pkey, id, category, ts, codes) for a micro-batch,
    plus the advanced state and the affected pkey list.

    Row n (0-based, per-slice by id asc) lands in epoch
    ``open + (count + n) div max_nodes`` — fill the open shard, then
    chunk the spill into fresh epochs. The per-slice row_number sorts
    BATCH-sized data only (micro-batch scale by construction; the
    first full-corpus build should use ``build_index``'s parallel hash
    path and switch to epochs for the deltas — the ingest fold does)."""
    pr = _prefix_rows(new_base, shard_plan, alpha)
    counts = {
        r["prefix"]: r["n"]
        for r in pr.groupBy("prefix").agg(F.count("*").alias("n")).collect()
    }
    if not counts:
        return pr.select(F.lit("").alias("pkey"), "id", "category", "ts", "codes"), dict(state), []
    new_state = {k: list(v) for k, v in state.items()}
    affected: list[str] = []
    pairs: list[F.Column] = []
    for prefix, n in sorted(counts.items()):
        e, c = new_state.get(prefix, [0, 0])
        last = c + n - 1
        new_e = e + last // max_nodes
        new_c = last % max_nodes + 1
        if new_c == max_nodes:
            # Seal eagerly: a batch ending exactly on the shard
            # boundary leaves the open shard full — advancing the
            # state past it keeps the next batch's affected range off
            # the sealed shard (otherwise a zero-row "open" shard gets
            # rebuilt and its manifest owner churns every epoch-sized
            # batch, re-adding the write amplification the design
            # exists to remove).
            new_e, new_c = new_e + 1, 0
        new_state[prefix] = [new_e, new_c]
        affected += [f"{prefix}:{k}" for k in range(e, e + last // max_nodes + 1)]
        pairs += [F.lit(prefix), F.array(F.lit(e), F.lit(c))]
    base_map = F.create_map(*pairs)
    w = Window.partitionBy("prefix").orderBy("id")
    rn = F.row_number().over(w).cast("long") - F.lit(1)
    ep = F.element_at(base_map, F.col("prefix"))
    rows = pr.select(
        F.concat(
            F.col("prefix"), F.lit(":"), F.floor(
                (ep.getItem(1).cast("long") + rn) / F.lit(max_nodes)
            ).cast("long") + ep.getItem(0).cast("long")
        ).alias("pkey"),
        "id",
        "category",
        "ts",
        "codes",
    )
    return rows, new_state, affected


def upsert_index_epoch(
    index: DataFrame,
    new_base: DataFrame,
    shard_plan: dict[str, int],
    alpha: float,
    state: dict[str, list[int]],
    max_nodes: int = MAX_NODES_PER_GRAPH,
    m: int = 16,
    efc: int = 100,
    graph_min_nodes: int = 0,
    hnsw_levels: bool = False,
) -> tuple[DataFrame, dict[str, list[int]], list[str]]:
    """Append-only incremental maintenance: fold new vectors into the
    index rebuilding ONLY each touched slice's open shard (plus any
    fresh epochs the batch spills into) — per-batch rebuild cost is
    O(touched slices + batch/max_nodes) shards, independent of slice
    size, where hash-routed :func:`upsert_index` rebuilds every shard
    of every touched slice. Sealed shards pass through as a pure
    filter. Returns (index, new_state, affected_pkeys)."""
    sliced, new_state, affected = _slice_rows_epoch(
        new_base, shard_plan, alpha, state, max_nodes
    )
    if not affected:
        return index, new_state, []
    rebuilt = _rebuild_affected(
        index, new_base, sliced, affected, alpha, m, efc, graph_min_nodes,
        hnsw_levels,
    )
    return rebuilt, new_state, affected


COMPACT_FACTOR = 2.0


def compaction_due(
    index: DataFrame,
    shard_plan: dict[str, int],
    max_nodes: int = MAX_NODES_PER_GRAPH,
    factor: float = COMPACT_FACTOR,
    cat_thr: float = routing.CAT_GRAPH_THR,
) -> bool:
    """The delta-contract compaction trigger (`upsert_index` keeps the
    shard plan/alpha FIXED between compactions, so sustained ingest
    erodes the per-shard ``max_nodes`` bound — the thing that keeps
    search tasks constant-cost). Fires when either

    - any shard holds more than ``factor × max_nodes`` members, or
    - a category not in the plan now holds ≥ ``cat_thr`` of the corpus
      (it has been riding its decile shards without a cat: slice).

    Both checks read ONE catalog-sized aggregation over the index,
    collected once: every row counts toward its pkey (the null pkey
    too), and a decile row also counts toward its category (deciles
    partition the corpus exactly once, so their category counts sum to
    the corpus) — the explode pattern of ``_shard_plan``. The driver
    applies both rules to the ≤ shards + categories rows. No raw-corpus
    scan."""
    pkey = F.struct(F.lit("pkey").alias("kind"), F.col("pkey").alias("key"))
    cat = F.struct(F.lit("cat").alias("kind"), F.col("category").cast("string").alias("key"))
    member = F.when(F.col("pkey").startswith("dec:"), F.array(pkey, cat)).otherwise(F.array(pkey))
    rows = (
        index.select(F.explode(member).alias("m"))
        .groupBy(F.col("m.kind").alias("kind"), F.col("m.key").alias("key"))
        .count()
        .collect()
    )
    if any(r["kind"] == "pkey" and r["count"] > factor * max_nodes for r in rows):
        return True
    planned_cats = {int(p.split(":")[1]) for p in shard_plan if p.startswith("cat:")}
    cat_counts = [(r["key"], r["count"]) for r in rows if r["kind"] == "cat"]
    total = sum(c for _, c in cat_counts)
    return any(
        key is not None and c >= cat_thr * total and int(key) not in planned_cats
        for key, c in cat_counts
    )


def compact_index(
    index: DataFrame,
    base: DataFrame,
    shard_plan: dict[str, int],
    alpha: float,
    cat_thr: float = routing.CAT_GRAPH_THR,
    max_nodes: int = MAX_NODES_PER_GRAPH,
    factor: float = COMPACT_FACTOR,
    m: int = 16,
    efc: int = 100,
    graph_min_nodes: int = 0,
    hnsw_levels: bool = False,
    force: bool = False,
) -> tuple[DataFrame, dict[str, int], float]:
    """The compact half of the delta + compact split: when
    :func:`compaction_due` fires, re-derive the shard plan AND alpha
    from the full raw corpus (``base`` — the index stores codes only,
    so retraining the quantizer needs the float vectors; the compaction
    job is the one that owns the raw corpus) and rebuild from scratch,
    restoring the per-shard ``max_nodes`` bound and giving newly-big
    categories their cat: slices. Otherwise pass (index, plan, alpha)
    through unchanged — callers loop ``upsert → compact_index`` and the
    trigger decides. Returns the (index, plan, alpha) triple the caller
    continues upserting under. ``force=True`` skips the internal due
    check — for callers whose OWN trigger already fired (e.g. the
    ingest fold's manifest-fragmentation bound, which epoch shards can
    hit without ever tripping the size trigger)."""
    if not force and not compaction_due(index, shard_plan, max_nodes, factor, cat_thr):
        return index, shard_plan, alpha
    new_alpha = Q.train_alpha(base)
    new_plan = _shard_plan(base, cat_thr, max_nodes)
    rebuilt = build_index(
        base,
        cat_thr=cat_thr,
        m=m,
        efc=efc,
        max_nodes=max_nodes,
        graph_min_nodes=graph_min_nodes,
        shard_plan=new_plan,
        alpha=new_alpha,
        hnsw_levels=hnsw_levels,
    )
    return rebuilt, new_plan, new_alpha


def partition_index_for_search(index: DataFrame) -> DataFrame:
    """Build-phase co-location: hash-partition the index by ``pkey``
    BEFORE persisting, so every subsequent search cogroup finds the
    index side already clustered on its grouping key and elides that
    exchange — otherwise every BatchSearch reshuffles the full index
    (codes + adjacency, the dominant bytes) just to group it. The
    reference keeps its graphs resident between batches
    (baseline.cpp builds once, searches many); a pkey-clustered cache
    is the DataFrame equivalent. Apply to the handle you persist:
    ``partition_index_for_search(load_index(...)).persist()``."""
    return index.repartition(F.col("pkey"))


def catalog_from_plan(spark: SparkSession, shard_plan: dict[str, int]) -> DataFrame:
    """(prefix, pkey) catalog derived from the shard plan — pure
    metadata, no index scan. The analytic twin of ``shard_catalog``:
    use this when the plan is in hand (index built this run); use
    ``shard_catalog`` when only the index DataFrame exists (loaded
    from disk)."""
    rows = [
        (prefix, f"{prefix}:{s}")
        for prefix, nshards in shard_plan.items()
        for s in range(nshards)
    ]
    return spark.createDataFrame(rows, "prefix string, pkey string")


def shard_catalog(index: DataFrame) -> DataFrame:
    """(prefix, pkey): slice → its shards. A few hundred rows at most —
    always the broadcast side of the assignment join. Materialized
    through the driver (it IS planning metadata, the relational twin of
    the reference's (start,count) partition maps) — which also detaches
    its lineage from the index, so the search cogroup is not a
    self-join."""
    rows = (
        index.select("pkey")
        .distinct()
        .select(F.regexp_extract("pkey", r"^(.*):\d+$", 1).alias("prefix"), "pkey")
        .collect()
    )
    return index.sparkSession.createDataFrame(
        [(r["prefix"], r["pkey"]) for r in rows], "prefix string, pkey string"
    )


def _assignments(queries: DataFrame, plan: DataFrame, catalog: DataFrame) -> DataFrame:
    """(pkey, query_id, query_type, v, l, r, qvec) — which index
    partitions serve which graph-routed query. Pruning is relational:
    queries map to slice *prefixes* (their category / overlapped
    deciles), then the broadcast shard catalog fans each prefix out to
    its shards."""
    q = queries.join(plan.select("query_id", "route"), "query_id")
    graph_q = q.filter(F.col("route") != routing.ROUTE_BF)
    # type 1/3 → its category slice
    cat_assign = graph_q.filter(F.col("query_type").isin(1, 3)).select(
        F.concat(F.lit("cat:"), F.col("v").cast("string")).alias("prefix"),
        "query_id",
        "query_type",
        "v",
        "l",
        "r",
        "qvec",
    )
    # type 0 → every decile slice; type 2 → overlapped deciles only
    deciles = graph_q.filter(F.col("query_type").isin(0, 2)).select(
        "query_id",
        "query_type",
        "v",
        "l",
        "r",
        "qvec",
        F.explode(
            F.when(F.col("query_type") == 0, F.sequence(F.lit(0), F.lit(9))).otherwise(
                F.sequence(
                    F.greatest(F.floor(F.col("l") * 10).cast("int"), F.lit(0)),
                    F.least(F.ceil(F.col("r") * 10).cast("int") - 1, F.lit(9)),
                )
            )
        ).alias("dec"),
    )
    dec_assign = deciles.select(
        F.concat(F.lit("dec:"), F.col("dec").cast("string")).alias("prefix"),
        "query_id",
        "query_type",
        "v",
        "l",
        "r",
        "qvec",
    )
    prefixed = cat_assign.unionByName(dec_assign)
    return prefixed.join(F.broadcast(catalog), "prefix").drop("prefix")


# Below this shard size one batched GEMM over all of the shard's queries
# beats per-query graph traversal — the reference's SMALL→bruteforce
# routing (hybrid_graph.cpp:399-419) applied at shard granularity. The
# GEMM path is also exact, so small shards contribute perfect candidates.
GEMM_SHARD_THR = 4096

# Adaptive beam width (P4): the reference interpolates ef per query from
# the query type, category size and range selectivity instead of one
# global knob (SearchParams, hybrid_graph.h:14-34; applied at
# hybrid_graph.cpp:153-154 ef-slopes, :261-268 type-2 FULL bands,
# :421-448 type-1/3 category slope + type-2 MEDIUM bands). The bands
# below are the reference's ef/K ratios (K=100), applied to our k:
#   type 0:  ef0_full=425            → 4.25·k per decile shard
#   type 1:  ef1min..max=1800..2500  → (18..25)·k by category size
#   type 3:  ef3min..max=1800..2800  → (18..28)·k by category size
#   type 2:  FULL decile  480/630/780 → (4.8..7.8)·k by selectivity
#            MEDIUM decile 680/780/1180 → (6.8..11.8)·k by selectivity
# The category-size slope uses the shard row count (sub-sharding caps it
# at MAX_NODES_PER_GRAPH, so n/MAX is the within-bounds position); the
# type-2 bands use the shard-local allowed fraction — exactly the
# per-decile coverage the reference's SplitInterval tags encode.
EF0_RATIO = 4.25
EF1_MIN_RATIO, EF1_MAX_RATIO = 18.0, 25.0
EF3_MIN_RATIO, EF3_MAX_RATIO = 18.0, 28.0
EF2_FULL_RATIO = 6.3  # mid band: a fully-covered decile has frac == 1
EF2_LARGE_RATIO, EF2_MED_RATIO, EF2_SMALL_RATIO = 6.8, 7.8, 11.8


def adaptive_ef(
    query_type: int, n: int, n_allowed: int, k: int, max_nodes: int = MAX_NODES_PER_GRAPH
) -> int:
    """Per-query beam width for one shard (reference semantics above).
    Capped by the allowed-node count (a pool deeper than the filtered
    population buys nothing) and floored at k."""
    if query_type == 0:
        ratio = EF0_RATIO
    elif query_type in (1, 3):
        lo, hi = (EF1_MIN_RATIO, EF1_MAX_RATIO) if query_type == 1 else (
            EF3_MIN_RATIO, EF3_MAX_RATIO
        )
        ratio = lo + (hi - lo) * min(1.0, n / max_nodes)
    else:  # type 2
        frac = n_allowed / n if n else 1.0
        if frac >= 1.0:
            ratio = EF2_FULL_RATIO
        elif frac > 0.6:
            ratio = EF2_LARGE_RATIO
        elif frac > 0.3:
            ratio = EF2_MED_RATIO
        else:
            ratio = EF2_SMALL_RATIO
    ef = int(math.ceil(ratio * k))
    return max(k, min(ef, max(k, n_allowed)))


# Per-shard candidate depth: the reference's searches return
# refine_k = 1.5·K candidates per sub-search for the float re-rank
# (graph_full_refine_k = 150, hybrid_graph.h:81-85). Code-space
# ranking is approximate, so each shard emits 1.5k candidates and the
# global K12 re-rank restores exact order.
SHARD_REFINE_MULT = 1.5


_EMPTY_TRIPLE = (
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.int64),
    np.empty(0, dtype=np.float64),
)


def _search_shard_gemm(
    codes: np.ndarray,
    ids: np.ndarray,
    cats: np.ndarray,
    ts: np.ndarray,
    qarrs,
    k: int,
    alpha: float,
):
    """All-queries-at-once integer GEMM over the shard's codes
    (bruteforce.h:244-265 semantics at shard granularity). Returns the
    (query_id, id, cdist) numpy triple."""
    qids, t, vp, lp, rp, qv = qarrs
    qc = Q.encode_np(qv, alpha)
    out_q, out_i, out_d = [], [], []
    kk_target = max(k, int(math.ceil(SHARD_REFINE_MULT * k)))
    chunk = max(1, (1 << 22) // max(len(ids), 1))  # bound the sim block
    ids64 = ids.astype(np.int64)
    for s in range(0, len(qids), chunk):
        e = min(s + chunk, len(qids))
        D = Q.code_l2_sqr_np(qc[s:e], codes).astype(np.float64)
        need_cat = np.isin(t[s:e], (1, 3))[:, None]
        need_ts = np.isin(t[s:e], (2, 3))[:, None]
        ok = (~need_cat | (cats[None, :] == vp[s:e, None])) & (
            ~need_ts | ((ts[None, :] >= lp[s:e, None]) & (ts[None, :] <= rp[s:e, None]))
        )
        D[~ok] = np.inf
        kk = min(kk_target, D.shape[1])
        part = np.argpartition(D, kk - 1, axis=1)[:, :kk]
        nqb = D.shape[0]
        rows = np.arange(nqb)[:, None]
        dk = D[rows, part]
        fin = np.isfinite(dk)
        out_q.append(np.broadcast_to(qids[s:e, None], dk.shape)[fin])
        out_i.append(ids64[part[fin]])
        out_d.append(dk[fin])
    if not out_q:
        return _EMPTY_TRIPLE
    return (
        np.concatenate(out_q),
        np.concatenate(out_i),
        np.concatenate(out_d),
    )


def _search_arrays(
    codes: np.ndarray,
    ids: np.ndarray,
    cats: np.ndarray,
    ts: np.ndarray,
    nbr_pack,
    levels: np.ndarray,
    upper_rows,
    qarrs,
    k: int,
    ef: int | None,
    gemm_thr: int,
    alpha: float,
):
    """The per-shard search core on plain arrays; returns the
    (query_id, id, cdist) numpy triple. ``nbr_pack`` is a lazy
    callable → (nbrs, nbr_ts) padded matrices (only the beam path pays
    for adjacency unpacking)."""
    n = len(ids)
    qids, qt, vv, ll, rr, qvm = qarrs
    if n <= gemm_thr:
        return _search_shard_gemm(codes, ids, cats, ts, qarrs, k, alpha)
    nbrs, nbr_ts = nbr_pack()
    # the beam walks the codes directly: int8 codes cast to float32 are
    # exact, and float64 accumulation of their squared diffs (≤ 254² per
    # dim) is exact integer arithmetic — identical ranking to the int
    # kernel, at 1/4 the memory of a float-vec graph
    cvecs = codes.astype(np.float32)
    # S9 level structure, when this index was built with hnsw_levels:
    # unfiltered queries enter via greedy upper-layer descent (B11)
    # instead of positional seeds
    has_levels = bool(levels.max(initial=0) > 0)
    upper = upper_rows() if has_levels else None
    kk = max(k, int(math.ceil(SHARD_REFINE_MULT * k)))
    ids64 = ids.astype(np.int64)
    out_q, out_i, out_d = [], [], []
    for qi in range(len(qids)):
        qv = qvm[qi]
        qc = Q.encode_np(qv[None, :], alpha)[0].astype(np.float64)
        t = int(qt[qi])
        allowed = None
        if t in (1, 3):
            allowed = cats == vv[qi]
        if t in (2, 3):
            m = (ts >= ll[qi]) & (ts <= rr[qi])
            allowed = m if allowed is None else (allowed & m)
        n_allowed = int(allowed.sum()) if allowed is not None else n
        if allowed is not None and n_allowed == 0:
            continue
        # SMALL-coverage slice → masked code GEMM, not a beam
        # (hybrid_graph.cpp:355-364,399-419): when the query covers
        # under small_thr of this shard, brute-forcing the covered rows
        # is exact and evaluates only n_allowed code distances, where
        # the beam compensates with an EF2_SMALL-ratio frontier over a
        # mostly-masked graph. The reference widens the bf band to 0.5
        # for low-selectivity queries; (r−l) is its own type-2
        # selectivity estimate (timestamps are normalized to [0,1]).
        small_thr = (
            routing.DECILE_SMALL_THR_LOWSEL
            if (float(rr[qi]) - float(ll[qi])) < routing.LOWSEL
            else routing.DECILE_SMALL_THR
        )
        if allowed is not None and t in (2, 3) and n_allowed < small_thr * n:
            idxs = np.flatnonzero(allowed)
            sub = cvecs[idxs].astype(np.float64)
            d = np.einsum("ij,ij->i", sub, sub) - 2.0 * (sub @ qc) + float(qc @ qc)
            np.maximum(d, 0.0, out=d)
            if len(idxs) > kk:
                sel = np.argpartition(d, kk - 1)[:kk]
            else:
                sel = np.arange(len(idxs))
            out_q.append(np.full(len(sel), qids[qi], dtype=np.int64))
            out_i.append(ids64[idxs[sel]])
            out_d.append(d[sel])
            continue
        ef_q = max(kk, adaptive_ef(t, n, n_allowed, k)) if ef is None else max(kk, ef)
        # ts-range queries run edge-filtered (F5): admission decided
        # from nbr_ts before any distance evaluation
        rng_q = (float(ll[qi]), float(rr[qi])) if t in (2, 3) else None
        seeds = None
        if has_levels and allowed is None:
            seeds = np.array(
                [hnsw_entry_descent(cvecs, qc, levels, upper)], dtype=np.int64
            )
        pos, dd = beam_search(
            cvecs, nbrs, qc, kk, ef_q, allowed, nbr_ts=nbr_ts, ts_range=rng_q,
            seeds=seeds,
        )
        out_q.append(np.full(len(pos), qids[qi], dtype=np.int64))
        out_i.append(ids64[pos])
        out_d.append(np.asarray(dd, dtype=np.float64))
    if not out_q:
        return _EMPTY_TRIPLE
    return (
        np.concatenate(out_q),
        np.concatenate(out_i),
        np.concatenate(out_d),
    )


def _search_cogroup_arrow(itbl, qtbl, k: int, ef: int | None, gemm_thr: int, alpha: float):
    """The graph-search cogroup kernel over :func:`_search_arrays`: no
    pandas on either side — the candidate output (the dominant volume:
    ~1.5k rows per (query, shard)) goes straight from numpy into one
    Arrow table."""
    import pyarrow as pa

    from .knn import list_column_matrix, tune_worker_arena

    tune_worker_arena()
    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("id", pa.int64()),
            pa.field("cdist", pa.float64()),
        ]
    )
    if itbl.num_rows == 0 or qtbl.num_rows == 0:
        return pa.table(
            {"query_id": _EMPTY_TRIPLE[0], "id": _EMPTY_TRIPLE[1], "cdist": _EMPTY_TRIPLE[2]},
            schema=out_schema,
        )
    itbl = itbl.combine_chunks()
    pos = itbl.column("pos").to_numpy()
    order = np.argsort(pos, kind="stable")
    if not np.array_equal(order, np.arange(len(order))):
        itbl = itbl.take(pa.array(order))
    n = itbl.num_rows

    def col(t, name):
        c = t.column(name)
        return c.combine_chunks() if isinstance(c, pa.ChunkedArray) else c

    codes = np.frombuffer(b"".join(col(itbl, "codes").to_pylist()), dtype=np.int8).reshape(
        n, -1
    )

    def nbr_pack():
        nb = col(itbl, "nbrs")
        nt = col(itbl, "nbr_ts")
        noff = nb.offsets.to_numpy()
        lens = np.diff(noff)
        m0 = int(lens.max(initial=0)) or 1
        nbrs = np.full((n, m0), -1, dtype=np.int32)
        nbr_ts = np.zeros((n, m0), dtype=np.float64)
        mask = np.arange(m0)[None, :] < lens[:, None]
        nvals = nb.values.to_numpy(zero_copy_only=False)
        tvals = nt.values.to_numpy(zero_copy_only=False)
        nbrs[mask] = nvals[noff[0] : noff[-1]].astype(np.int32)
        nbr_ts[mask] = tvals[noff[0] : noff[-1]].astype(np.float64)
        return nbrs, nbr_ts

    qtbl = qtbl.combine_chunks()
    qarrs = (
        col(qtbl, "query_id").to_numpy(zero_copy_only=False).astype(np.int64),
        col(qtbl, "query_type").to_numpy(zero_copy_only=False).astype(np.int64),
        col(qtbl, "v").to_numpy(zero_copy_only=False).astype(np.float64),
        col(qtbl, "l").to_numpy(zero_copy_only=False).astype(np.float64),
        col(qtbl, "r").to_numpy(zero_copy_only=False).astype(np.float64),
        list_column_matrix(qtbl, "qvec"),
    )
    oq, oi, od = _search_arrays(
        codes,
        col(itbl, "id").to_numpy(zero_copy_only=False),
        col(itbl, "category").to_numpy(zero_copy_only=False).astype(np.float64),
        col(itbl, "ts").to_numpy(zero_copy_only=False),
        nbr_pack,
        col(itbl, "level").to_numpy(zero_copy_only=False).astype(np.int32),
        lambda: col(itbl, "upper").to_pylist(),
        qarrs,
        k,
        ef,
        gemm_thr,
        alpha,
    )
    return pa.table({"query_id": oq, "id": oi, "cdist": od}, schema=out_schema)


def graph_search(
    index: DataFrame,
    assignments: DataFrame,
    k: int,
    alpha: float,
    ef: int | None = None,
    gemm_thr: int = GEMM_SHARD_THR,
) -> DataFrame:
    """Cogrouped per-partition search → candidate rows
    ``(query_id, id, cdist)`` in SQ8 code space (the index stores only
    codes). Shards at or under ``gemm_thr`` rows answer all their
    queries with one integer GEMM; larger shards run the per-query
    filtered beam search. Both emit ~1.5k candidates per (query,
    shard) for the downstream exact re-rank, straight through Arrow —
    no pandas materialization of the candidate volume. ``ef=None``
    (default) = per-query adaptive beam width; pass an int to pin a
    fixed width (tests, ablations)."""
    a = float(alpha)
    cg = index.groupby("pkey").cogroup(assignments.groupby("pkey"))
    return cg.applyInArrow(
        lambda it, qt: _search_cogroup_arrow(it, qt, k, ef, gemm_thr, a), CAND_SCHEMA
    )


def knn_hybrid(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    ef: int | None = None,
    index: DataFrame | None = None,
    gemm_thr: int = GEMM_SHARD_THR,
    plan: DataFrame | None = None,
    alpha: float | None = None,
    codes_base: DataFrame | None = None,
    catalog: DataFrame | None = None,
    corpus_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The full BatchSearch pipeline: route → bf/graph branches →
    global top-k. Returns (query_id, id, rnk).

    ``plan`` / ``alpha``: pass precomputed routing plan / quantizer
    scale to share them across searches of the same (base, queries)
    pair — the reference likewise routes once per batch and trains the
    quantizer once at build (hybrid_graph.cpp:168-230, hnsw.hpp:38-40).
    ``codes_base``: persisted SQ8(alpha) codes replica for the bf route
    (B10, hybrid_graph.cpp:505-524) — the candidate scan then reads
    codes only instead of re-encoding the float column.
    ``catalog``: precomputed ``shard_catalog(index)`` — build-phase
    metadata; pass it so repeated searches of one loaded index skip the
    distinct-pkey collect. ``corpus_rows``: base row count when known
    (build-phase stat) — skips two count jobs in the search clock.
    """
    if corpus_rows is None:
        corpus_rows = base.count()
    if dim is None and corpus_rows:
        # Derive the vector width once so the routing ladder and the bf
        # branch agree on bc_rows_bound(dim): a caller threading dim to
        # only one side would silently route type-0 to bf while the
        # branch falls back to the measured-slower scan plan. One
        # head() job, skipped whenever the caller already knows dim.
        head = base.select("vec").head()
        if head is not None:
            dim = len(head["vec"])
    if plan is None:
        plan = routing.route_plan(base, queries, dim=dim).cache()
    bf_queries = queries.join(
        plan.filter(F.col("route") == routing.ROUTE_BF).select("query_id"), "query_id"
    )
    if alpha is None:
        alpha = Q.train_alpha(base)
    bf_res = bruteforce_sq8.knn_sq8_rerank(
        base, bf_queries, alpha, k=k, codes_base=codes_base, corpus_rows=corpus_rows,
        dim=dim,
    ).select("query_id", "id", "rnk")

    if index is None:
        # analytic catalog: the shard plan is known before the build,
        # so the catalog is metadata and the index job runs exactly
        # once (inside the search cogroup) — nothing to persist
        splan = _shard_plan(base, routing.CAT_GRAPH_THR, MAX_NODES_PER_GRAPH)
        index = build_index(base, graph_min_nodes=gemm_thr, shard_plan=splan, alpha=alpha)
        if catalog is None:
            catalog = catalog_from_plan(spark, splan)
    else:
        # externally supplied (e.g. loaded from parquet): the catalog
        # must come from the data; persist so the distinct-pkey scan
        # does not rebuild the index a second time for the cogroup
        if not index.is_cached:
            index = index.persist()
        if catalog is None:
            catalog = shard_catalog(index)
    assigns = _assignments(queries, plan, catalog)
    cands = graph_search(index, assigns, k=k, alpha=alpha, ef=ef, gemm_thr=gemm_thr)
    # Candidate pool (hybrid_graph.cpp phase 4/5: per-query k=150 heap
    # across sub-searches, THEN the global refine :465-494): one global
    # α makes code distances comparable across shards, so a code-space
    # top-(1.5k) window first cuts nq × nshards × 1.5k candidate rows
    # to nq × 1.5k before anything touches the corpus — the re-rank
    # join cost becomes independent of the shard fan-out (a type-0
    # query searches every decile shard; without this the join is 10×
    # wider). WindowGroupLimit pushes the rank filter map-side.
    pool_k = max(k, int(math.ceil(SHARD_REFINE_MULT * k)))
    # K12 exact re-rank (hybrid_graph.cpp:207-228 / quant reorder):
    # the index is codes-only, so candidate ranks are approximate —
    # pool to nq × 1.5k code-space candidates (independent of shard
    # fan-out) and rank the pooled rows by exact L2.
    # knn.exact_rerank_pooled picks the physical plan: on a
    # broadcastable base the pool cut and the re-rank fuse into ONE
    # kernel behind a single groupBy (no row_number window, no second
    # candidate shuffle); on a 100 TB base it is the window pool + the
    # candidates-only join. No dedup shuffle either way: (query_id, id)
    # pairs are unique by construction — cat-routed queries search only
    # their category slice, decile-routed ones only deciles (which
    # partition the corpus), and sub-shards split disjointly by
    # id % nshards.
    from . import knn

    graph_res = knn.exact_rerank_pooled(
        base, queries, cands, k, pool_k, corpus_rows=corpus_rows, dim=dim
    )
    return bf_res.unionByName(graph_res)


# Batch-level plan choice for knn_auto: below this many scan FLOPs
# (n_queries × corpus_rows × dim) the exact scan answers the whole
# batch faster than the routed engine can pay its fixed costs (route
# plan, shard assignment, cogroup dispatch, pooled re-rank — each a
# multi-job constant that does NOT shrink with batch size). Measured r6
# on this host (BENCH_r06 stress + contest pairs): 2048 queries ×
# 500k × 64 = 6.6e10 FLOPs → scan 5.9 s vs engine 33.1 s (scan wins);
# 100k × 20k × 100 = 2.0e11 → scan 72.1 s vs engine 43.1 s (engine
# wins). 1e11 splits the two measured points; the decision is
# order-of-magnitude robust — at 100 TB the product is astronomically
# above any threshold, so the engine always serves real corpora and
# this rule only protects small interactive batches.
SCAN_FLOPS_BOUND = 1e11


def knn_auto(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    n_queries: int | None = None,
    corpus_rows: int | None = None,
    dim: int | None = None,
    scan_flops_bound: float = SCAN_FLOPS_BOUND,
    **hybrid_kwargs,
) -> DataFrame:
    """Cost-based batch entry: the exact scan for batches too small to
    amortize the routed engine's fixed costs, :func:`knn_hybrid`
    otherwise. Both produce (query_id, id, rnk); the scan is exact, the
    engine recall-gated — so the choice only ever trades time.

    The reference has no such whole-batch fallback (its workload is
    fixed at 1M queries × 10M rows — deep engine territory); this is
    the decision its cost model would make first if batch sizes varied.
    Pass ``n_queries``/``corpus_rows``/``dim`` when known to skip the
    count/head jobs; ``hybrid_kwargs`` (index, plan, alpha, catalog,
    codes_base) forward to the engine branch untouched."""
    from . import knn

    if corpus_rows is None:
        corpus_rows = base.count()
    if n_queries is None:
        n_queries = queries.count()
    if dim is None and corpus_rows:
        head = base.select("vec").head()
        if head is not None:
            dim = len(head["vec"])
    flops = float(n_queries) * float(corpus_rows) * float(dim or 100)
    if flops < scan_flops_bound:
        return knn.knn_exact_arrow(
            spark, base, queries, k=k, corpus_rows=corpus_rows, dim=dim,
            n_queries=n_queries,
        )
    return knn_hybrid(
        spark, base, queries, k=k, corpus_rows=corpus_rows, dim=dim, **hybrid_kwargs
    )
