"""Hybrid batch search engine: routing + one of two physical plans —
the fused corpus-broadcast SQ8 kernel, or quantized brute force +
partitioned exact code-space shard scans + global merge/re-rank.

Reference: ``HybridGraph::BatchSearch`` (``/root/reference/
hybrid_graph.cpp:147-503``) — the six-phase executor. The Spark
translation (SURVEY §3.2): each phase is a DataFrame job, phase
boundaries are shuffles:

1. selectivity + routing   → the routed query table: one narrow Arrow
                             kernel binary-searches the stats snapshot
                             and appends ``sel_num``/``n_total``, then
                             the ``route`` column (stats.py,
                             routing.py); every later phase reads its
                             query rows from this table
2. side rule               → ``search_side``: the fused plan while
                             corpus_rows ≤ knn.bc_rows_bound(dim),
                             where the fused kernel applies; the
                             shard plan above it. The route is the
                             reference's logical ladder either way;
                             only this rule picks the physical plan

Fused plan (``corpus_bc``): ONE ``knn.corpus_broadcast_topk`` pass over
every query row — the SQ8 code cut to one fixed depth,
max(BF_REFINE_K, ⌈1.5k⌉), and the exact re-rank in one kernel over the
broadcast corpus. Every task already holds the whole corpus, so a shard
route's shards would score the same predicate slice the kernel scores;
the route is not read, and with no plan given none is built. Phases 3-6
do not run.

Shard plan (``shards``):

3. brute-force branch      → the bf rows: SQ8 cut + exact re-rank on
                             knn.py's brute-force kernels
                             (bruteforce_sq8.py)
4. type-1/3 shard branch   → the query's category shards
5. type-0/2 shard branch   → every decile shard (type 0), the deciles
                             holding [l, r] (type 2)
6. global merge            → union candidates + the pooled K12 re-rank
                             ``knn.exact_rerank_pooled``

Phases 4-5 run one kernel: ``knn.probe_cogroup_topk`` cogroups each
index shard with the queries assigned to it and scans the shard's
codes exactly — the predicate-sliced code GEMM with a running
(cdist, id) top-k, the reference's small-partition brute force
(hybrid_graph.cpp:399-419) applied to every shard. Then one global
merge: REPOSE's plan shape (ICDE 2021), exact top-k local to each
partition, then one merge — the shape that pays once the corpus is
partitioned, i.e. above the fused bound.

The index is a DataFrame of rows (``build_index``), Parquet-able and
built with no Python stage; search ships each query group to exactly
the shards its predicate can touch (partition pruning done
relationally — queries ⨝ shard catalog). The index stores SQ8 codes
only (Q6); search ranks in integer code space and a K12 exact re-rank
over the merged candidates restores float ranks.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import quantization as Q
from ..plans import workload
from . import bruteforce_sq8, knn, routing

# Codes-only index (Q6): one row per (shard, member) carrying SQ8
# codes, never float vectors — the reference likewise stores only the
# code block per vector (hnswalg.h:237-297). One global α makes
# code-space integer distances comparable across every shard, so the
# shard scans and the cross-shard merge run entirely on codes; exact
# float ranks are restored by the K12 re-rank over merged candidates
# only. Codes are ``array<tinyint>`` ([−127, 127] fits exactly), the
# format of the SQ8 ``codes_base`` replica: d bytes per row against
# 4d for array<float> — 4× less memory, shuffle and Parquet.
INDEX_SCHEMA = "pkey string, id long, category int, ts double, codes array<tinyint>"

# The size cap of one shard: a slice above it splits into
# ceil(rows / MAX_NODES_PER_GRAPH) shards.
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
    max_nodes: int = MAX_NODES_PER_GRAPH,
    shard_plan: dict[str, int] | None = None,
    alpha: float | None = None,
    graph_min_nodes: int | None = None,  # kept for perfbench only; ignored
) -> DataFrame:
    """The index: every base row routed to its slice shards and SQ8
    encoded — ``INDEX_SCHEMA`` rows, one narrow JVM projection with no
    shuffle and no Python stage.

    Two slice families, mirroring the reference's sorted replicas
    (utils.h:352-479): ``cat:<v>`` for every category holding ≥ cat_thr
    of the corpus (hybrid_graph.cpp:47-70) and ``dec:<d>`` for the ten
    ts-deciles (hybrid_graph.cpp:72-89).

    **Sub-sharding:** a slice larger than ``max_nodes`` splits into
    ``ceil(cnt/max_nodes)`` shards (``cat:<v>:<s>``, deterministic
    ``id % nshards``), so one search task never scans an unbounded
    shard and search parallelism grows with the data. Search fans each
    query out to every shard of its slice via the shard catalog
    (``shard_catalog``) and the global top-k merge re-unifies — shard
    count changes cost, never results.
    """
    if alpha is None:
        alpha = Q.train_alpha(base)
    if shard_plan is None:
        shard_plan = _shard_plan(base, cat_thr, max_nodes)
    return _slice_rows(base, shard_plan, alpha)


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
    # Encode BEFORE the explode (Q6): every later shuffle moves 1-byte
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


def _codes_weighted_digest_batch(cs: pd.Series) -> pd.Series:
    """Per-row position-weighted code digest Σ_j (j+1)·code_j over an
    ``array<tinyint>`` codes column — a compact, SQL-reproducible
    fingerprint of the code vector (the oracle computes the same fold
    over its re-encoded list). One stack + one GEMV per uniform-width
    batch."""
    rows = [np.asarray(c, dtype=np.int64) for c in cs]
    if not rows:
        return pd.Series([], dtype="int64")
    lens = np.fromiter((len(r) for r in rows), dtype=np.int64, count=len(rows))
    if (lens == lens[0]).all() and lens[0] > 0:
        w = np.arange(1, int(lens[0]) + 1, dtype=np.int64)
        return pd.Series(np.stack(rows) @ w)
    return pd.Series(
        [int(r @ np.arange(1, len(r) + 1, dtype=np.int64)) for r in rows], dtype="int64"
    )


def upsert_index(
    index: DataFrame,
    new_base: DataFrame,
    shard_plan: dict[str, int],
    alpha: float,
    affected: list[str] | None = None,
    graph_min_nodes: int | None = None,  # kept for perfbench only; ignored
) -> DataFrame:
    """Incremental index maintenance: fold new vectors into an existing
    index, touching ONLY the shards they land in.

    ``affected``: the arrival pkey list, if the caller already computed
    it (the ingest fold needs it for the manifest owners map) — passing
    it skips the internal distinct-collect job.

    The reference builds once and searches (baseline.cpp) — continuous
    ingest is a beyond-reference capability, and the shard layout makes
    it cheap: new rows route to pkeys under the SAME fixed
    ``shard_plan``/``alpha`` the index was built with (``_slice_rows``,
    shared code), and untouched shards pass through as a pure filter
    (their rows are byte-identical). Cost per micro-batch is one
    broadcast anti-join over the affected shards plus the arrivals'
    encode, independent of corpus size.

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
    return _rebuild_affected(index, new_base, sliced, affected)


def _rebuild_affected(
    index: DataFrame, new_base: DataFrame, sliced: DataFrame, affected: list[str]
) -> DataFrame:
    """The fold of both upserts: ``untouched ∪ (retained ⋉̸ arrival
    ids) ∪ sliced``. Shards outside ``affected`` pass through
    unchanged; an affected shard keeps its retained rows whose id does
    not re-arrive, plus the arrivals ``sliced`` (pkey, id, category,
    ts, codes). JVM operators only: the first two terms are ONE
    broadcast left-anti join over the index whose condition holds only
    on affected shards (a filter split into two scans would union the
    index's partitions twice, doubling the partition count at every
    fold), then a union with the arrivals.

    Replay idempotence: a retried micro-batch (streaming checkpoint
    replay after the LATEST pointer already moved) re-applies rows the
    index already holds; without the anti-join the fold would
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
    ``hit`` is true or false on every row, never NULL."""
    pkey = F.col("pkey")
    hit = F.when(pkey.isNull(), F.lit(None in affected)).otherwise(
        pkey.isin([p for p in affected if p is not None])
    )
    arrivals = F.broadcast(new_base.select(F.col("id").alias("arrival_id")))
    kept = index.join(arrivals, (F.col("id") == F.col("arrival_id")) & hit, "left_anti")
    return kept.unionByName(sliced)


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
) -> tuple[DataFrame, dict[str, list[int]], list[str]]:
    """Append-only incremental maintenance: fold new vectors into the
    index touching ONLY each touched slice's open shard (plus any
    fresh epochs the batch spills into) — per-batch rewrite cost is
    O(touched slices + batch/max_nodes) shards, independent of slice
    size, where hash-routed :func:`upsert_index` touches every shard
    of every touched slice. Sealed shards pass through as a pure
    filter. Returns (index, new_state, affected_pkeys)."""
    sliced, new_state, affected = _slice_rows_epoch(
        new_base, shard_plan, alpha, state, max_nodes
    )
    if not affected:
        return index, new_state, []
    return _rebuild_affected(index, new_base, sliced, affected), new_state, affected


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
    force: bool = False,
    graph_min_nodes: int | None = None,  # kept for perfbench only; ignored
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
        base, cat_thr=cat_thr, max_nodes=max_nodes, shard_plan=new_plan, alpha=new_alpha
    )
    return rebuilt, new_plan, new_alpha


def partition_index_for_search(index: DataFrame) -> DataFrame:
    """Build-phase co-location: hash-partition the index by ``pkey``
    BEFORE persisting, so every subsequent search cogroup finds the
    index side already clustered on its grouping key and elides that
    exchange — otherwise every BatchSearch reshuffles the full index
    (its codes, the dominant bytes) just to group it. The reference
    keeps its index resident between batches (baseline.cpp builds
    once, searches many); a pkey-clustered cache is the DataFrame
    equivalent. Apply to the handle you persist:
    ``partition_index_for_search(load_index(...)).persist()``."""
    return index.repartition(F.col("pkey"))


def _catalog_frame(spark: SparkSession, rows: list[tuple[str, str]]) -> DataFrame:
    """The (prefix, pkey) rows as an inline table, bound as SQL
    parameters. It plans as a ``LocalTableScan`` built in the JVM: a
    Python list would plan as ``Scan ExistingRDD``, a ``parallelize|map``
    Python job every search that broadcasts the catalog pays again, and
    a pandas frame goes through an Arrow round trip (measured slower
    batches on ingest-serve, ``BENCH_pairs_r14.json``)."""
    if not rows:
        return spark.sql(
            "SELECT * FROM VALUES (CAST(NULL AS STRING), CAST(NULL AS STRING))"
            " AS t(prefix, pkey) WHERE false"
        )
    args = {}
    for i, (prefix, pkey) in enumerate(rows):
        args[f"p{i}"], args[f"k{i}"] = prefix, pkey
    values = ", ".join(f"(:p{i}, :k{i})" for i in range(len(rows)))
    return spark.sql(f"SELECT * FROM VALUES {values} AS t(prefix, pkey)", args=args)


def catalog_from_plan(spark: SparkSession, shard_plan: dict[str, int]) -> DataFrame:
    """(prefix, pkey) catalog derived from the shard plan — pure
    metadata, no index scan. The analytic twin of ``shard_catalog``:
    use this when the plan is in hand (index built this run); use
    ``shard_catalog`` when only the index DataFrame exists (loaded
    from disk)."""
    return _catalog_frame(
        spark,
        [
            (prefix, f"{prefix}:{s}")
            for prefix, nshards in shard_plan.items()
            for s in range(nshards)
        ],
    )


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
    return _catalog_frame(index.sparkSession, [(r["prefix"], r["pkey"]) for r in rows])


def _assignments(queries: DataFrame | None, plan: DataFrame, catalog: DataFrame) -> DataFrame:
    """(pkey, query_id, query_type, v, l, r, qvec) — which index
    partitions serve which graph-routed query. Pruning is relational:
    the routed query table's rows map to slice *prefixes* (their
    category / overlapped deciles), then the broadcast shard catalog
    fans each prefix out to its shards. Reads only ``plan`` (it carries
    the query columns); ``queries`` is kept for perfbench only."""
    graph_q = plan.filter(F.col("route") != routing.ROUTE_BF)
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
    # type 0 → every decile slice; type 2 → the deciles holding a ts in
    # [l, r]. A row sits in decile least(floor(ts·10), 9), so l and r
    # map through that same formula (clamped to 0..9): a row with
    # ts == r is in decile floor(r·10) even when r·10 is a whole number.
    # An empty interval (l > r) probes no decile.
    def decile(c: str) -> F.Column:
        return F.least(F.greatest(F.floor(F.col(c) * 10).cast("int"), F.lit(0)), F.lit(9))

    deciles = graph_q.filter(F.col("query_type").isin(0, 2)).select(
        "query_id",
        "query_type",
        "v",
        "l",
        "r",
        "qvec",
        F.explode(
            F.when(F.col("query_type") == 0, F.sequence(F.lit(0), F.lit(9)))
            .when(F.col("l") <= F.col("r"), F.sequence(decile("l"), decile("r")))
            .otherwise(F.array().cast("array<int>"))
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


# Kept for perfbench only (its engine.graph_shards counter). No shard is
# graph-searched: the shard's code GEMM beats a Python graph walk at
# every shard size MAX_NODES_PER_GRAPH allows.
GEMM_SHARD_THR = 4096

# Per-shard candidate depth: the reference's searches return
# refine_k = 1.5·K candidates per sub-search for the float re-rank
# (graph_full_refine_k = 150, hybrid_graph.h:81-85). Code-space
# ranking is approximate, so each shard emits 1.5k candidates and the
# global K12 re-rank restores exact order.
SHARD_REFINE_MULT = 1.5


def graph_search(
    index: DataFrame,
    assignments: DataFrame,
    k: int,
    alpha: float,
    gemm_thr: int | None = None,  # kept for perfbench only; ignored
) -> DataFrame:
    """Per-shard exact code-space search → candidate rows ``(query_id,
    id, cdist)`` (the index stores only codes). Each shard cogroups with
    the queries assigned to it (``assignments``' pkey is the probe key)
    and ``knn.packed_scan_topk`` answers them all at once: the
    predicate-sliced SQ8 code GEMM with a running top-k cut by
    (cdist, id), emitting ≤ ⌈1.5k⌉ candidates per (query, shard) for
    the downstream exact re-rank. The index side groups on the pkey
    ``partition_index_for_search`` already clusters it by, so only the
    assignments shuffle."""
    a = float(alpha)
    pool_k = max(k, int(math.ceil(SHARD_REFINE_MULT * k)))
    packed = knn.probe_cogroup_topk(
        index, "pkey", assignments.withColumnRenamed("pkey", "probe"), knn.read_codes,
        knn.CODE_L2, pool_k, encode_q=lambda qv, _pkey: Q.encode_np(qv, a),
    )
    return knn.unpack_candidates(packed)


# The engine's two physical plans (``search_side``).
SIDE_CORPUS_BC = "corpus_bc"
SIDE_SHARDS = "shards"


def search_side(corpus_rows: int, dim: int | None) -> str:
    """Which physical plan :func:`knn_hybrid` runs: the one fused
    corpus-broadcast kernel while the corpus is within
    ``knn.bc_rows_bound(dim)`` — wherever that kernel applies — and the
    shard fan-out above it. ``plans/explain.py`` reports the same call."""
    return SIDE_CORPUS_BC if corpus_rows <= knn.bc_rows_bound(dim) else SIDE_SHARDS


def fused_refine_k(k: int) -> int:
    """The fused plan's one code-cut depth: the deeper of the bf
    branch's ``BF_REFINE_K`` and the shard routes' ⌈1.5k⌉ (150 at
    k=100), so no route is cut shallower than on the shard plan."""
    return max(bruteforce_sq8.BF_REFINE_K, int(math.ceil(SHARD_REFINE_MULT * k)))


def knn_hybrid(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    index: DataFrame | None = None,
    plan: DataFrame | None = None,
    alpha: float | None = None,
    codes_base: DataFrame | None = None,
    catalog: DataFrame | None = None,
    corpus_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """The full BatchSearch pipeline: route → one physical plan →
    global top-k. Returns (query_id, id, rnk).

    The plan is chosen once per batch by :func:`search_side`:

    - ``corpus_bc`` (corpus within ``knn.bc_rows_bound(dim)``): one
      ``knn.corpus_broadcast_topk`` pass over every query row on the
      ``("sq8", alpha)`` grid — the bf branch's cached payload. Each row
      is cut in SQ8 code space to :func:`fused_refine_k` and re-ranked
      exactly in the same kernel. A shard route's shards cover exactly
      its predicate slice, so every row equals what the shard plan
      returns (up to ``knn.MERGE_PAD`` tie slack). The route is not
      read: no route plan is built when none is given, and no index,
      catalog, assignment or cogroup either —
      ``index``/``catalog``/``codes_base`` are ignored.
    - ``shards`` (above the bound): the bf rows take
      ``bruteforce_sq8.knn_sq8_rerank``; the rest are assigned to the
      index shards their predicate can touch, scanned per shard
      (:func:`graph_search`) and pooled into the exact re-rank
      ``knn.exact_rerank_pooled``.

    ``plan`` / ``alpha``: pass a persisted ``routing.route_plan`` /
    quantizer scale to share them across searches of the same (base,
    queries) pair — the reference likewise routes once per batch and
    trains the quantizer once at build (hybrid_graph.cpp:168-230,
    hnsw.hpp:38-40). A given ``plan`` supersedes ``queries``: it is the
    batch's routed query table, and every branch reads its query rows
    from it, so the query source is read once, with no ``queries ⋈
    plan`` join. ``queries`` is read only when no plan is given.
    ``codes_base``: persisted SQ8(alpha) codes replica for the bf route
    above the bound (B10, hybrid_graph.cpp:505-524) — the candidate
    scan then reads codes only instead of re-encoding the float column.
    ``catalog``: precomputed ``shard_catalog(index)`` — build-phase
    metadata; pass it so repeated searches of one loaded index skip the
    distinct-pkey collect. ``corpus_rows`` / ``dim``: the base's row
    count and vector width when known (build-phase stats) — each skips
    a job in the search clock.
    """
    if corpus_rows is None:
        corpus_rows = base.count()
    if dim is None and corpus_rows:
        # the side rule, the bf branch and the pooled re-rank all switch
        # on bc_rows_bound(dim): derive the width once so they agree.
        # One head() job, skipped whenever the caller already knows dim.
        head = base.select("vec").head()
        if head is not None:
            dim = len(head["vec"])
    if alpha is None:
        alpha = Q.train_alpha(base)
    if search_side(corpus_rows, dim) == SIDE_CORPUS_BC:
        a = float(alpha)

        def enc(m):
            return Q.encode_np(m, a)

        rows = queries if plan is None else plan
        return knn.corpus_broadcast_topk(base, rows, k, enc, enc, fused_refine_k(k), ("sq8", a))

    if plan is None:
        plan = routing.route_plan(base, queries).cache()
    pool_k = max(k, int(math.ceil(SHARD_REFINE_MULT * k)))
    bf_queries = plan.filter(F.col("route") == routing.ROUTE_BF)
    bf_res = bruteforce_sq8.knn_sq8_rerank(
        base, bf_queries, alpha, k=k, codes_base=codes_base, corpus_rows=corpus_rows,
        dim=dim,
    ).select("query_id", "id", "rnk")

    if index is None:
        # analytic catalog: the shard plan is known before the build,
        # so the catalog is metadata and the index job runs exactly
        # once (inside the search cogroup) — nothing to persist
        splan = _shard_plan(base, routing.CAT_GRAPH_THR, MAX_NODES_PER_GRAPH)
        index = build_index(base, shard_plan=splan, alpha=alpha)
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
    assigns = _assignments(None, plan, catalog)
    cands = graph_search(index, assigns, k=k, alpha=alpha)
    # Candidate pool (hybrid_graph.cpp phase 4/5: per-query k=150 heap
    # across sub-searches, THEN the global refine :465-494): one global
    # α makes code distances comparable across shards, so a code-space
    # top-(1.5k) window first cuts nq × nshards × 1.5k candidate rows
    # to nq × 1.5k (pool_k) before anything touches the corpus — the
    # re-rank join cost becomes independent of the shard fan-out (a
    # type-0 query searches every decile shard; without this the join
    # is 10× wider). WindowGroupLimit pushes the rank filter map-side.
    # K12 exact re-rank (hybrid_graph.cpp:207-228 / quant reorder):
    # the index is codes-only, so candidate ranks are approximate —
    # pool to nq × 1.5k code-space candidates (independent of shard
    # fan-out) and rank the pooled rows by exact L2 with
    # knn.exact_rerank_pooled, the window pool + candidates-only join
    # that never broadcasts the corpus. No dedup shuffle:
    # (query_id, id) pairs are unique by construction — cat-routed
    # queries search only their category slice, decile-routed ones only
    # deciles (which partition the corpus), and sub-shards split
    # disjointly by id % nshards.
    graph_res = knn.exact_rerank_pooled(
        base, plan, cands, k, pool_k, corpus_rows=corpus_rows, dim=dim
    )
    return bf_res.unionByName(graph_res)


# Batch-level plan choice for knn_auto: below this many scan FLOPs
# (n_queries × corpus_rows × dim) the exact scan answers the batch,
# above it the routed engine. The split point was measured against the
# earlier beam-search engine (2048 × 500k × 64 = 6.6e10: scan 5.9 s vs engine 33.1 s;
# 100k × 20k × 100 = 2.0e11: scan 72.1 s vs engine 43.1 s). Below
# knn.bc_rows_bound the engine now runs the fused kernel, which costs
# about what the exact scan does, so there the rule only trades like for
# like; above the bound it still awaits a measurement of the shard plan.
SCAN_FLOPS_BOUND = 1e11


def knn_auto(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    k: int = workload.K,
    n_queries: int | None = None,
    corpus_rows: int | None = None,
    dim: int | None = None,
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
    codes_base) forward to the engine branch untouched.
    ``SCAN_FLOPS_BOUND`` is read at call time."""
    if corpus_rows is None:
        corpus_rows = base.count()
    if n_queries is None:
        n_queries = queries.count()
    if dim is None and corpus_rows:
        head = base.select("vec").head()
        if head is not None:
            dim = len(head["vec"])
    flops = float(n_queries) * float(corpus_rows) * float(dim or 100)
    if flops < SCAN_FLOPS_BOUND:
        return knn.knn_exact_arrow(spark, base, queries, k=k, corpus_rows=corpus_rows, dim=dim)
    return knn_hybrid(
        spark, base, queries, k=k, corpus_rows=corpus_rows, dim=dim, **hybrid_kwargs
    )
