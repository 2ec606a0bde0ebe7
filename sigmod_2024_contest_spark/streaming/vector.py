"""Streaming vector search: continuous query ingestion over a static
(or slowly-refreshed) corpus.

The reference is a one-shot batch engine — queries arrive as one .bin
file (``baseline.cpp:64``). A production vector service instead sees an
unbounded query stream; the Spark-first expression is ``foreachBatch``:
each micro-batch of queries is answered by the SAME exact-kNN batch
operator (``knn.knn_exact_arrow`` — cost-based side selection and all)
and written to a batch_id-partitioned parquet sink. Exactly-once comes
from the streaming checkpoint plus an idempotent per-batch write: each
micro-batch dynamically OVERWRITES its own ``batch_id=`` partition, so
a retried batch replaces its partial output instead of appending
duplicates. The corpus is counted ONCE per stream and every
micro-batch passes that ``corpus_rows``; the corpus-broadcast kernel's
broadcast is cached per corpus plan (``knn.cached_corpus_broadcast``),
and the base plan is the same in every micro-batch, so the stream ships
one broadcast and per-batch cost is the search, not a reload.

This is the engine's answer surface for "index once, serve query
batches forever" — the same structure the hybrid engine uses, reachable
from a stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

QUERIES_SCHEMA = (
    "query_id long, query_type int, v int, l double, r double, qvec array<float>"
)


def stream_queries(spark: SparkSession, queries_dir: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of query parquet (test stand-in for a queue
    source; swap the reader, keep the plan)."""
    return (
        spark.readStream.schema(QUERIES_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(queries_dir)
    )


def knn_stream(
    spark: SparkSession,
    base: DataFrame,
    queries: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 100,
):
    """Answer a query stream exactly, appending (query_id, id, rnk,
    batch_id) parquet per micro-batch. Returns the StreamingQuery.

    ``base`` must be a batch DataFrame (persist it for multi-batch
    reuse). Each micro-batch runs the full exact operator, so results
    are identical to running the batch operator over the union of all
    micro-batches — the property the test asserts.
    """
    from pyspark.sql import functions as F

    from ..operators import knn

    corpus_rows = base.count()

    def answer(batch_df: DataFrame, batch_id: int) -> None:
        (
            knn.knn_exact_arrow(spark, base, batch_df, k=k, corpus_rows=corpus_rows)
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    return (
        queries.writeStream.foreachBatch(answer)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def knn_stream_indexed(
    spark: SparkSession,
    base: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 100,
    alpha: float | None = None,
):
    """Streaming HYBRID search over a prebuilt index — the
    "index once, serve query batches forever" surface with the routed
    engine (not the exact scan) answering each micro-batch. Pass the
    index straight from ``layout.load_index`` (the S8 parquet
    round-trip); when the shard plan serves the corpus it is persisted
    once and stays executor-resident across batches, and below the
    fused-plan bound (``engine.search_side``) it is not read at all.
    On the shard plan routing runs per micro-batch — the reference
    likewise routes per query batch (hybrid_graph.cpp:168-230) — and
    the routing stats are computed once per stream; below the bound the
    fused kernel reads no route, so neither is built. The quantizer
    scale is trained once per stream. Same batch_id-partitioned
    idempotent sink as :func:`knn_stream`. Per-query results are
    identical to the batch ``engine.knn_hybrid`` over the union of all
    micro-batches (routing and search are per-query deterministic),
    which the parity test asserts as row equality."""
    from pyspark.sql import functions as F

    from ..functions import quantization as Q
    from ..operators import engine, routing
    from ..operators import stats as stats_ops

    if alpha is None:
        alpha = Q.train_alpha(base)
    corpus_rows = base.count()
    # dim once per stream (not per micro-batch): the engine's side rule
    # reads bc_rows_bound(dim)
    head = base.select("vec").head()
    dim = len(head["vec"]) if head is not None else None
    shards = engine.search_side(corpus_rows, dim) == engine.SIDE_SHARDS
    catalog = stats = None
    if shards:
        if not index.is_cached:
            index = index.persist()
        catalog = engine.shard_catalog(index)  # once per stream, not per batch
        stats = stats_ops.corpus_stats(base, routing.ROUTING_TS_BINS)

    def answer(batch_df: DataFrame, batch_id: int) -> None:
        # on the shard plan, the batch's routed query table, computed
        # once and read by every engine branch; released once the batch
        # is written
        plan = routing.route_plan(base, batch_df, stats=stats).persist() if shards else None
        res = engine.knn_hybrid(
            spark, base, batch_df, k=k, index=index, plan=plan, alpha=alpha,
            catalog=catalog, corpus_rows=corpus_rows, dim=dim,
        )
        try:
            (
                res.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(out_dir)
            )
        finally:
            if plan is not None:
                plan.unpersist()

    return (
        queries.writeStream.foreachBatch(answer)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


# ---------------------------------------------------------------------------
# Streaming base-vector ingest: incremental index maintenance per batch
# ---------------------------------------------------------------------------

BASE_SCHEMA = "id long, category int, ts double, vec array<float>"


def stream_base(spark: SparkSession, base_dir: str, files_per_trigger: int = 1) -> DataFrame:
    """File-source stream of base-vector parquet (test stand-in for a
    queue source; swap the reader, keep the plan)."""
    return (
        spark.readStream.schema(BASE_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(base_dir)
    )


def index_ingest_stream(
    base: DataFrame,
    index_dir: str,
    shard_plan: dict[str, int],
    alpha: float,
    corpus_dir: str | None = None,
    max_nodes: int | None = None,
    compact_factor: float | None = None,
    incremental: bool = False,
    retain_versions: int | None = None,
    epoch_sharding: bool = False,
    checkpoint_dir: str | None = None,
    max_manifest_versions: int | None = None,
):
    """Continuous corpus ingest: each micro-batch of new vectors folds
    into the persisted index via ``engine.upsert_index`` — rewrite cost
    per batch is O(affected shards), never corpus-sized.

    Versioned persistence makes the fold idempotent AND readable mid-
    ingest: batch ``b`` reads the newest committed version, upserts,
    writes ``v{b}/`` in full, and only then moves the ``LATEST``
    pointer — a retried batch (streaming checkpoint replay) simply
    overwrites its own version directory and re-points, and searchers
    always load a complete snapshot through ``latest_index``. Replay
    is exact even when the crash lands BETWEEN the pointer move and
    the checkpoint commit (the replayed batch then reads a LATEST
    that already contains its rows): ``upsert_index`` anti-joins
    retained rows against the arrival ids, so re-applying a batch is
    a true upsert — no duplicate nodes, byte-identical snapshot
    (test-pinned by ``test_upsert_index_replay_idempotent``).

    The shard plan and alpha are FIXED between compactions (the
    delta + compact contract of ``upsert_index``). With ``corpus_dir``
    set (the directory the file stream ingests from — for file-backed
    ingest the accumulated raw corpus IS the source directory), the
    fold closes the compaction loop itself: after each upsert it runs
    the catalog-sized :func:`~..operators.engine.compaction_due`
    check and, when it fires, :func:`~..operators.engine.compact_index`
    re-derives plan AND alpha from the full corpus and rebuilds; the
    stream continues upserting under the new plan. The active
    (plan, alpha) pair is persisted as ``_meta.json``
    (underscore: Spark's file listing ignores it next to the parquet) inside every
    version directory, so a RESTARTED stream resumes under the plan
    the compaction produced, not the constructor's — without that, a
    restart after compaction would route new rows with a stale plan
    against a compacted index. Without ``corpus_dir`` the plan stays
    fixed and a separate compaction job owns the rebuild (the
    documented split).

    ``incremental=True`` switches the snapshot store to MANIFEST mode —
    the 100 TB write path. The default (full) mode rewrites the entire
    index every micro-batch: O(corpus) write amplification per batch,
    fine for tests, disqualifying at scale. In manifest mode each
    version directory stores ONLY the shards that batch rebuilt
    (pkey-partitioned parquet under ``v{b}/shards/``), and ``_meta.json``
    additionally carries ``owners`` — the pkey → version map naming,
    for every live shard, the version directory that owns its current
    bytes. Readers (:func:`load_latest_index`) union per-owner reads
    with pkey partition-filters, so directory pruning keeps every read
    O(requested shards); the fold's own upsert reads the previous
    snapshot the same way — per-batch I/O is O(affected shards) on
    BOTH sides, never corpus-sized. A compaction (or first build)
    resets owners to the new version. Replay stays idempotent: a
    retried batch rewrites its own ``v{b}/shards`` and recomputes the
    same owners.

    ``epoch_sharding=True`` switches the per-batch fold to the
    APPEND-ONLY epoch router (``engine.upsert_index_epoch``): each
    slice keeps one open shard that fills to ``max_nodes`` and seals,
    so a batch rebuilds O(touched slices + batch/max_nodes) shards
    where hash routing rebuilds EVERY shard of every touched slice —
    the fix for the manifest write floor (big-category slices span all
    time, so hash routing rewrites all their shards every batch). The
    first batch still builds through the parallel hash path; the epoch
    state (slice → open shard/count) persists in ``_meta.json`` and a
    compaction resets it against the re-derived plan. Requires
    append-only ids: an update to an existing id needs the hash router
    or a compaction (see the contract note on ``upsert_index_epoch``).
    With in-loop compaction (``corpus_dir``), epoch mode additionally
    requires the corpus directory to contain only DELIVERED data (true
    for a real stream source dir, where files appear as they arrive):
    a compaction that reads rows the stream has not ingested yet would
    later re-receive them as arrivals and epoch-route them to a fresh
    shard, duplicating the compacted copies — hash routing dedupes that
    case through its deterministic id → shard anti-join; append-only
    routing cannot. For the same reason epoch mode needs a DURABLE
    ``checkpoint_dir`` (same durability class as ``index_dir``): the
    batch-id replay guard no-ops the one trailing batch a crash can
    replay, and a restart from a rewound/fresh checkpoint — which
    would re-deliver deeper history the guard cannot dedupe — fails
    loudly in the fold instead of silently duplicating rows.

    ``max_manifest_versions=K`` (manifest mode, needs ``corpus_dir``)
    bounds manifest FRAGMENTATION: when the batch about to commit would
    leave live shards owned by more than K distinct versions — every
    owner is one more branch in every reader's union — a compaction is
    FORCED even though no size/category trigger fired. Epoch shards
    never exceed ``max_nodes``, so without this bound epoch-mode
    fragmentation grows one version per batch forever; with it, reader
    fan-in is a constant and the compaction doubles as the defrag.

    ``retain_versions=N`` enables snapshot GC after each commit: keep
    every version the current manifest references (manifest mode)
    plus the newest N version directories (in-flight readers), delete
    the rest — without it, sustained ingest accumulates one snapshot
    per micro-batch forever.

    Scale bounds of the manifest itself: ``owners`` is shard-catalog-
    sized (one string pair per live shard — MBs at millions of shards;
    a deployment past that would store it as a parquet manifest table,
    same contract), and manifest FRAGMENTATION (how many distinct
    versions own live shards, which bounds the reader's union width)
    is reset to one by every compaction — the same event that restores
    the shard-size bound also defragments the store. Returns the
    StreamingQuery (caller owns stop/await)."""
    import json
    import os

    from pyspark.sql import functions as F

    from ..operators import engine
    from ..sources import layout

    mn = engine.MAX_NODES_PER_GRAPH if max_nodes is None else int(max_nodes)
    factor = engine.COMPACT_FACTOR if compact_factor is None else float(compact_factor)

    def _fragmentation_due(
        prev: dict[str, str], affected: list[str] | None, vtag: str,
        bound: int | None,
    ) -> bool:
        """True when committing this batch would leave live shards
        owned by more than ``bound`` distinct versions. Pure meta
        arithmetic (owners is shard-catalog-sized): the candidate owner
        set is prev minus the affected keys plus this version."""
        if bound is None or affected is None or not incremental:
            return False
        aff = set(affected)
        versions = {v for p, v in prev.items() if p not in aff} | {vtag}
        return len(versions) > int(bound)

    def _commit(vdir: str, batch_id: int, meta: dict) -> None:
        with open(os.path.join(vdir, "_meta.json"), "w") as f:
            json.dump(meta, f)
        tmp = os.path.join(index_dir, "LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(f"v{batch_id}")
        os.replace(tmp, os.path.join(index_dir, "LATEST"))
        if retain_versions is not None:
            _gc_versions(index_dir, retain_versions)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        latest = latest_index_path(index_dir)
        plan, a = shard_plan, alpha
        affected: list[str] | None = None  # None = every shard is new
        prev_owners: dict[str, str] = {}
        epochs: dict[str, list[int]] | None = None
        if latest is None:
            if batch_df.isEmpty():
                return
            new_index = engine.build_index(
                batch_df, shard_plan=plan, alpha=a, max_nodes=mn
            )
            if epoch_sharding:
                epochs = engine._epoch_state_from_plan(plan)
        else:
            meta = latest_index_meta(index_dir)
            if meta is not None:
                # replay guard: a retried micro-batch whose snapshot
                # already committed (crash landed between the LATEST
                # move and the checkpoint commit) must no-op — under
                # epoch routing a re-apply would duplicate its rows
                # into the now-open shard (the hash router's anti-join
                # cannot see sealed shards)
                if meta.get("batch_id") == batch_id:
                    return
                # rewound-checkpoint guard (epoch mode only): batch
                # ids ascend within one checkpoint lineage, so an
                # arriving id BELOW the committed one means the stream
                # restarted from a fresh/rewound checkpoint and is
                # re-delivering history — the trailing-batch no-op
                # above cannot dedupe that, and append-only routing
                # would silently duplicate every replayed row into
                # fresh epochs. Fail loudly instead (epoch_sharding's
                # durability contract: keep checkpoint_dir on storage
                # as durable as index_dir).
                committed = meta.get("batch_id")
                if (
                    epoch_sharding
                    and committed is not None
                    and batch_id < committed
                ):
                    raise RuntimeError(
                        f"index_ingest_stream(epoch_sharding=True): "
                        f"micro-batch {batch_id} arrived after batch "
                        f"{committed} committed — the stream restarted "
                        "from a rewound or fresh checkpoint. Append-only "
                        "epoch routing cannot dedupe replayed history; "
                        "restore the original checkpoint_dir (it must be "
                        "as durable as index_dir) or rebuild the index "
                        "from the corpus."
                    )
                # resume under the LIVE plan/alpha
                plan, a = meta["shard_plan"], meta["alpha"]
                prev_owners = meta.get("owners") or {}
                epochs = meta.get("epochs")
            cur = load_latest_index(spark, index_dir)
            if epoch_sharding:
                if epochs is None:  # pre-epoch snapshot: start past ns
                    epochs = engine._epoch_state_from_plan(plan)
                new_index, epochs, affected = engine.upsert_index_epoch(
                    cur, batch_df, plan, a, epochs, max_nodes=mn
                )
                # empty micro-batch: nothing routed, nothing to commit
                # (the routing job doubles as the old isEmpty check —
                # one job per batch instead of two)
                if not affected:
                    return
            else:
                # ONE routing job: the distinct-collect both feeds the
                # manifest owners map and skips upsert_index's internal
                # one; an empty batch routes nowhere and no-ops here
                # (doubling as the old isEmpty check)
                affected = [
                    r["pkey"]
                    for r in engine._slice_rows(batch_df, plan, a)
                    .select("pkey").distinct().collect()
                ]
                if not affected:
                    return
                new_index = engine.upsert_index(
                    cur, batch_df, plan, a, affected=affected
                )
        if corpus_dir is not None and (
            engine.compaction_due(new_index, plan, max_nodes=mn, factor=factor)
            or _fragmentation_due(
                prev_owners, affected, f"v{batch_id}", max_manifest_versions
            )
        ):
            corpus = spark.read.schema(BASE_SCHEMA).parquet(corpus_dir)
            # force=True: the fragmentation trigger may fire when
            # compaction_due does not (epoch shards never exceed
            # max_nodes), so compact_index must not re-check it
            new_index, plan, a = engine.compact_index(
                new_index, corpus, plan, a, max_nodes=mn, factor=factor, force=True
            )
            affected = None  # full rebuild: this version owns everything
            if epoch_sharding:
                epochs = engine._epoch_state_from_plan(plan)
        vdir = os.path.join(index_dir, f"v{batch_id}")
        meta_out = {"shard_plan": plan, "alpha": a, "batch_id": batch_id}
        if epochs is not None:
            meta_out["epochs"] = epochs
        if not incremental:
            layout.save_index(new_index, vdir)
            _commit(vdir, batch_id, meta_out)
            return
        vtag = f"v{batch_id}"
        if affected is None:
            to_write = new_index
            owners = None  # known only after the write; derive from dirs
        else:
            to_write = new_index.filter(F.col("pkey").isin(affected))
            owners = dict(prev_owners)
            for p in affected:
                owners[p] = vtag
        layout.save_index(to_write, os.path.join(vdir, "shards"))
        if owners is None:
            # pkey is the partition column: the written directory names
            # ARE the shard list — no second job
            owners = {
                p.split("=", 1)[1]: vtag
                for p in os.listdir(os.path.join(vdir, "shards"))
                if p.startswith("pkey=")
            }
            from urllib.parse import unquote

            owners = {unquote(p): v for p, v in owners.items()}
        meta_out["owners"] = owners
        _commit(vdir, batch_id, meta_out)

    ws = base.writeStream.foreachBatch(fold)
    if checkpoint_dir is not None:
        ws = ws.option("checkpointLocation", checkpoint_dir)
    return ws.start()


def load_latest_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The newest committed snapshot as one DataFrame, whichever store
    wrote it: manifest mode unions per-owner version reads under pkey
    partition-filters (directory pruning — a read touches only the
    shards it asks for), full mode reads the version directory
    directly."""
    from pyspark.sql import functions as F

    from ..sources import layout

    import os

    latest = latest_index_path(index_dir)
    if latest is None:
        raise FileNotFoundError(f"no committed index under {index_dir}")
    meta = latest_index_meta(index_dir)
    if not meta or "owners" not in meta:
        return layout.load_index(spark, latest)
    by_version: dict[str, list[str]] = {}
    for pkey, vtag in meta["owners"].items():
        by_version.setdefault(vtag, []).append(pkey)
    parts = [
        layout.load_index(
            spark, os.path.join(index_dir, vtag, "shards")
        ).filter(F.col("pkey").isin(pkeys))
        for vtag, pkeys in sorted(by_version.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _gc_versions(index_dir: str, retain: int) -> None:
    """Delete version directories neither referenced by the current
    manifest nor among the newest ``retain`` versions (grace window for
    in-flight readers of just-superseded snapshots)."""
    import os
    import re
    import shutil

    latest = latest_index_path(index_dir)
    if latest is None:
        return
    keep = {os.path.basename(latest)}
    meta = latest_index_meta(index_dir)
    if meta and meta.get("owners"):
        keep |= set(meta["owners"].values())
    vdirs = sorted(
        (d for d in os.listdir(index_dir) if re.fullmatch(r"v\d+", d)),
        key=lambda s: int(s[1:]),
    )
    keep |= set(vdirs[-max(int(retain), 1):])
    for d in vdirs:
        if d not in keep:
            shutil.rmtree(os.path.join(index_dir, d), ignore_errors=True)


def latest_index_meta(index_dir: str) -> dict | None:
    """The (shard_plan, alpha, batch_id) the newest committed snapshot
    was written under, or None for pre-meta snapshots. Searchers and
    restarted ingest streams read THIS, not construction-time values —
    compaction changes both."""
    import json
    import os

    latest = latest_index_path(index_dir)
    if latest is None:
        return None
    mpath = os.path.join(latest, "_meta.json")
    if not os.path.exists(mpath):
        return None
    with open(mpath) as f:
        return json.load(f)


def latest_index_path(index_dir: str) -> str | None:
    """The newest committed index version under ``index_dir`` (via the
    atomically-replaced LATEST pointer), or None before first commit."""
    import os

    marker = os.path.join(index_dir, "LATEST")
    if not os.path.exists(marker):
        return None
    with open(marker) as f:
        return os.path.join(index_dir, f.read().strip())
