"""Query registry — the single source of truth consumed by
``__spark_entry__.py`` (driver contract), ``bench.py`` and tests.

Each entry: name → (spark_callable(spark, sf_dir) -> DataFrame,
oracle_sql: str | None). ``oracle_sql`` is ANSI SQL DuckDB runs over
the same parquet views; None marks non-SQL-expressible ops (ANN graph
search, streaming) which get a rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .functions import multimodal as MM
from .functions import bpe as BPE
from .functions import quantization as Q
from .functions import retrieval as RET
from .functions import text as T
from .operators import (
    bruteforce_quant,
    pq,
    bruteforce_sq8,
    curation,
    dedup,
    engine,
    evaluate,
    knn,
    nndescent,
    relational,
    routing,
    sampling,
    similarity,
    skew,
    stats,
)
from .plans import workload
from .sources.tables import base_vectors, load_table
from .streaming import pipeline as streaming

QueryFn = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, fn: QueryFn, oracle: str | None) -> None:
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        from .session import tune_for_session

        # ship the package to workers AND pin runtime confs (UTC
        # session timezone, AQE, Arrow) on driver-provided sessions —
        # a query must not depend on entry() having run first
        tune_for_session(spark)
        return fn(spark, sf_dir)

    _REGISTRY[name] = (wrapped, oracle)


def queries() -> dict[str, QueryFn]:
    return {name: fn for name, (fn, _) in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: sql for name, (_, sql) in _REGISTRY.items() if sql is not None}


# ---------------------------------------------------------------------------
# Core workload: exact filtered kNN (reference utils.h:80-158), two
# physical strategies for the same logical op.
# ---------------------------------------------------------------------------


def _knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn.knn_exact_arrow(spark, base_vectors(spark, sf_dir), workload.queries_df(spark, sf_dir))


def _knn_declarative(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn.knn_exact_expr(base_vectors(spark, sf_dir), workload.queries_df(spark, sf_dir))


register("knn_bruteforce", _knn_bruteforce, knn.knn_oracle_sql())
register("knn_declarative", _knn_declarative, knn.knn_oracle_sql())


# ---------------------------------------------------------------------------
# Stats / routing / interval planning (reference hybrid_graph.cpp:91-230)
# ---------------------------------------------------------------------------


def _category_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.category_counts(base_vectors(spark, sf_dir))


def _selectivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return stats.selectivity(
        base_vectors(spark, sf_dir), workload.queries_df(spark, sf_dir)
    ).select("query_id", "query_type", "sel_num", "n_total")


def _route_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.route_plan(
        base_vectors(spark, sf_dir), workload.queries_df(spark, sf_dir)
    ).select("query_id", "query_type", "sel_num", "n_total", "route")


def _split_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    return routing.split_interval(workload.queries_df(spark, sf_dir))


register("stats_category_counts", _category_counts, stats.CATEGORY_COUNTS_SQL)
register("selectivity", _selectivity, stats.selectivity_sql())
register("route_plan", _route_plan, routing.route_plan_sql())
register("split_interval", _split_interval, routing.split_interval_sql())


# ---------------------------------------------------------------------------
# SQ8 quantization + two-phase brute force (sq8_sym_quant.hpp, K2/K12)
# ---------------------------------------------------------------------------


def _sq8_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_vectors(spark, sf_dir)
    alpha = Q.train_alpha(base)
    return base.select("id", Q.encode_expr("vec", alpha).alias("codes"))


_SQ8_ENCODE_SQL = f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b AS ({workload.base_cte_sql()})
SELECT id, {Q.encode_sql('b.vec')} AS codes FROM b, alpha
"""


# Persisted SQ8 codes replica (B10 — the reference's SortDataset builds
# codes_both/codes_time once, hybrid_graph.cpp:505-524): written once
# per (application, sf_dir) via layout.write_replicas(alpha=...), then
# every brute-force candidate scan — standalone knn_sq8_rerank AND the
# hybrid engine's bf route — reads the persisted codes column only.
_CODES_CACHE: dict[tuple[str, str], tuple[DataFrame, float]] = {}


def _codes_replica(spark: SparkSession, sf_dir: str, base: DataFrame) -> tuple[DataFrame, float]:
    import tempfile

    from .sources import layout

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _CODES_CACHE:
        alpha = Q.train_alpha(base)
        path = os.path.join(
            tempfile.gettempdir(),
            f"sg_replicas_{spark.sparkContext.applicationId}_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        layout.write_replicas(base, path, alpha=alpha)
        _CODES_CACHE[key] = (layout.read_codes_base(spark, path), alpha)
    return _CODES_CACHE[key]


def prepare_codes_replica(spark: SparkSession, sf_dir: str) -> int:
    """Materialize the sorted+codes replicas outside any search clock
    (the reference's SortDataset runs in the build phase). Returns the
    replica row count; bench.py reports the wall as ``replicas_build``."""
    from .session import ship_package

    ship_package(spark)
    codes_base, _ = _codes_replica(spark, sf_dir, base_vectors(spark, sf_dir))
    return codes_base.count()


def _knn_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_vectors(spark, sf_dir)
    codes_base, alpha = _codes_replica(spark, sf_dir, base)
    return bruteforce_sq8.knn_sq8_rerank(
        base, workload.queries_df(spark, sf_dir), alpha, codes_base=codes_base
    )


def _sq8_asym_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    mins, maxs = Q.train_minmax(emb, "embedding")
    return emb.select("vec_id", Q.encode_asym_expr("embedding", mins, maxs).alias("codes"))


def _sq4_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    mn, mx = Q.train_global_minmax(emb, "embedding")
    return emb.select("vec_id", Q.encode_sq4_expr("embedding", mn, mx).alias("codes"))


# Registry emits the hashable digest projection (the driver's pandas
# canonicalizer can't sort array cells); raw-code shapes stay available
# to tests/engine via the underscore functions above.
register(
    "sq8_encode",
    lambda s, d: Q.codes_digest(_sq8_encode(s, d), "id"),
    Q.codes_digest_sql(_SQ8_ENCODE_SQL, "id"),
)
register(
    "sq8_asym_encode",
    lambda s, d: Q.codes_digest(_sq8_asym_encode(s, d), "vec_id"),
    Q.codes_digest_sql(Q.encode_asym_sql(), "vec_id"),
)
register(
    "sq4_encode",
    lambda s, d: Q.codes_digest(_sq4_encode(s, d), "vec_id"),
    Q.codes_digest_sql(Q.encode_sq4_sql(), "vec_id"),
)
register("knn_sq8_rerank", _knn_sq8_rerank, bruteforce_sq8.knn_sq8_rerank_sql())


def _knn_asym_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_vectors(spark, sf_dir)
    mins, maxs = Q.train_minmax(base, "vec")
    return bruteforce_quant.knn_asym_rerank(base, workload.queries_df(spark, sf_dir), mins, maxs)


def _knn_sq4_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_vectors(spark, sf_dir)
    mn, mx = Q.train_global_minmax(base, "vec")
    return bruteforce_quant.knn_sq4_rerank(base, workload.queries_df(spark, sf_dir), mn, mx)


register("knn_asym_rerank", _knn_asym_rerank, bruteforce_quant.knn_asym_rerank_sql())
register("knn_sq4_rerank", _knn_sq4_rerank, bruteforce_quant.knn_sq4_rerank_sql())


# ---------------------------------------------------------------------------
# Hybrid engine: the fused corpus-broadcast kernel below the fused-plan
# bound; routed bf + per-shard exact code-space scans above it
# (BatchSearch, hybrid_graph.cpp:147-503). Recall vs the exact oracle
# is gated in tests/test_hnsw_engine.py.
# ---------------------------------------------------------------------------


# Build-once, search-many — the reference's own usage (Build /
# BuildCategoryIndex run once, BatchSearch many; the contest clock
# measures search, baseline.cpp:96,152). The first entry that needs the
# index builds it, round-trips it through the S8 parquet persistence
# (Graph::save/load, graph.hpp:101-137), and every later
# entry searches the *loaded* index. Only the shard plan reads an
# index (``_hybrid_shard_inputs``): below the fused-plan bound nothing
# is built. Keyed by (application, sf_dir) so a new session never sees
# a stale plan.
_INDEX_CACHE: dict[tuple[str, str], tuple[DataFrame, DataFrame]] = {}


def _hybrid_index(spark: SparkSession, sf_dir: str, base: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(index, catalog) — both build-phase artifacts, cached together
    (the catalog is the relational twin of the reference's partition
    maps, computed once per loaded index)."""
    import tempfile

    from .sources import layout

    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _INDEX_CACHE:
        path = os.path.join(
            tempfile.gettempdir(),
            f"sg_index_{spark.sparkContext.applicationId}_{os.path.basename(sf_dir.rstrip('/'))}",
        )
        layout.save_index(engine.build_index(base), path)
        # pkey-clustered cache: searches cogroup on pkey, so persisting
        # the loaded index pre-partitioned elides the index-side
        # exchange in every subsequent search (build-once cost)
        index = engine.partition_index_for_search(layout.load_index(spark, path)).persist()
        index.count()  # materialize before the catalog's distinct scan
        _INDEX_CACHE[key] = (index, engine.shard_catalog(index))
    return _INDEX_CACHE[key]


def prepare_hybrid_index(spark: SparkSession, sf_dir: str) -> int:
    """Materialize EVERY build-phase artifact outside the search
    clocks — the reference times Build and Search separately
    (baseline.cpp:96,152) and its build covers the quantizer, the
    sorted replicas/partition maps, and the graphs; ours covers the
    corpus stats, the routing plan + alpha shared by the hybrid
    entries and, when the shard plan serves the corpus, the index
    (build + parquet save/load), its shard catalog and the SQ8 codes
    replica. Returns the node-row count (0 when the fused plan serves
    the corpus and no index is built). bench.py calls this before
    timing ``knn_hybrid`` and reports the wall as ``knn_hybrid_build``."""
    from .session import ship_package

    ship_package(spark)
    base = base_vectors(spark, sf_dir)
    plan, _alpha, dim = _hybrid_plan(spark, sf_dir, base)
    plan.count()
    shard = _hybrid_shard_inputs(spark, sf_dir, base, dim)
    return shard["index"].count() if shard else 0


def _hybrid_shard_inputs(
    spark: SparkSession, sf_dir: str, base: DataFrame, dim: int | None
) -> dict[str, DataFrame]:
    """The index, its catalog and the SQ8 codes replica as
    ``engine.knn_hybrid`` keywords — what its shard plan reads. Below
    the fused-plan bound (``engine.search_side``) the fused kernel reads
    none of them, so none is built and this is empty."""
    corpus_rows = _hybrid_stats(spark, sf_dir, base)[1]
    if engine.search_side(corpus_rows, dim) != engine.SIDE_SHARDS:
        return {}
    index, catalog = _hybrid_index(spark, sf_dir, base)
    return {
        "index": index,
        "catalog": catalog,
        "codes_base": _codes_replica(spark, sf_dir, base)[0],
    }


# Route plan + quantizer scale shared across the hybrid entries
# (knn_hybrid and recall_hybrid_vs_exact search the same workload):
# the reference routes once per batch (hybrid_graph.cpp:168-230) and
# trains the quantizer once at build (hnsw.hpp:38-40).
_PLAN_CACHE: dict[tuple[str, str], tuple[DataFrame, float, int | None]] = {}
_STATS_CACHE: dict[tuple[str, str], tuple[DataFrame, int]] = {}


def _hybrid_stats(spark: SparkSession, sf_dir: str, base: DataFrame) -> tuple[DataFrame, int]:
    """Build-phase corpus stats (category×ts histogram + total),
    warmed by prepare_hybrid_index — the reference computes its stats
    replicas in the build phase too (SortDataset)."""
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _STATS_CACHE:
        _STATS_CACHE[key] = stats.corpus_stats(base, routing.ROUTING_TS_BINS)
    return _STATS_CACHE[key]


def _hybrid_plan(
    spark: SparkSession, sf_dir: str, base: DataFrame
) -> tuple[DataFrame, float, int | None]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _PLAN_CACHE:
        # the vector width, derived once: the engine's side rule reads
        # bc_rows_bound(dim)
        head = base.select("vec").head()
        dim = len(head["vec"]) if head is not None else None
        plan = routing.route_plan(
            base,
            workload.queries_df(spark, sf_dir),
            stats=_hybrid_stats(spark, sf_dir, base),
        ).persist()
        _PLAN_CACHE[key] = (plan, Q.train_alpha(base), dim)
    return _PLAN_CACHE[key]


def _knn_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = base_vectors(spark, sf_dir)
    plan, alpha, dim = _hybrid_plan(spark, sf_dir, base)
    return engine.knn_hybrid(
        spark,
        base,
        workload.queries_df(spark, sf_dir),
        plan=plan,
        alpha=alpha,
        corpus_rows=_hybrid_stats(spark, sf_dir, base)[1],
        dim=dim,
        **_hybrid_shard_inputs(spark, sf_dir, base, dim),
    )


# Full hash-matched oracle (r4 verdict #1): at correctness scale every
# branch the engine takes is EXACT, so the oracle is the exact filtered
# kNN itself — (a) every shard is scanned exactly in code space (the
# predicate-sliced code GEMM), its SHARD_REFINE_MULT·k per-shard
# candidates contain the true top-k of their slice, and slices cover
# each query's allowed set; (b) the bf branch's SQ8 cut to
# refine_k=140 retains the true top-100 for the low-selectivity
# queries it is routed (hash-proven since r4, knn_hybrid_bf_exact);
# (c) the K12 re-rank restores exact float (dist, id) order. Testdata
# corpora sit below the fused-plan bound, where one corpus-broadcast
# kernel cuts each query's predicate slice to one code-space depth
# (engine.fused_refine_k: 150 at k=100, no shallower than either
# branch above) and re-ranks it exactly. The sf-independent quality gate stays recall_hybrid_vs_exact
# (bar 0.95).
register("knn_hybrid", _knn_hybrid, knn.knn_oracle_sql())


def _knn_hybrid_bf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hybrid engine's brute-force branch, hash-proven: the ENGINE
    invoked on exactly the bf-routed query_ids (routing is per-query,
    so this equals the full run restricted to that subset — the r4 form
    — without paying a second full search just to gate one branch).
    The route plan itself hash-matches DuckDB (route_plan row), so the
    subset is oracle-reproducible, and the bf branch (SQ8 cut + exact
    re-rank) returns the exact answer for the low-selectivity queries
    it is routed — so the oracle below is the EXACT kNN restricted to
    the same subset."""
    from pyspark.sql import functions as F

    base = base_vectors(spark, sf_dir)
    plan, alpha, dim = _hybrid_plan(spark, sf_dir, base)
    bf_plan = plan.filter(F.col("route") == routing.ROUTE_BF)
    return engine.knn_hybrid(
        spark,
        base,
        bf_plan,
        plan=bf_plan,
        alpha=alpha,
        corpus_rows=_hybrid_stats(spark, sf_dir, base)[1],
        dim=dim,
        **_hybrid_shard_inputs(spark, sf_dir, base, dim),
    )


_KNN_HYBRID_BF_EXACT_SQL = f"""
WITH rp AS ({{route_plan}}),
res AS ({{exact}})
SELECT res.query_id, res.id, res.rnk
FROM res JOIN rp ON rp.query_id = res.query_id AND rp.route = '{routing.ROUTE_BF}'
""".format(route_plan=routing.route_plan_sql(), exact=knn.knn_oracle_sql())

register("knn_hybrid_bf_exact", _knn_hybrid_bf_exact, _KNN_HYBRID_BF_EXACT_SQL)


# ---------------------------------------------------------------------------
# Incremental index maintenance, driver-proven (upsert_index): build on
# 90% of the corpus, upsert the rest, and emit per-shard digests that
# the oracle recomputes STRUCTURALLY from the raw table — shard routing
# is pmod(id, nshards) under the derived plan and codes are the SQ8
# encode, both SQL-expressible — plus an in-plan row-equality flag
# (`graph_equal`): every index column of every (pkey, id) equals a
# from-scratch build's under the same plan/alpha; the oracle expects
# literal TRUE.
# ---------------------------------------------------------------------------

UPSERT_PARITY_MAX_NODES = 128


def _graph_equal(live: DataFrame, scratch: DataFrame, on: list[str]) -> DataFrame:
    """(pkey, graph_equal) per live shard: TRUE iff each of its rows
    equals the ``scratch`` row with the same ``on`` keys in every index
    column (category, ts, codes) and neither side lacks a row. A
    scratch row missing from ``live`` lands in a null-pkey group."""
    from pyspark.sql import functions as F

    vals = ["category", "ts", "codes"]
    keys = on if "pkey" in on else ["pkey", *on]
    joined = live.select(*keys, *vals).alias("u").join(
        scratch.select(*on, *vals).alias("s"), on, "full_outer"
    )
    match = F.coalesce(
        F.col("u.codes").isNotNull()
        & F.col("s.codes").isNotNull()
        & (F.col("u.codes") == F.col("s.codes"))
        & (F.col("u.category") == F.col("s.category"))
        & (F.col("u.ts") == F.col("s.ts")),
        F.lit(False),
    )
    return joined.groupBy("pkey").agg(F.min(match).alias("graph_equal"))


def _index_upsert_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .session import ship_package

    ship_package(spark)
    base = base_vectors(spark, sf_dir)
    alpha = Q.train_alpha(base)
    plan = engine._shard_plan(base, routing.CAT_GRAPH_THR, UPSERT_PARITY_MAX_NODES)
    arrivals = base.filter(F.col("id") % 10 == 0)
    idx = engine.build_index(
        base.filter(F.col("id") % 10 != 0),
        shard_plan=plan,
        alpha=alpha,
        max_nodes=UPSERT_PARITY_MAX_NODES,
    )
    up = engine.upsert_index(idx, arrivals, plan, alpha)
    scratch = engine.build_index(
        base, shard_plan=plan, alpha=alpha, max_nodes=UPSERT_PARITY_MAX_NODES
    )

    eq = _graph_equal(up, scratch, ["pkey", "id"])
    digest = F.pandas_udf(engine._codes_weighted_digest_batch, "long")
    stats_df = (
        up.select("pkey", "id", digest(F.col("codes")).alias("dg"))
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("dg").cast("long").alias("code_digest"),
        )
    )
    return stats_df.join(eq, "pkey").select(
        "pkey", "n_members", "sum_id", "code_digest", "graph_equal"
    )


_INDEX_UPSERT_PARITY_SQL = f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b AS ({workload.base_cte_sql()}),
tot AS (SELECT count(*) AS total FROM b),
cat_counts AS (SELECT category::BIGINT AS key, count(*) AS c FROM b GROUP BY 1),
dec_counts AS (
  SELECT least(floor(ts * 10)::INT, 9)::BIGINT AS key, count(*) AS c
  FROM b GROUP BY 1
),
plan AS (
  SELECT 'cat:' || key AS prefix, c FROM cat_counts, tot
  WHERE c >= {routing.CAT_GRAPH_THR} * total
  UNION ALL
  SELECT 'dec:' || key, c FROM dec_counts
),
plan2 AS (
  SELECT prefix, ((c + {UPSERT_PARITY_MAX_NODES} - 1) // {UPSERT_PARITY_MAX_NODES}) AS ns
  FROM plan
),
sliced AS (
  SELECT b.id, p.prefix, p.ns,
         {Q.encode_sql('b.vec')} AS codes
  FROM b, alpha
  JOIN plan2 p
    ON p.prefix = 'dec:' || least(floor(b.ts * 10)::INT, 9)::BIGINT
    OR p.prefix = 'cat:' || b.category::BIGINT
),
rows_ AS (
  SELECT prefix || ':' || (id % ns) AS pkey, id,
         list_sum(list_transform(range(1, len(codes) + 1),
                                 j -> j * codes[j]))::BIGINT AS dg
  FROM sliced
)
SELECT pkey,
       count(*)::BIGINT AS n_members,
       sum(id)::BIGINT AS sum_id,
       sum(dg)::BIGINT AS code_digest,
       TRUE AS graph_equal
FROM rows_ GROUP BY pkey
"""

register("index_upsert_parity", _index_upsert_parity, _INDEX_UPSERT_PARITY_SQL)


# ---------------------------------------------------------------------------
# Streaming near-dup pairs, driver-proven: run the bounded document
# stream to completion through the stateful MinHash-LSH operator
# (memory sink), distinct over band collisions exactly like the batch
# op — the oracle is the BATCH minhash SQL, so this row certifies
# stream-equals-batch the same way the other streaming entries do.
# ---------------------------------------------------------------------------

_NEARDUP_SINK_SEQ = iter(range(1_000_000))


def _stream_neardup_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .session import ship_package
    from .streaming import pipeline as P

    ship_package(spark)
    static = load_table(spark, sf_dir, "documents")
    # the file-stream source requires a DIRECTORY; the testdata table
    # is a single parquet file — stage a symlink dir (no data copy)
    import tempfile

    import zlib

    src = os.path.realpath(os.path.join(sf_dir, "documents.parquet"))
    stage = os.path.join(
        tempfile.gettempdir(), f"sg_neardup_src_{zlib.crc32(src.encode()):08x}"
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    sdf = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    name = f"neardup_parity_{next(_NEARDUP_SINK_SEQ)}"
    q = (
        P.stream_near_dup_pairs(sdf, bucket_cap=None)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).select("d1", "d2", "jaccard_ppm").distinct()


register(
    "stream_neardup_parity",
    _stream_neardup_parity,
    dedup.minhash_lsh_pairs_sql(),
)


# ---------------------------------------------------------------------------
# Compaction, driver-proven (the compact half of the delta + compact
# contract, r9): build under a plan/alpha derived from a 2/3 subset,
# upsert the remaining third so sustained ingest erodes the per-shard
# bound, assert `compaction_due` fires (emitted as a literal the oracle
# expects TRUE), then `compact_index` re-derives plan AND alpha from
# the full corpus and rebuilds. The oracle recomputes the compacted
# layout STRUCTURALLY from the raw table — the re-derived plan is the
# full-base plan, alpha is the full-base max|x|, shard routing is
# pmod(id, ns), codes are the SQ8 encode under the NEW alpha — so a
# hash match certifies that compaction actually re-derived both and
# rebuilt every shard under them (a stale plan or alpha changes every
# pkey/digest). MAX_NODES=32 + factor 0.5 size the trigger so it
# provably fires at sf0.01's 500-row base (final decile fill ~25 >
# 0.5×32 = 16); no scratch build — `compact_index` itself builds from
# the raw corpus, so the oracle comparison IS the parity check.
# ---------------------------------------------------------------------------

COMPACT_PARITY_MAX_NODES = 32
COMPACT_PARITY_FACTOR = 0.5


def _index_compaction_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .session import ship_package

    ship_package(spark)
    base = base_vectors(spark, sf_dir)
    # deterministic 2/3 seed / 1/3 arrival split, decorrelated from the
    # id % nshards membership (F.hash = Murmur3, fixed seed)
    split = F.pmod(F.hash("id"), F.lit(3))
    seed = base.filter(split != 0)
    arrivals = base.filter(split == 0)
    old_alpha = Q.train_alpha(seed)
    old_plan = engine._shard_plan(
        seed, routing.CAT_GRAPH_THR, COMPACT_PARITY_MAX_NODES
    )
    idx = engine.build_index(
        seed, shard_plan=old_plan, alpha=old_alpha,
        max_nodes=COMPACT_PARITY_MAX_NODES,
    )
    up = engine.upsert_index(idx, arrivals, old_plan, old_alpha).persist()
    try:
        fired = engine.compaction_due(
            up,
            old_plan,
            max_nodes=COMPACT_PARITY_MAX_NODES,
            factor=COMPACT_PARITY_FACTOR,
        )
        rebuilt, _new_plan, _new_alpha = engine.compact_index(
            up,
            base,
            old_plan,
            old_alpha,
            max_nodes=COMPACT_PARITY_MAX_NODES,
            factor=COMPACT_PARITY_FACTOR,
        )
    finally:
        up.unpersist()
    digest = F.pandas_udf(engine._codes_weighted_digest_batch, "long")
    return (
        rebuilt.select("pkey", "id", digest(F.col("codes")).alias("dg"))
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("dg").cast("long").alias("code_digest"),
        )
        .select(
            "pkey",
            "n_members",
            "sum_id",
            "code_digest",
            F.lit(bool(fired)).alias("compaction_fired"),
        )
    )


_INDEX_COMPACTION_PARITY_SQL = f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b AS ({workload.base_cte_sql()}),
tot AS (SELECT count(*) AS total FROM b),
cat_counts AS (SELECT category::BIGINT AS key, count(*) AS c FROM b GROUP BY 1),
dec_counts AS (
  SELECT least(floor(ts * 10)::INT, 9)::BIGINT AS key, count(*) AS c
  FROM b GROUP BY 1
),
plan AS (
  SELECT 'cat:' || key AS prefix, c FROM cat_counts, tot
  WHERE c >= {routing.CAT_GRAPH_THR} * total
  UNION ALL
  SELECT 'dec:' || key, c FROM dec_counts
),
plan2 AS (
  SELECT prefix,
         ((c + {COMPACT_PARITY_MAX_NODES} - 1) // {COMPACT_PARITY_MAX_NODES}) AS ns
  FROM plan
),
sliced AS (
  SELECT b.id, p.prefix, p.ns,
         {Q.encode_sql('b.vec')} AS codes
  FROM b, alpha
  JOIN plan2 p
    ON p.prefix = 'dec:' || least(floor(b.ts * 10)::INT, 9)::BIGINT
    OR p.prefix = 'cat:' || b.category::BIGINT
),
rows_ AS (
  SELECT prefix || ':' || (id % ns) AS pkey, id,
         list_sum(list_transform(range(1, len(codes) + 1),
                                 j -> j * codes[j]))::BIGINT AS dg
  FROM sliced
)
SELECT pkey,
       count(*)::BIGINT AS n_members,
       sum(id)::BIGINT AS sum_id,
       sum(dg)::BIGINT AS code_digest,
       TRUE AS compaction_fired
FROM rows_ GROUP BY pkey
"""

register(
    "index_compaction_parity", _index_compaction_parity, _INDEX_COMPACTION_PARITY_SQL
)


# ---------------------------------------------------------------------------
# Manifest-mode streaming ingest, driver-proven (r9): stage the base
# vectors as three parquet files, run `index_ingest_stream` to
# completion in MANIFEST mode (each version stores only its batch's
# rebuilt shards; owners map + LATEST pointer; retain_versions=1 GC),
# then assemble the live index through `load_latest_index`'s per-owner
# pruned reads. The emitted per-shard digests are recomputed
# structurally by the oracle (same shape as index_upsert_parity), and
# two in-plan flags the oracle expects TRUE certify what SQL cannot:
# `graph_equal` — the manifest-assembled index is row-identical to a
# from-scratch `build_index` under the same plan/alpha, i.e. the
# incremental write path and the batch build converge;
# `store_bounded` — after GC the store holds only manifest-referenced
# versions plus the retention window.
# ---------------------------------------------------------------------------

INGEST_PARITY_MAX_NODES = 128


def _stream_index_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .session import ship_package

    ship_package(spark)
    base = base_vectors(spark, sf_dir)
    alpha = Q.train_alpha(base)
    plan = engine._shard_plan(
        base, routing.CAT_GRAPH_THR, INGEST_PARITY_MAX_NODES
    )
    work = tempfile.mkdtemp(prefix="sg_ingest_parity_")
    try:
        return _ingest_parity_body(spark, base, alpha, plan, work)
    finally:
        # the result is collected (shard-catalog-sized) before this
        # runs, so the staged batches + versioned store never outlive
        # the call (r10 advice: each harness run leaked a /tmp tree)
        shutil.rmtree(work, ignore_errors=True)


def _ingest_parity_body(
    spark: SparkSession, base: DataFrame, alpha: float,
    plan: dict[str, int], work: str,
) -> DataFrame:
    import glob
    import shutil

    from pyspark.sql import functions as F

    from .operators import engine as _e
    from .streaming import vector as V

    stage = os.path.join(work, "arrivals")
    index_dir = os.path.join(work, "index")
    os.makedirs(stage)
    os.makedirs(index_dir)
    # two deterministic micro-batches (first build + one incremental
    # fold — the minimum that exercises a multi-version manifest and
    # GC); the fold is order-independent (fixed plan/alpha + anti-join
    # upsert), so file order never matters
    for i in range(2):
        part_dir = os.path.join(work, f"p{i}")
        (
            base.filter(F.pmod(F.col("id"), F.lit(2)) == i)
            .select("id", "category", "ts", "vec")
            .coalesce(1)
            .write.parquet(part_dir)
        )
        src = glob.glob(os.path.join(part_dir, "part-*.parquet"))[0]
        shutil.move(src, os.path.join(stage, f"batch{i}.parquet"))
    q = V.index_ingest_stream(
        V.stream_base(spark, stage),
        index_dir,
        plan,
        alpha,
        incremental=True,
        retain_versions=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = V.load_latest_index(spark, index_dir)
    meta = V.latest_index_meta(index_dir) or {}
    referenced = set((meta.get("owners") or {}).values())
    vdirs = {
        d for d in os.listdir(index_dir)
        if d.startswith("v") and d[1:].isdigit()
    }
    newest = max(vdirs, key=lambda s: int(s[1:]))
    store_bounded = vdirs <= (referenced | {newest})

    scratch = _e.build_index(
        base, shard_plan=plan, alpha=alpha, max_nodes=INGEST_PARITY_MAX_NODES
    )
    eq = _graph_equal(idx, scratch, ["pkey", "id"])
    digest = F.pandas_udf(engine._codes_weighted_digest_batch, "long")
    stats_df = (
        idx.select("pkey", "id", digest(F.col("codes")).alias("dg"))
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("dg").cast("long").alias("code_digest"),
        )
    )
    out = stats_df.join(eq, "pkey").select(
        "pkey",
        "n_members",
        "sum_id",
        "code_digest",
        "graph_equal",
        F.lit(bool(store_bounded)).alias("store_bounded"),
    )
    # materialize before the caller's finally deletes the store the
    # lazy plan reads from; the result is one row per shard
    return spark.createDataFrame(out.collect(), out.schema)


_STREAM_INDEX_INGEST_PARITY_SQL = f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b AS ({workload.base_cte_sql()}),
tot AS (SELECT count(*) AS total FROM b),
cat_counts AS (SELECT category::BIGINT AS key, count(*) AS c FROM b GROUP BY 1),
dec_counts AS (
  SELECT least(floor(ts * 10)::INT, 9)::BIGINT AS key, count(*) AS c
  FROM b GROUP BY 1
),
plan AS (
  SELECT 'cat:' || key AS prefix, c FROM cat_counts, tot
  WHERE c >= {routing.CAT_GRAPH_THR} * total
  UNION ALL
  SELECT 'dec:' || key, c FROM dec_counts
),
plan2 AS (
  SELECT prefix,
         ((c + {INGEST_PARITY_MAX_NODES} - 1) // {INGEST_PARITY_MAX_NODES}) AS ns
  FROM plan
),
sliced AS (
  SELECT b.id, p.prefix, p.ns,
         {Q.encode_sql('b.vec')} AS codes
  FROM b, alpha
  JOIN plan2 p
    ON p.prefix = 'dec:' || least(floor(b.ts * 10)::INT, 9)::BIGINT
    OR p.prefix = 'cat:' || b.category::BIGINT
),
rows_ AS (
  SELECT prefix || ':' || (id % ns) AS pkey, id,
         list_sum(list_transform(range(1, len(codes) + 1),
                                 j -> j * codes[j]))::BIGINT AS dg
  FROM sliced
)
SELECT pkey,
       count(*)::BIGINT AS n_members,
       sum(id)::BIGINT AS sum_id,
       sum(dg)::BIGINT AS code_digest,
       TRUE AS graph_equal,
       TRUE AS store_bounded
FROM rows_ GROUP BY pkey
"""

register(
    "stream_index_ingest_parity",
    _stream_index_ingest_parity,
    _STREAM_INDEX_INGEST_PARITY_SQL,
)


# ---------------------------------------------------------------------------
# Epoch-mode ingest parity (r10 flagship capability, first driver row):
# the APPEND-ONLY epoch router (engine.upsert_index_epoch) run through
# a real multi-batch stream to completion under the manifest store.
# The oracle re-derives the exact epoch shard assignment from the raw
# table: batch 0 flows through build_index's hash path (pkey =
# prefix:(id % ns)); every later row's epoch is ns + p // max_nodes
# where p is the row's 0-based arrival position within its slice
# (ordered by (batch, id) — the fold's per-batch id-asc window chained
# through the persisted epoch state). Per-shard digests prove the
# membership AND the codes; three flags certify what SQL cannot see:
# `graph_equal` — every live shard's rows equal a from-scratch encode
# of the raw corpus under the same plan/alpha, matched by slice and id
# (the incremental fold converges to the batch build per shard);
# `sealed_immutable` — no version directory ever rewrites a shard that
# an earlier version committed full (the write-amplification claim,
# including the batch-ends-on-boundary edge the eager seal closes);
# `owners_bounded` — live shards are owned by ≤ n_batches versions.
# ---------------------------------------------------------------------------

EPOCH_PARITY_BATCHES = 3


def _stream_index_ingest_epoch_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from .session import ship_package

    ship_package(spark)
    base = base_vectors(spark, sf_dir)
    alpha = Q.train_alpha(base)
    plan = engine._shard_plan(
        base, routing.CAT_GRAPH_THR, INGEST_PARITY_MAX_NODES
    )
    work = tempfile.mkdtemp(prefix="sg_ingest_epoch_parity_")
    try:
        return _epoch_parity_body(spark, base, alpha, plan, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _epoch_parity_body(
    spark: SparkSession, base: DataFrame, alpha: float,
    plan: dict[str, int], work: str,
) -> DataFrame:
    import glob
    import shutil

    from pyspark.sql import functions as F

    from .operators import engine as _e
    from .streaming import vector as V

    stage = os.path.join(work, "arrivals")
    index_dir = os.path.join(work, "index")
    os.makedirs(stage)
    os.makedirs(index_dir)
    nb = EPOCH_PARITY_BATCHES
    mn = INGEST_PARITY_MAX_NODES
    # ONE staging job (r14, guide §6): write all batch files in a
    # single partitionBy(pmod(id, nb)) pass instead of nb filtered
    # scans of the base — same bytes, same per-batch row sets
    part_dir = os.path.join(work, "parts")
    (
        base.select(
            F.pmod(F.col("id"), F.lit(nb)).cast("int").alias("b"),
            "id", "category", "ts", "vec",
        )
        .coalesce(1)
        .write.partitionBy("b")
        .parquet(part_dir)
    )
    for i in range(nb):
        src = glob.glob(os.path.join(part_dir, f"b={i}", "part-*.parquet"))[0]
        dst = os.path.join(stage, f"batch{i}.parquet")
        shutil.move(src, dst)
        # epoch routing is arrival-order-dependent (unlike the hash
        # fold): pin the file-source delivery order via mtime so the
        # oracle's (batch, id) arrival ordering is the stream's
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))
    q = V.index_ingest_stream(
        V.stream_base(spark, stage),
        index_dir,
        plan,
        alpha,
        max_nodes=mn,
        incremental=True,
        epoch_sharding=True,
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # store audit (file listing + version-sized reads, all bounded):
    # a shard committed FULL by one version must never reappear in a
    # later version's shard dir — sealed bytes are immutable
    meta = V.latest_index_meta(index_dir) or {}
    owners = meta.get("owners") or {}
    owners_bounded = len(set(owners.values())) <= nb
    vdirs = sorted(
        (d for d in os.listdir(index_dir) if d.startswith("v") and d[1:].isdigit()),
        key=lambda s: int(s[1:]),
    )
    # ONE audit job over every version's shard dir (was one job per
    # version): version recovered from the file path, per-(version,
    # pkey) counts aggregated together, the seal ordering checked
    # driver-side over the catalog-sized result — same flags
    sealed_immutable = True
    committed_full: set[str] = set()
    if vdirs:
        per_version: dict[str, dict[str, int]] = {v: {} for v in vdirs}
        scans = [
            spark.read.parquet(os.path.join(index_dir, v, "shards")).select(
                F.lit(v).alias("v"), "pkey"
            )
            for v in vdirs
        ]
        audit_df = scans[0]
        for s_ in scans[1:]:
            audit_df = audit_df.unionByName(s_)
        audit = audit_df.groupBy("v", "pkey").agg(F.count("*").alias("n")).collect()
        for r in audit:
            per_version[r["v"]][r["pkey"]] = r["n"]
        for v in vdirs:
            counts = per_version[v]
            if committed_full & set(counts):
                sealed_immutable = False
            committed_full |= {p for p, n in counts.items() if n >= mn}

    idx = V.load_latest_index(spark, index_dir)
    scratch = _e._prefix_rows(
        base, meta.get("shard_plan", plan), float(meta.get("alpha", alpha))
    )
    eq = _graph_equal(
        idx.withColumn("prefix", F.regexp_extract("pkey", r"^(.*):\d+$", 1)),
        scratch,
        ["prefix", "id"],
    )
    digest = F.pandas_udf(_e._codes_weighted_digest_batch, "long")
    stats_df = (
        idx.select("pkey", "id", digest(F.col("codes")).alias("dg"))
        .groupBy("pkey")
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.sum("id").cast("long").alias("sum_id"),
            F.sum("dg").cast("long").alias("code_digest"),
        )
    )
    out = stats_df.join(eq, "pkey").select(
        "pkey",
        "n_members",
        "sum_id",
        "code_digest",
        "graph_equal",
        F.lit(bool(sealed_immutable)).alias("sealed_immutable"),
        F.lit(bool(owners_bounded)).alias("owners_bounded"),
    )
    # materialize before the caller's finally deletes the store the
    # lazy plan reads from; the result is one row per shard
    return spark.createDataFrame(out.collect(), out.schema)


_STREAM_INDEX_INGEST_EPOCH_PARITY_SQL = f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b AS ({workload.base_cte_sql()}),
tot AS (SELECT count(*) AS total FROM b),
cat_counts AS (SELECT category::BIGINT AS key, count(*) AS c FROM b GROUP BY 1),
dec_counts AS (
  SELECT least(floor(ts * 10)::INT, 9)::BIGINT AS key, count(*) AS c
  FROM b GROUP BY 1
),
plan AS (
  SELECT 'cat:' || key AS prefix, c FROM cat_counts, tot
  WHERE c >= {routing.CAT_GRAPH_THR} * total
  UNION ALL
  SELECT 'dec:' || key, c FROM dec_counts
),
plan2 AS (
  SELECT prefix,
         ((c + {INGEST_PARITY_MAX_NODES} - 1) // {INGEST_PARITY_MAX_NODES}) AS ns
  FROM plan
),
sliced AS (
  SELECT b.id, b.id % {EPOCH_PARITY_BATCHES} AS batch, p.prefix, p.ns,
         {Q.encode_sql('b.vec')} AS codes
  FROM b, alpha
  JOIN plan2 p
    ON p.prefix = 'dec:' || least(floor(b.ts * 10)::INT, 9)::BIGINT
    OR p.prefix = 'cat:' || b.category::BIGINT
),
routed AS (
  SELECT id, prefix, codes,
         CASE WHEN batch = 0 THEN id % ns
              ELSE ns + (row_number() OVER (
                           PARTITION BY prefix, (batch = 0)
                           ORDER BY batch, id
                         ) - 1) // {INGEST_PARITY_MAX_NODES}
         END AS shard
  FROM sliced
),
rows_ AS (
  SELECT prefix || ':' || shard AS pkey, id,
         list_sum(list_transform(range(1, len(codes) + 1),
                                 j -> j * codes[j]))::BIGINT AS dg
  FROM routed
)
SELECT pkey,
       count(*)::BIGINT AS n_members,
       sum(id)::BIGINT AS sum_id,
       sum(dg)::BIGINT AS code_digest,
       TRUE AS graph_equal,
       TRUE AS sealed_immutable,
       TRUE AS owners_bounded
FROM rows_ GROUP BY pkey
"""

register(
    "stream_index_ingest_epoch_parity",
    _stream_index_ingest_epoch_parity,
    _STREAM_INDEX_INGEST_EPOCH_PARITY_SQL,
)


# ---------------------------------------------------------------------------
# Training-data pipeline: text analysis (SURVEY §7.5)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


register("text_stats", lambda s, d: T.text_stats(_docs(s, d)), T.TEXT_STATS_SQL)
register(
    "text_repetition", lambda s, d: T.text_repetition(_docs(s, d)), T.TEXT_REPETITION_SQL
)
register("lang_id", lambda s, d: T.lang_id(_docs(s, d)), T.lang_id_sql())
register("doc_fingerprint", lambda s, d: T.fingerprint(_docs(s, d)), T.FINGERPRINT_SQL)
register("redact_pii", lambda s, d: T.redact_pii(_docs(s, d)), T.redact_pii_sql())
register("ngram_counts", lambda s, d: T.ngram_counts(_docs(s, d)), T.ngram_counts_sql())
register("token_counts", lambda s, d: T.token_counts(_docs(s, d)), T.TOKEN_COUNTS_SQL)
# r10: quality-filter family (the web-pipeline keep/drop stack)
register(
    "quality_classifier",
    lambda s, d: T.quality_classifier(_docs(s, d)),
    T.QUALITY_CLASSIFIER_SQL,
)
register(
    "source_quality_summary",
    lambda s, d: T.source_quality_summary(_docs(s, d)),
    T.SOURCE_QUALITY_SUMMARY_SQL,
)
register(
    "bigram_likelihood",
    lambda s, d: T.bigram_likelihood(_docs(s, d)),
    T.BIGRAM_LIKELIHOOD_SQL,
)
register(
    "dup_ngram_stats",
    lambda s, d: T.dup_ngram_stats(_docs(s, d)),
    T.DUP_NGRAM_STATS_SQL,
)


# ---------------------------------------------------------------------------
# Training-data pipeline: deduplication family
# ---------------------------------------------------------------------------


register("dedup_exact", lambda s, d: dedup.dedup_exact(_docs(s, d)), dedup.DEDUP_EXACT_SQL)
register(
    "dedup_containment",
    lambda s, d: dedup.containment_pairs(_docs(s, d)),
    dedup.containment_pairs_sql(),
)
register(
    "winnow_fingerprints",
    lambda s, d: dedup.winnow_fingerprints(_docs(s, d)),
    dedup.winnow_fingerprints_sql(),
)
# r10: the matching half of the winnowing scheme
register(
    "winnow_match_pairs",
    lambda s, d: dedup.winnow_match_pairs(_docs(s, d)),
    dedup.winnow_match_pairs_sql(),
)
register("dedup_jaccard", lambda s, d: dedup.jaccard_pairs(_docs(s, d)), dedup.jaccard_pairs_sql())
register(
    "dedup_minhash_lsh",
    lambda s, d: dedup.minhash_lsh_pairs(_docs(s, d)),
    dedup.minhash_lsh_pairs_sql(),
)
register("dedup_simhash", lambda s, d: dedup.simhash(_docs(s, d)), dedup.SIMHASH_SQL)
register(
    "dedup_clusters",
    lambda s, d: dedup.dedup_clusters(dedup.jaccard_pairs(_docs(s, d))),
    dedup.dedup_clusters_sql(dedup.jaccard_pairs_sql()),
)
register(
    "sample_balanced_splits",
    lambda s, d: sampling.balanced_sample_splits(_docs(s, d)),
    sampling.balanced_sample_splits_sql(),
)
register(
    "curate_corpus",
    lambda s, d: curation.curate_corpus(_docs(s, d)),
    curation.curate_corpus_sql(),
)
# r10: keep-best-per-cluster curation policy
register(
    "dedup_keep_best",
    lambda s, d: curation.dedup_keep_best(_docs(s, d)),
    curation.dedup_keep_best_sql(),
)
register(
    "pack_sequences",
    lambda s, d: curation.pack_sequences(_docs(s, d)),
    curation.pack_sequences_sql(),
)
register(
    "chunk_documents",
    lambda s, d: curation.chunk_documents(_docs(s, d)),
    curation.chunk_documents_sql(),
)
register(
    "mixture_sample",
    lambda s, d: sampling.mixture_sample(_docs(s, d)),
    sampling.mixture_sample_sql(),
)
register(
    "vocab_counts",
    lambda s, d: T.vocab_counts(_docs(s, d)),
    T.vocab_counts_sql(),
)
register(
    "decontaminate",
    lambda s, d: dedup.decontaminate(_docs(s, d)),
    dedup.decontaminate_sql(),
)
register(
    "dedup_embedding_cosine",
    lambda s, d: dedup.cosine_pairs(load_table(s, d, "embeddings")),
    dedup.cosine_pairs_sql(),
)
register(
    "dedup_cosine_lsh",
    lambda s, d: dedup.cosine_pairs_lsh(load_table(s, d, "embeddings")),
    dedup.cosine_pairs_lsh_sql(),
)


# ---------------------------------------------------------------------------
# Training-data pipeline: similarity search over embeddings
# ---------------------------------------------------------------------------


register(
    "ann_cosine_topk",
    lambda s, d: similarity.ann_cosine_topk(load_table(s, d, "embeddings")),
    similarity.ann_cosine_topk_sql(),
)
register(
    "ann_lsh_topk",
    lambda s, d: similarity.ann_lsh_topk(load_table(s, d, "embeddings")),
    similarity.ann_lsh_topk_sql(),
)
# IVF, hash-gated (r5 verdict #6): with nprobe=nlist every cell is
# probed, so the cell-cogroup scan is exhaustive — cells partition the
# corpus, each (query, row) pair is scored exactly once, and the global
# (cos desc, id) window equals the exact baseline REGARDLESS of what
# the iterative k-means training produced. The oracle is therefore the
# exact cosine SQL. The approximate (nprobe<nlist) config stays
# quality-gated via recall_ivf_vs_exact below — both physical shapes
# stay exercised every round.
# Scalar-row twin (r6 verdict #1): the harness canonicalizer pandas-
# sorts result columns before hashing and cannot sort an array<bigint>
# column, so the registered shape is the posexploded (vec_id,
# component, ppm) — the array-valued kernels stay the production API.
register(
    "embed_project",
    lambda s, d: similarity.embed_project_rows(
        load_table(s, d, "embeddings"), method="fold"
    ),
    similarity.embed_project_rows_sql(),
)
register(
    "ann_ivf_topk",
    lambda s, d: similarity.ann_ivf_topk(
        load_table(s, d, "embeddings"), nprobe=similarity.N_LIST
    ),
    similarity.ann_cosine_topk_sql(),
)


# ---------------------------------------------------------------------------
# Evaluation: recall@k (A7) + per-type workload stats (A8/S10)
# ---------------------------------------------------------------------------


def _recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return evaluate.recall_at_k(
        similarity.ann_lsh_topk(emb), similarity.ann_cosine_topk(emb)
    )


def _workload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return evaluate.workload_stats(
        stats.selectivity(base_vectors(spark, sf_dir), workload.queries_df(spark, sf_dir))
    )


register(
    "recall_lsh_vs_exact",
    _recall_lsh,
    evaluate.recall_sql(similarity.ann_lsh_topk_sql(), similarity.ann_cosine_topk_sql()),
)

RECALL_BAR_PPM = 950_000  # ≥0.95 mean recall (BASELINE.md quality bar)
# IVF carries its own bar: the synthetic embeddings are near-uniform
# (measured: scanning HALF the corpus only reaches ~0.92 recall — there
# is no cluster structure for cells to exploit), so the 0.95 contest bar
# is unattainable at any honest pruning ratio. At compute fraction 0.25
# (nprobe/nlist = 16/64) measured recall is ~0.75; the gate pins ≥0.65
# so a quality regression still flips the row red. bar_ppm is an output
# column — the bar in force is visible in the gate row itself.
IVF_RECALL_BAR_PPM = 650_000


def _recall_hybrid_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality gate for the graph-search path: mean recall of
    knn_hybrid vs the exact filtered-kNN truth (which hash-matches
    DuckDB), emitted as a single oracle-predictable row."""
    base = base_vectors(spark, sf_dir)
    qdf = workload.queries_df(spark, sf_dir)
    plan, alpha, dim = _hybrid_plan(spark, sf_dir, base)
    return evaluate.recall_gate(
        engine.knn_hybrid(
            spark,
            base,
            qdf,
            plan=plan,
            alpha=alpha,
            corpus_rows=_hybrid_stats(spark, sf_dir, base)[1],
            dim=dim,
            **_hybrid_shard_inputs(spark, sf_dir, base, dim),
        ),
        knn.knn_exact_arrow(spark, base, qdf),
        RECALL_BAR_PPM,
    )


def _recall_ivf_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return evaluate.recall_gate(
        similarity.ann_ivf_topk(emb), similarity.ann_cosine_topk(emb), IVF_RECALL_BAR_PPM
    )


register(
    "recall_hybrid_vs_exact",
    _recall_hybrid_gate,
    evaluate.recall_gate_sql(knn.knn_oracle_sql(), RECALL_BAR_PPM),
)
register(
    "recall_ivf_vs_exact",
    _recall_ivf_gate,
    evaluate.recall_gate_sql(similarity.ann_cosine_topk_sql(), IVF_RECALL_BAR_PPM),
)


# Product quantization (beyond-reference codec; Jégou et al. TPAMI'11).
# knn_pq_rerank with pool=None re-ranks every vector, so the codes →
# ADC → pool → exact-rerank pipeline must reproduce the exact-cosine
# oracle bit-for-bit (the IVF forced-exhaustive trick); the production
# pool=PQ_POOL config is recall-gated below. Deterministic stride-init
# Lloyd ⇒ the gate value is a constant of the data, measured 0.954 at
# sf0.01 (ksub=32, pool=128).
PQ_RECALL_BAR_PPM = 900_000


def _knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq.knn_pq_rerank(load_table(spark, sf_dir, "embeddings"))


def _recall_pq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return evaluate.recall_gate(
        pq.knn_pq_rerank(emb, pool=pq.PQ_POOL),
        similarity.ann_cosine_topk(emb),
        PQ_RECALL_BAR_PPM,
    )


register("knn_pq_rerank", _knn_pq, similarity.ann_cosine_topk_sql())
register(
    "recall_pq_vs_exact",
    _recall_pq_gate,
    evaluate.recall_gate_sql(similarity.ann_cosine_topk_sql(), PQ_RECALL_BAR_PPM),
)


# IVF-PQ (FAISS-style composition, Jégou et al. TPAMI'11 §V): coarse
# cells partition the corpus, residual-PQ codes are the payload.
# nprobe=nlist + pool=None scores and exactly re-ranks EVERY vector,
# so the registry config hash-matches the exact oracle through the
# full cluster-route + residual-codes pipeline; the production
# (nprobe=8/16 cells, pool=256) config is recall-gated —
# deterministic 0.796 at sf0.01.
IVFPQ_RECALL_BAR_PPM = 700_000


def _knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq.knn_ivfpq_rerank(
        load_table(spark, sf_dir, "embeddings"), nprobe=pq.IVFPQ_NLIST, pool=None
    )


def _recall_ivfpq_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return evaluate.recall_gate(
        pq.knn_ivfpq_rerank(emb),
        similarity.ann_cosine_topk(emb),
        IVFPQ_RECALL_BAR_PPM,
    )


register("knn_ivfpq_rerank", _knn_ivfpq, similarity.ann_cosine_topk_sql())
register(
    "recall_ivfpq_vs_exact",
    _recall_ivfpq_gate,
    evaluate.recall_gate_sql(similarity.ann_cosine_topk_sql(), IVFPQ_RECALL_BAR_PPM),
)

def _knn_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-level cost choice (engine.knn_auto): at correctness scale
    the scan branch is taken (tiny flops product) and is exact, so the
    oracle is the exact kNN SQL; the engine branch is the same
    hash-gated knn_hybrid entry above. Both branches are additionally
    pinned equal in tests/test_hnsw_engine.py."""
    base = base_vectors(spark, sf_dir)
    stats_df, n_total = _hybrid_stats(spark, sf_dir, base)
    return engine.knn_auto(
        spark, base, workload.queries_df(spark, sf_dir), corpus_rows=n_total
    )


register("knn_auto", _knn_auto, knn.knn_oracle_sql())


# NN-Descent (B12, nndescent.hpp:17+): iterative hash-seeded join
# refinement → no SQL twin for the graph itself; the gate row is
# oracle-predicted exactly like the hybrid/IVF gates. Bar: the widened
# build (NND_BUILD_MULT) converges to 0.998 recall@10 on the dim-64
# test embeddings in 5 rounds; 0.95 is the project-standard ANN bar.
# The gate runs on a FIXED 500-node slice at every sf (both sides) —
# a correctness gate must stay constant-cost, not grow with the table
# (at sf0.1 the full-table gate was ~2/3 of the whole headline bench).
# At 500 nodes the builder's cost route is the local exact kernel
# (NND_LOCAL_ROWS; measured r6: the forced join loop is ~7-12 s of
# scheduler constants at this size vs ~1 s local, identical output
# quality) — the distributed loop is pinned by the forced
# local_rows=0 tests in tests/test_nndescent.py, and the local kernel
# is pinned bit-equal to exact_knn_graph there too.
NND_RECALL_BAR_PPM = 950_000
NND_GATE_MAX_ID = 500


def _recall_nndescent_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < NND_GATE_MAX_ID
    )
    g = nndescent.nndescent_graph(emb, vec_col="embedding", id_col="vec_id")
    truth = nndescent.exact_knn_graph(emb, vec_col="embedding", id_col="vec_id")
    as_result = lambda df: df.select(  # noqa: E731
        F.col("id").alias("query_id"), F.col("nbr").alias("id")
    )
    return evaluate.recall_gate(as_result(g), as_result(truth), NND_RECALL_BAR_PPM)


register(
    "recall_nndescent_vs_exact",
    _recall_nndescent_gate,
    evaluate.recall_gate_sql(
        nndescent.exact_knn_graph_sql(max_id=NND_GATE_MAX_ID), NND_RECALL_BAR_PPM
    ),
)
register("workload_stats", _workload_stats, evaluate.workload_stats_sql(stats.selectivity_sql()))


# ---------------------------------------------------------------------------
# Streaming-capable event pipeline (batch registration; the same
# bodies run under readStream — tests/test_streaming.py)
# ---------------------------------------------------------------------------


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


register(
    "events_windowed_counts",
    lambda s, d: streaming.windowed_event_counts(_events(s, d)),
    streaming.WINDOWED_COUNTS_SQL,
)
register(
    "events_sessionized",
    lambda s, d: streaming.sessionized(_events(s, d)),
    streaming.SESSIONIZED_SQL,
)
register(
    "events_click_attribution",
    lambda s, d: streaming.click_attribution(_events(s, d), _events(s, d)),
    streaming.CLICK_ATTRIBUTION_SQL,
)
register(
    "user_totals",
    lambda s, d: streaming.user_totals_batch(_events(s, d)),
    streaming.USER_TOTALS_SQL,
)
register(
    "events_daily_dedup",
    lambda s, d: streaming.events_daily_dedup(_events(s, d)),
    streaming.EVENTS_DAILY_DEDUP_SQL,
)


# ---------------------------------------------------------------------------
# Multimodal columns: binary payload + typed metadata, Pandas-UDF
# decode/feature/frame plumbing (functions/multimodal.py)
# ---------------------------------------------------------------------------


register(
    "media_byte_stats",
    lambda s, d: MM.byte_stats_hashable(MM.pack_media(_docs(s, d))),
    MM.BYTE_STATS_HASHABLE_SQL,
)
register(
    "media_frame_sample",
    lambda s, d: MM.sample_frames(MM.pack_media(_docs(s, d))),
    MM.sample_frames_sql(),
)
register(
    "media_resize",
    lambda s, d: MM.resize_images_hashable(MM.pack_media(_docs(s, d))),
    MM.resize_images_sql(),
)
# Real-decode driver rows (r8 gap): planted REAL containers built
# in-plan, decoded by the codec-free parsers, features hash-checked —
# the oracle recomputes them from the text (pack ∘ decode = identity).
register(
    "media_image_stats",
    lambda s, d: MM.byte_stats_hashable(MM.pack_image(_docs(s, d)), decode="real"),
    MM.BYTE_STATS_HASHABLE_SQL,
)
register(
    "media_audio_stats",
    lambda s, d: MM.audio_sample_stats(MM.pack_audio(_docs(s, d))),
    MM.AUDIO_STATS_ORACLE_SQL,
)
register(
    "media_video_stats",
    lambda s, d: MM.video_frame_stats(MM.pack_video(_docs(s, d))),
    MM.VIDEO_STATS_ORACLE_SQL,
)


# ---------------------------------------------------------------------------
# Relational surface: star joins, TPC-H-style aggs, JSON, as-of join
# ---------------------------------------------------------------------------


register(
    "pricing_summary",
    lambda s, d: relational.pricing_summary(load_table(s, d, "lineitem")),
    relational.pricing_summary_sql(),
)
register(
    "top_customers",
    lambda s, d: relational.top_customers(
        load_table(s, d, "orders"), load_table(s, d, "customer"), load_table(s, d, "nation")
    ),
    relational.top_customers_sql(),
)
register(
    "events_json_stats",
    lambda s, d: relational.events_json_stats(_events(s, d)),
    relational.EVENTS_JSON_SQL,
)
register(
    "asof_last_error",
    lambda s, d: relational.asof_last_error(_events(s, d)),
    relational.ASOF_SQL,
)
register(
    "event_funnel",
    lambda s, d: relational.event_funnel(_events(s, d)),
    relational.event_funnel_sql(),
)
register(
    "retention_cohorts",
    lambda s, d: relational.retention_cohorts(_events(s, d)),
    relational.RETENTION_COHORTS_SQL,
)
register(
    "events_value_quantiles",
    lambda s, d: relational.events_value_quantiles(_events(s, d)),
    relational.EVENTS_VALUE_QUANTILES_SQL,
)
register(
    "shipping_priority",
    lambda s, d: relational.shipping_priority(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
    ),
    relational.shipping_priority_sql(),
)
register(
    "local_supplier_volume",
    lambda s, d: relational.local_supplier_volume(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "supplier"),
        load_table(s, d, "nation"),
        load_table(s, d, "region"),
    ),
    relational.local_supplier_volume_sql(),
)
register(
    "brand_revenue",
    lambda s, d: relational.brand_revenue(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    relational.BRAND_REVENUE_SQL,
)
register(
    "order_priority_check",
    lambda s, d: relational.order_priority_check(
        load_table(s, d, "orders"), load_table(s, d, "lineitem")
    ),
    relational.order_priority_check_sql(),
)
register(
    "returned_items",
    lambda s, d: relational.returned_items(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "nation"),
    ),
    relational.returned_items_sql(),
)


# ---------------------------------------------------------------------------
# TPC-H shapes, r7 batch: Q14 / Q18 / Q19 / Q22 / Q7 / Q16
# ---------------------------------------------------------------------------

register(
    "promo_revenue",
    lambda s, d: relational.promo_revenue(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    relational.promo_revenue_sql(),
)
register(
    "large_orders",
    lambda s, d: relational.large_orders(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
    ),
    relational.large_orders_sql(),
)
register(
    "discounted_revenue",
    lambda s, d: relational.discounted_revenue(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    relational.DISCOUNTED_REVENUE_SQL,
)
register(
    "sales_opportunity",
    lambda s, d: relational.sales_opportunity(
        load_table(s, d, "orders"), load_table(s, d, "customer")
    ),
    relational.sales_opportunity_sql(),
)
register(
    "volume_shipping",
    lambda s, d: relational.volume_shipping(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "supplier"),
        load_table(s, d, "nation"),
    ),
    relational.volume_shipping_sql(),
)
register(
    "parts_supplier_counts",
    lambda s, d: relational.parts_supplier_counts(
        load_table(s, d, "lineitem"),
        load_table(s, d, "part"),
        load_table(s, d, "supplier"),
    ),
    relational.parts_supplier_counts_sql(),
)


# ---------------------------------------------------------------------------
# r7: TF-IDF keyword extraction + explicit skew-salted join
# ---------------------------------------------------------------------------

register(
    "tfidf_topk",
    lambda s, d: T.tfidf_topk(_docs(s, d)),
    T.tfidf_topk_sql(),
)


# ---------------------------------------------------------------------------
# r11: lexical retrieval + reciprocal-rank fusion (functions/retrieval.py)
# ---------------------------------------------------------------------------

register(
    "bm25_topk",
    lambda s, d: RET.bm25_topk(_docs(s, d)),
    RET.bm25_topk_sql(),
)
register(
    "retrieval_rrf",
    lambda s, d: RET.retrieval_rrf(_docs(s, d)),
    RET.retrieval_rrf_sql(),
)
# r12→r13: the persisted lexical inverted index is now a SEGMENTED
# BLOCKED store (functions/retrieval.py — bounded (term, block_no)
# posting rows; per-batch immutable segments + atomic manifest;
# O(batch) append; O(#block-rows) compaction + GC), the vector epoch
# store's posture on the lexical side. Every entry builds its store
# under a per-call mkdtemp and MATERIALIZES the result before the
# finally deletes the tree (r12 advice: the old fixed sha1-keyed
# /tmp path raced concurrent runs and leaked sg_lexidx_* dirs).
# lexical_postings hash-checks the blocked index artifact itself;
# bm25_topk_from_index answers BM25 ENTIRELY from the loaded store
# against the raw-recompute bm25 oracle — a hash match proves the
# whole tokenize→append→load→search loop end-to-end.


def _lexical_materialized(spark: SparkSession, df: DataFrame) -> DataFrame:
    # the lazy plan reads the store the caller's finally deletes
    return spark.createDataFrame(df.collect(), df.schema)


def _doc_thirds(spark: SparkSession, sf_dir: str):
    """(docs, cut1, cut2): deterministic append-only batch bounds."""
    from pyspark.sql import functions as F

    docs = _docs(spark, sf_dir)
    mx = docs.agg(F.max("doc_id")).collect()[0][0]
    return docs, mx * 1 // 3, mx * 2 // 3


def _bm25_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="sg_lexidx_")
    try:
        RET.append_lexical_segment(spark, work, _docs(spark, sf_dir))
        return _lexical_materialized(spark, RET.bm25_topk_from_index(spark, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "lexical_postings",
    lambda s, d: RET.term_posting_blocks(_docs(s, d)),
    RET.term_posting_blocks_sql(),
)
register(
    "bm25_topk_from_index",
    _bm25_from_index,
    RET.bm25_topk_sql(),
)


def _lexical_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental lexical ingest parity: index the first ~2/3 of the
    corpus (by doc_id — append-only ranges), append the rest as a
    second SEGMENT (O(batch) writes — no existing posting row is read
    or rewritten), and return the read-time merged block view. The
    oracle re-tokenizes ALL documents from scratch
    (term_posting_blocks_sql), so a hash match proves segment-union +
    per-(term, block) merge ≡ a from-scratch rebuild — the lexical
    counterpart of index_upsert_parity."""
    from pyspark.sql import functions as F
    import shutil
    import tempfile

    docs, _, cut = _doc_thirds(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="sg_lexidx_")
    try:
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") <= cut))
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") > cut))
        blocks, _ = RET.load_lexical_store(spark, work)
        return _lexical_materialized(spark, RET.merged_posting_blocks(blocks))
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "lexical_index_upsert",
    _lexical_upsert,
    RET.term_posting_blocks_sql(),
)


def _lexical_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-batch sustained ingest, driver-proven: each batch is one
    O(batch) segment append; the merged view must hash-equal the
    from-scratch blocked index. Two in-plan flags certify what the
    row data cannot: `append_only` — the manifest records three
    segments with strictly ascending disjoint doc_id ranges (the
    precondition that makes the merge canonical), checked from
    manifest metadata alone; `block_bounded` — NO stored posting row
    exceeds POSTING_BLOCK entries, computed as a real aggregate over
    the physical parquet rows (max size(split(postings))), the
    store-side guarantee that kills the unbounded hot-term row."""
    from pyspark.sql import functions as F
    import shutil
    import tempfile

    docs, cut1, cut2 = _doc_thirds(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="sg_lexidx_")
    try:
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") <= cut1))
        RET.append_lexical_segment(
            spark, work, docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2))
        )
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") > cut2))
        segs = RET._read_manifest(work)["segments"]
        append_only = len(segs) == 3 and all(
            a["max_doc"] < b["min_doc"] for a, b in zip(segs, segs[1:])
        )
        blocks, _ = RET.load_lexical_store(spark, work)
        max_entries = blocks.agg(
            F.max(F.size(F.split("postings", ","))).alias("m")
        ).collect()[0][0]
        out = RET.merged_posting_blocks(blocks).select(
            "*",
            F.lit(bool(append_only)).alias("append_only"),
            F.lit(bool(max_entries <= RET.POSTING_BLOCK)).alias("block_bounded"),
        )
        return _lexical_materialized(spark, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "lexical_ingest_parity",
    _lexical_ingest_parity,
    RET.term_posting_blocks_sql(
        flags=",\n       TRUE AS append_only, TRUE AS block_bounded"
    ),
)


def _lexical_compaction_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three appends + one compaction: the folded single segment must
    hash-equal the from-scratch blocked index (compaction is an
    O(#block-rows) posting merge, never a re-tokenize). Flags:
    `compacted_single_segment` — the manifest references exactly one
    live segment; `store_bounded` — GC removed every unreferenced
    segment directory (the on-disk set equals the manifest's), the
    same bounded-store certificate as stream_index_ingest_parity."""
    from pyspark.sql import functions as F
    import re as _re
    import shutil
    import tempfile

    docs, cut1, cut2 = _doc_thirds(spark, sf_dir)
    work = tempfile.mkdtemp(prefix="sg_lexidx_")
    try:
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") <= cut1))
        RET.append_lexical_segment(
            spark, work, docs.filter((F.col("doc_id") > cut1) & (F.col("doc_id") <= cut2))
        )
        RET.append_lexical_segment(spark, work, docs.filter(F.col("doc_id") > cut2))
        RET.compact_lexical_store(spark, work)
        segs = RET._read_manifest(work)["segments"]
        on_disk = {d for d in os.listdir(work) if _re.fullmatch(r"seg_\d+", d)}
        referenced = {f"seg_{s['seg']}" for s in segs}
        blocks, _ = RET.load_lexical_store(spark, work)
        out = blocks.select(
            "term",
            "block_no",
            "df",
            "sum_tf",
            "postings",
            F.lit(len(segs) == 1).alias("compacted_single_segment"),
            F.lit(on_disk == referenced).alias("store_bounded"),
        )
        return _lexical_materialized(spark, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


register(
    "lexical_compaction_parity",
    _lexical_compaction_parity,
    RET.term_posting_blocks_sql(
        flags=",\n       TRUE AS compacted_single_segment, TRUE AS store_bounded"
    ),
)
register(
    "dup_span_extract",
    lambda s, d: dedup.dup_span_extract(_docs(s, d)),
    dedup.dup_span_extract_sql(),
)
# BPE tokenizer. The DuckDB twin unrolls the fixed-n_merges loop into
# a static materialized-CTE chain (bpe.py `_merge_loop_ctes` — argmax
# pair + bracketed-string replace per iteration); the encode oracle
# reuses the chain's final vocabulary state (sequential ≡ priority
# encode, premise pinned by tests/test_bpe.py). Hand-computed-merge
# and local ≡ forced-distributed parity tests still pin the algorithm
# independently of the oracle. Every invocation recomputes the merge
# table from the parquet corpus — no cross-entry or cross-pass memo
# (r13: a module-level result cache keyed on sf_dir is result caching,
# not optimization; bpe_encode_counts declares encode∘train, so it
# pays for its own train).
register(
    "bpe_train",
    lambda s, d: BPE.bpe_train(_docs(s, d)),
    BPE.bpe_train_sql(),
)
register(
    "bpe_encode_counts",
    lambda s, d: BPE.bpe_encode_counts(_docs(s, d), BPE.bpe_train(_docs(s, d))),
    BPE.bpe_encode_counts_sql(),
)
register(
    "remove_dup_spans",
    lambda s, d: dedup.remove_dup_spans(_docs(s, d)),
    dedup.remove_dup_spans_sql(),
)
register(
    "salted_user_join",
    lambda s, d: skew.salted_user_join(load_table(s, d, "events")),
    skew.SALTED_USER_JOIN_SQL,
)
register(
    "events_daily_pivot",
    lambda s, d: relational.events_daily_pivot(load_table(s, d, "events")),
    relational.EVENTS_DAILY_PIVOT_SQL,
)
register(
    "sales_rollup",
    lambda s, d: relational.sales_rollup(
        load_table(s, d, "orders"), load_table(s, d, "customer")
    ),
    relational.SALES_ROLLUP_SQL,
)
register(
    "events_user_reach",
    lambda s, d: relational.events_user_reach(load_table(s, d, "events")),
    relational.EVENTS_USER_REACH_SQL,
)
register(
    "forecast_revenue",
    lambda s, d: relational.forecast_revenue(load_table(s, d, "lineitem")),
    relational.forecast_revenue_sql(),
)
register(
    "late_line_priority",
    lambda s, d: relational.late_line_priority(
        load_table(s, d, "lineitem"), load_table(s, d, "orders")
    ),
    relational.late_line_priority_sql(),
)
register(
    "customer_order_distribution",
    lambda s, d: relational.customer_order_distribution(
        load_table(s, d, "customer"), load_table(s, d, "orders")
    ),
    relational.customer_order_distribution_sql(),
)
register(
    "top_supplier",
    lambda s, d: relational.top_supplier(
        load_table(s, d, "lineitem"), load_table(s, d, "supplier")
    ),
    relational.top_supplier_sql(),
)
register(
    "min_cost_supplier",
    lambda s, d: relational.min_cost_supplier(
        load_table(s, d, "lineitem"),
        load_table(s, d, "part"),
        load_table(s, d, "supplier"),
        load_table(s, d, "nation"),
    ),
    relational.min_cost_supplier_sql(),
)
register(
    "important_parts",
    lambda s, d: relational.important_parts(
        load_table(s, d, "lineitem"), load_table(s, d, "supplier")
    ),
    relational.important_parts_sql(),
)
register(
    "small_qty_revenue",
    lambda s, d: relational.small_qty_revenue(
        load_table(s, d, "lineitem"), load_table(s, d, "part")
    ),
    relational.small_qty_revenue_sql(),
)
register(
    "market_share",
    lambda s, d: relational.market_share(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "customer"),
        load_table(s, d, "supplier"),
        load_table(s, d, "nation"),
        load_table(s, d, "region"),
        load_table(s, d, "part"),
    ),
    relational.market_share_sql(),
)
register(
    "product_type_profit",
    lambda s, d: relational.product_type_profit(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "supplier"),
        load_table(s, d, "nation"),
        load_table(s, d, "part"),
    ),
    relational.product_type_profit_sql(),
)
register(
    "promo_suppliers",
    lambda s, d: relational.promo_suppliers(
        load_table(s, d, "lineitem"),
        load_table(s, d, "part"),
        load_table(s, d, "supplier"),
    ),
    relational.promo_suppliers_sql(),
)
register(
    "waiting_suppliers",
    lambda s, d: relational.waiting_suppliers(
        load_table(s, d, "lineitem"),
        load_table(s, d, "orders"),
        load_table(s, d, "supplier"),
    ),
    relational.waiting_suppliers_sql(),
)
register(
    "copurchase_pairs",
    lambda s, d: relational.copurchase_pairs(load_table(s, d, "lineitem")),
    relational.copurchase_pairs_sql(),
)
register(
    "rolling_revenue",
    lambda s, d: relational.rolling_revenue(load_table(s, d, "orders")),
    relational.rolling_revenue_sql(),
)
register(
    "revenue_growth_mom",
    lambda s, d: relational.revenue_growth_mom(load_table(s, d, "orders")),
    relational.REVENUE_GROWTH_MOM_SQL,
)
register(
    "sales_cube",
    lambda s, d: relational.sales_cube(load_table(s, d, "orders")),
    relational.SALES_CUBE_SQL,
)
register(
    "user_order_reconciliation",
    lambda s, d: relational.user_order_reconciliation(
        load_table(s, d, "customer"), load_table(s, d, "events")
    ),
    relational.USER_ORDER_RECONCILIATION_SQL,
)
register(
    "order_gap_days",
    lambda s, d: relational.order_gap_days(
        load_table(s, d, "orders"), load_table(s, d, "customer")
    ),
    relational.ORDER_GAP_DAYS_SQL,
)
# Registered PAST the driver's 50-entry window (the window is exactly
# full this round): proven by pytest + the local driver sim now, and
# rotates into the round-8 _CHECK_FIRST front for its driver row.
register(
    "power_users_daily_coverage",
    lambda s, d: relational.power_users_daily_coverage(load_table(s, d, "events")),
    relational.POWER_USERS_DAILY_COVERAGE_SQL,
)


# ---------------------------------------------------------------------------
# Driver-window rotation (r6 verdict #2, r7 verdict #1). The correctness
# harness runs the FIRST 50 registered entries and stops, so with 100
# entries the tail can never earn a driver-green row in a single round.
# Re-order the registry after all registrations: the rotation window
# comes first; the remainder keep their original order. Across every
# two consecutive rounds each entry earns at least one driver hash row.
#
# Round-16 window (rotate_window.py plan with `--force
# route_plan,knn_hybrid,knn_hybrid_bf_exact,knn_bruteforce,
# knn_declarative,knn_sq8_rerank,knn_asym_rerank,knn_sq4_rerank,knn_auto`,
# verbatim): the nine FORCED names first, then the stalest entries
# (never-green, then oldest-green). No driver artifact has landed since
# r14, so the three names the route ladder change forced in round 15
# (route_plan, knn_hybrid, knn_hybrid_bf_exact) are still proven only on
# old code; the other six run the brute-force plans whose side rule is
# now the one broadcast bound (the exact scan lost its query-count
# gate; the quantized scans and knn_auto lost their plan-forcing
# arguments). Everything displaced waits in _PRIOR_ROUND_GREEN on its
# newest green row.
#
# STANDING OBLIGATION (every round): run tools/rotate_window.py after
# the round's CORRECTNESS artifact lands and paste its two literals —
# stalest-first (never-green entries always first, semantics-changed
# entries passed via --force), window = 50. _PRIOR_ROUND_GREEN =
# every entry with a driver-green row in SOME round that the cut left
# outside the window; with the registry at 125 the proof cadence is
# ⌈125/50⌉ = 3 driver rounds worst case (test-pinned in
# tests/test_registry_window.py). A NEW entry MUST land in
# _CHECK_FIRST (it has no green row) or the assert below fails at
# import.
# ---------------------------------------------------------------------------

_CHECK_FIRST: list[str] = [
    "route_plan",
    "knn_hybrid",
    "knn_hybrid_bf_exact",
    "knn_auto",
    "knn_bruteforce",
    "knn_declarative",
    "knn_sq8_rerank",
    "knn_asym_rerank",
    "knn_sq4_rerank",
    "embed_project",
    "ann_ivf_topk",
    "recall_lsh_vs_exact",
    "recall_hybrid_vs_exact",
    "recall_ivf_vs_exact",
    "knn_pq_rerank",
    "recall_pq_vs_exact",
    "knn_ivfpq_rerank",
    "recall_ivfpq_vs_exact",
    "recall_nndescent_vs_exact",
    "workload_stats",
    "events_windowed_counts",
    "events_sessionized",
    "events_click_attribution",
    "user_totals",
    "events_daily_dedup",
    "media_byte_stats",
    "media_frame_sample",
    "media_resize",
    "media_image_stats",
    "media_audio_stats",
    "media_video_stats",
    "pricing_summary",
    "top_customers",
    "power_users_daily_coverage",
    "stats_category_counts",
    "selectivity",
    "split_interval",
    "sq8_encode",
    "sq8_asym_encode",
    "sq4_encode",
    "text_stats",
    "text_repetition",
    "lang_id",
    "doc_fingerprint",
    "redact_pii",
    "events_json_stats",
    "asof_last_error",
    "event_funnel",
    "retention_cohorts",
    "events_value_quantiles",
]

_PRIOR_ROUND_GREEN: frozenset[str] = frozenset(
    {
        "ann_cosine_topk",
        "ann_lsh_topk",
        "bigram_likelihood",
        "bm25_topk",
        "bm25_topk_from_index",
        "bpe_encode_counts",
        "bpe_train",
        "brand_revenue",
        "chunk_documents",
        "copurchase_pairs",
        "curate_corpus",
        "customer_order_distribution",
        "decontaminate",
        "dedup_clusters",
        "dedup_containment",
        "dedup_cosine_lsh",
        "dedup_embedding_cosine",
        "dedup_exact",
        "dedup_jaccard",
        "dedup_keep_best",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "discounted_revenue",
        "dup_ngram_stats",
        "dup_span_extract",
        "events_daily_pivot",
        "events_user_reach",
        "forecast_revenue",
        "important_parts",
        "index_compaction_parity",
        "index_upsert_parity",
        "large_orders",
        "late_line_priority",
        "lexical_compaction_parity",
        "lexical_index_upsert",
        "lexical_ingest_parity",
        "lexical_postings",
        "local_supplier_volume",
        "market_share",
        "min_cost_supplier",
        "mixture_sample",
        "ngram_counts",
        "order_gap_days",
        "order_priority_check",
        "pack_sequences",
        "parts_supplier_counts",
        "product_type_profit",
        "promo_revenue",
        "promo_suppliers",
        "quality_classifier",
        "remove_dup_spans",
        "retrieval_rrf",
        "returned_items",
        "revenue_growth_mom",
        "rolling_revenue",
        "sales_cube",
        "sales_opportunity",
        "sales_rollup",
        "salted_user_join",
        "sample_balanced_splits",
        "shipping_priority",
        "small_qty_revenue",
        "source_quality_summary",
        "stream_index_ingest_epoch_parity",
        "stream_index_ingest_parity",
        "stream_neardup_parity",
        "tfidf_topk",
        "token_counts",
        "top_supplier",
        "user_order_reconciliation",
        "vocab_counts",
        "volume_shipping",
        "waiting_suppliers",
        "winnow_fingerprints",
        "winnow_match_pairs",
    }
)

_DRIVER_WINDOW = 50


def _rotate_registry() -> None:
    missing = [k for k in _CHECK_FIRST if k not in _REGISTRY]
    if missing:
        raise AssertionError(
            f"_CHECK_FIRST names unregistered entries: {missing}"
        )
    uncovered = sorted(
        k for k in _REGISTRY
        if k not in _CHECK_FIRST and k not in _PRIOR_ROUND_GREEN
    )
    if uncovered:
        raise AssertionError(
            "registry entries outside every driver window: "
            f"{uncovered} — add them to _CHECK_FIRST (and trim it back "
            f"to {_DRIVER_WINDOW}) or record their prior-round green row "
            "in _PRIOR_ROUND_GREEN"
        )
    if len(_CHECK_FIRST) > _DRIVER_WINDOW:
        raise AssertionError(
            f"_CHECK_FIRST has {len(_CHECK_FIRST)} entries; the driver "
            f"only checks the first {_DRIVER_WINDOW} — trim the list"
        )
    front = {k: _REGISTRY[k] for k in _CHECK_FIRST if k in _REGISTRY}
    rest = {k: v for k, v in _REGISTRY.items() if k not in front}
    _REGISTRY.clear()
    _REGISTRY.update(front)
    _REGISTRY.update(rest)


_rotate_registry()
