"""Two-phase quantized brute force: code-distance candidate generation
+ exact float re-rank, for every quantizer grid (SQ8 here; asym and SQ4
in ``bruteforce_quant``) through one operator, :func:`quant_rerank`.

Reference: the brute-force route of ``BatchSearch``
(``/root/reference/hybrid_graph.cpp:168-230``): scan int8 codes with
symmetric integer distances (``bruteforce.h:244-265``), keep the top
``bf_refine_k`` = 140 candidates, then recompute exact float L2 on the
candidates and emit the top-100 (``hybrid_graph.cpp:207-228``,
re-rank K12). Mirrors Spark's partial/final aggregation split: cheap
wide phase over compressed data, exact narrow phase over ≤140 rows per
query.

Physical plans: the two brute-force kernels of ``operators/knn.py`` —
the corpus-broadcast kernel (both phases fused, small corpus) and the
query-broadcast scan kernel, whose packed candidates feed the pooled
re-rank ``knn.exact_rerank_pooled``. With a prepped codes replica
(``layout.write_replicas`` with alpha →
``codes_base=layout.read_codes_base(...)``) the scan reads ONLY the
persisted codes column — 4× less I/O than float vectors and zero
per-scan encode compute, matching the reference's
``codes_both``/``codes_time`` replicas (``hybrid_graph.cpp:505-524``).
Without one it encodes the float scan in-kernel (same rows, more
bytes). Integer code distances are order-independent, so phase 1 is
bit-reproducible by the SQL oracle; phase 2 reuses the float64 exact
kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import quantization as Q
from ..functions.distance import l2_sqr_expr
from ..plans import workload
from . import knn

BF_REFINE_K = 140  # hybrid_graph.h:80


def quant_rerank(
    base: DataFrame,
    queries: DataFrame,
    encode_q,
    encode_b,
    grid_key,
    k: int = workload.K,
    refine_k: int = BF_REFINE_K,
    batch_rows: int | None = None,
    codes_base: DataFrame | None = None,
    corpus_rows: int | None = None,
    force_scan: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """The one quantized brute force (SQ8, asym, SQ4): a code-distance
    cut to the top ``refine_k`` by (cdist, id), then the exact float64
    re-rank (K12) of those candidates → (query_id, id, rnk).

    ``encode_q``/``encode_b`` map float matrices onto one shared integer
    grid (query side, corpus side); ``grid_key`` is a hashable identity
    of that grid, keying the cached corpus broadcast. ``codes_base``
    (id, category, ts, codes): persisted ``encode_b`` codes of the same
    rows — the scan plan then reads the codes column only.

    Side rule (the whole family): ``corpus_rows <= knn.bc_rows_bound(dim)``
    takes the corpus-broadcast kernel (``knn.corpus_broadcast_topk`` —
    both phases in one kernel over query partitions, zero shuffles).
    Above it, or with ``force_scan``, the query-broadcast scan kernel
    (``knn.query_broadcast_topk``) cuts each partition to refine_k and
    ``knn.exact_rerank_pooled`` pools the partitions' candidates to
    refine_k per query and re-ranks them — nq×refine_k rows,
    independent of corpus size and partition count."""
    spark = base.sparkSession
    if corpus_rows is None:
        corpus_rows = (codes_base if codes_base is not None else base).count()
    if corpus_rows <= knn.bc_rows_bound(dim) and not force_scan:
        # codes re-derive from the broadcast floats (bit-identical to
        # the persisted ones), so codes_base is a scan-plan artifact
        return knn.corpus_broadcast_topk(
            base, queries, k, encode_q, encode_b, refine_k, grid_key
        )
    if codes_base is not None:
        # persisted-codes scan: no float column in this plan branch at
        # all (B10 — codes_both/codes_time parity)
        scan = codes_base.select("id", "category", "ts", "codes")
        read_rows = knn.read_codes
    else:
        scan = base.select(*knn.CORPUS_COLS)

        def read_rows(tbl):
            return encode_b(knn.list_column_matrix(tbl, "vec"))

    packed = knn.query_broadcast_topk(
        scan, queries, read_rows, knn.CODE_L2, refine_k, encode_q,
        batch_rows or knn.QUERY_BATCH_ROWS, scan_rows=corpus_rows,
    )
    if packed is None:
        return spark.createDataFrame([], knn.RESULT_SCHEMA)
    return knn.exact_rerank_pooled(
        base, queries, knn.unpack_candidates(packed), k, refine_k, corpus_rows=corpus_rows,
        dim=dim,
    )


def knn_sq8_rerank(
    base: DataFrame,
    queries: DataFrame,
    alpha: float,
    k: int = workload.K,
    refine_k: int = BF_REFINE_K,
    batch_rows: int | None = None,
    codes_base: DataFrame | None = None,
    corpus_rows: int | None = None,
    force_scan: bool = False,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, id, rnk) — exact-reranked SQ8 brute force, all 4
    query types (:func:`quant_rerank` on the symmetric SQ8(alpha) grid,
    the reference's ``bruteforce.h:244-265`` codes). Identical to exact
    kNN whenever the true top-k survives the 140-deep quantized cut
    (the reference's operating assumption). ``codes_base``
    (id, category, ts, codes) switches the scan plan to the
    persisted-codes scan (module docstring); its codes MUST be
    SQ8(alpha) of the same rows. ``force_scan`` pins the scan plan
    (tests, ablations)."""
    a = float(alpha)

    def enc(m):
        return Q.encode_np(m, a)

    return quant_rerank(
        base, queries, enc, enc, ("sq8", a), k, refine_k, batch_rows=batch_rows,
        codes_base=codes_base, corpus_rows=corpus_rows, force_scan=force_scan, dim=dim,
    )


def knn_sq8_rerank_expr(
    base: DataFrame,
    queries: DataFrame,
    alpha: float,
    k: int = workload.K,
    refine_k: int = BF_REFINE_K,
) -> DataFrame:
    """Declarative variant (per-pair expression join) — kept as the
    fully-Catalyst physical strategy and used in tests to pin the
    Arrow path's semantics."""
    q = queries.select(
        "query_id", "query_type", "v", "l", "r", "qvec", Q.encode_expr("qvec", alpha).alias("qcodes")
    )

    # Phase 1: integer-distance candidate generation over codes only
    # (the float vec column is pruned out of this scan).
    b = base.select("id", "category", "ts", Q.encode_expr("vec", alpha).alias("codes")).alias("b")
    qs = q.select("query_id", "query_type", "v", "l", "r", "qcodes").alias("q")
    cond = workload.predicate_expr(b, qs)
    scored = b.join(F.broadcast(qs), cond).select(
        F.col("q.query_id").alias("query_id"),
        F.col("b.id").alias("id"),
        Q.code_l2_sqr_expr(F.col("q.qcodes"), F.col("b.codes")).alias("cdist"),
    )
    wc = Window.partitionBy("query_id").orderBy(F.col("cdist").asc(), F.col("id").asc())
    cands = scored.withColumn("crnk", F.row_number().over(wc)).filter(F.col("crnk") <= refine_k)

    # Phase 2: exact float64 re-rank of the candidates only.
    rescored = (
        cands.select("query_id", "id")
        .join(base.select(F.col("id"), F.col("vec")), "id")
        .join(F.broadcast(q.select("query_id", "qvec")), "query_id")
        .select("query_id", "id", l2_sqr_expr("qvec", "vec").alias("dist"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("id").asc())
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "id", F.col("rnk").cast("long").alias("rnk"))
    )


def knn_sq8_rerank_sql(k: int = workload.K, refine_k: int = BF_REFINE_K) -> str:
    enc_b = Q.encode_sql("b.vec")
    enc_q = Q.encode_sql("q.qvec")
    cdist = Q.CODE_L2_SQL.format(a="qcodes", b="codes")
    return f"""
WITH alpha AS ({Q.ALPHA_SQL}),
b0 AS ({workload.base_cte_sql()}),
q0 AS ({workload.queries_cte_sql()}),
b AS (SELECT b0.*, {Q.encode_sql('b0.vec')} AS codes FROM b0, alpha),
q AS (SELECT q0.*, {Q.encode_sql('q0.qvec')} AS qcodes FROM q0, alpha),
scored AS (
  SELECT q.query_id, b.id, {cdist} AS cdist
  FROM b, q
  WHERE {workload.PREDICATE_SQL}
),
cands AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY cdist ASC, id ASC) AS crnk
  FROM scored
),
rescored AS (
  SELECT c.query_id, c.id,
         list_sum(list_transform(range(1, len(b0.vec) + 1),
                  i -> (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE)
                     * (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE))) AS dist
  FROM cands c
  JOIN b0 ON b0.id = c.id
  JOIN q0 ON q0.query_id = c.query_id
  WHERE c.crnk <= {refine_k}
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rnk
  FROM rescored
) WHERE rnk <= {k}
"""
