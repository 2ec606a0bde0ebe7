"""Product quantization (PQ): per-subspace k-means codebooks, compact
integer codes, and an ADC (asymmetric distance computation) scan with
exact float re-rank.

Beyond-reference codec: the reference ships the SCALAR quantizers SQ8
(sq8_sym_quant.hpp) and SQ4 (sq4_quant.hpp); PQ — per Jégou, Douze &
Schmid, "Product Quantization for Nearest Neighbor Search",
IEEE TPAMI 2011 (public) — is the vector-codebook sibling every
100 TB vector store runs, so the engine carries it with the same
two-phase contract as the reference's K2/K12 pair: compressed-domain
candidate cut, exact float re-rank.

Scale shape (the embedding family's one kernel, ``operators/knn.py``):
- :func:`pq_train` is the one k-means trainer (IVF's coarse quantizer
  is its ``m = 1`` case): a bounded driver-side Lloyd under
  ``PQ_LOCAL_ROWS`` and a distributed one-Arrow-pass-per-iteration
  loop above it (all ``m`` subspaces accumulate in the SAME pass — the
  fact table is scanned ``iters`` times, never ``m × iters``), sharing
  init and arithmetic; :func:`nearest_centroid` is its assign step and
  also the PQ encoder's and the IVF cell assignment's;
- the codes table is the compressed replica (n × m small ints — the
  table that still fits when the floats don't); the ADC scan reads
  ONLY it through ``knn.query_broadcast_topk`` with the ``knn.PQ_ADC``
  distance (queries broadcast as their (nq, m, ksub) lookup tables,
  ``sum_j LUT[q, j, code_j]`` per row — no GEMM in the compressed
  domain, the corpus never moves); IVF-PQ runs the same kernel body per
  coarse cell through ``knn.probe_cogroup_topk``;
- each partition keeps its top ``pool`` by (adc, id) and
  ``knn.packed_topk_merge`` cuts the global pool, so the shuffle is
  ≤ P packed lists per query; the exact re-rank joins float vectors
  for CANDIDATES ONLY (the K12 pattern) and re-scores with the same
  float64 cosine arithmetic as ann_cosine_topk, so with
  ``pool >= corpus`` the result is bit-identical to the exact oracle
  (the hash-gated registry config — same trick as the IVF entry's
  forced-exhaustive gate), while the approximate config
  (``PQ_POOL``) is recall-gated via ``recall_pq_vs_exact``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.workload import QUERY_STRIDE
from . import knn

PQ_M = 8  # subspaces (dim 64 -> 8 dims each)
PQ_KSUB = 32  # centroids per subspace (5-bit codes)
PQ_ITERS = 5
IVF_ITERS = 4  # Lloyd iterations of the m = 1 (IVF coarse) trainer
# Local-training bound (rows) of the k-means trainer: below it the
# training set rides one bounded collect (≈ rows·dim·8 B — 32 MB at
# dim 64) and all Lloyd iterations run driver-side in one pass, instead
# of iters+2 Spark jobs whose wall is pure scheduler constants at small
# n (the same cost route as nndescent.NND_LOCAL_ROWS).
PQ_LOCAL_ROWS = 65_536
PQ_POOL = 128  # approximate-config re-rank pool (recall 0.954 @ sf0.01)
TOPK = 10


def _value_stride_seeds(ids: np.ndarray, V: np.ndarray, ksub: int) -> np.ndarray:
    """Deterministic init shared by both twins (and so by IVF): the rows
    whose vec_id is a multiple of stride = max(n//ksub, 1) with
    vec_id/stride < ksub, ordered by vec_id. Selecting by id VALUE (not
    sorted position) makes the local and forced-distributed twins pick
    identical seed rows on ANY id space — the r7 positional rule
    (V[::stride]) only coincided with the distributed filter when ids
    were contiguous from 0 (r7 advice #3). Sparse/non-dense ids can
    under-fill; the codebook shrinks identically in both twins instead
    of silently diverging."""
    n = V.shape[0]
    stride = max(n // ksub, 1)
    sel = (ids % stride == 0) & (ids // stride < ksub)
    return V[sel][:ksub].astype(np.float64).copy()


def nearest_centroid(V: np.ndarray, C: np.ndarray) -> np.ndarray:
    """Row index into ``C`` of each row of ``V``'s nearest centroid:
    argmin of ||c||² − 2c·v (||v||² is constant per row). The one
    assign step of the trainer, the PQ encoder and the IVF cells."""
    cc = np.einsum("ij,ij->i", C, C)
    return np.argmin(cc[:, None] - 2.0 * (C @ V.T), axis=0)


def _lloyd(V: np.ndarray, cents: np.ndarray, iters: int) -> np.ndarray:
    if cents.shape[0] == 0 or V.shape[0] == 0:
        return cents
    for _ in range(iters):
        assign = nearest_centroid(V, cents)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, V)
        cnts = np.bincount(assign, minlength=cents.shape[0]).astype(np.float64)
        nz = cnts > 0
        cents[nz] = sums[nz] / cnts[nz, None]
    return cents


def pq_train(
    emb: DataFrame,
    col: str = "embedding",
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
    iters: int = PQ_ITERS,
    local_rows: int | None = PQ_LOCAL_ROWS,
) -> np.ndarray:
    """(m, ksub, dsub) codebooks. Under ``local_rows`` the whole
    training set collects once (bounded) and each subspace runs the
    driver Lloyd; above it, one mapInArrow pass per iteration emits
    per-(subspace, centroid) partial sums/counts for ALL subspaces —
    the twins share init and update arithmetic and are pinned equal by
    a forced-distributed test. ``m = 1`` is the IVF coarse quantizer
    (``similarity.ivf_train``)."""
    spark = emb.sparkSession
    n = emb.count()
    if local_rows and n <= local_rows:
        rows = emb.select("vec_id", col).collect()
        rows.sort(key=lambda r: r["vec_id"])
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        V = np.array([r[col] for r in rows], dtype=np.float64)
        dsub = V.shape[1] // m
        seeds = _value_stride_seeds(ids, V, ksub)
        return np.stack(
            [
                _lloyd(
                    V[:, j * dsub : (j + 1) * dsub],
                    seeds[:, j * dsub : (j + 1) * dsub].copy(),
                    iters,
                )
                for j in range(m)
            ]
        )
    # distributed twin: stride init needs the seed rows only (bounded:
    # ksub rows), then iters passes of all-subspace partials
    stride = max(n // ksub, 1)
    seed = (
        emb.filter((F.col("vec_id") % stride == 0) & (F.col("vec_id") / stride < ksub))
        .orderBy("vec_id")
        .select(col)
        .collect()
    )
    S = np.array([r[col] for r in seed], dtype=np.float64)[:ksub]
    dim = S.shape[1]
    dsub = dim // m
    books = np.stack([S[:, j * dsub : (j + 1) * dsub].copy() for j in range(m)])
    partial_schema = "sub long, cent long, cnt long, vsum array<double>"
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(books)

        def partials(batches):
            B = bc.value
            m_, ksub_, dsub_ = B.shape
            for batch in batches:
                V = knn.list_column_matrix(batch, col)
                for j in range(m_):
                    sub = V[:, j * dsub_ : (j + 1) * dsub_]
                    assign = nearest_centroid(sub, B[j])
                    sums = np.zeros((ksub_, dsub_))
                    np.add.at(sums, assign, sub)
                    cnts = np.bincount(assign, minlength=ksub_)
                    nz = np.flatnonzero(cnts)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.full(nz.shape[0], j, dtype=np.int64)),
                            pa.array(nz.astype(np.int64)),
                            pa.array(cnts[nz].astype(np.int64)),
                            pa.array(list(sums[nz])),
                        ],
                        names=["sub", "cent", "cnt", "vsum"],
                    )

        rows = emb.select(col).mapInArrow(partials, partial_schema).collect()
        cnts = np.zeros((m, books.shape[1]))
        sums = np.zeros_like(books)
        for r in rows:
            cnts[r["sub"], r["cent"]] += r["cnt"]
            sums[r["sub"], r["cent"]] += np.asarray(r["vsum"])
        nz = cnts > 0
        books[nz] = sums[nz] / cnts[nz][:, None]
    return books


def pq_codes(emb: DataFrame, books: np.ndarray, col: str = "embedding") -> DataFrame:
    """(vec_id, codes array<long>): the compressed replica — m small
    ints per vector (the nearest centroid per subspace), one Arrow
    projection, no shuffle."""
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(books)

    @F.pandas_udf("array<long>")
    def encode(vs: pd.Series) -> pd.Series:
        B = bc.value
        dsub = B.shape[2]
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        out = np.stack(
            [nearest_centroid(V[:, j * dsub : (j + 1) * dsub], B[j]) for j in range(B.shape[0])],
            axis=1,
        ).astype(np.int64)
        return pd.Series(list(out))

    return emb.select("vec_id", encode(col).alias("codes"))


def assign_cells(emb: DataFrame, cents: np.ndarray) -> DataFrame:
    """(vec_id, embedding, cell): each vector's nearest coarse centroid
    — the IVF and IVF-PQ partition key."""
    bc = emb.sparkSession.sparkContext.broadcast(cents)

    @F.pandas_udf("long")
    def cell_of(vs: pd.Series) -> pd.Series:
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        return pd.Series(nearest_centroid(V, bc.value).astype(np.int64))

    return emb.select("vec_id", "embedding", cell_of("embedding").alias("cell"))


def as_scan(df: DataFrame, row_col: str, *extra) -> DataFrame:
    """Embedding rows in the knn kernels' scan shape: (id, category, ts,
    ``row_col``, *extra). The family has no predicates, so category and
    ts are constants."""
    return df.select(
        F.col("vec_id").alias("id"), F.lit(0).alias("category"), F.lit(0).alias("ts"),
        row_col, *extra,
    )


def derived_queries(emb: DataFrame, *extra) -> DataFrame:
    """The embedding family's query set — every QUERY_STRIDE-th vector
    — as type-0 (no predicate) ``knn.QUERY_COLS`` rows, plus ``extra``
    columns."""
    return emb.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.lit(0).alias("query_type"),
        F.lit(0).alias("v"), F.lit(0).alias("l"), F.lit(0).alias("r"),
        F.col("embedding").alias("qvec"), *extra,
    )


def pq_luts(Q: np.ndarray, books: np.ndarray) -> np.ndarray:
    """(nq, m, ksub) ADC lookup tables: LUT[q, j, c] = ||c||² − 2 q_j·c
    for sub-vector j of query row q against codebook j (||q_j||² is
    constant per query — rank-safe). The ``encode_q`` of ``knn.PQ_ADC``."""
    m_, ksub_, dsub_ = books.shape
    luts = np.empty((Q.shape[0], m_, ksub_))
    for j in range(m_):
        sub = Q[:, j * dsub_ : (j + 1) * dsub_]
        c = books[j]
        luts[:, j, :] = np.einsum("ij,ij->i", c, c)[None, :] - 2.0 * (sub @ c.T)
    return luts


def _code_rows(tbl) -> np.ndarray:
    return knn.list_column_matrix(tbl, "codes", dtype=np.int64)


def knn_pq_rerank(
    emb: DataFrame,
    k: int = TOPK,
    pool: int | None = None,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """(query_id, id, rnk): PQ two-phase kNN by cosine for the derived
    query set (every QUERY_STRIDE-th vector), self excluded.

    ``pool=None`` re-ranks every corpus vector — the ADC cut keeps
    everything and the exact re-rank fully determines the answer, so
    the result hash-matches the exact-cosine oracle end-to-end
    through the codes pipeline (registry config). A finite ``pool``
    is the production config: the ADC scan (``knn.query_broadcast_topk``
    with ``knn.PQ_ADC``) cuts each partition to its top ``pool`` by
    (adc, id), ``knn.packed_topk_merge`` cuts the global pool, and ONLY
    those nq × pool candidates join back to float vectors (K12), with
    quality pinned by the recall gate."""
    n = emb.count()
    eff_pool = n if pool is None else min(pool, n)
    books = pq_train(emb, m=m, ksub=ksub)
    packed = knn.query_broadcast_topk(
        as_scan(pq_codes(emb, books), "codes"),
        derived_queries(emb),
        _code_rows,
        knn.PQ_ADC,
        eff_pool,
        lambda Q: pq_luts(Q, books),
        scan_rows=n,
    )
    if packed is None:
        return emb.sparkSession.createDataFrame([], knn.RESULT_SCHEMA)
    return exact_cosine_rerank(knn.packed_topk_merge(packed, eff_pool), emb, k)


def exact_cosine_rerank(pool_df: DataFrame, emb: DataFrame, k: int) -> DataFrame:
    """(query_id, id, rnk): K12 — join float vectors for the CANDIDATE
    pairs of ``pool_df`` (query_id, id) only, re-score with float64
    cosine, and rank by (−cos, id) with ``knn._topk_window``. Shared by
    the PQ and IVF-PQ pipelines; candidate volume is nq × pool, so both
    joins are candidate-sized, never corpus-sized.

    Scoring runs as a mapInArrow kernel over the joined batches using
    ``knn.list_column_matrix``: list<float> columns decode to (n, dim)
    matrices without per-row Python objects, and each batch is one pair
    of einsum folds.
    """
    withv = pool_df.select("query_id", "id").join(
        emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("bvec")), "id"
    ).join(
        emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")),
        "query_id",
    )

    out_schema = pa.schema(
        [
            pa.field("query_id", pa.int64()),
            pa.field("id", pa.int64()),
            pa.field("dist", pa.float64()),
        ]
    )

    def score(batches):
        for batch in batches:
            if batch.num_rows == 0:
                continue
            Q = knn.list_column_matrix(batch, "qvec")
            V = knn.list_column_matrix(batch, "bvec")
            qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
            vn = np.sqrt(np.einsum("ij,ij->i", V, V))
            c = np.einsum("ij,ij->i", Q, V) / (qn * vn)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("query_id").cast(pa.int64()),
                    batch.column("id").cast(pa.int64()),
                    pa.array(-c),
                ],
                schema=out_schema,
            )

    scored = withv.select("query_id", "id", "qvec", "bvec").mapInArrow(
        score, "query_id long, id long, dist double"
    )
    return knn._topk_window(scored, k)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse cells as the partition key, residual-PQ codes as the
# payload — the canonical 100 TB vector-search layout (FAISS IVFPQ per
# Jégou et al. TPAMI'11 §V; public knowledge).
# ---------------------------------------------------------------------------

IVFPQ_NLIST = 16
IVFPQ_NPROBE = 8  # recall 0.796 @ sf0.01 with IVFPQ_POOL (deterministic)
IVFPQ_POOL = 256


def ivfpq_index(
    emb: DataFrame,
    nlist: int = IVFPQ_NLIST,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
):
    """(coarse, books, codes_df): the IVF-PQ index. Coarse k-means is
    the IVF trainer (:func:`pq_train` with ``m = 1``); PQ codebooks
    train on RESIDUALS (v − coarse[cell]) — the canonical composition,
    residual magnitudes being what the codebooks must cover, not
    absolute positions; the codes table carries (vec_id, codes, cell) —
    at 100 TB ``cell`` is the physical partition key and ``codes`` the
    n × m compressed payload, so a probe touches only its cells'
    partitions and never a float."""
    spark = emb.sparkSession
    coarse = pq_train(emb, "embedding", 1, nlist, IVF_ITERS)[0]
    bc = spark.sparkContext.broadcast(coarse)

    @F.pandas_udf("array<double>")
    def residual_of(vs: pd.Series, cells: pd.Series) -> pd.Series:
        c = bc.value
        V = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        R = V - c[cells.to_numpy()]
        return pd.Series(list(R))

    with_cell = assign_cells(emb, coarse)
    res = with_cell.select(
        "vec_id", "cell", residual_of("embedding", "cell").alias("residual")
    )
    books = pq_train(res, col="residual", m=m, ksub=ksub)
    codes = pq_codes(res, books, col="residual").join(
        with_cell.select("vec_id", "cell"), "vec_id"
    )
    return coarse, books, codes


def knn_ivfpq_rerank(
    emb: DataFrame,
    k: int = TOPK,
    nlist: int = IVFPQ_NLIST,
    nprobe: int = IVFPQ_NPROBE,
    pool: int | None = IVFPQ_POOL,
    m: int = PQ_M,
    ksub: int = PQ_KSUB,
) -> DataFrame:
    """(query_id, id, rnk): IVF-PQ kNN by cosine for the derived query
    set, self excluded. Each query probes its ``nprobe`` nearest
    coarse cells and scores ONLY those cells' codes by residual-ADC
    (per-cell LUT: the query residual against that cell's centroid),
    then the global pool re-ranks exactly (K12).

    Physical plan = the cell cogroup of ann_ivf_topk
    (``knn.probe_cogroup_topk``) with the codes table in place of
    floats: the corpus shuffles ONCE on cell; queries explode to nprobe
    probe rows and cogroup in; each group runs the scan kernel's
    running top-``pool`` by (adc, id) over that cell's codes, with the
    cell's residual lookup tables as the query side, and
    ``knn.packed_topk_merge`` cuts the global pool. With nprobe = nlist
    and pool = None every vector is scored and exactly re-ranked, so
    the registry config hash-matches the exact-cosine oracle through
    the full cluster-route + residual-codes pipeline (the IVF
    forced-exhaustive trick); the production (nprobe, pool) config is
    recall-gated."""
    spark = emb.sparkSession
    nprobe = min(nprobe, nlist)
    coarse, books, codes = ivfpq_index(emb, nlist=nlist, m=m, ksub=ksub)
    n = emb.count()
    eff_pool = n if pool is None else min(pool, n)
    bc = spark.sparkContext.broadcast(coarse)

    @F.pandas_udf("array<long>")
    def probes_of(vs: pd.Series) -> pd.Series:
        c = bc.value
        cc = np.einsum("ij,ij->i", c, c)
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in vs])
        d = cc[None, :] - 2.0 * (Q @ c.T)  # L2 rank (||q||² constant per row)
        top = np.argsort(d, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype(np.int64)))

    cands = knn.probe_cogroup_topk(
        as_scan(codes, "codes", "cell"),
        "cell",
        derived_queries(emb, F.explode(probes_of("embedding")).alias("probe")),
        _code_rows,
        knn.PQ_ADC,
        eff_pool,
        # query residual against THIS cell's centroid
        lambda Q, cell: pq_luts(Q - coarse[cell][None, :], books),
    )
    return exact_cosine_rerank(knn.packed_topk_merge(cands, eff_pool), emb, k)
