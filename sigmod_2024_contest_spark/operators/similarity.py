"""Similarity search over embedding columns: brute-force cosine top-k
(the exact baseline), a hyperplane-LSH bucketed variant and IVF
(k-means cells) — the scale paths.

Beyond the reference's own L2 workload (SURVEY §7.5) but the same
shape: candidate generation must never touch the O(n²) pair space.
The LSH and IVF variants mirror the reference's category partitioning
— hash buckets / cells play the role of category slices, and search
happens only inside the query's probed buckets / cells.

All three run on the contest kernels of ``operators/knn.py`` with the
``knn.COSINE`` distance (−cos, self excluded): the exact scan is
``knn.query_broadcast_topk``, the bucket and cell cogroups are
``knn.probe_cogroup_topk`` (the same kernel body per group), and
``knn.packed_topk_merge`` ranks every result by (−cos, id) — the
oracle's ``ORDER BY cos DESC, id ASC``.

Hyperplane components are generated from a portable LCG formula (not
engine RNG), so bucket assignment — and therefore the whole result —
is bit-identical in Spark and the DuckDB oracle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.workload import QUERY_STRIDE
from . import knn, pq

TOPK = 10
DIM = 64
MOD = 2147483647

# Bucket count scales with the corpus (fixed 256 buckets would make
# bucket size — and each cogroup task — grow linearly with corpus
# size). Planes = smallest p in [N_PLANES_MIN, N_PLANES_MAX] with
# rows <= TARGET_ROWS_PER_BUCKET·2^p, found by pure integer compares so
# the SQL oracle derives the IDENTICAL count from count(*) with no
# float log anywhere. Multi-probe compute fraction stays ~(p+1)/2^p of
# brute force — shrinking as the corpus grows, the true LSH scaling.
N_PLANES_MIN, N_PLANES_MAX = 4, 20
TARGET_ROWS_PER_BUCKET = 32


def n_planes_for(n_rows: int) -> int:
    p = N_PLANES_MIN
    while p < N_PLANES_MAX and n_rows > (TARGET_ROWS_PER_BUCKET << p):
        p += 1
    return p


def n_planes_cte(table: str = "embeddings") -> str:
    """One-row CTE body (alias it ``lshnp``) deriving the plane count
    from count(*) — integer comparisons only, bit-identical across
    engines. Cross-join it wherever ``_bucket_sql`` appears."""
    whens = " ".join(
        f"WHEN cnt <= {TARGET_ROWS_PER_BUCKET << p} THEN {p}"
        for p in range(N_PLANES_MIN, N_PLANES_MAX)
    )
    return (
        f"SELECT CASE {whens} ELSE {N_PLANES_MAX} END AS n "
        f"FROM (SELECT count(*) AS cnt FROM {table})"
    )


def n_planes_for_pairs(n_rows: int) -> int:
    """Plane count for PAIR-generating blocking (the dedup candidate
    self-join): its volume is quadratic in probe-bucket occupancy —
    ≈ n²(p+1)²/2^(p+1) pairs — so sizing to rows/bucket alone (as
    :func:`n_planes_for` does for the query→bucket ANN join, whose
    cost is linear in occupancy) leaves pairs growing linearly with
    the corpus. Pick the smallest p with n·(p+1)² ≤ T·2^(p+1), i.e.
    ~T/2 candidate pairs per row regardless of corpus size. Integer
    compares only — the SQL oracle derives the identical count."""
    p = N_PLANES_MIN
    while p < N_PLANES_MAX and n_rows * (p + 1) * (p + 1) > (
        TARGET_ROWS_PER_BUCKET << (p + 1)
    ):
        p += 1
    return p


def n_planes_pairs_cte(table: str = "embeddings") -> str:
    """SQL twin of :func:`n_planes_for_pairs` (alias it ``lshnp``)."""
    whens = " ".join(
        f"WHEN cnt * {(p + 1) * (p + 1)} <= {TARGET_ROWS_PER_BUCKET << (p + 1)} THEN {p}"
        for p in range(N_PLANES_MIN, N_PLANES_MAX)
    )
    return (
        f"SELECT CASE {whens} ELSE {N_PLANES_MAX} END AS n "
        f"FROM (SELECT count(*) AS cnt FROM {table})"
    )


def _plane(j: int, dim: int = DIM) -> list[float]:
    """Deterministic pseudo-random hyperplane (portable LCG)."""
    return [
        ((1103515245 * (j * dim + i) + 12345) % MOD) / MOD - 0.5 for i in range(dim)
    ]


def ann_cosine_topk(emb: DataFrame, k: int = TOPK) -> DataFrame:
    """(query_id, id, rnk): exact top-k by cosine for the derived query
    set (every QUERY_STRIDE-th vector), self excluded. The brute-force
    baseline every ANN variant is measured against.

    Physical plan = the exact scan's: ``knn.query_broadcast_topk`` with
    the ``knn.COSINE`` distance (−cos, so (dist, id) order is the
    oracle's (cos desc, id asc)) — queries broadcast in bounded
    batches, each corpus partition keeps a running top-k and emits one
    packed list per query, and ``knn.packed_topk_merge`` merges the ≤P
    lists per query. The corpus never moves."""
    packed = knn.query_broadcast_topk(
        pq.as_scan(emb, "embedding"),
        pq.derived_queries(emb),
        _embedding_rows,
        knn.COSINE,
        k,
    )
    if packed is None:
        return emb.sparkSession.createDataFrame([], knn.RESULT_SCHEMA)
    return knn.packed_topk_merge(packed, k)


def _embedding_rows(tbl) -> np.ndarray:
    return knn.list_column_matrix(tbl, "embedding")


_COS = (
    "list_sum(list_transform(range(1, len(b.embedding) + 1), "
    "k -> q.qvec[k]::DOUBLE * b.embedding[k]::DOUBLE)) / "
    "(sqrt(list_sum(list_transform(range(1, len(q.qvec) + 1), "
    "k -> q.qvec[k]::DOUBLE * q.qvec[k]::DOUBLE))) * "
    "sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), "
    "k -> b.embedding[k]::DOUBLE * b.embedding[k]::DOUBLE))))"
)


def ann_cosine_topk_sql(k: int = TOPK) -> str:
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id % {QUERY_STRIDE} = 0
),
scored AS (
  SELECT q.query_id, b.vec_id AS id, {_COS} AS cos
  FROM embeddings b, q WHERE q.query_id != b.vec_id
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


def _bucket_expr(vec_col: str, n_planes: int) -> F.Column:
    """LSH bucket id: bit j = sign(vec · plane_j), folded left-to-right
    in float64 (portable)."""
    bucket = F.lit(0).cast("long")
    for j in range(n_planes):
        plane = F.array([F.lit(x) for x in _plane(j)])
        dot = F.aggregate(
            F.zip_with(F.col(vec_col), plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda a, v: a + v,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0)).cast("long")
    return bucket


def _bucket_sql(vec_sql: str) -> str:
    """SQL mirror with the plane count read at runtime from the
    cross-joined one-row ``lshnp`` CTE (:func:`n_planes_cte`): all
    N_PLANES_MAX bits are computed, bits at j >= lshnp.n mask to 0 —
    structurally static SQL, data-derived bucket count."""
    terms = []
    for j in range(N_PLANES_MAX):
        lits = ", ".join(repr(x) for x in _plane(j))
        dot = (
            f"list_sum(list_transform(range(1, len({vec_sql}) + 1), "
            f"k -> {vec_sql}[k]::DOUBLE * ([{lits}])[k]::DOUBLE))"
        )
        terms.append(f"(CASE WHEN {j} < lshnp.n AND {dot} > 0 THEN {1 << j} ELSE 0 END)")
    return "(" + " + ".join(terms) + ")::BIGINT"


def ann_lsh_topk(emb: DataFrame, k: int = TOPK) -> DataFrame:
    """(query_id, id, rnk): top-k by cosine over the query's
    *multi-probe* LSH candidate set — the home bucket plus every bucket
    at Hamming distance 1 (flip one hyperplane bit). Multi-probe buys
    ~4× the single-probe recall for 9× the (still tiny) candidate set;
    buckets partition the corpus, so probes never produce duplicate
    candidates.

    Physical plan = bucket cogroup (``knn.probe_cogroup_topk``): the
    corpus shuffles ONCE on its bucket id, queries (exploded to their
    planes+1 probes) cogroup in, and each group runs the scan kernel's
    running top-k (``knn.COSINE``) over (queries probing this bucket ×
    bucket rows) — total compute is the true LSH fraction
    (≈(planes+1)/2^planes of brute force) and no (qvec, vec) pair row
    is ever materialized; ``knn.packed_topk_merge`` merges the
    per-bucket lists. At 100 TB the bucket id becomes the physical
    partition key (the reference's category_map trick). Recall vs the
    exact baseline is the quality metric (tests)."""
    planes = n_planes_for(emb.count())
    wb = emb.select("vec_id", "embedding", _bucket_expr("embedding", planes).alias("bucket"))
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(planes)],
    )
    cands = knn.probe_cogroup_topk(
        pq.as_scan(wb, "embedding", "bucket"),
        "bucket",
        pq.derived_queries(wb, F.explode(probes).alias("probe")),
        _embedding_rows,
        knn.COSINE,
        k,
    )
    return knn.packed_topk_merge(cands, k)


N_LIST = 64  # IVF cells
N_PROBE = 16  # cells scanned per query (compute fraction = 16/64 = 0.25)


def ivf_train(
    emb: DataFrame, nlist: int = N_LIST, iters: int = pq.IVF_ITERS,
    local_rows: int | None = pq.PQ_LOCAL_ROWS,
):
    """Deterministic k-means (the IVF coarse quantizer): the ``m = 1``
    case of :func:`pq.pq_train` — one subspace spanning the whole
    vector, ``nlist`` centroids.

    Init = the rows whose vec_id is a multiple of n/nlist, by id
    (seedless, stable). Below ``local_rows`` every Lloyd iteration runs
    driver-side over one bounded collect; above it (0/None forces it)
    each iteration is ONE mapInArrow job emitting per-partition partial
    sums, so only the (nlist × dim) centroid table reaches the driver.
    The two routes share init and arithmetic; their centroids can
    differ at ulp level (the local sum folds in one order, the
    distributed one reduces per-partition partials)."""
    return pq.pq_train(emb, "embedding", 1, nlist, iters, local_rows)[0]


def ann_ivf_topk(
    emb: DataFrame, k: int = TOPK, nlist: int = N_LIST, nprobe: int = N_PROBE
) -> DataFrame:
    """(query_id, id, rnk): IVF ANN — each query scans ONLY its
    ``nprobe`` nearest k-means cells.

    Physical plan = cell cogroup (``knn.probe_cogroup_topk``, the same
    shape as :func:`ann_lsh_topk`'s bucket cogroup): the corpus gets a
    ``cell`` column (``pq.assign_cells``: nearest centroid of the
    broadcast table) and shuffles ONCE on it; queries explode to their
    nprobe probe cells and cogroup in; each group runs the scan
    kernel's running top-k over (queries probing this cell × cell rows)
    and ``knn.packed_topk_merge`` merges the per-cell lists. Per-query
    compute fraction is genuinely nprobe/nlist — vectors outside probed
    cells are never scored. At 100 TB ``cell`` is the physical
    partition key — cluster-then-prune, the reference's category_map
    structure. Iterative float training ⇒ no SQL oracle of its own;
    quality is driver-gated via ``recall_ivf_vs_exact`` (mean recall vs
    the exact baseline)."""
    spark = emb.sparkSession
    cents = ivf_train(emb, nlist)
    nprobe = min(nprobe, cents.shape[0])
    bc = spark.sparkContext.broadcast(cents)

    @F.pandas_udf("array<long>")
    def probes_of(embs: pd.Series) -> pd.Series:
        c = bc.value
        cn = np.sqrt(np.einsum("ij,ij->i", c, c))
        cn[cn == 0] = 1.0
        Q = np.stack([np.asarray(v, dtype=np.float64) for v in embs])
        qn = np.sqrt(np.einsum("ij,ij->i", Q, Q))
        qn[qn == 0] = 1.0
        qc = (Q @ c.T) / (qn[:, None] * cn[None, :])
        top = np.argsort(-qc, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype(np.int64)))

    cands = knn.probe_cogroup_topk(
        pq.as_scan(pq.assign_cells(emb, cents), "embedding", "cell"),
        "cell",
        pq.derived_queries(emb, F.explode(probes_of("embedding")).alias("probe")),
        _embedding_rows,
        knn.COSINE,
        k,
    )
    return knn.packed_topk_merge(cands, k)


def ann_lsh_topk_sql(k: int = TOPK) -> str:
    bexpr = _bucket_sql("embedding")
    probe_list = (
        "[qbucket] || list_transform(range(0, (SELECT n FROM lshnp)), "
        "j -> xor(qbucket, (2**j)::BIGINT))"
    )
    return f"""
WITH lshnp AS ({n_planes_cte()}),
wb AS (SELECT vec_id, embedding, {bexpr} AS bucket FROM embeddings, lshnp),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qvec, bucket AS qbucket FROM wb
  WHERE vec_id % {QUERY_STRIDE} = 0
),
q AS (SELECT query_id, qvec, unnest({probe_list}) AS probe FROM q0),
scored AS (
  SELECT q.query_id, b.vec_id AS id, {_COS} AS cos
  FROM wb b JOIN q ON q.probe = b.bucket AND q.query_id != b.vec_id
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, id ASC) AS rnk
  FROM scored
) WHERE rnk <= {k}
"""


# ---------------------------------------------------------------------------
# Random projection — JL dimension reduction for embedding columns
# ---------------------------------------------------------------------------

EMBED_PROJECT_DIM = 8  # output dims; real deployments size ~O(log n / eps^2)


def embed_project(
    emb: DataFrame, out_dim: int = EMBED_PROJECT_DIM, method: str = "arrow"
) -> DataFrame:
    """(vec_id, proj…): Johnson-Lindenstrauss random projection of the
    embedding column onto ``out_dim`` deterministic hyperplanes (the
    same portable-LCG planes the LSH family uses, so projected space
    and bucket space are consistent) — the standard dimension-reduction
    step before ANN indexing / clustering on a training corpus.

    Two kernels, one semantics:

    - ``method='arrow'`` (default, the 100 TB path): one mapInArrow
      GEMM per batch — vectorized, zero shuffles, returns
      ``proj array<double>``.
    - ``method='fold'`` (the oracle twin): per-plane Catalyst
      zip_with/aggregate folds emitting ``proj_ppm array<bigint>``
      (floor(dot·1e6) — integer ppm per repo convention, so the DuckDB
      hash never compares raw floats). The GEMM path is pinned ≈ the
      fold path in tests (they differ only in float summation order).
    """
    planes = [_plane(j) for j in range(int(out_dim))]
    if method == "fold":
        dots = []
        for p in planes:
            lit = F.array([F.lit(x) for x in p])
            dot = F.aggregate(
                F.zip_with(F.col("embedding"), lit, lambda x, v: x.cast("double") * v),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            dots.append(F.floor(dot * 1e6).cast("long"))
        return emb.select("vec_id", F.array(*dots).alias("proj_ppm"))

    import pyarrow as pa

    P = np.array(planes, dtype=np.float64)  # (out_dim, dim)

    def kernel(batches):
        for batch in batches:
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False).astype(np.int64)
            V = knn.list_column_matrix(batch, "embedding")
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids), pa.array(list(V @ P.T))],
                names=["vec_id", "proj"],
            )

    return emb.select("vec_id", "embedding").mapInArrow(
        kernel, "vec_id long, proj array<double>"
    )


def embed_project_sql(out_dim: int = EMBED_PROJECT_DIM) -> str:
    """DuckDB twin of the ``method='fold'`` kernel."""
    dots = []
    for j in range(int(out_dim)):
        lits = ", ".join(repr(x) for x in _plane(j))
        dots.append(
            "floor(list_sum(list_transform(range(1, len(embedding) + 1), "
            f"k -> embedding[k]::DOUBLE * ([{lits}])[k]::DOUBLE)) * 1e6)::BIGINT"
        )
    return f"SELECT vec_id, [{', '.join(dots)}] AS proj_ppm FROM embeddings"


def embed_project_rows(
    emb: DataFrame, out_dim: int = EMBED_PROJECT_DIM, method: str = "fold"
) -> DataFrame:
    """Driver-hashable twin of :func:`embed_project`: one scalar row per
    ``(vec_id, component)`` instead of an array column, because the
    correctness harness canonicalizes by pandas-sorting every result
    column and an ``array<bigint>`` column is unsortable/unhashable
    there. Same values, exploded shape: ``(vec_id, component, ppm)``.
    """
    proj = embed_project(emb, out_dim, method=method)
    return proj.select(
        "vec_id", F.posexplode("proj_ppm").alias("component", "ppm")
    ).select("vec_id", F.col("component").cast("long").alias("component"), "ppm")


def embed_project_rows_sql(out_dim: int = EMBED_PROJECT_DIM) -> str:
    """DuckDB twin of :func:`embed_project_rows` — same per-plane fold,
    one row per component via a constant component table (DuckDB's
    ``unnest`` has no WITH ORDINALITY in the dialect the harness pins,
    so index explicitly; component is 0-based to match posexplode)."""
    dots = []
    for j in range(int(out_dim)):
        lits = ", ".join(repr(x) for x in _plane(j))
        dots.append(
            "floor(list_sum(list_transform(range(1, len(embedding) + 1), "
            f"k -> embedding[k]::DOUBLE * ([{lits}])[k]::DOUBLE)) * 1e6)::BIGINT"
        )
    return f"""
WITH proj AS (SELECT vec_id, [{', '.join(dots)}] AS proj_ppm FROM embeddings),
comp AS (SELECT unnest(range(0, {int(out_dim)})) AS component)
SELECT p.vec_id, CAST(c.component AS BIGINT) AS component,
       p.proj_ppm[c.component + 1] AS ppm
FROM proj p CROSS JOIN comp c
"""
