"""NN-Descent: distributed approximate kNN-graph construction (B12).

Reference parity: ``nndescent.hpp:17+`` builds a k-NN graph by repeated
neighbor-of-neighbor refinement (Dong et al., WWW'11) as the input to
NSG pruning (``nsg.hpp:15-96``). In the reference's final pipeline both
are dead code — the shipped build uses per-shard HNSW inserts — but
NN-Descent is the one graph builder whose inner loop IS a join, which
makes it the natural Spark formulation for graphs too large to build
inside one task. The hybrid engine builds no graph (every index shard
is scanned exactly); the kNN graph is this operator's own output,
gated against :func:`exact_knn_graph` (``recall_nndescent_vs_exact``).

Spark-first shape (everything a DataFrame op, nothing driver-side):

- the graph is an edge DataFrame ``(id, nbr, dist)`` with ≤k rows per
  node — never an adjacency structure in driver memory;
- one iteration = reverse-edge union → per-pivot neighbor sampling
  (deterministic hash order, so runs are reproducible) → pair proposal
  via a self-join on the pivot (two nodes sharing a neighbor become
  candidates — exactly the local-join step of the original algorithm)
  → JVM-side squared-L2 scoring (``aggregate``/``zip_with``, no Python
  in the loop) → per-node (dist, nbr) top-k window;
- iteration outputs are eagerly localCheckpoint'ed: iterative joins
  otherwise stack lineage (each pass re-derives all previous passes)
  and AQE replans the whole history every iteration.

At 100 TB the candidate volume per pass is n·sample² rows — bounded by
the sampling window, shuffled on node id (the natural partitioning
key), with no all-pairs stage anywhere. The exact-graph twin
(:func:`exact_knn_graph`) is the small-scale truth the recall gate
measures against.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Defaults follow the reference's NN-Descent shape (nndescent.hpp: K
# neighbors, a handful of refinement rounds); sample bounds the
# per-pivot join fan-out exactly like the paper's rho-sampling, and
# defaults to the full undirected list (2·build_k — the classic local
# join; halving it to build_k cost 0.98 → 0.79 recall at 2000 nodes
# because fwd/rev duplicates burn sample slots). Candidate volume per
# round is n·sample²/2 pairs — sample is the wall-vs-recall knob.
# BUILD_MULT: the graph is refined with build_k = BUILD_MULT·k
# neighbors and the top-k emitted — on high-dim uniform data plain
# NN-Descent at k plateaus (measured 0.87-0.88 recall@10 on the dim-64
# test embeddings regardless of iterations/sampling; the 2-hop
# neighborhood of a size-k graph stops containing new true neighbors),
# while the widened graph's neighborhoods keep enough diversity to
# converge (measured 0.998 at BUILD_MULT=2.5, 5 rounds, 500 nodes;
# 0.979 at 2000 nodes).
NND_K = 10
NND_ITERS = 4  # full-local-join rounds converge fast: 3 rounds → 1.0
# recall at 500 nodes, 0.97 at 2000; 4 keeps margin over the 0.95 bar
NND_SAMPLE = None  # None → 2·build_k (full local join)
NND_BUILD_MULT = 2.5
# Local-kernel bound (rows): below this the whole node set rides one
# bounded driver collect (≈ rows·dim·8 B — 4 MB at dim 64) and the
# EXACT graph is computed in one BLAS pass, because at these sizes the
# exact GEMM is cheaper than a single refinement round's scheduler
# constants (see nndescent_graph's docstring). 8192² float64 dists =
# 512 MB peak, blocked to ≤256 MB.
NND_LOCAL_ROWS = 8192
# Wall-clock note: each round is one eager-checkpointed job of ~4
# shuffle/Arrow stages, so a SMALL graph's build time is round-count ×
# scheduler constants (~3 s/round on this host), invariant to data
# size — AQE already coalesces the tiny shuffles (an explicit
# repartition per round was measured strictly worse). The constants
# amortize away exactly where the operator is meant to run: graphs too
# big for one task.


def _sq_l2(a, b):
    """Squared L2 between two array<double> columns, JVM-side."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _score_pairs(pairs: DataFrame, vecs: DataFrame) -> DataFrame:
    """(id, nbr) pairs → (id, nbr, dist): fetch both endpoints' vectors
    (two shuffle hash joins on the node id — the scale shape;
    Catalyst/AQE broadcasts the vector side when it is small) and score
    in one vectorized Arrow pass. The Catalyst ``aggregate``/``zip_with``
    fold is interpreted per element — at candidate volumes (n·sample²
    rows × dim terms per iteration) it dominated the wall (measured
    20k nodes × 3 iters: 68.6 s fold → 37.9 s Arrow; the remainder is
    the sampling/top-k windows and candidate shuffles, which are the
    algorithm's real data movement)."""
    import numpy as np
    import pyarrow as pa

    from .knn import list_column_matrix

    va = vecs.select(F.col("id").alias("id"), F.col("vec").alias("va"))
    vb = vecs.select(F.col("id").alias("nbr"), F.col("vec").alias("vb"))
    joined = pairs.join(va, "id").join(vb, "nbr").select("id", "nbr", "va", "vb")

    def kernel(batches):
        schema = pa.schema(
            [
                pa.field("id", pa.int64()),
                pa.field("nbr", pa.int64()),
                pa.field("dist", pa.float64()),
            ]
        )
        for tbl in batches:
            if tbl.num_rows == 0:
                continue
            a = list_column_matrix(tbl, "va")
            b = list_column_matrix(tbl, "vb")
            d = a - b
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        tbl.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
                    ),
                    pa.array(
                        tbl.column("nbr").to_numpy(zero_copy_only=False).astype(np.int64)
                    ),
                    pa.array(np.einsum("ij,ij->i", d, d)),
                ],
                schema=schema,
            )

    return joined.mapInArrow(kernel, "id long, nbr long, dist double")


def _topk_edges(edges: DataFrame, k: int) -> DataFrame:
    """Per-node (dist, nbr) top-k with (id, nbr) dedup in ONE window
    pass (one shuffle, not groupBy + window): duplicates of a pair
    always carry the identical float64 dist (same kernel, same
    arithmetic), so they sort adjacent — ``dense_rank`` counts distinct
    neighbors and a same-spec ``lag`` drops the copies."""
    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        edges.select(
            "id",
            "nbr",
            "dist",
            F.dense_rank().over(w).alias("_dr"),
            F.lag("nbr").over(w).alias("_pn"),
        )
        .filter(
            (F.col("_dr") <= k)
            & (F.col("_pn").isNull() | (F.col("_pn") != F.col("nbr")))
        )
        .drop("_dr", "_pn")
    )


def _dense_index(vecs: DataFrame) -> DataFrame:
    """(id, idx): dense 0..n-1 index over the node ids, DISTRIBUTED —
    a single global row_number window would sort every id in one task
    (the classic single-partition-window scale bug). Standard two-pass
    shape instead: range-partition by id, rank within each partition,
    then add per-partition offsets (bounded metadata: one ≤P-row
    collect, broadcast back)."""
    spark = vecs.sparkSession
    ranged = vecs.select("id").repartitionByRange("id").select(
        "id", F.spark_partition_id().alias("pid")
    )
    w = Window.partitionBy("pid").orderBy("id")
    local = ranged.withColumn("li", F.row_number().over(w).cast("long") - 1)
    cnts = sorted(
        (r["pid"], r["cnt"])
        for r in local.groupBy("pid").agg(F.count("*").alias("cnt")).collect()
    )
    offs, acc = [], 0
    for pid, c in cnts:
        offs.append((pid, acc))
        acc += c
    odf = F.broadcast(spark.createDataFrame(offs, "pid int, off long"))
    return local.join(odf, "pid").select("id", (F.col("li") + F.col("off")).alias("idx"))


def _local_exact_graph(spark, vecs: DataFrame, k: int) -> DataFrame:
    """One-task exact kNN graph for node sets under NND_LOCAL_ROWS:
    bounded collect → blocked difference-einsum distances (the SAME
    per-element arithmetic as :func:`_score_pairs`' Arrow kernel, so
    the floats are bit-identical to the distributed twin's) → per-node
    (dist, nbr) top-k. Returns the :func:`nndescent_graph` schema."""
    import numpy as np

    rows = vecs.collect()  # bounded: caller checked n_rows ≤ local_rows
    ids = np.asarray([r["id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids, kind="stable")
    ids = ids[order]
    mat = np.asarray([rows[i]["vec"] for i in order], dtype=np.float64)
    n, d = mat.shape
    # block the (block, n, d) difference tensor to ≤256 MB
    block = max(1, int(2.56e8 / (n * d * 8)))
    out: list[tuple[int, int, float, int]] = []
    for s0 in range(0, n, block):
        q = mat[s0 : s0 + block]
        diff = mat[None, :, :] - q[:, None, :]
        dist = np.einsum("qnd,qnd->qn", diff, diff)
        for qi in range(q.shape[0]):
            i = s0 + qi
            row = dist[qi].copy()
            row[i] = np.inf  # self excluded
            sel = np.lexsort((ids, row))[:k]
            out.extend(
                (int(ids[i]), int(ids[j]), float(row[j]), rnk + 1)
                for rnk, j in enumerate(sel)
            )
    return spark.createDataFrame(out, "id long, nbr long, dist double, rnk long")


def nndescent_graph(
    base: DataFrame,
    k: int = NND_K,
    iters: int = NND_ITERS,
    sample: int | None = NND_SAMPLE,
    vec_col: str = "vec",
    id_col: str = "id",
    n_rows: int | None = None,
    build_mult: float = NND_BUILD_MULT,
    local_rows: int | None = NND_LOCAL_ROWS,
) -> DataFrame:
    """(id, nbr, dist, rnk): kNN graph under squared L2, ≤k neighbors
    per node, self excluded, rnk = (dist, nbr) rank within the node.

    Cost-based kernel choice (the repo-wide twin-plan shape —
    dedup_clusters' ≤5M-pair driver union-find is the precedent): at
    ``n_rows ≤ local_rows`` the graph that one task's exact GEMM can
    compute IS the optimal graph and costs less than even one
    refinement round (500 nodes: the 5-round join loop is ~10 s of
    pure scheduler constants; the local kernel is milliseconds of
    BLAS), so the builder returns :func:`_local_exact_graph` — one
    all-pairs GEMM inside one task. Above the bound,
    the NN-Descent join loop below is the only plan whose per-pass
    work is bounded (n·sample² candidates, never all pairs); that loop
    is what runs at 100 TB, and what the forced-distributed tests pin.

    Deterministic on both paths: initialization and sampling use hash
    functions of (id, position), not RNG state; the local kernel's
    distances are computed with the same difference-einsum the Arrow
    scorer uses, so local output == exact_knn_graph bit-for-bit.
    Refinement runs at ``build_mult``·k internal neighbors (see
    NND_BUILD_MULT).

    ``n_rows``: pass the row count when known (skips one count job).
    ``local_rows``: driver-collect bound for the local kernel (rows;
    ≈ local_rows·dim·8 B of vectors — 4 MB at the 8192 default and
    dim 64); 0/None forces the distributed loop."""
    spark = base.sparkSession
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    if n_rows is None:
        n_rows = vecs.count()
    if n_rows <= 1:
        return spark.createDataFrame([], "id long, nbr long, dist double, rnk long")
    out_k = min(k, n_rows - 1)
    if local_rows and n_rows <= local_rows:
        return _local_exact_graph(spark, vecs, out_k)
    k = min(max(out_k, int(round(build_mult * out_k))), n_rows - 1)
    s = sample or 2 * k

    # --- init: k pseudo-random distinct neighbors per node -----------
    # Dense index (distributed two-pass, ids need not be contiguous),
    # then neighbor j of node i is the node at dense index
    # (idx_i + 1 + hash(i, j) % (n-1)) mod n — never self, uniform-ish,
    # no cross join, no driver-side RNG.
    indexed = _dense_index(vecs)
    j = F.explode(F.sequence(F.lit(1), F.lit(int(k)))).alias("j")
    offs = indexed.select("id", "idx", j).withColumn(
        "nidx",
        (
            F.col("idx")
            + 1
            + F.pmod(F.xxhash64(F.col("idx"), F.col("j")), F.lit(n_rows - 1))
        )
        % F.lit(n_rows),
    )
    nbr_ids = indexed.select(
        F.col("idx").alias("nidx"), F.col("id").alias("nbr")
    )
    init_pairs = offs.join(nbr_ids, "nidx").select("id", "nbr")  # dups → _topk_edges
    edges = _topk_edges(_score_pairs(init_pairs, vecs), k).localCheckpoint(eager=True)

    # --- refinement loop ---------------------------------------------
    for it in range(int(iters)):
        # undirected adjacency, sampled to ≤s per pivot (hash order
        # salted by the iteration so successive passes explore
        # different neighbor subsets — the paper's incremental search).
        # No distinct: a fwd+rev duplicate just burns a sample slot,
        # and duplicate pair proposals are deduped by _topk_edges — two
        # shuffles saved per iteration.
        adj = edges.select("id", "nbr").unionByName(
            edges.select(F.col("nbr").alias("id"), F.col("id").alias("nbr"))
        )
        ws = Window.partitionBy("id").orderBy(
            F.xxhash64(F.col("id"), F.col("nbr"), F.lit(it))
        )
        adj_s = (
            adj.withColumn("rs", F.row_number().over(ws))
            .filter(F.col("rs") <= s)
            .drop("rs")
        )
        # pair proposal: local join on the shared pivot (co-partitioned
        # with the sampling window's output — no extra shuffle)
        a = adj_s.select(F.col("id").alias("pivot"), F.col("nbr").alias("u"))
        b = adj_s.select(F.col("id").alias("pivot"), F.col("nbr").alias("v"))
        cand = (
            a.join(b, "pivot")
            .filter(F.col("u") < F.col("v"))
            .select(F.col("u").alias("id"), F.col("v").alias("nbr"))
        )
        scored = _score_pairs(cand, vecs)
        both = scored.unionByName(
            scored.select(
                F.col("nbr").alias("id"), F.col("id").alias("nbr"), "dist"
            )
        )
        edges = _topk_edges(edges.unionByName(both), k).localCheckpoint(eager=True)

    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        edges.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= out_k)
    )


def exact_knn_graph(
    base: DataFrame, k: int = NND_K, vec_col: str = "vec", id_col: str = "id"
) -> DataFrame:
    """(id, nbr, dist, rnk): the exact kNN graph — the truth the recall
    gate measures :func:`nndescent_graph` against. All-pairs cross join
    + the same vectorized Arrow scorer the builder uses (the
    interpreted fold made this twin the gate's whole wall) + per-node
    window; small-scale oracle machinery, not the 100 TB path (that is
    what NN-Descent is for)."""
    vecs = base.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    pairs = (
        vecs.select("id")
        .crossJoin(vecs.select(F.col("id").alias("nbr")))
        .filter(F.col("id") != F.col("nbr"))
    )
    scored = _score_pairs(pairs, vecs)
    w = Window.partitionBy("id").orderBy(F.col("dist").asc(), F.col("nbr").asc())
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def exact_knn_graph_sql(k: int = NND_K, max_id: int | None = None) -> str:
    """DuckDB twin of :func:`exact_knn_graph` over the embeddings
    table, id-set shape (query_id, id) for recall_gate_sql.
    ``max_id``: restrict to vec_id < max_id — the gate's constant-cost
    slice (the registry gate must not grow with the table)."""
    where = f"WHERE vec_id < {int(max_id)}" if max_id is not None else ""
    return f"""
WITH nodes AS (SELECT vec_id, embedding FROM embeddings {where}),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS id,
         list_sum(list_transform(range(1, len(a.embedding) + 1),
           j -> (a.embedding[j]::DOUBLE - b.embedding[j]::DOUBLE)
              * (a.embedding[j]::DOUBLE - b.embedding[j]::DOUBLE))) AS d
  FROM nodes a JOIN nodes b ON a.vec_id != b.vec_id
)
SELECT query_id, id FROM (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY d ASC, id ASC) AS rn
  FROM pairs
) WHERE rn <= {int(k)}
"""
