"""Scale stress for the hybrid engine beyond testdata sizes.

The sf0.1 bench cannot exercise sub-sharding (every slice fits one
shard) or the shard scans at realistic shard sizes. This script
synthesizes an N-row corpus (default 200k, dim 64, 12 categories two
of which are index-worthy, uniform ts), builds the partitioned
index when the engine's shard plan serves that corpus
(``engine.search_side``; below the fused-plan bound the fused kernel
reads no index, so none is built and ``side`` reads ``corpus_bc``),
answers a mixed 4-type query batch with the full routed engine,
and reports recall@k against the exact oracle on a subsample — one
JSON line, same spirit as bench.py.

Usage: python tools/stress_scale.py [N_ROWS] [N_QUERIES] [REPS]

REPS > 1 (r10 verdict #6): build AND search run REPS times in one
session (index fully unpersisted and rebuilt per rep) and the line
reports min + raw walls — the warm min-of-N protocol, because a single
cold reading on this host carries a documented ~2× spread.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_base(spark, n_rows: int, dim: int = 64):
    """Distributed synthetic corpus (no driver-side data). Every value
    is a hash of the row id (``xxhash64(id, salt[, j])``), so a row is
    the same whatever the partition count, the cpu count or ``n_rows``.
    Category 0/1 get 30%/12% of rows (index-worthy), the rest spread
    ~5.8% each."""
    from pyspark.sql import functions as F

    def unit(*salt):
        # uniform in [0, 1): the hash's low 53 bits
        h = F.xxhash64(F.col("id"), *map(F.lit, salt))
        return F.pmod(h, F.lit(1 << 53)) / float(1 << 53)

    u = unit(1)
    return spark.range(n_rows).select(
        F.col("id"),
        F.when(u < 0.3, 0)
        .when(u < 0.42, 1)
        .otherwise((F.floor(unit(2) * 10) + 2).cast("int"))
        .cast("int")
        .alias("category"),
        unit(3).alias("ts"),
        F.transform(F.sequence(F.lit(1), F.lit(dim)), lambda j: unit(4, j) * 2 - 1)
        .cast("array<float>")
        .alias("vec"),
    )


def synth_queries(spark, n_queries: int, dim: int = 64, seed: int = 7):
    """Mixed 4-type query batch (qid % 4), deterministic."""
    import numpy as np

    rng = np.random.default_rng(seed)
    qrows = []
    for qid in range(n_queries):
        t = qid % 4
        v = int(rng.integers(0, 12)) if t in (1, 3) else -1
        lo = float(rng.random() * 0.7)
        hi = min(lo + 0.05 + float(rng.random() * 0.3), 1.0)
        l, r = (lo, hi) if t in (2, 3) else (-1.0, -1.0)
        qrows.append((qid, t, v, l, r, (rng.random(dim) * 2 - 1).astype(float).tolist()))
    return spark.createDataFrame(
        qrows, "query_id long, query_type int, v int, l double, r double, qvec array<float>"
    )


def main() -> None:
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 500
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1
    dim = 64

    from pyspark.sql import functions as F

    from sigmod_2024_contest_spark.operators import engine, knn, routing
    from sigmod_2024_contest_spark.session import get_spark, ship_package

    spark = get_spark("stress-scale")
    ship_package(spark)

    base = synth_base(spark, n_rows, dim).persist()
    nb = base.count()
    queries = synth_queries(spark, n_queries, dim).persist()
    queries.count()

    side = engine.search_side(nb, dim)
    idx = res = None
    idx_rows = nshards = 0
    build_walls: list[float] = []
    search_walls: list[float] = []
    for _rep in range(reps):
        if res is not None:
            res.unpersist()
        if idx is not None:
            idx.unpersist()
        t0 = time.time()
        if side == engine.SIDE_SHARDS:
            splan = engine._shard_plan(
                base, routing.CAT_GRAPH_THR, engine.MAX_NODES_PER_GRAPH
            )
            idx = engine.partition_index_for_search(
                engine.build_index(base, shard_plan=splan)
            ).persist()
            idx_rows = idx.count()
            nshards = sum(splan.values())
        build_walls.append(round(time.time() - t0, 2))

        t0 = time.time()
        res = engine.knn_hybrid(spark, base, queries, index=idx).persist()
        out_rows = res.count()
        search_walls.append(round(time.time() - t0, 2))
    build_s, search_s = min(build_walls), min(search_walls)

    # recall on a query subsample vs the exact oracle (corpus-broadcast
    # path at this size — itself a timed datapoint). Stride 5, not 10:
    # types cycle qid % 4, and gcd(10, 4) = 2 made the old stride-10
    # subsample see ONLY types 0 and 2 — stride 5 is coprime with the
    # type cycle, so every type gets a recall figure (r12 verdict #4)
    sub = queries.filter(F.col("query_id") % 5 == 0)
    t0 = time.time()
    exact = {}
    for r_ in knn.knn_exact_arrow(spark, base, sub, corpus_rows=nb).collect():
        exact.setdefault(r_.query_id, set()).add(r_.id)
    oracle_s = round(time.time() - t0, 2)
    got = {}
    for r_ in res.join(sub.select("query_id"), "query_id").collect():
        got.setdefault(r_.query_id, set()).add(r_.id)
    recalls = [
        len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact if exact[q]
    ]
    # per-type recall (r12 verdict #4 — the reference tracks recall per
    # query type, getquery.cpp:125-128): makes a routing trade like the
    # r12 type-0 crossover attributable to the type it moved
    qtype = {
        r_.query_id: r_.query_type
        for r_ in sub.select("query_id", "query_type").collect()
    }
    by_type: dict[int, list[float]] = {}
    for q in exact:
        if exact[q]:
            by_type.setdefault(qtype[q], []).append(
                len(exact[q] & got.get(q, set())) / len(exact[q])
            )
    recall_by_type = {
        str(t): round(sum(v) / len(v), 4) for t, v in sorted(by_type.items())
    }
    print(
        json.dumps(
            {
                "metric": "stress_scale",
                "n_rows": nb,
                "n_queries": n_queries,
                "dim": dim,
                "side": side,
                "index_rows": idx_rows,
                "n_shards": nshards,
                "build_sec": build_s,
                "search_sec": search_s,
                "build_runs": build_walls,
                "search_runs": search_walls,
                "oracle_sec": oracle_s,
                "result_rows": out_rows,
                "recall": round(sum(recalls) / len(recalls), 4) if recalls else None,
                "recall_by_type": recall_by_type,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
