"""End-to-end contest pipeline — the reference-user entry point.

Reference: ``main`` in ``/root/reference/baseline.cpp:28-168`` (read
.bin base + queries, build indexes, BatchSearch, SaveKNN). A user of
the reference runs exactly that; this module is the drop-in Spark
equivalent: the same .bin wire formats in and out, the same four query
types, the same hybrid (routed brute-force + partitioned-graph) search
in between — but every stage a DataFrame job that scales past one
machine.

CLI: ``python -m sigmod_2024_contest_spark.contest BASE.bin QUERIES.bin
OUT.bin [k] [exact|hybrid|auto]``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .operators import engine, knn
from .sources import bin_format


def contest_run(
    spark: SparkSession,
    base_path: str,
    queries_path: str,
    out_path: str | None = None,
    k: int = 100,
    mode: str = "hybrid",
    base: DataFrame | None = None,
    queries: DataFrame | None = None,
) -> DataFrame:
    """Run the full contest pipeline. Returns (query_id, id, rnk);
    writes the reference's Nq×k uint32 matrix when ``out_path`` given.

    mode='hybrid' → the routed engine (BatchSearch parity);
    mode='exact'  → the brute-force oracle path (ground-truth parity,
    generate_groundtruth.cpp:4-45);
    mode='auto'   → batch-level cost choice (``engine.knn_auto``):
    small batches take the exact scan (the engine's fixed costs only
    amortize at volume), large ones the routed engine.

    ``base``/``queries``: already-decoded DataFrames to reuse instead
    of decoding the .bin paths — repeat callers (bench, a service
    answering many batches over one corpus) pass their persisted base
    so each run's clock measures the search plan, not a fresh decode
    lineage (the reference's Build/Search split, baseline.cpp:96,152)."""
    # the pipeline reads base ~6× (stats, quantizer train, bf scan,
    # index build); persist the decoded columns once — the .bin decode
    # is the expensive part, and MEMORY_AND_DISK spills rather than
    # OOMs when the corpus outgrows executor memory
    from pyspark import StorageLevel

    if base is None:
        base = bin_format.read_base_bin(spark, base_path).persist(StorageLevel.MEMORY_AND_DISK)
    if queries is None:
        queries = bin_format.read_queries_bin(spark, queries_path)
    if mode == "exact":
        result = knn.knn_exact_arrow(spark, base, queries, k=k)
    elif mode == "auto":
        result = engine.knn_auto(spark, base, queries, k=k)
    else:
        result = engine.knn_hybrid(spark, base, queries, k=k)
    if out_path is not None:
        # the header's query count keeps trailing queries with no
        # admissible row in the matrix (a 4-byte read, no job)
        n_queries = bin_format.bin_count(queries_path) if os.path.isfile(queries_path) else None
        bin_format.write_knn_bin(result, out_path, k=k, n_queries=n_queries)
    return result


def main(argv: list[str]) -> None:
    from .session import get_spark, ship_package

    base_path, queries_path, out_path = argv[:3]
    k = int(argv[3]) if len(argv) > 3 else 100
    mode = argv[4] if len(argv) > 4 else "hybrid"
    spark = get_spark("contest-run")
    ship_package(spark)
    contest_run(spark, base_path, queries_path, out_path, k=k, mode=mode)
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    import sys

    main(sys.argv[1:])
