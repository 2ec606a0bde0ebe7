"""Sorted-replica layout prep (S3) + index persistence (S8/S9).

Reference: ``ReadSortedBaseTimestamp`` (``/root/reference/
utils.h:352-479``) materializes three sorted replicas of the base table
plus (start,count) partition maps. The Spark-native equivalent is a
one-time prep job that writes the corpus as *partitioned, sorted
Parquet*: Hive partition directories replace the manual maps (partition
pruning does the (start,count) lookup), and ``sortWithinPartitions``
gives Parquet row-group min/max skipping inside each directory — the
same binary-search property, but distributed and spill-safe.

Index persistence mirrors the reference's index save/load
(``graph.hpp:101-137``): the index is already a DataFrame (one row per
shard member with its SQ8 codes), so save/load are plain Parquet
round-trips partitioned by the shard key — loading one shard touches
exactly one directory.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def decile_expr() -> F.Column:
    return F.least(F.floor(F.col("ts") * 10).cast("int"), F.lit(9))


def write_replicas(base: DataFrame, out_dir: str, alpha: float | None = None) -> None:
    """S3 + B10: write the two clustered replicas.

    - ``by_category/category=<v>/`` sorted by ts within each category
      (serves type-1/3 — reference replica 1, utils.h:403-414)
    - ``by_decile/decile=<d>/`` sorted by ts within each decile
      (serves type-0/2 — reference replica 3, utils.h:429-434)

    ``repartition(pkey)`` puts each partition's rows in one task before
    the write, so every Hive directory holds few, fully-sorted files.

    With ``alpha`` given, each replica also carries the SQ8 ``codes``
    column — the reference's ``codes_both``/``codes_time`` replicas
    (``hybrid_graph.cpp:505-524``), which let its brute-force phase
    scan codes instead of float vectors. The Spark expression of the
    same idea is one replica with BOTH columns: Parquet column pruning
    makes a codes-only projection read only the codes pages (¼ the
    bytes of the float column), so one copy serves the float re-rank
    and the quantized candidate scan. Codes are stored as
    ``array<tinyint>`` ([−127, 127] fits exactly; lossless round-trip).
    """
    if alpha is not None:
        from ..functions import quantization as Q

        base = base.withColumn(
            "codes", Q.encode_expr("vec", alpha).cast("array<tinyint>")
        )
    (
        base.repartition("category")
        .sortWithinPartitions("ts", "id")
        .write.mode("overwrite")
        .partitionBy("category")
        .parquet(os.path.join(out_dir, "by_category"))
    )
    (
        base.withColumn("decile", decile_expr())
        .repartition("decile")
        .sortWithinPartitions("ts", "id")
        .write.mode("overwrite")
        .partitionBy("decile")
        .parquet(os.path.join(out_dir, "by_decile"))
    )


def read_codes_base(spark: SparkSession, out_dir: str) -> DataFrame:
    """B10: the codes-only brute-force scan surface — the by_decile
    replica projected to (id, category, ts, codes). Column pruning
    keeps the float ``vec`` pages unread (assert via ReadSchema in
    tests); requires ``write_replicas(..., alpha=...)``."""
    df = spark.read.parquet(os.path.join(out_dir, "by_decile"))
    return df.select("id", "category", "ts", "codes")


def read_category_slice(spark: SparkSession, out_dir: str, v: int) -> DataFrame:
    """F2 via partition pruning: the filter prunes to one directory
    (verify with .explain → PartitionFilters)."""
    df = spark.read.parquet(os.path.join(out_dir, "by_category"))
    return df.filter(F.col("category") == v)


def read_decile_range(spark: SparkSession, out_dir: str, l: float, r: float) -> DataFrame:
    """F3 via partition pruning + row-group skip: decile directories
    overlapping [l, r] are read, the residual ts filter is pushed to
    Parquet (sorted row groups → min/max skip)."""
    df = spark.read.parquet(os.path.join(out_dir, "by_decile"))
    lo, hi = int(l * 10), min(int(r * 10), 9)
    return df.filter(F.col("decile").between(lo, hi) & F.col("ts").between(l, r))


def save_index(index: DataFrame, path: str) -> None:
    """S8: persist the index partitioned by pkey."""
    index.write.mode("overwrite").partitionBy("pkey").parquet(path)


def load_index(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    # partitionBy writes pkey as a partition column at the end; restore
    # the canonical column order of engine.INDEX_SCHEMA
    return df.select("pkey", "id", "category", "ts", "codes")
