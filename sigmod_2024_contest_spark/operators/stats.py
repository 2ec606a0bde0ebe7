"""Corpus statistics & selectivity estimation.

Reference: category histogram during scan (``utils.h:377-384``),
max/min category size (``utils.h:387-395``), and per-query selectivity
by binary search over sorted replicas (``hybrid_graph.cpp:176-200``).

Spark-first: the sorted replicas become a small pre-aggregated stats
table. ``(category, ts) → count`` has at most |categories|×|distinct ts|
rows — tiny next to the corpus — and is built once (``corpus_stats``).
Selectivity is the reference's binary search run against that table:
its rows ship once to the executors as sorted ts edges with prefix
sums (one set over every category, one per category), and one narrow
Arrow kernel over the queries answers each predicate with two
``searchsorted`` calls — no join, no shuffle, the query table read
once. At 100 TB the stats table is the only thing that moves; it is
the same trick as the reference's (start,count) partition maps.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..plans import workload
from ..sources.tables import TS_SQL
from . import knn


def category_counts(base: DataFrame) -> DataFrame:
    """A1: per-category histogram + fraction of corpus."""
    total = base.count()
    return base.groupBy("category").agg(F.count("*").alias("cnt")).select(
        "category",
        "cnt",
        (F.col("cnt").cast("double") / F.lit(float(total))).alias("frac"),
    )


CATEGORY_COUNTS_SQL = f"""
WITH b AS (SELECT label AS category FROM embeddings),
     t AS (SELECT count(*)::DOUBLE AS total FROM b)
SELECT category, count(*) AS cnt, count(*)::DOUBLE / (SELECT total FROM t) AS frac
FROM b GROUP BY category
"""


def cat_ts_counts(base: DataFrame, ts_bins: int | None = None) -> DataFrame:
    """The stats table selectivity arithmetic runs against:
    (category, ts) → count.

    With ``ts_bins`` the timestamp is quantized to the left edge of its
    bin — the Spark replacement for the reference's sorted-replica
    binary search (hybrid_graph.cpp:176-200): the stats table is then
    bounded by |cats|×ts_bins rows no matter the corpus size. Without
    it the table is exact but grows with |distinct ts| — fine for
    discrete timestamps, corpus-sized for continuous ones."""
    ts = F.col("ts")
    if ts_bins is not None:
        ts = F.floor(ts * ts_bins) / float(ts_bins)
    return base.groupBy("category", ts.alias("ts")).agg(F.count("*").alias("cnt"))


def corpus_stats(base: DataFrame, ts_bins: int | None = None) -> tuple[DataFrame, int]:
    """Build-phase stats handle: the cached (category, ts) histogram
    and the corpus total — the relational twin of the reference's
    sorted metadata replicas (SortDataset, hybrid_graph.cpp:505-524),
    built once alongside the index and reused by every routing pass."""
    cat_ts = cat_ts_counts(base, ts_bins).cache()
    total = cat_ts.agg(F.sum("cnt")).collect()[0][0] or 0
    return cat_ts, int(total)


def _sel_snapshot(pdf) -> dict[str, np.ndarray]:
    """The selectivity payload built from the collected (category, ts,
    cnt, ts_null) stats rows: ``ts``/``ps`` — the ts of every row with
    one, sorted, with prefix sums of the counts (the all-category set);
    ``cats`` — the sorted non-null categories, with their totals
    ``ctot`` and their rows with a ts at ``cts[lo[i]:hi[i]]``, sorted
    by ts, with prefix sums ``cps`` (the per-category sets). A null ts
    counts in the totals only — no range holds it — while a NaN ts
    sorts above every number, as Spark orders it."""
    cat = pdf["category"].to_numpy(dtype=np.float64, na_value=np.nan)
    ts = pdf["ts"].to_numpy(dtype=np.float64, na_value=np.nan)
    cnt = pdf["cnt"].to_numpy(dtype=np.int64)
    has_ts = ~pdf["ts_null"].to_numpy(dtype=bool)
    has_cat = ~np.isnan(cat)

    def prefix(c):
        return np.concatenate([[0], np.cumsum(c)]).astype(np.int64)

    o = np.argsort(ts[has_ts], kind="stable")
    cats, inv = np.unique(cat[has_cat], return_inverse=True)
    ctot = np.zeros(len(cats), np.int64)
    np.add.at(ctot, inv, cnt[has_cat])
    both = has_cat & has_ts
    co = np.lexsort((ts[both], cat[both]))
    cat_s = cat[both][co]
    return {
        "ts": ts[has_ts][o], "ps": prefix(cnt[has_ts][o]),
        "cats": cats, "ctot": ctot,
        "lo": np.searchsorted(cat_s, cats, "left"), "hi": np.searchsorted(cat_s, cats, "right"),
        "cts": ts[both][co], "cps": prefix(cnt[both][co]),
    }


def _range_count(edges: np.ndarray, ps: np.ndarray, l: np.ndarray, r: np.ndarray) -> np.ndarray:
    """Rows with ``l <= ts <= r`` (inclusive BETWEEN) over sorted
    ``edges`` and their prefix sums; an empty range (l > r) counts 0."""
    hi = ps[np.searchsorted(edges, r, "right")]
    lo = ps[np.searchsorted(edges, l, "left")]
    return np.maximum(hi - lo, 0)


def selectivity(
    base: DataFrame,
    queries: DataFrame,
    ts_bins: int | None = None,
    stats: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """A3: per-query selectivity by binary search over the stats table
    (never the corpus) — ``queries.mapInArrow`` with one kernel.

    The (category, ts) histogram ships once per application as sorted
    ts edges with prefix sums (:func:`_sel_snapshot`, cached by
    ``knn.cached_corpus_broadcast``). Per query: type 0 → N; type 1 →
    its category's total; type 2/3 → ``ps[searchsorted(edges, r,
    "right")] − ps[searchsorted(edges, l, "left")]`` over the
    all-category / the category's edges, clipped at 0. An absent
    category, a null ``v``, null bounds and ``l > r`` count 0.

    Returns the input query columns plus ``sel_num`` and ``n_total``
    (integers, so the oracle hash-matches without float care); narrow,
    so it keeps the queries' partitioning. ``ts_bins`` makes sel
    approximate within one bin's mass (routing thresholds don't care)
    while keeping the stats table bounded at scale. ``stats`` (from
    :func:`corpus_stats`) supplies the histogram and N precomputed —
    the build-once path; without it the histogram is built here, one
    corpus scan.
    """
    if stats is None:
        stats = corpus_stats(base, ts_bins)
    cat_ts, total = stats
    bc = knn.cached_corpus_broadcast(
        cat_ts.withColumn("ts_null", F.isnull("ts")),
        ("category", "ts", "cnt", "ts_null"), "sel", _sel_snapshot,
    )

    def kernel(batches):
        p = None if bc is None else bc.value
        for b in batches:
            def num(name, fill):
                return pc.fill_null(pc.cast(b.column(name), pa.float64()), fill).to_numpy()

            qt, v, l, r = num("query_type", -1.0), num("v", np.nan), num("l", 0.0), num("r", 0.0)
            bounded = pc.and_(pc.is_valid(b.column("l")), pc.is_valid(b.column("r")))
            bounded = bounded.to_numpy(zero_copy_only=False)
            sel = np.where(qt == 0, total, 0).astype(np.int64)
            if p is not None:
                m = (qt == 2) & bounded
                sel[m] = _range_count(p["ts"], p["ps"], l[m], r[m])
                cats = p["cats"]
                ci = np.searchsorted(cats, v)
                hit = ((qt == 1) | ((qt == 3) & bounded)) & (ci < len(cats))
                hit[hit] = cats[ci[hit]] == v[hit]
                m1 = hit & (qt == 1)
                sel[m1] = p["ctot"][ci[m1]]
                for c in np.unique(ci[hit & (qt == 3)]):
                    s, e = p["lo"][c], p["hi"][c]
                    m3 = hit & (ci == c) & (qt == 3)
                    sel[m3] = _range_count(p["cts"][s:e], p["cps"][s : e + 1], l[m3], r[m3])
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(sel), pa.array(np.full(len(sel), total, np.int64))],
                names=b.schema.names + ["sel_num", "n_total"],
            )

    schema = StructType(
        queries.schema.fields
        + [StructField("sel_num", LongType()), StructField("n_total", LongType())]
    )
    return queries.mapInArrow(kernel, schema)


def selectivity_sql(ts_bins: int | None = None) -> str:
    ts = TS_SQL
    if ts_bins is not None:
        ts = f"(floor({TS_SQL} * {ts_bins}) / {float(ts_bins)})"
    return f"""
WITH b AS (
  SELECT label AS category, {ts} AS ts, count(*) AS cnt
  FROM embeddings GROUP BY 1, 2
),
q AS ({workload.queries_cte_sql()}),
t AS (SELECT count(*) AS total FROM embeddings)
SELECT q.query_id, q.query_type,
       COALESCE(SUM(b.cnt), 0)::BIGINT AS sel_num,
       (SELECT total FROM t)::BIGINT AS n_total
FROM q LEFT JOIN b ON {workload.PREDICATE_SQL}
GROUP BY q.query_id, q.query_type
"""
