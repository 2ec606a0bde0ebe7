"""Cost-based query routing + interval decomposition.

Reference: the miniature cost-based optimizer inside ``BatchSearch``
(``/root/reference/hybrid_graph.cpp:147-230``): estimate selectivity,
answer by brute force when ``sel < bf_thr`` (0.045; 0.08 for type 3,
``hybrid_graph.h:78-79``), otherwise dispatch to the category graph
(type 1/3, only for categories ≥ 4.5 % of N, ``utils.h:350``) or the
per-decile time graphs (type 0/2). ``SplitInterval``
(``hybrid_graph.cpp:91-134``) decomposes a time range into per-decile
sub-predicates tagged SMALL / MEDIUM / FULL.

Spark-first: routing is a computed column (``F.when`` ladder) appended
to the selectivity kernel's output, so the route plan is the batch's
one query table — the query columns plus ``sel_num``, ``n_total`` and
``route``, computed in one narrow pass. Each route becomes a filtered
branch of that table the engine executes with its own physical
strategy. Catalyst cannot make this choice (it plans joins, not ANN
strategies) — this is the one planner the engine adds on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans import workload
from .stats import selectivity

# Reference thresholds (hybrid_graph.h:78-79, utils.h:350, hybrid_graph.h:54)
BF_THR = 0.045
BF_THR_T3 = 0.08
CAT_GRAPH_THR = 0.045
DECILE_SMALL_THR = 0.2
DECILE_SMALL_THR_LOWSEL = 0.5
LOWSEL = 0.2

ROUTE_BF = "bf"
ROUTE_CAT_GRAPH = "cat_graph"
ROUTE_TIME_GRAPH = "time_graph"
ROUTE_GLOBAL_GRAPH = "global_graph"

# ts histogram resolution for routing selectivity: bin mass ≈ 0.1 % of
# the corpus — far below every routing threshold — while keeping the
# stats table bounded at |cats|×1000 rows for any corpus size (the
# reference's sorted-replica binary search, as a histogram).
ROUTING_TS_BINS = 1000


def route_plan(
    base: DataFrame,
    queries: DataFrame,
    ts_bins: int | None = ROUTING_TS_BINS,
    stats: tuple[DataFrame, int] | None = None,
    dim: int | None = None,  # kept for perfbench only; ignored
) -> DataFrame:
    """The routed query table: the ``queries`` columns plus
    ``sel_num``, ``n_total`` and ``route`` — one narrow pass over the
    queries (no join, no exchange). Persist it and hand it to
    ``engine.knn_hybrid(plan=...)``: the engine reads every query row
    from it.

    sel < bf_thr → brute force over the predicate slice;
    type 1/3 above threshold → that category's graph;
    type 2 above threshold → decile graphs (SplitInterval downstream);
    type 0 → global/decile graphs.

    The route is the reference's logical ladder only: which physical
    plan answers it is ``engine.search_side``'s choice, made from the
    corpus size alone.
    """
    sel = selectivity(base, queries, ts_bins=ts_bins, stats=stats)
    frac = F.col("sel_num").cast("double") / F.col("n_total").cast("double")
    thr = F.when(F.col("query_type") == 3, F.lit(BF_THR_T3)).otherwise(F.lit(BF_THR))
    route = (
        F.when(frac < thr, F.lit(ROUTE_BF))
        .when(F.col("query_type").isin(1, 3), F.lit(ROUTE_CAT_GRAPH))
        .when(F.col("query_type") == 2, F.lit(ROUTE_TIME_GRAPH))
        .otherwise(F.lit(ROUTE_GLOBAL_GRAPH))
    )
    return sel.withColumn("route", route)


def route_plan_sql(ts_bins: int | None = ROUTING_TS_BINS) -> str:
    from .stats import selectivity_sql

    return f"""
WITH sel AS ({selectivity_sql(ts_bins)})
SELECT query_id, query_type, sel_num, n_total,
       CASE
         WHEN sel_num::DOUBLE / n_total::DOUBLE <
              (CASE WHEN query_type = 3 THEN {BF_THR_T3} ELSE {BF_THR} END) THEN '{ROUTE_BF}'
         WHEN query_type IN (1, 3) THEN '{ROUTE_CAT_GRAPH}'
         WHEN query_type = 2 THEN '{ROUTE_TIME_GRAPH}'
         ELSE '{ROUTE_GLOBAL_GRAPH}'
       END AS route
FROM sel
"""


# ---------------------------------------------------------------------------
# SplitInterval (F6)
# ---------------------------------------------------------------------------

TAG_SMALL = "SMALL"
TAG_MEDIUM = "MEDIUM"
TAG_FULL = "FULL"


def split_interval(queries: DataFrame, small_thr: float = DECILE_SMALL_THR) -> DataFrame:
    """Decompose each type-2/3 range query's [l, r] into overlapped
    deciles with coverage tags (hybrid_graph.cpp:91-134).

    Returns (query_id, decile, coverage_ppm, tag): FULL when the decile
    is entirely inside [l, r]; else SMALL if the covered fraction of
    the decile < small_thr (→ brute-force the slice) else MEDIUM
    (→ in-filter graph search). coverage is emitted as ppm (integer)
    so the oracle comparison never touches float hashing.
    """
    q = queries.filter(F.col("query_type").isin(2, 3))
    d = F.col("decile").cast("double")
    lo, hi = d / 10.0, (d + 1.0) / 10.0
    overlap = F.least(F.col("r"), hi) - F.greatest(F.col("l"), lo)
    cov = overlap / F.lit(0.1)
    exploded = q.select("query_id", "l", "r", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("decile"))
    return (
        exploded.filter((lo < F.col("r")) & (hi > F.col("l")))
        .select(
            "query_id",
            F.col("decile").cast("long").alias("decile"),
            F.floor(cov * 1e6).cast("long").alias("coverage_ppm"),
            F.when((F.col("l") <= lo) & (F.col("r") >= hi), F.lit(TAG_FULL))
            .when(cov < F.lit(small_thr), F.lit(TAG_SMALL))
            .otherwise(F.lit(TAG_MEDIUM))
            .alias("tag"),
        )
    )


def split_interval_sql(small_thr: float = DECILE_SMALL_THR) -> str:
    return f"""
WITH q AS ({workload.queries_cte_sql()}),
d AS (SELECT unnest(range(0, 10)) AS decile),
x AS (
  SELECT q.query_id, d.decile, q.l, q.r,
         d.decile::DOUBLE / 10.0 AS lo,
         (d.decile::DOUBLE + 1.0) / 10.0 AS hi
  FROM q, d
  WHERE q.query_type IN (2, 3)
    AND d.decile::DOUBLE / 10.0 < q.r
    AND (d.decile::DOUBLE + 1.0) / 10.0 > q.l
)
SELECT query_id, decile::BIGINT AS decile,
       CAST(floor((least(r, hi) - greatest(l, lo)) / 0.1 * 1e6) AS BIGINT) AS coverage_ppm,
       CASE
         WHEN l <= lo AND r >= hi THEN '{TAG_FULL}'
         WHEN (least(r, hi) - greatest(l, lo)) / 0.1 < {small_thr} THEN '{TAG_SMALL}'
         ELSE '{TAG_MEDIUM}'
       END AS tag
FROM x
"""
