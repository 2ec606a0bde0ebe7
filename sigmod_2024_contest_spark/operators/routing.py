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

# Cost-based addition to the reference ladder: a type-0 query has no
# predicate, so its "graph" route fans out to EVERY decile shard. When
# the corpus is small enough for the bf branch's fused corpus-broadcast
# plan (one zero-shuffle GEMM kernel: SQ8 cut to refine_k + exact
# re-rank — recall-gated, same posture as the scan twin), that plan
# strictly dominates the fan-out, so route type-0 to bf below this
# corpus size. Above it type-0 keeps the reference's graph route —
# measured r5 at 500k×2048 (both directions): sending type-0 through
# the bf SCAN plan instead costs +12.5 s of candidate-window + re-rank
# shuffle against only −5 s of saved beam work, so the graph fan-out
# wins wall-clock even with a ~3 ms/shard Python beam constant — but
# when the FUSED plan applies (zero-shuffle, no candidate window;
# re-measured r6 post kernel fix via tools/measure_bf_pair.py at
# commit 9f5e074: 10.5 s
# fused vs 24.0-38.5 s scan for the same bf queries at 500k×64), bf
# dominates again. The bound is therefore exactly fused-plan
# applicability: ``knn.bc_rows_bound(dim)`` — byte-based when the
# caller passes the vector width (route_plan(dim=...)), else this
# row-count default. Kept in lockstep with knn.CORPUS_BC_MAX_ROWS
# (imported, not duplicated): the rule is only valid while the fused
# corpus-broadcast plan actually applies, and callers must pass the
# SAME dim to route_plan and to the engine so the ladder and the bf
# branch agree on which plan serves the route.
from .knn import CORPUS_BC_MAX_ROWS as BF_ALL_MAX_ROWS

# r12 re-calibration (r11 verdict #6: the 500k warm probe searched
# SLOWER than 1M because type-0 queries routed to the fused bf at
# 500k×dim64 = 32M cells). Fused-plan applicability (bc_rows_bound =
# 40M cells) is necessary but NOT sufficient: the fused kernel must
# also BEAT the decile-graph fan-out, and that crossover is lower.
# Measured (tools/sweep_router_crossover.py at commit 9f5e074, nq=2048,
# in-run interleaved pairs, min-of-2, idle host):
#   250k×64 = 16M cells: bf 52.4 s vs graph 66.2 s  → bf wins
#   500k×64 = 32M cells: bf 90.9 s vs graph 54.9 s  → graph wins
#   1M×64   = 64M cells: bf 88.6 s vs graph 54.0 s  → graph wins
# 24M cells splits the measured win/loss points; BF_ALL_MAX_ROWS
# stays the floor (at ≤200k rows the fused kernel won at every dim
# measured) and bc_rows_bound stays the ceiling (above it the bf
# route would run the SCAN plan for type-0 — strictly dominated).
T0_BF_MAX_CELLS = 24_000_000


def t0_bf_rows_bound(dim: int | None) -> int:
    """Max corpus rows below which a type-0 (no-predicate) query
    routes to the fused corpus-broadcast bf instead of the
    decile-graph fan-out."""
    from .knn import bc_rows_bound

    if dim is None:
        return BF_ALL_MAX_ROWS
    return max(BF_ALL_MAX_ROWS, min(bc_rows_bound(dim), T0_BF_MAX_CELLS // int(dim)))

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
    dim: int | None = None,
) -> DataFrame:
    """The routed query table: the ``queries`` columns plus
    ``sel_num``, ``n_total`` and ``route`` — one narrow pass over the
    queries (no join, no exchange). Persist it and hand it to
    ``engine.knn_hybrid(plan=...)``: the engine reads every query row
    from it.

    sel < bf_thr → brute force over the predicate slice;
    type 1/3 above threshold → that category's graph;
    type 2 above threshold → decile graphs (SplitInterval downstream);
    type 0 → global/decile graphs; type 0 takes bf instead while the
    corpus is within the measured crossover ``t0_bf_rows_bound(dim)``.
    """
    sel = selectivity(base, queries, ts_bins=ts_bins, stats=stats)
    frac = F.col("sel_num").cast("double") / F.col("n_total").cast("double")
    thr = F.when(F.col("query_type") == 3, F.lit(BF_THR_T3)).otherwise(F.lit(BF_THR))
    bound = t0_bf_rows_bound(dim)
    route = (
        F.when(frac < thr, F.lit(ROUTE_BF))
        .when(
            (F.col("query_type") == 0) & (F.col("n_total") <= bound),
            F.lit(ROUTE_BF),
        )
        .when(F.col("query_type").isin(1, 3), F.lit(ROUTE_CAT_GRAPH))
        .when(F.col("query_type") == 2, F.lit(ROUTE_TIME_GRAPH))
        .otherwise(F.lit(ROUTE_GLOBAL_GRAPH))
    )
    return sel.withColumn("route", route)


def route_plan_sql(ts_bins: int | None = ROUTING_TS_BINS, dim: int | None = None) -> str:
    from .stats import selectivity_sql

    return f"""
WITH sel AS ({selectivity_sql(ts_bins)})
SELECT query_id, query_type, sel_num, n_total,
       CASE
         WHEN sel_num::DOUBLE / n_total::DOUBLE <
              (CASE WHEN query_type = 3 THEN {BF_THR_T3} ELSE {BF_THR} END) THEN '{ROUTE_BF}'
         WHEN query_type = 0 AND n_total <= {t0_bf_rows_bound(dim)} THEN '{ROUTE_BF}'
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
