"""Route-plan EXPLAIN surface: render the hybrid engine's per-query
decisions — route, physical side, shard fan-out, rows scanned — as an
inspectable DataFrame plus a text report.

The reference prints per-query diagnostics at search time
(``getquery.cpp``'s timing/route dumps); here the cost model is
DECLARATIVE, so the same decisions can be rendered *before* running
anything: the route ladder (`routing.route_plan`), the side rule
(`engine.search_side`) and the shard plan (`engine._shard_plan`
metadata math) are pure functions of corpus statistics, and every
shard a query is assigned to is scanned whole by its code GEMM. This
module composes exactly those functions — no re-implementation, so the
report cannot drift from what the engine executes.

Scale shape: everything driver-side here is planning metadata (the
slice catalog, ≤ 1/cat_thr + 10 rows); the per-query table stays
distributed. The kernel loops Python rows *inside* mapInPandas —
acceptable here and only here because this is a diagnostics surface
sized to the query batch being explained (the reference's analogue is
a per-query printf), NOT a corpus-sized operator.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import engine, knn, routing
from ..operators.engine import MAX_NODES_PER_GRAPH, SHARD_REFINE_MULT
from . import workload


def _slice_counts(base: DataFrame, cat_thr: float) -> dict[str, int]:
    """{prefix: row count} for every slice that owns index shards —
    the same one-scan bounded aggregation `_shard_plan` runs, kept as
    counts (the shard plan is ceil(cnt / max_nodes) of this)."""
    dec = F.least(F.floor(F.col("ts") * 10).cast("int"), F.lit(9))
    both = (
        base.select(
            F.explode(
                F.array(
                    F.struct(F.lit("cat").alias("kind"), F.col("category").cast("long").alias("key")),
                    F.struct(F.lit("dec").alias("kind"), dec.cast("long").alias("key")),
                )
            ).alias("m")
        )
        .groupBy(F.col("m.kind").alias("kind"), F.col("m.key").alias("key"))
        .agg(F.count("*").alias("cnt"))
    )
    total = both.filter(F.col("kind") == "dec").agg(F.sum("cnt").alias("total"))
    rows = (
        both.crossJoin(F.broadcast(total))
        .filter((F.col("kind") == "dec") | (F.col("cnt") >= F.lit(cat_thr) * F.col("total")))
        .collect()
    )
    return {f"{r['kind']}:{r['key']}": int(r["cnt"]) for r in rows}


EXPLAIN_SCHEMA = (
    "query_id long, query_type int, route string, side string, sel_ppm long, "
    "n_shards int, rows_scanned long, est_candidates long"
)


def explain_routes(
    spark: SparkSession,
    sf_dir: str,
    k: int = workload.K,
    cat_thr: float = routing.CAT_GRAPH_THR,
    max_nodes: int = MAX_NODES_PER_GRAPH,
) -> DataFrame:
    """One row per workload query: the route the ladder picks, the
    physical plan the engine runs (``side``, ``engine.search_side``),
    how many index shards the search will fan out to, the rows it
    scores and the candidate volume the refine stage will see.

    ``corpus_bc`` side: no shard is probed (n_shards=0); the fused
    kernel scores the predicate slice (rows_scanned=sel_num) and cuts it
    to its one depth (est_candidates=min(sel, engine.fused_refine_k(k)),
    whatever the route).
    ``shards`` side: bf routes report n_shards=0, rows_scanned=0 and
    est_candidates=sel (the bf GEMM scans the predicate slice exactly
    once); shard routes report the summed row counts of their shards
    (inside them the predicate-sliced kernel scores only the rows the
    predicate admits) and n_shards × ceil(1.5k) candidates
    (`SHARD_REFINE_MULT`)."""
    from ..sources.tables import base_vectors

    base = base_vectors(spark, sf_dir)
    queries = workload.queries_df(spark, sf_dir)
    dim = len(base.select("vec").head()["vec"])
    plan = routing.route_plan(base, queries)
    counts = _slice_counts(base, cat_thr)
    shards = {p: math.ceil(c / max_nodes) for p, c in counts.items()}
    # deciles partition the corpus: their counts sum to its rows
    side = engine.search_side(sum(c for p, c in counts.items() if p.startswith("dec:")), dim)

    def prefixes(row) -> list[str]:
        t, route = row["query_type"], row["route"]
        if route == routing.ROUTE_BF:
            return []
        if t in (1, 3):
            p = f"cat:{int(row['v'])}"
            return [p] if p in shards else []
        if t == 2:
            # the engine's decile formula: a row sits in
            # least(floor(ts·10), 9); an empty interval probes none
            if row["l"] > row["r"]:
                return []
            lo = min(max(int(math.floor(row["l"] * 10)), 0), 9)
            hi = min(max(int(math.floor(row["r"] * 10)), 0), 9)
            cand = [f"dec:{d}" for d in range(lo, hi + 1)]
        else:
            cand = [f"dec:{d}" for d in range(10)]
        # an empty slice owns no shards; the engine's broadcast-catalog
        # join drops those (query, prefix) pairs the same way
        return [p for p in cand if p in shards]

    refine_k = int(math.ceil(SHARD_REFINE_MULT * k))
    fused_k = engine.fused_refine_k(k)

    def kernel(pdfs):
        for pdf in pdfs:
            out = {c: [] for c in (
                "query_id", "query_type", "route", "sel_ppm",
                "n_shards", "rows_scanned", "est_candidates",
            )}
            for _, row in pdf.iterrows():
                t = int(row["query_type"])
                sel = int(row["sel_num"])
                if side == engine.SIDE_CORPUS_BC:
                    n_sh, rows, est = 0, sel, min(sel, fused_k)
                else:
                    pref = prefixes(row)
                    n_sh = sum(shards[p] for p in pref)
                    # a slice's shards split its rows disjointly (id % ns)
                    rows = sum(counts[p] for p in pref)
                    est = sel if not pref else n_sh * refine_k
                out["query_id"].append(int(row["query_id"]))
                out["query_type"].append(t)
                out["route"].append(row["route"])
                out["sel_ppm"].append(
                    int(round(1_000_000 * sel / row["n_total"])) if row["n_total"] else 0
                )
                out["n_shards"].append(n_sh)
                out["rows_scanned"].append(rows)
                out["est_candidates"].append(est)
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out["query_id"], dtype=np.int64),
                    "query_type": np.asarray(out["query_type"], dtype=np.int32),
                    "route": out["route"],
                    "side": [side] * len(out["route"]),
                    "sel_ppm": np.asarray(out["sel_ppm"], dtype=np.int64),
                    "n_shards": np.asarray(out["n_shards"], dtype=np.int32),
                    "rows_scanned": np.asarray(out["rows_scanned"], dtype=np.int64),
                    "est_candidates": np.asarray(out["est_candidates"], dtype=np.int64),
                }
            )

    # the route plan carries the query columns (v, l, r) itself
    return plan.drop("qvec").mapInPandas(kernel, EXPLAIN_SCHEMA)


def render_route_report(
    spark: SparkSession, sf_dir: str, k: int = workload.K
) -> str:
    """Aggregate the per-query explain table to a text report — the
    `getquery.cpp` diagnostics analogue: the side the engine runs, then
    route mix, selectivity bands, fan-out and rows scanned per
    (route, type), plus the shard catalog."""
    from ..sources.tables import base_vectors

    ex = explain_routes(spark, sf_dir, k=k)
    agg = (
        ex.groupBy("route", "query_type")
        .agg(
            F.count("*").alias("n"),
            F.min("sel_ppm").alias("sel_lo"),
            F.max("sel_ppm").alias("sel_hi"),
            F.avg("n_shards").alias("fan"),
            F.min("rows_scanned").alias("rows_lo"),
            F.max("rows_scanned").alias("rows_hi"),
            F.sum("est_candidates").alias("cands"),
        )
        .orderBy("route", "query_type")
        .collect()
    )
    base = base_vectors(spark, sf_dir)
    counts = _slice_counts(base, routing.CAT_GRAPH_THR)
    dim = len(base.select("vec").first()[0])
    fused_rows = knn.bc_rows_bound(dim)
    n_rows = sum(c for p, c in counts.items() if p.startswith("dec:"))
    lines = [
        f"ROUTE PLAN  k={k}  sf_dir={sf_dir}",
        f"  thresholds: bf<{routing.BF_THR} (type3 <{routing.BF_THR_T3}),"
        f" cat-graph>={routing.CAT_GRAPH_THR}, max_nodes/shard={MAX_NODES_PER_GRAPH}",
        f"  fused-plan bound: corpus <= {fused_rows} rows at dim={dim} "
        f"(knn.bc_rows_bound: the corpus broadcast cap of the fused kernel)",
        f"  side: {engine.search_side(n_rows, dim)} (corpus {n_rows} rows; "
        f"{engine.SIDE_CORPUS_BC} = one fused SQ8 kernel cut to "
        f"{engine.fused_refine_k(k)} rows for every route; "
        f"{engine.SIDE_SHARDS} = bf branch + shard fan-out)",
        "",
        f"  {'route':<14}{'type':>4}{'queries':>9}{'sel_ppm':>18}"
        f"{'fanout':>8}{'rows':>16}{'candidates':>12}",
    ]
    for r in agg:
        sel = f"{r['sel_lo']}..{r['sel_hi']}"
        rows = "-" if r["rows_hi"] == 0 else f"{r['rows_lo']}..{r['rows_hi']}"
        lines.append(
            f"  {r['route']:<14}{r['query_type']:>4}{r['n']:>9}{sel:>18}"
            f"{r['fan']:>8.1f}{rows:>16}{r['cands']:>12}"
        )
    lines += ["", "SHARD CATALOG (slice -> rows, shards)"]
    for p in sorted(counts):
        ns = math.ceil(counts[p] / MAX_NODES_PER_GRAPH)
        lines.append(f"  {p:<10} {counts[p]:>10} rows  {ns:>3} shard(s)")
    return "\n".join(lines)
