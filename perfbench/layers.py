"""Per-layer metrics of a traced run.

Layer walls are span self times, as a mean per traced set-up (set-up
layers) or per traced batch (the other layers); ``engine.compact_s`` is
per compaction. Counters recorded by the workload are means per
recording. Spark task metrics come from the event log, folded by job
group into one family per layer.
"""

from __future__ import annotations

import statistics

import spans as S

# span name → (wall metric, spark family)
LAYERS = {
    "bin_format.decode": ("bin_format.decode_s", "bin_format.decode"),
    "bin_format.query_decode": ("bin_format.query_decode_s", "bin_format"),
    "bin_format.write": ("bin_format.write_s", "bin_format"),
    "stats.corpus_stats": ("stats.corpus_stats_s", "stats"),
    "quantization.train_alpha": ("quantization.train_alpha_s", "quantization"),
    "engine.build": ("engine.build_s", "engine.build"),
    "routing.route_plan": ("routing.route_plan_s", "routing"),
    "bruteforce_sq8.scan": ("bruteforce_sq8.scan_s", "bruteforce_sq8"),
    "engine.graph_search": ("engine.graph_search_s", "engine.graph_search"),
    "knn.rerank": ("knn.rerank_s", "knn.rerank"),
    "knn.exact_scan": ("knn.exact_scan_s", "knn.exact_scan"),
    "engine.upsert": ("engine.upsert_s", "engine.ingest"),
    "engine.compaction_check": ("engine.compaction_check_s", "engine.ingest"),
    "engine.compact": ("engine.compact_s", "engine.ingest"),
}
SETUP_FAMILIES = {"bin_format.decode", "stats", "quantization", "engine.build"}
FAMILIES = sorted({fam for _, fam in LAYERS.values()})

# counter name → unit
COUNTERS = {
    "bin_format.rows_decoded": "count",
    "engine.shards_built": "count",
    "engine.graph_shards": "count",
    "engine.index_rows": "count",
    "routing.queries_bf": "count",
    "routing.queries_cat_graph": "count",
    "routing.queries_time_graph": "count",
    "routing.queries_global_graph": "count",
    "bruteforce_sq8.rows_scanned": "count",
    "engine.assignments": "count",
    "engine.candidates": "count",
    "knn.pool_rows_in": "count",
    "knn.pool_keep_ratio": "ratio",
    "knn.plan_corpus_bc": "count",
    "engine.shards_rebuilt": "count",
    "engine.rows_rebuilt_per_row_in": "ratio",
    "engine.compactions": "count",
}
SPARK_UNITS = {
    "jobs": "count", "tasks": "count", "task_run_s": "s", "shuffle_write_bytes": "bytes",
    "shuffle_read_bytes": "bytes", "spill_bytes": "bytes", "gc_s": "s",
}


def catalog() -> list[dict]:
    """Every per-layer metric as (name, unit, better), for BENCHMARK.json."""
    out = [{"name": m, "unit": "s", "better": "lower"} for m, _ in LAYERS.values()]
    for name, unit in COUNTERS.items():
        better = "higher" if name in ("knn.pool_keep_ratio", "knn.plan_corpus_bc") else "lower"
        out.append({"name": name, "unit": unit, "better": better})
    out += [
        {"name": "bruteforce_sq8.rows_per_s", "unit": "rows/s", "better": "higher"},
        {"name": "driver.outside_jobs_s", "unit": "s", "better": "lower"},
        {"name": "trace_overhead_s", "unit": "s", "better": "lower"},
        {"name": "trace.batch_wall_s", "unit": "s", "better": "lower"},
        {"name": "trace.self_time_share", "unit": "ratio", "better": "higher"},
        {"name": "upsert_p50_s", "unit": "s", "better": "lower"},
        {"name": "ingest_rows_per_s", "unit": "rows/s", "better": "higher"},
    ]
    for fam in FAMILIES:
        for field, unit in SPARK_UNITS.items():
            out.append({"name": f"spark.{fam}.{field}", "unit": unit, "better": "lower"})
    return out


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def fold(wl, tracer, traced, untraced, log_dir: str) -> dict:
    units = {"batch": max(len(traced), 1), "setup": max(wl.spec["setup_reps"], 1)}
    batch_spans = [sp for _, _, _, sps in traced for sp in sps]
    setup_spans = [sp for sp in tracer.spans if sp.unit == "setup"]
    out: dict[str, dict] = {}
    for name, (metric, _) in LAYERS.items():
        pool = setup_spans if any(sp.name == name for sp in setup_spans) else batch_spans
        unit = "setup" if pool is setup_spans else "batch"
        total = sum(sp.wall for sp in pool if sp.name == name)
        out[metric] = _m(total / units[unit], "s")
    # compaction is rare (the untraced warm-up batch carries it): per
    # compaction, from the workload's own timer
    compacts = wl.counters.get("engine.compact_s", [])
    out["engine.compact_s"] = _m(statistics.fmean(compacts) if compacts else 0.0, "s")
    for name, unit in COUNTERS.items():
        vals = wl.counters.get(name, [])
        out[name] = _m(statistics.fmean(vals) if vals else 0.0, unit)
    rows = sum(wl.counters.get("bruteforce_sq8.rows_scanned", []))
    scan_s = sum(sp.wall for sp in batch_spans if sp.name == "bruteforce_sq8.scan")
    out["bruteforce_sq8.rows_per_s"] = _m(rows / scan_s if scan_s else 0.0, "rows/s")

    metrics, intervals = S.fold_event_log(log_dir)
    outside = sum(
        sp.wall - S.covered_s(sp.start, sp.end, intervals.get(sp.group, []))
        for sp in batch_spans
    )
    out["driver.outside_jobs_s"] = _m(outside / units["batch"], "s")
    t_walls = [w for w, _, _, _ in traced]
    u_walls = [w for w, _, _, _ in untraced]
    t_med = statistics.median(t_walls) if t_walls else 0.0
    u_med = statistics.median(u_walls) if u_walls else 0.0
    out["trace_overhead_s"] = _m(t_med - u_med if t_walls and u_walls else 0.0, "s")
    out["trace.batch_wall_s"] = _m(t_med, "s")
    self_total = sum(sp.wall for sp in batch_spans)
    out["trace.self_time_share"] = _m(self_total / sum(t_walls) if t_walls else 0.0, "ratio")
    # ingest folds, from the untraced batches of this run
    n_untraced = len(untraced)
    folds = wl.counters.get("ingest.fold_s", [])
    rows_in = wl.counters.get("ingest.rows", [])
    # the warm-up fold comes first; the untraced batches follow it
    fold_walls = folds[1: 1 + n_untraced]
    fold_rows = rows_in[1: 1 + n_untraced]
    out["upsert_p50_s"] = _m(statistics.median(fold_walls) if fold_walls else 0.0, "s")
    out["ingest_rows_per_s"] = _m(
        sum(fold_rows) / sum(fold_walls) if fold_walls else 0.0, "rows/s"
    )

    fam_of = {name: fam for name, (_, fam) in LAYERS.items()}
    group_fam = {sp.group: fam_of[sp.name] for sp in setup_spans + batch_spans}
    totals = {fam: dict.fromkeys(S.SPARK_FIELDS, 0.0) for fam in FAMILIES}
    for group, m in metrics.items():
        fam = group_fam.get(group)
        if fam is None:
            continue
        for field in S.SPARK_FIELDS:
            totals[fam][field] += m[field]
    for fam in FAMILIES:
        per = units["setup" if fam in SETUP_FAMILIES else "batch"]
        for field, unit in SPARK_UNITS.items():
            out[f"spark.{fam}.{field}"] = _m(totals[fam][field] / per, unit)
    return out
