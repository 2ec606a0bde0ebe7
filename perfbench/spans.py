"""Spans around the engine's public calls, and Spark task metrics per span.

A span sets its own Spark job group, so every job the call runs is
tagged with the layer name. After the session stops, the event log is
folded by job group: ``SparkListenerTaskEnd`` metrics sum per layer, and
job intervals give the part of each span that no job covered (driver
planning, collects, broadcast builds).

Spans do not nest: each wraps one layer call, so its self time is its wall.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

SPARK_FIELDS = (
    "jobs", "tasks", "task_run_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "spill_bytes", "gc_s",
)


class Span:
    def __init__(self, name: str, unit: str, group: str):
        self.name = name
        self.unit = unit  # "setup" or "batch": what the per-layer value is per
        self.group = group
        self.start = time.time()
        self.end = self.start

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer adds no job groups
    and no materialization, so untraced runs time the plain calls."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._seq = 0
        self._t0 = self._t1 = self._search_t = self._p0 = 0.0
        self._paused = self._paused_at_search = 0.0
        self._first_span = 0

    # -- batch clock (kept in both modes) ----------------------------------

    def batch_start(self) -> None:
        self._t0 = self._search_t = time.time()
        self._paused = self._paused_at_search = 0.0
        self._first_span = len(self.spans)

    def pause(self) -> None:
        """Start of traced-only bookkeeping that no clock should count."""
        self._p0 = time.time()

    def resume(self) -> None:
        self._paused += time.time() - self._p0

    def mark_search(self) -> None:
        self._search_t = time.time()
        self._paused_at_search = self._paused

    def batch_done(self) -> None:
        self._t1 = time.time()

    def batch_walls(self) -> tuple[float, float, list[Span]]:
        """(batch wall, search wall, spans of the batch) of the last batch."""
        wall = self._t1 - self._t0 - self._paused
        search = self._t1 - self._search_t - (self._paused - self._paused_at_search)
        return wall, search, self.spans[self._first_span:]

    @contextmanager
    def span(self, name: str, unit: str = "batch"):
        if not self.enabled:
            yield None
            return
        self._seq += 1
        group = f"{name}#{self._seq}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        sp = Span(name, unit, group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.spans.append(sp)


def fold_event_log(log_dir: str) -> tuple[dict[str, dict[str, float]], dict[str, list[tuple[float, float]]]]:
    """(per job group: summed task metrics, per job group: job intervals)."""
    # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True) if os.path.isfile(p)),
        key=lambda p: [int(t) if t.isdigit() else 0 for t in os.path.basename(p).split("_")[1:2]],
    )
    metrics: dict[str, dict[str, float]] = {}
    intervals: dict[str, list[tuple[float, float]]] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    for path in files:
        with open(path, encoding="utf-8", errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a truncated last line when the log was not closed
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jid = ev["Job ID"]
                    job_group[jid] = group
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                    metrics.setdefault(group, dict.fromkeys(SPARK_FIELDS, 0.0))["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_group:
                        intervals.setdefault(job_group[jid], []).append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if group is None or not tm:
                        continue
                    m = metrics.setdefault(group, dict.fromkeys(SPARK_FIELDS, 0.0))
                    m["tasks"] += 1
                    m["task_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    m["gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    m["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sr = tm.get("Shuffle Read Metrics") or {}
                    m["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = tm.get("Shuffle Write Metrics") or {}
                    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return metrics, intervals


def covered_s(start: float, end: float, ivs: list[tuple[float, float]]) -> float:
    """Seconds of [start, end] covered by the union of ``ivs``."""
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in ivs):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot
