"""Structured Streaming: the batch-registered bodies must produce the
same results when run as streams (file source → memory sink), and the
custom stateful operator must converge to the batch semantics."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from sigmod_2024_contest_spark import api
from sigmod_2024_contest_spark.sources.tables import load_table
from sigmod_2024_contest_spark.streaming import pipeline as P

from conftest import SF_SMOKE, assert_matches_oracle, duck_con, force_shard_plan


@pytest.fixture()
def events_dir(spark, tmp_path):
    """Events split into 4 time-ordered parquet files so the stream
    sees multiple micro-batches arriving roughly in event-time order
    (files are written sequentially: the file source picks them up
    oldest-modification first, so arrival order ≈ event time and the
    watermark never drops whole chunks — the realistic regime)."""
    import time

    out = str(tmp_path / "events_in")
    os.makedirs(out)
    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "tsl", F.unix_micros("ts")
    ).cache()
    ts_q = ev.approxQuantile("tsl", [0.25, 0.5, 0.75], 0.0)
    lo = None
    for i, hi in enumerate(ts_q + [None]):
        part = ev
        if lo is not None:
            part = part.filter(F.col("tsl") > lo)
        if hi is not None:
            part = part.filter(F.col("tsl") <= hi)
        part = part.drop("tsl")
        part.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"chunk{i}"))
        src = next(
            f for f in os.listdir(str(tmp_path / f"chunk{i}")) if f.endswith(".parquet")
        )
        shutil.copy(str(tmp_path / f"chunk{i}" / src), os.path.join(out, f"part-{i}.parquet"))
        time.sleep(1.1)  # distinct mtimes → deterministic pickup order
        lo = hi
    return out


def _run_stream(spark, sdf, mode: str, name: str):
    q = sdf.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_counts_batch_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["events_windowed_counts"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["events_windowed_counts"])


def test_sessionized_batch_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["events_sessionized"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["events_sessionized"])


def test_user_totals_batch_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["user_totals"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["user_totals"])


def test_windowed_counts_streaming_matches_batch(spark, events_dir):
    batch = P.windowed_event_counts(spark.read.parquet(events_dir))
    stream = P.windowed_event_counts(P.stream_events(spark, events_dir))
    got = _run_stream(spark, stream, "complete", "win_counts")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_sessionized_streaming_matches_batch(spark, events_dir):
    batch = P.sessionized(spark.read.parquet(events_dir))
    stream = P.sessionized(P.stream_events(spark, events_dir))
    got = _run_stream(spark, stream, "complete", "sessions")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_knn_query_stream_matches_batch(spark, tmp_path):
    """Streaming vector search (streaming/vector.py): a query stream
    answered micro-batch-wise must equal the batch operator over all
    queries — same exact kNN semantics, unbounded input."""
    from sigmod_2024_contest_spark.operators import knn
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base = base_vectors(spark, SF_SMOKE).persist()
    q = workload.queries_df(spark, SF_SMOKE)
    qdir = str(tmp_path / "qstream")
    os.makedirs(qdir)
    # two micro-batches of queries
    for i, pred in enumerate((F.col("query_id") % 2 == 0, F.col("query_id") % 2 == 1)):
        part_dir = tmp_path / f"qchunk{i}"
        q.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(part_dir))
        src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        shutil.copy(str(part_dir / src), os.path.join(qdir, f"q-{i}.parquet"))
    out = str(tmp_path / "knn_out")
    sq = V.knn_stream(
        spark, base, V.stream_queries(spark, qdir), out, str(tmp_path / "ckpt"), k=10
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    got = sorted(
        (r.query_id, r.id, r.rnk) for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r.query_id, r.id, r.rnk) for r in knn.knn_exact_arrow(spark, base, q, k=10).collect()
    )
    assert got == want
    base.unpersist()


def test_knn_stream_over_loaded_index_matches_batch(spark, tmp_path, monkeypatch):
    """Streaming hybrid search over a parquet-loaded graph index
    (S8/S9 round-trip) must produce row-identical results to the batch
    engine over the union of all micro-batches — routing and search
    are per-query deterministic, so stream == batch exactly."""
    force_shard_plan(monkeypatch)
    from sigmod_2024_contest_spark.operators import engine
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources import layout
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base = base_vectors(spark, SF_SMOKE).persist()
    q = workload.queries_df(spark, SF_SMOKE)
    idx_path = str(tmp_path / "index")
    layout.save_index(engine.build_index(base), idx_path)
    index = layout.load_index(spark, idx_path).persist()

    qdir = str(tmp_path / "qstream")
    os.makedirs(qdir)
    for i, pred in enumerate((F.col("query_id") % 2 == 0, F.col("query_id") % 2 == 1)):
        part_dir = tmp_path / f"qchunk{i}"
        q.filter(pred).coalesce(1).write.mode("overwrite").parquet(str(part_dir))
        src = next(f for f in os.listdir(part_dir) if f.endswith(".parquet"))
        shutil.copy(str(part_dir / src), os.path.join(qdir, f"q-{i}.parquet"))
    out = str(tmp_path / "hyb_out")
    sq = V.knn_stream_indexed(
        spark, base, index, V.stream_queries(spark, qdir), out, str(tmp_path / "ckpt2"), k=10
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()
    got = sorted((r.query_id, r.id, r.rnk) for r in spark.read.parquet(out).collect())
    want = sorted(
        (r.query_id, r.id, r.rnk)
        for r in engine.knn_hybrid(spark, base, q, k=10, index=index).collect()
    )
    assert got == want
    base.unpersist()
    index.unpersist()


def test_stateful_user_totals_converges_to_batch(spark, events_dir):
    """applyInPandasWithState emits per micro-batch; the LAST emission
    per user must equal the batch aggregate."""
    batch = {r["user_id"]: (r["n_events"], r["total_cents"])
             for r in P.user_totals_batch(spark.read.parquet(events_dir)).collect()}
    stream = P.user_totals_stateful(P.stream_events(spark, events_dir))
    got_df = _run_stream(spark, stream, "update", "user_totals_state")
    # memory sink appends every update; the max n_events row per user
    # is the final state
    final = {}
    for r in got_df.collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_cents"])
    assert final == batch


def test_click_attribution_batch_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["events_click_attribution"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["events_click_attribution"])


def test_click_attribution_streaming_matches_batch(spark, events_dir):
    """Stream-stream join with event-time range condition: two streams
    over the same event files, watermarked both sides, must emit
    exactly the batch join's rows once all input is processed."""
    ev = spark.read.parquet(events_dir)
    batch = P.click_attribution(ev, ev)
    stream = P.click_attribution(
        P.stream_events(spark, events_dir), P.stream_events(spark, events_dir)
    )
    got = _run_stream(spark, stream, "append", "click_attr")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_funnel_converges_to_batch(spark, events_dir):
    """The streaming funnel's LAST emission per user must equal the
    batch event_funnel exactly: state keeps the earliest step
    timestamps, so the resolve is arrival-order independent (and at
    smoke scale no user exceeds FUNNEL_STATE_CAP in any step)."""
    from sigmod_2024_contest_spark.operators import relational

    batch = {
        r["user_id"]: (r["steps_completed"], r["completed"])
        for r in relational.event_funnel(spark.read.parquet(events_dir)).collect()
    }
    stream = P.funnel_stateful(P.stream_events(spark, events_dir))
    got_df = _run_stream(spark, stream, "update", "funnel_state")
    # update sink appends every emission; keep the last per user
    final = {}
    for r in got_df.collect():
        final[r["user_id"]] = (r["steps_completed"], r["completed"])
    # every micro-batch only re-emits touched users; the LAST emission
    # per user reflects all their events since state is cumulative
    assert final == batch


def test_events_daily_dedup_batch_oracle(spark):
    con = duck_con(SF_SMOKE)
    df = api.queries()["events_daily_dedup"](spark, SF_SMOKE)
    assert_matches_oracle(df, con, api.oracle_sql()["events_daily_dedup"])


def test_events_daily_dedup_streaming_matches_batch(spark, events_dir):
    """Watermarked dropDuplicatesWithinWatermark over the chunked
    stream must emit exactly the batch DISTINCT key set: every daily
    key's duplicates span < 48h, so none re-emits, and files arrive in
    event-time order, so none is dropped as late."""
    batch = P.events_daily_dedup(spark.read.parquet(events_dir))
    stream = P.events_daily_dedup(P.stream_events(spark, events_dir))
    got = _run_stream(spark, stream, "append", "daily_dedup")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


def test_events_daily_dedup_drops_in_horizon_duplicates(spark, tmp_path):
    """Planted cross-micro-batch duplicates: the same (user, type, day)
    key arriving again in a LATER file must not re-emit."""
    import datetime as dt
    import os as _os
    import time as _time

    t0 = dt.datetime(2024, 3, 1, 8, 0, 0)
    rows1 = [(1, t0, 7, "view", 1.0, "{}"), (2, t0 + dt.timedelta(hours=1), 7, "click", 1.0, "{}")]
    rows2 = [(3, t0 + dt.timedelta(hours=2), 7, "view", 1.0, "{}"),  # dup key
             (4, t0 + dt.timedelta(hours=3), 8, "view", 1.0, "{}")]  # new key
    out = str(tmp_path / "dup_events")
    _os.makedirs(out)
    for i, rows in enumerate((rows1, rows2)):
        df = spark.createDataFrame(rows, P.EVENTS_SCHEMA)
        chunk = str(tmp_path / f"dchunk{i}")
        df.coalesce(1).write.mode("overwrite").parquet(chunk)
        src = next(f for f in _os.listdir(chunk) if f.endswith(".parquet"))
        shutil.copy(_os.path.join(chunk, src), _os.path.join(out, f"part-{i}.parquet"))
        _time.sleep(1.1)
    stream = P.events_daily_dedup(P.stream_events(spark, out))
    got = sorted(map(tuple, _run_stream(spark, stream, "append", "dup_dedup").collect()))
    assert got == [(7, "click", "2024-03-01"), (7, "view", "2024-03-01"), (8, "view", "2024-03-01")]


def test_pricing_summary_streaming_matches_batch(spark, tmp_path):
    """TPC-H on a stream: the SAME pricing_summary (Q1) body runs over
    a lineitem file stream in complete mode and converges to the batch
    answer — one body, both worlds, no streaming-specific variant.
    (Unwindowed global agg: complete mode carries the full group state,
    which is |groups|-sized — 6 rows here — not input-sized.)"""
    import time as _t

    from sigmod_2024_contest_spark.operators import relational

    li = load_table(spark, SF_SMOKE, "lineitem")
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in li.schema.fields)
    src = str(tmp_path / "lineitem_in")
    os.makedirs(src)
    for i in range(3):
        chunk = li.filter(F.pmod(F.col("l_orderkey"), 3) == i).coalesce(1)
        cdir = str(tmp_path / f"lchunk{i}")
        chunk.write.mode("overwrite").parquet(cdir)
        f = next(x for x in os.listdir(cdir) if x.endswith(".parquet"))
        shutil.copy(os.path.join(cdir, f), os.path.join(src, f"part-{i}.parquet"))
        _t.sleep(1.1)
    batch = relational.pricing_summary(spark.read.parquet(src))
    stream = relational.pricing_summary(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    got = _run_stream(spark, stream, "complete", "q1_stream")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))


# --- streaming near-duplicate pairs (stateful MinHash-LSH) -----------------


def _near_dup_docs(spark):
    """Planted corpus: two near-dup groups + unrelated docs, with
    enough token overlap that batch minhash_lsh_pairs verifies >= tau.
    Returned as (DataFrame, rows) so tests can split rows into
    micro-batch files."""
    base_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    base_b = "large scale data processing with spark uses partitions shuffles and caches well"
    rows = [
        (1, base_a),
        (2, base_a + " again"),                       # near-dup of 1
        (3, base_a.replace("lazy", "sleepy")),        # near-dup of 1/2
        (4, base_b),
        (5, base_b.replace("caches", "buffers")),     # near-dup of 4
        (6, "completely unrelated tiny text snippet"),
        (7, "another unrelated document about cooking pasta with garlic and olive oil"),
    ]
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return df, rows


def _stream_docs_in_chunks(spark, tmp_path, rows, n_chunks=3):
    """Write the planted docs as n time-separated parquet files and
    return a maxFilesPerTrigger=1 streaming reader — near-dup members
    land in DIFFERENT micro-batches, so pairing must cross state."""
    import time

    out = str(tmp_path / "docs_in")
    os.makedirs(out)
    schema = "doc_id long, text string, lang string, source string, n_chars long"
    chunks = [rows[i::n_chunks] for i in range(n_chunks)]
    for i, chunk in enumerate(chunks):
        df = spark.createDataFrame(
            [(d, t, "en", "s", len(t)) for d, t in chunk], schema
        )
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"dchunk{i}"))
        src = next(
            f for f in os.listdir(str(tmp_path / f"dchunk{i}")) if f.endswith(".parquet")
        )
        shutil.copy(
            str(tmp_path / f"dchunk{i}" / src), os.path.join(out, f"part-{i}.parquet")
        )
        time.sleep(1.1)
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(out)


def test_stream_near_dup_pairs_matches_batch(spark, tmp_path):
    """The streamed pair set (distinct over band collisions) must equal
    the batch minhash_lsh_pairs result on the same docs — including
    pairs whose members arrive in different micro-batches."""
    from sigmod_2024_contest_spark.operators import dedup

    docs, rows = _near_dup_docs(spark)
    want = {
        (r["d1"], r["d2"], r["jaccard_ppm"])
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert len(want) >= 2  # the planted groups must actually pair

    sdf = _stream_docs_in_chunks(spark, tmp_path, rows)
    got_df = _run_stream(
        spark, P.stream_near_dup_pairs(sdf, bucket_cap=None), "append", "near_dup_sink"
    )
    got = {(r["d1"], r["d2"], r["jaccard_ppm"]) for r in got_df.collect()}
    assert got == want


def test_stream_near_dup_pairs_single_emission_per_band(spark, tmp_path):
    """Within one band bucket a pair is emitted at most once even
    across replays: re-delivering a doc must not re-pair it."""
    docs, rows = _near_dup_docs(spark)
    replay = rows + rows[:3]  # docs 1-3 delivered twice
    sdf = _stream_docs_in_chunks(spark, tmp_path, replay, n_chunks=4)
    got_df = _run_stream(
        spark, P.stream_near_dup_pairs(sdf, bucket_cap=None), "append", "near_dup_replay"
    )
    pdf = got_df.groupBy("d1", "d2").count().collect()
    from sigmod_2024_contest_spark.operators.dedup import N_HASHES, BAND_ROWS

    n_bands = N_HASHES // BAND_ROWS
    for r in pdf:
        assert r["count"] <= n_bands, (r["d1"], r["d2"], r["count"])


# --- streaming base-vector ingest (incremental index maintenance) ----------


def test_index_ingest_stream_end_to_end(spark, tmp_path, monkeypatch):
    """Stream the sf0.001 corpus as 3 micro-batches through
    index_ingest_stream: the final committed snapshot must (a) contain
    exactly the union corpus per shard (same member/code sets as one
    from-scratch build under the same plan/alpha), and (b) serve the
    full hybrid search at recall >= 0.9 vs the exact oracle."""
    force_shard_plan(monkeypatch)
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, knn, routing
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources import layout
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).cache()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    src = str(tmp_path / "base_in")
    os.makedirs(src)
    for i in range(3):
        chunk = base_all.filter(F.col("id") % 3 == i)
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"bchunk{i}"))
        part = next(
            f for f in os.listdir(str(tmp_path / f"bchunk{i}")) if f.endswith(".parquet")
        )
        shutil.copy(str(tmp_path / f"bchunk{i}" / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "index")
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan, alpha
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    latest = V.latest_index_path(index_dir)
    assert latest is not None and latest.endswith("v2")
    idx = layout.load_index(spark, latest)

    idx_full = engine.build_index(base_all, shard_plan=splan, alpha=alpha, max_nodes=64)

    def members(df):
        out = {}
        for r in df.select("pkey", "id", "codes").collect():
            out.setdefault(r["pkey"], {})[r["id"]] = tuple(r["codes"])
        return out

    assert members(idx) == members(idx_full)

    queries = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base_all, queries).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base_all, queries, index=idx, alpha=alpha).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    assert set(got) == set(exact)
    recalls = [len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)


def test_ingest_then_serve_closed_loop(spark, tmp_path, monkeypatch):
    """The full streaming lifecycle: ingest the corpus as micro-batches
    (index_ingest_stream), then serve a QUERY stream from the latest
    committed snapshot (knn_stream_indexed) — results row-identical to
    the batch hybrid engine over the union corpus."""
    force_shard_plan(monkeypatch)
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources import layout
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    # ingest phase: two corpus micro-batches
    src = str(tmp_path / "ingest_in")
    os.makedirs(src)
    for i in range(2):
        chunk = base_all.filter(F.col("id") % 2 == i)
        cdir = tmp_path / f"ichunk{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        shutil.copy(str(cdir / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)
    index_dir = str(tmp_path / "live_index")
    os.makedirs(index_dir)
    iq = V.index_ingest_stream(V.stream_base(spark, src), index_dir, splan, alpha)
    try:
        iq.processAllAvailable()
    finally:
        iq.stop()
    index = layout.load_index(spark, V.latest_index_path(index_dir)).persist()

    # serve phase: a query stream against the live snapshot
    q = workload.queries_df(spark, SF_SMOKE)
    qdir = str(tmp_path / "qs")
    os.makedirs(qdir)
    qd = tmp_path / "qchunk"
    q.coalesce(1).write.mode("overwrite").parquet(str(qd))
    part = next(f for f in os.listdir(qd) if f.endswith(".parquet"))
    shutil.copy(str(qd / part), os.path.join(qdir, "q-0.parquet"))
    out = str(tmp_path / "serve_out")
    sq = V.knn_stream_indexed(
        spark, base_all, index, V.stream_queries(spark, qdir), out,
        str(tmp_path / "ckpt3"), k=10, alpha=alpha,
    )
    try:
        sq.processAllAvailable()
    finally:
        sq.stop()

    got = sorted((r.query_id, r.id, r.rnk) for r in spark.read.parquet(out).collect())
    want = sorted(
        (r.query_id, r.id, r.rnk)
        for r in engine.knn_hybrid(
            spark, base_all, q, k=10, index=index, alpha=alpha
        ).collect()
    )
    assert got == want and len(got) > 0
    base_all.unpersist()
    index.unpersist()


def test_stream_near_dup_pairs_capped_replay(spark, tmp_path):
    """Capped mode: a doc arriving at a FULL bucket still pairs against
    the residents, its id (only) is remembered, and a checkpoint replay
    re-delivering it is skipped — the <= n_bands emission bound must
    hold even for capped docs (pre-fix they re-verified and re-emitted
    on every replay)."""
    docs, rows = _near_dup_docs(spark)
    replay = rows + rows  # every doc delivered twice
    sdf = _stream_docs_in_chunks(spark, tmp_path, replay, n_chunks=4)
    got_df = _run_stream(
        spark, P.stream_near_dup_pairs(sdf, bucket_cap=1), "append", "near_dup_capped"
    )
    from sigmod_2024_contest_spark.operators.dedup import BAND_ROWS, N_HASHES

    n_bands = N_HASHES // BAND_ROWS
    for r in got_df.groupBy("d1", "d2").count().collect():
        assert r["count"] <= n_bands, (r["d1"], r["d2"], r["count"])


def test_index_ingest_stream_compacts_in_loop(spark, tmp_path, monkeypatch):
    """Closed-loop delta + compact under streaming ingest: the plan is
    derived from the FIRST chunk only (tiny max_nodes), later chunks
    overflow shards past factor×max_nodes, the fold's compaction_due
    check fires, compact_index re-derives plan/alpha from the corpus
    directory, _meta.json persists the LIVE pair, and the final
    snapshot is back under the per-shard bound and serves search at
    recall >= 0.9."""
    force_shard_plan(monkeypatch)
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, knn, routing
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources import layout
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    max_nodes = 16
    first = base_all.filter(F.col("id") % 4 == 0)
    alpha0 = Q.train_alpha(first)
    splan0 = engine._shard_plan(first, routing.CAT_GRAPH_THR, max_nodes)

    src = str(tmp_path / "cbase_in")
    os.makedirs(src)
    for i in range(4):
        chunk = base_all.filter(F.col("id") % 4 == i)
        cdir = tmp_path / f"cchunk{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        shutil.copy(str(cdir / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "cindex")
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan0, alpha0,
        corpus_dir=src, max_nodes=max_nodes,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    meta = V.latest_index_meta(index_dir)
    assert meta is not None and meta["batch_id"] == 3
    assert meta["shard_plan"] != splan0  # a compaction re-derived the plan
    idx = layout.load_index(spark, V.latest_index_path(index_dir))
    occ = {r["pkey"]: r["count"] for r in idx.groupBy("pkey").count().collect()}
    assert max(occ.values()) <= engine.COMPACT_FACTOR * max_nodes
    assert not engine.compaction_due(idx, meta["shard_plan"], max_nodes=max_nodes)
    assert idx.select("id").distinct().count() == base_all.count()

    queries = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base_all, queries).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(
        spark, base_all, queries, index=idx, alpha=meta["alpha"]
    ).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)


def test_index_ingest_stream_incremental_manifest(spark, tmp_path):
    """Manifest-mode snapshots: each version directory stores ONLY the
    shards its batch rebuilt (write amplification O(affected), not
    O(corpus)), the owners map names the owning version per shard, a
    referenced old version survives GC, and the manifest-assembled
    index equals a from-scratch build over the union corpus."""
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    src = str(tmp_path / "inc_in")
    os.makedirs(src)
    bounds = [(0.0, 0.17), (0.17, 0.34), (0.34, 0.51)]
    for i, (lo, hi) in enumerate(bounds):
        chunk = base_all.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        cdir = tmp_path / f"inchunk{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        shutil.copy(str(cdir / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "inc_index")
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan, alpha,
        incremental=True, retain_versions=1,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    meta = V.latest_index_meta(index_dir)
    assert meta is not None and "owners" in meta and meta["batch_id"] == 2
    owners = meta["owners"]
    versions_used = set(owners.values())
    assert len(versions_used) >= 2  # old shards still owned by old versions
    # dec:0 was only ever written by batch 0 — v0 must own it and
    # survive GC (it is referenced), while the version dirs on disk are
    # exactly the referenced set (retain_versions=1 grace adds only the
    # newest, which is referenced anyway)
    dec0 = next(p for p in owners if p.startswith("dec:0"))
    assert owners[dec0] == "v0"
    on_disk = {d for d in os.listdir(index_dir) if d.startswith("v")}
    assert on_disk == versions_used
    # write amplification: the last version holds fewer shard dirs than
    # the full shard count (only its affected shards)
    v2_shards = [
        d for d in os.listdir(os.path.join(index_dir, "v2", "shards"))
        if d.startswith("pkey=")
    ]
    assert 0 < len(v2_shards) < len(owners)

    idx = V.load_latest_index(spark, index_dir)
    union = base_all.filter(F.col("ts") < 0.51)
    idx_full = engine.build_index(union, shard_plan=splan, alpha=alpha, max_nodes=64)

    def members(df):
        out = {}
        for r in df.select("pkey", "id", "codes").collect():
            out.setdefault(r["pkey"], {})[r["id"]] = tuple(r["codes"])
        return out

    assert members(idx) == members(idx_full)


def test_index_ingest_stream_retention_gc_full_mode(spark, tmp_path):
    """Full-snapshot mode with retain_versions: superseded
    self-contained snapshots are deleted, only the newest N survive."""
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources import layout
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    src = str(tmp_path / "gc_in")
    os.makedirs(src)
    for i in range(3):
        chunk = base_all.filter(F.col("id") % 3 == i)
        cdir = tmp_path / f"gchunk{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        shutil.copy(str(cdir / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "gc_index")
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan, alpha, retain_versions=1
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    on_disk = sorted(d for d in os.listdir(index_dir) if d.startswith("v"))
    assert on_disk == ["v2"]
    # the surviving snapshot is complete and loadable both ways
    idx = V.load_latest_index(spark, index_dir)
    assert idx.select("id").distinct().count() == base_all.count()
    assert layout.load_index(spark, V.latest_index_path(index_dir)).count() == idx.count()


def test_gc_versions_pure_fs(tmp_path):
    """_gc_versions without Spark: referenced + newest-N versions
    survive, unreferenced older ones are deleted."""
    import json
    import os

    from sigmod_2024_contest_spark.streaming.vector import _gc_versions

    idx = str(tmp_path / "idx")
    for b in range(5):
        os.makedirs(os.path.join(idx, f"v{b}"))
    # manifest: v4 is LATEST; owners reference v1 and v4
    with open(os.path.join(idx, "v4", "_meta.json"), "w") as f:
        json.dump({"shard_plan": {}, "alpha": 1.0, "batch_id": 4,
                   "owners": {"dec:0:0": "v1", "dec:1:0": "v4"}}, f)
    with open(os.path.join(idx, "LATEST"), "w") as f:
        f.write("v4")
    _gc_versions(idx, retain=1)
    left = sorted(d for d in os.listdir(idx) if d.startswith("v"))
    assert left == ["v1", "v4"]  # v0/v2/v3 unreferenced and stale


def test_load_latest_index_missing_raises(spark, tmp_path):
    from sigmod_2024_contest_spark.streaming.vector import load_latest_index

    with pytest.raises(FileNotFoundError):
        load_latest_index(spark, str(tmp_path / "nothing_here"))


# ---------------------------------------------------------------------------
# r10: append-only epoch sub-sharding (the ingest write-floor fix)
# ---------------------------------------------------------------------------


def test_epoch_router_state_math(spark):
    """Fill-then-spill arithmetic: rows fill the open shard to
    max_nodes, spill chunks into fresh epochs, state advances."""
    from sigmod_2024_contest_spark.operators import engine

    base = spark.createDataFrame(
        [(i, 7, 0.05, [float(i), 0.0]) for i in range(10)],
        "id long, category int, ts double, vec array<float>",
    )
    # one decile slice (dec:0), no big cats; open shard dec:0:2 holds 3
    state = {"dec:0": [2, 3]}
    rows, new_state, affected = engine._slice_rows_epoch(
        base, {"dec:0": 2}, 1.0, state, max_nodes=4
    )
    got = {r["id"]: r["pkey"] for r in rows.collect()}
    # positions 3..12 → epochs: 3 (id 0) fills dec:0:2 once (pos 3),
    # then 4-7 → e3, 8-11 → e4, 12 → e5
    assert got[0] == "dec:0:2"
    assert all(got[i] == "dec:0:3" for i in (1, 2, 3, 4))
    assert all(got[i] == "dec:0:4" for i in (5, 6, 7, 8))
    assert got[9] == "dec:0:5"
    assert new_state["dec:0"] == [5, 1]
    assert affected == ["dec:0:2", "dec:0:3", "dec:0:4", "dec:0:5"]


def test_epoch_router_seals_eagerly_on_boundary(spark):
    """A batch ending exactly on the shard boundary must seal the full
    shard in-state ([e+1, 0], not [e, max_nodes]) so the NEXT batch's
    affected range starts past it — otherwise a sealed-full shard is
    rebuilt and rewritten (manifest owner churn) despite receiving
    zero rows (r10 advice)."""
    from sigmod_2024_contest_spark.operators import engine

    def mk(ids):
        return spark.createDataFrame(
            [(i, 3, 0.25, [float(i)]) for i in ids],
            "id long, category int, ts double, vec array<float>",
        )

    # batch 1: exactly fills epoch 0 (4 rows, max_nodes=4)
    rows, state, affected = engine._slice_rows_epoch(
        mk(range(4)), {"dec:2": 1}, 1.0, {"dec:2": [0, 0]}, max_nodes=4
    )
    assert {r["pkey"] for r in rows.collect()} == {"dec:2:0"}
    assert state["dec:2"] == [1, 0]  # sealed: open shard is the EMPTY epoch 1
    assert affected == ["dec:2:0"]
    # batch 2: must not touch the sealed epoch 0
    rows2, state2, affected2 = engine._slice_rows_epoch(
        mk(range(10, 13)), {"dec:2": 1}, 1.0, state, max_nodes=4
    )
    assert {r["pkey"] for r in rows2.collect()} == {"dec:2:1"}
    assert affected2 == ["dec:2:1"]
    assert state2["dec:2"] == [1, 3]
    # legacy persisted state ([e, max_nodes], written before the eager
    # seal) still routes past the full shard — only the affected range
    # conservatively includes it
    rows3, state3, affected3 = engine._slice_rows_epoch(
        mk(range(20, 22)), {"dec:2": 1}, 1.0, {"dec:2": [5, 4]}, max_nodes=4
    )
    assert {r["pkey"] for r in rows3.collect()} == {"dec:2:6"}
    assert state3["dec:2"] == [6, 2]


def test_index_ingest_stream_epoch_rewound_checkpoint_fails_loudly(
    spark, tmp_path
):
    """Epoch mode + a FRESH checkpoint against an existing index:
    batch ids restart below the committed one, and replayed history
    would silently duplicate rows into fresh epochs (append-only
    routing has no id-based dedup). The fold must raise instead."""
    import os

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    src = str(tmp_path / "rw_in")
    os.makedirs(src)
    for i in range(2):
        chunk = base_all.filter(F.col("id") % 2 == i)
        cdir = tmp_path / f"rw{i}"
        chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
        part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
        dst = os.path.join(src, f"part-{i}.parquet")
        shutil.copy(str(cdir / part), dst)
        os.utime(dst, (1_700_000_000 + 60 * i, 1_700_000_000 + 60 * i))

    index_dir = str(tmp_path / "rw_idx")
    os.makedirs(index_dir)

    def run(ckpt):
        q = V.index_ingest_stream(
            V.stream_base(spark, src), index_dir, splan, alpha,
            max_nodes=64, incremental=True, epoch_sharding=True,
            checkpoint_dir=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run(str(tmp_path / "rw_ckpt"))
    with pytest.raises(Exception, match="rewound or fresh checkpoint"):
        run(str(tmp_path / "rw_ckpt_fresh"))  # lost checkpoint: replay from 0
    base_all.unpersist()


def test_upsert_index_epoch_rebuilds_only_open_shards(spark):
    """Sealed shards pass through byte-identical; the rebuild set is
    the open shard + spill epochs; per-shard bound holds; membership
    is the exact union."""
    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources.tables import base_vectors

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    seed = base_all.filter(F.col("id") % 3 != 0)
    arrivals = base_all.filter(F.col("id") % 3 == 0)
    idx = engine.build_index(seed, shard_plan=splan, alpha=alpha).persist()
    state = engine._epoch_state_from_plan(splan)
    up, new_state, affected = engine.upsert_index_epoch(
        idx, arrivals, splan, alpha, state, max_nodes=64
    )
    up = up.persist()
    # membership: union corpus, each row in every slice it routes to
    want = {
        (r["pkey"], r["id"])
        for r in engine._slice_rows(seed, splan, alpha).collect()
    } | {
        (r["pkey"], r["id"])
        for r, in zip(
            engine._slice_rows_epoch(arrivals, splan, alpha, state, 64)[0].collect()
        )
    }
    got = {(r["pkey"], r["id"]) for r in up.select("pkey", "id").collect()}
    assert got == want
    # sealed (hash-built) shards byte-identical
    sealed = idx.filter(~F.col("pkey").isin(affected))

    def rows_map(df):
        return {
            (r["pkey"], r["id"]): (r["category"], r["ts"], tuple(r["codes"]))
            for r in df.collect()
        }

    assert rows_map(up.join(sealed.select("pkey").distinct(), "pkey")) == rows_map(sealed)
    # epoch shards bounded
    for r in up.groupBy("pkey").count().collect():
        if r["pkey"] in affected:
            assert r["count"] <= 64
    # state advanced only for touched slices
    assert all(new_state[p][0] >= state[p][0] for p in state)
    up.unpersist()
    idx.unpersist()
    base_all.unpersist()


def test_index_ingest_stream_epoch_manifest_write_floor(spark, tmp_path, monkeypatch):
    """Epoch + manifest ingest: (a) non-first versions write only the
    touched slices' open/spill shards — strictly fewer than the slice
    total (the write floor hash routing cannot beat); (b) the final
    live index is the exact union membership; (c) it serves hybrid
    search at recall >= 0.9 vs exact."""
    force_shard_plan(monkeypatch)
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, knn, routing
    from sigmod_2024_contest_spark.plans import workload
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)
    n_slices = len(splan)
    total_shards = sum(splan.values())

    src = str(tmp_path / "base_in")
    os.makedirs(src)
    for i in range(3):
        chunk = base_all.filter(F.col("id") % 3 == i)
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"ec{i}"))
        part = next(
            f for f in os.listdir(str(tmp_path / f"ec{i}")) if f.endswith(".parquet")
        )
        shutil.copy(str(tmp_path / f"ec{i}" / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "eidx")
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan, alpha,
        max_nodes=64, incremental=True, epoch_sharding=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # (a) write floor: each non-first version's shard dir holds at most
    # touched_slices * (1 open + ceil(batch/64)) shards — far below a
    # full rewrite of every shard of every touched slice
    batch_n = base_all.count() // 3 + 1
    per_slice_bound = 1 + (batch_n + 63) // 64
    for v in ("v1", "v2"):
        sdir = os.path.join(index_dir, v, "shards")
        n_written = sum(1 for d in os.listdir(sdir) if d.startswith("pkey="))
        assert n_written <= n_slices * per_slice_bound
        assert n_written < total_shards + n_slices  # strictly below full

    # (b) exact union membership
    idx = V.load_latest_index(spark, index_dir).persist()
    state = engine._epoch_state_from_plan(splan)
    got_ids = {
        (r["pkey"].rsplit(":", 1)[0], r["id"])
        for r in idx.select("pkey", "id").collect()
    }
    want_ids = {
        (r["prefix"], r["id"])
        for r in engine._prefix_rows(base_all, splan, alpha).collect()
    }
    assert got_ids == want_ids
    for r in idx.groupBy("pkey").count().collect():
        assert r["count"] <= 64

    # (c) search quality over the epoch-sharded index
    queries = workload.queries_df(spark, SF_SMOKE)
    exact = {}
    for r in knn.knn_exact_expr(base_all, queries).collect():
        exact.setdefault(r.query_id, set()).add(r.id)
    got = {}
    for r in engine.knn_hybrid(spark, base_all, queries, index=idx, alpha=alpha).collect():
        got.setdefault(r.query_id, set()).add(r.id)
    recalls = [len(exact[k] & got.get(k, set())) / len(exact[k]) for k in exact]
    assert sum(recalls) / len(recalls) >= 0.9, sum(recalls) / len(recalls)
    idx.unpersist()
    base_all.unpersist()


def test_index_ingest_stream_replay_guard(spark, tmp_path):
    """Crash-between-commit-and-checkpoint replay: re-delivering the
    SAME batch_id against a snapshot that already committed it must
    no-op (byte-identical index, LATEST unmoved) — under epoch routing
    a re-apply would duplicate rows into the now-open shard."""
    import os
    import time

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 64)

    src = str(tmp_path / "rg_in")
    os.makedirs(src)
    for i in range(2):
        chunk = base_all.filter(F.col("id") % 2 == i)
        chunk.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / f"rg{i}"))
        part = next(
            f for f in os.listdir(str(tmp_path / f"rg{i}")) if f.endswith(".parquet")
        )
        shutil.copy(str(tmp_path / f"rg{i}" / part), os.path.join(src, f"part-{i}.parquet"))
        time.sleep(1.1)

    index_dir = str(tmp_path / "rg_idx")
    ckpt = str(tmp_path / "rg_ckpt")
    os.makedirs(index_dir)

    def run():
        q = V.index_ingest_stream(
            V.stream_base(spark, src), index_dir, splan, alpha,
            max_nodes=64, incremental=True, epoch_sharding=True,
            checkpoint_dir=ckpt,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run()
    latest_before = V.latest_index_path(index_dir)
    meta_before = V.latest_index_meta(index_dir)
    members_before = {
        (r["pkey"], r["id"]): tuple(r["codes"])
        for r in V.load_latest_index(spark, index_dir).collect()
    }
    # simulate the crash: the snapshot committed (LATEST moved) but the
    # streaming checkpoint did not — delete the last commit marker so
    # the restarted stream replays batch 1 with the same batch_id
    os.remove(os.path.join(ckpt, "commits", "1"))
    crc = os.path.join(ckpt, "commits", ".1.crc")
    if os.path.exists(crc):
        os.remove(crc)  # local-fs checksum shadow of the commit marker
    run()
    assert V.latest_index_path(index_dir) == latest_before
    assert V.latest_index_meta(index_dir) == meta_before
    members_after = {
        (r["pkey"], r["id"]): tuple(r["codes"])
        for r in V.load_latest_index(spark, index_dir).collect()
    }
    assert members_after == members_before
    base_all.unpersist()


def test_index_ingest_stream_fragmentation_compaction(spark, tmp_path):
    """Manifest-fragmentation bound (epoch mode's missing trigger —
    epoch shards never exceed max_nodes, so the size trigger never
    fires and owners would grow one version per batch forever):
    with max_manifest_versions=2, the batch whose commit would leave
    live shards owned by >2 versions forces a compaction; final owners
    span at most 2 versions and the earliest ones are gone. Files
    arrive PROGRESSIVELY so corpus_dir never runs ahead of the stream
    (the epoch-mode contract)."""
    import os

    from sigmod_2024_contest_spark.functions import quantization as Q
    from sigmod_2024_contest_spark.operators import engine, routing
    from sigmod_2024_contest_spark.sources.tables import base_vectors
    from sigmod_2024_contest_spark.streaming import vector as V

    base_all = base_vectors(spark, SF_SMOKE).persist()
    alpha = Q.train_alpha(base_all)
    splan = engine._shard_plan(base_all, routing.CAT_GRAPH_THR, 8)

    src = str(tmp_path / "fr_in")
    index_dir = str(tmp_path / "fr_idx")
    os.makedirs(src)
    os.makedirs(index_dir)
    q = V.index_ingest_stream(
        V.stream_base(spark, src), index_dir, splan, alpha,
        corpus_dir=src, max_nodes=8, incremental=True,
        epoch_sharding=True, max_manifest_versions=2,
    )
    try:
        for i in range(4):
            chunk = base_all.filter(F.col("id") % 4 == i)
            cdir = tmp_path / f"frchunk{i}"
            chunk.coalesce(1).write.mode("overwrite").parquet(str(cdir))
            part = next(f for f in os.listdir(cdir) if f.endswith(".parquet"))
            shutil.copy(str(cdir / part), os.path.join(src, f"part-{i}.parquet"))
            q.processAllAvailable()
    finally:
        q.stop()

    meta = V.latest_index_meta(index_dir)
    assert meta is not None and meta.get("owners")
    versions = set(meta["owners"].values())
    assert len(versions) <= 2, versions
    # the forced compaction collapsed ownership: v0/v1 no longer own
    # anything (without the bound, 4 epoch batches leave 4 owners)
    assert "v0" not in versions and "v1" not in versions, versions
    idx = V.load_latest_index(spark, index_dir)
    assert idx.select("id").distinct().count() == base_all.count()
    occ = [r["count"] for r in idx.groupBy("pkey").count().collect()]
    assert max(occ) <= engine.COMPACT_FACTOR * 8
    base_all.unpersist()


def test_epoch_router_properties(spark):
    """Property-check the epoch assignment against an independent
    python fold: random batch sizes / open-state / max_nodes must give
    (a) the same pkey per row (fill open shard in id order, spill into
    fresh epochs), (b) per-epoch occupancy <= max_nodes counting the
    retained open count, (c) state advance consistent with the total,
    (d) affected = exactly the open..new_open epoch range."""
    import random

    from sigmod_2024_contest_spark.operators import engine

    rng = random.Random(7)
    for _ in range(6):
        max_nodes = rng.choice([2, 3, 5, 8])
        open_epoch = rng.randint(0, 4)
        open_count = rng.randint(0, max_nodes)
        n = rng.randint(1, 40)
        ids = sorted(rng.sample(range(1000), n))
        base = spark.createDataFrame(
            [(i, 3, 0.25, [float(i)]) for i in ids],
            "id long, category int, ts double, vec array<float>",
        )
        state = {"dec:2": [open_epoch, open_count]}
        rows, new_state, affected = engine._slice_rows_epoch(
            base, {"dec:2": 1}, 1.0, state, max_nodes=max_nodes
        )
        got = {r["id"]: r["pkey"] for r in rows.collect()}
        # independent fold
        want = {}
        occupancy = {open_epoch: open_count}
        e, c = open_epoch, open_count
        for i in ids:
            if c >= max_nodes:
                e, c = e + 1, 0
            want[i] = f"dec:2:{e}"
            c += 1
            occupancy[e] = occupancy.get(e, 0) + 1
        last_epoch = e
        if c == max_nodes:
            # eager seal: a fold ending exactly on the shard boundary
            # advances the state past the full shard so the next batch
            # never rewrites it
            e, c = e + 1, 0
        assert got == want, (max_nodes, open_epoch, open_count, ids[:5])
        assert all(v <= max_nodes for v in occupancy.values())
        assert new_state["dec:2"] == [e, c]
        assert affected == [
            f"dec:2:{k}"
            for k in range(
                open_epoch,
                open_epoch + (open_count + n - 1) // max_nodes + 1,
            )
        ]
        # every epoch that actually received rows is in affected
        assert f"dec:2:{last_epoch}" in affected
