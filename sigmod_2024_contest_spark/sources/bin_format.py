"""The reference's raw little-endian .bin wire format — scan + sink.

Reference layouts (all little-endian, ``uint32 N`` header):
- base:    N rows of (label f32, timestamp f32, vec f32[dim])
  (``/root/reference/utils.h:257-276`` ReadBase; row stride at :272-274)
- queries: N rows of (query_type f32, v f32, l f32, r f32, vec f32[dim])
  (``/root/reference/utils.h:550-566`` ReadQuery)
- knn/gt:  N rows of k uint32 ids, no per-row header
  (``/root/reference/io.h:22-33`` SaveKNN; ``utils.h:168-221``)

Spark mapping (SURVEY §2.1 S1/S2/S4/S6/S7): the single-file contest
layout is split into ``spark.range`` row ranges that seek into the file;
a directory of .bin shards is read with ``spark.read.format("binaryFile")``.
Both decode in ``mapInArrow`` through one Arrow emitter per table
(NumPy ``frombuffer``, the vector column built from the flat float32
buffer plus offsets — no Python row loop, no shuffle). Row ids are
``file_seq * (1<<40) + position`` so ids stay stable and unique across
shards; for the single-file contest layout that degenerates to plain
position, matching the reference. The writers are NumPy (driver- or
test-side): the format itself has a global row count in the header, so
a .bin file is inherently a single-writer artifact — at scale you
write many shard files, which the readers accept.
"""

from __future__ import annotations

import struct

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

SHARD_STRIDE = 1 << 40


# ---------------------------------------------------------------------------
# Writers (NumPy, one file = one shard)
# ---------------------------------------------------------------------------


def write_base_bin(path: str, labels: np.ndarray, ts: np.ndarray, vecs: np.ndarray) -> None:
    n, dim = vecs.shape
    rows = np.empty((n, dim + 2), dtype="<f4")
    rows[:, 0] = labels
    rows[:, 1] = ts
    rows[:, 2:] = vecs
    with open(path, "wb") as f:
        f.write(struct.pack("<I", n))
        f.write(rows.tobytes())


def write_queries_bin(
    path: str,
    qtype: np.ndarray,
    v: np.ndarray,
    l: np.ndarray,
    r: np.ndarray,
    vecs: np.ndarray,
) -> None:
    n, dim = vecs.shape
    rows = np.empty((n, dim + 4), dtype="<f4")
    rows[:, 0] = qtype
    rows[:, 1] = v
    rows[:, 2] = l
    rows[:, 3] = r
    rows[:, 4:] = vecs
    with open(path, "wb") as f:
        f.write(struct.pack("<I", n))
        f.write(rows.tobytes())


UINT32_MAX = np.iinfo(np.uint32).max


def bin_count(path: str) -> int:
    """The ``uint32 N`` row count in a .bin file's header (a 4-byte
    read, no Spark job)."""
    with open(path, "rb") as f:
        return struct.unpack("<I", f.read(4))[0]


def write_knn_bin(result: DataFrame, path: str, k: int, n_queries: int | None = None) -> None:
    """S6 sink: (query_id, id, rnk) rows → Nq×k uint32 matrix. Row i holds
    query i's ids (the single-file layout's dense query ids) in rnk
    order; short rows and queries with no result are padded with
    ``UINT32_MAX``. ``n_queries``: the query count (the queries file's
    header, :func:`bin_count`), so trailing queries with no result
    keep their rows too; default max(query_id) + 1.

    One ``toArrow()`` collect, then a NumPy lexsort + scatter — the
    output format is a single dense file, so this sink is the one
    deliberately driver-side piece (the contest's exchange format, not
    a scale path; at scale keep results as Parquet)."""
    t = result.select("query_id", "id", "rnk").toArrow()
    qid, ids, rnk = (t.column(c).to_numpy() for c in ("query_id", "id", "rnk"))
    n = n_queries if n_queries is not None else (int(qid.max()) + 1 if len(qid) else 0)
    if len(qid) and (qid.min() < 0 or qid.max() >= min(n, SHARD_STRIDE)):
        raise ValueError(
            "the matrix rows are the single-file layout's dense query ids; "
            f"got ids in [{qid.min()}, {qid.max()}] for n_queries={n_queries}"
        )
    if len(ids) and (ids.min() < 0 or ids.max() > UINT32_MAX):
        raise ValueError("ids must fit the uint32 matrix")
    order = np.lexsort((rnk, qid))
    qid, ids = qid[order], ids[order]
    # column = position within the query's rnk-ordered run
    col = np.arange(len(qid)) - np.searchsorted(qid, qid, side="left")
    keep = col < k
    mat = np.full((n, k), UINT32_MAX, dtype="<u4")
    mat[qid[keep], col[keep]] = ids[keep]
    with open(path, "wb") as f:
        f.write(mat.tobytes())


# ---------------------------------------------------------------------------
# Distributed readers (mapInArrow decode, one Arrow emitter per table)
# ---------------------------------------------------------------------------


def _list_column(mat: np.ndarray) -> pa.ListArray:
    """(n, d) matrix → Arrow list column over its flat buffer: offsets
    plus one values array, no per-row objects."""
    n, d = mat.shape
    offsets = pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(np.ascontiguousarray(mat).reshape(-1)))


# 8k rows ≈ 3 MB per task (and per Arrow batch of a shard file): small
# enough that decode spreads across all cores and the int32 list
# offsets never overflow at any dim the contest uses
ROWS_PER_TASK = 1 << 13


def _decode_files(batches, row_words: int, emit, seq_of_path: dict[str, int], header: bool,
                  rows_per_task: int):
    """binaryFile batches (path, content) → emitted record batches, one
    per ``rows_per_task`` rows of each file. Shard sequence comes from
    the sorted file listing on the driver — batch-local enumeration
    would collide ids when Spark delivers files in separate Arrow
    batches; a lone file keeps plain positions."""
    for b in batches:
        for name, content in zip(b.column("path").to_pylist(), b.column("content")):
            raw = content.as_buffer()
            if header:
                (n,) = struct.unpack_from("<I", raw, 0)
                rows = np.frombuffer(raw, dtype="<f4", offset=4, count=n * row_words)
            else:
                rows = np.frombuffer(raw, dtype="<u4")
            rows = rows.reshape(-1, row_words)
            seq = seq_of_path[name.rsplit("/", 1)[-1]]
            base_id = seq * SHARD_STRIDE if len(seq_of_path) > 1 else 0
            for s in range(0, rows.shape[0], rows_per_task):
                yield emit(rows[s: s + rows_per_task], base_id + s)


def _read_bin_df(
    spark: SparkSession,
    path: str,
    row_words: int,
    emit,
    schema: str,
    rows_per_task: int = ROWS_PER_TASK,
    header: bool = True,
) -> DataFrame:
    """Shared scan body: ``emit(rows, first_id)`` turns a (n, row_words)
    block into one Arrow record batch of ``schema``. A directory of
    shard files parallelizes per file (binaryFile); a SINGLE file — the
    contest layout, one header + dense rows — is split into row ranges:
    the driver reads only the 4-byte header, ``spark.range`` puts one
    range index in each task, and each task derives its own
    (start, cnt) and seeks into its disjoint slice. No shuffle: the
    ranges are born partitioned. Without the split, one 10M-row
    data.bin would decode in one task — the classic unsplittable-format
    bottleneck. Requires the path to be visible from executors (local
    FS here; on a cluster the same seek-read pattern runs against a
    shared/remote FS). ``header``: False for the header-less knn
    matrix, read whole per file."""
    import os

    if os.path.isdir(path) or not header:
        names = sorted(os.listdir(path)) if os.path.isdir(path) else [os.path.basename(path)]
        seq_of_path = {name: i for i, name in enumerate(names)}
        files = spark.read.format("binaryFile").load(path).select("path", "content")
        return files.mapInArrow(
            lambda it: _decode_files(it, row_words, emit, seq_of_path, header, rows_per_task),
            schema,
        )

    n = bin_count(path)
    row_bytes = 4 * row_words
    n_ranges = max(1, -(-n // rows_per_task))

    def decode(batches):
        for b in batches:
            for i in b.column(0).to_numpy():
                start = int(i) * rows_per_task
                cnt = min(rows_per_task, n - start)
                if cnt <= 0:
                    continue
                with open(path, "rb") as f:
                    f.seek(4 + start * row_bytes)
                    raw = f.read(cnt * row_bytes)
                yield emit(np.frombuffer(raw, dtype="<f4").reshape(-1, row_words), start)

    return spark.range(0, n_ranges, 1, n_ranges).mapInArrow(decode, schema)


def _ids(n: int, first_id: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64) + first_id)


BASE_SCHEMA = "id long, category int, ts double, vec array<float>"


def _base_batch(rows: np.ndarray, first_id: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            _ids(rows.shape[0], first_id),
            pa.array(rows[:, 0].astype(np.int32)),
            pa.array(rows[:, 1].astype(np.float64)),
            _list_column(rows[:, 2:]),
        ],
        names=["id", "category", "ts", "vec"],
    )


QUERIES_SCHEMA = "query_id long, query_type int, v int, l double, r double, qvec array<float>"


def _queries_batch(rows: np.ndarray, first_id: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            _ids(rows.shape[0], first_id),
            pa.array(rows[:, 0].astype(np.int32)),
            pa.array(rows[:, 1].astype(np.int32)),
            pa.array(rows[:, 2].astype(np.float64)),
            pa.array(rows[:, 3].astype(np.float64)),
            _list_column(rows[:, 4:]),
        ],
        names=["query_id", "query_type", "v", "l", "r", "qvec"],
    )


def _knn_batch(mat: np.ndarray, first_id: int) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [_ids(mat.shape[0], first_id), _list_column(mat.astype(np.int64))],
        names=["query_id", "knn"],
    )


def read_base_bin(spark: SparkSession, path: str, dim: int = 100) -> DataFrame:
    """S2: .bin base scan → (id, category, ts, vec)."""
    return _read_bin_df(spark, path, dim + 2, _base_batch, BASE_SCHEMA)


def read_queries_bin(spark: SparkSession, path: str, dim: int = 100) -> DataFrame:
    """S4: .bin query scan → (query_id, query_type, v, l, r, qvec)."""
    return _read_bin_df(spark, path, dim + 4, _queries_batch, QUERIES_SCHEMA)


def read_knn_bin(spark: SparkSession, path: str, k: int) -> DataFrame:
    """S7: Nq×k uint32 matrix → (query_id, knn array<long>)."""
    return _read_bin_df(
        spark, path, k, _knn_batch, "query_id long, knn array<long>", header=False
    )
