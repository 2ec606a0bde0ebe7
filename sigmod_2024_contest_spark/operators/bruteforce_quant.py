"""Asymmetric-SQ8 and SQ4 brute-force search kernels (D4/D5).

Reference: ``/root/reference/pyglass/glass/simd/distance.hpp``:

- ``L2SqrSQ8_ext`` (:268-301) — the asymmetric kernel: the query stays
  float, stored uint8 codes are decoded on the fly
  (``y → (y+0.5)·difᵢ + 255·miᵢ`` against ``255·x``).
- ``L2SqrSQ4`` (:399-436) — the 4-bit kernel: both sides are packed
  nibbles, distance is the integer Σ(xnib−ynib)² over unpacked dims.

These two operators consume the encoders of ``functions/quantization.py``
(Q2/Q3) through the one quantized operator,
``bruteforce_sq8.quant_rerank``: a code-distance cut (top ``refine_k``
by (cdist, id)) on the shared brute-force kernels, then the exact
float64 re-rank (K12) of the candidates only. Only the encoders differ
from SQ8.

Determinism note (SURVEY §7.6): the reference's asymmetric distance is
a float sum, whose fold order a GEMM cannot reproduce bit-for-bit. We
pin it by quantizing the *query side* in fixed point at 256× the code
resolution: ``A = floor(clamp((x−mi)/dif,0,1)·255·256)`` vs
``B = 256·y + 128`` (= ``(y+0.5)·256``) — the identical
decode-on-the-fly geometry, scaled by 256/dif per dim, with ≤2⁻⁸ of a
code step of query distortion, and the whole cut becomes
order-independent integer arithmetic that DuckDB reproduces exactly.
The SQ4 cut is integer natively.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..plans import workload
from .bruteforce_sq8 import BF_REFINE_K, quant_rerank

ASYM_QRES = 256  # query fixed-point sub-steps per code step


def _asym_fixed_codes(vecs: np.ndarray, mins: np.ndarray, difs: np.ndarray) -> np.ndarray:
    """Query-side fixed-point encode: floor(clamp((x−mi)/dif,0,1)·255·256)."""
    safe = np.where(difs > 0, difs, 1.0)
    frac = np.clip((vecs - mins[None, :]) / safe[None, :], 0.0, 1.0)
    frac = np.where(difs[None, :] > 0, frac, 0.0)
    return np.floor(frac * (255.0 * ASYM_QRES)).astype(np.int64)


def _asym_base_codes(vecs: np.ndarray, mins: np.ndarray, difs: np.ndarray) -> np.ndarray:
    """Base-side uint8 encode (quantization.encode_asym_expr semantics)
    lifted to the fixed-point grid: 256·code + 128 = (code+0.5)·256."""
    safe = np.where(difs > 0, difs, 1.0)
    frac = np.clip((vecs - mins[None, :]) / safe[None, :], 0.0, 1.0)
    frac = np.where(difs[None, :] > 0, frac, 0.0)
    codes = np.floor(frac * 255.0 + 0.5).astype(np.int64)
    return codes * ASYM_QRES + ASYM_QRES // 2


def _nibble_codes(vecs: np.ndarray, mn: float, mx: float) -> np.ndarray:
    """SQ4 per-dim nibbles 0..15 (quantization.encode_sq4_expr without
    the byte packing — L2SqrSQ4 unpacks before differencing anyway)."""
    scale = (mx - mn) if mx > mn else 1.0
    frac = np.clip((vecs - mn) / scale, 0.0, 1.0)
    return np.floor(frac * 15.0 + 0.5).astype(np.int64)


def knn_asym_rerank(
    base: DataFrame,
    queries: DataFrame,
    mins: list[float],
    maxs: list[float],
    k: int = workload.K,
    refine_k: int = BF_REFINE_K,
    batch_rows: int | None = None,
    force_scan: bool = False,
    corpus_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, id, rnk) — asymmetric-SQ8 brute force with exact
    re-rank (D4, distance.hpp:268-301): per-dim (min,max) grid, stored
    codes decoded on the fly against the (fixed-point) float query.
    Plans and side rule: ``bruteforce_sq8.quant_rerank``."""
    mn = np.asarray(mins, dtype=np.float64)
    dif = np.asarray(maxs, dtype=np.float64) - mn
    return quant_rerank(
        base,
        queries,
        lambda qv: _asym_fixed_codes(qv, mn, dif),
        lambda bv: _asym_base_codes(bv, mn, dif),
        ("asym", tuple(mn.tolist()), tuple(dif.tolist())),
        k,
        refine_k,
        batch_rows=batch_rows,
        corpus_rows=corpus_rows,
        force_scan=force_scan,
        dim=dim,
    )


def knn_sq4_rerank(
    base: DataFrame,
    queries: DataFrame,
    mn: float,
    mx: float,
    k: int = workload.K,
    refine_k: int = BF_REFINE_K,
    batch_rows: int | None = None,
    force_scan: bool = False,
    corpus_rows: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """(query_id, id, rnk) — SQ4 brute force with exact re-rank (D5,
    distance.hpp:399-436): global (min,max) grid, symmetric integer
    nibble distance. 4-bit codes are coarse, so the 140-deep cut does
    the heavy lifting and the float re-rank restores exact order.
    Plans and side rule: ``bruteforce_sq8.quant_rerank``."""
    return quant_rerank(
        base,
        queries,
        lambda qv: _nibble_codes(qv, mn, mx),
        lambda bv: _nibble_codes(bv, mn, mx),
        ("sq4", float(mn), float(mx)),
        k,
        refine_k,
        batch_rows=batch_rows,
        corpus_rows=corpus_rows,
        force_scan=force_scan,
        dim=dim,
    )


# ---------------------------------------------------------------------------
# DuckDB mirrors — the identical two-phase pipeline in SQL
# ---------------------------------------------------------------------------


def knn_asym_rerank_sql(k: int = workload.K, refine_k: int = BF_REFINE_K) -> str:
    """Oracle for :func:`knn_asym_rerank`. Per-dim stats are exact
    min/max (both engines agree bit-for-bit), and the cut distance is
    pure BIGINT arithmetic — order-independent, so list_sum ≡ GEMM."""
    q_fix = (
        "CASE WHEN mxs[i] > mns[i] THEN CAST(floor(least(greatest("
        "(q.qvec[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]), 0.0), 1.0) * 65280.0) AS BIGINT) "
        "ELSE 0 END"
    )
    b_fix = (
        "CASE WHEN mxs[i] > mns[i] THEN CAST(floor(least(greatest("
        "(b.vec[i]::DOUBLE - mns[i]) / (mxs[i] - mns[i]), 0.0), 1.0) * 255.0 + 0.5) AS BIGINT)"
        " * 256 + 128 ELSE 128 END"
    )
    return f"""
WITH b0 AS ({workload.base_cte_sql()}),
q0 AS ({workload.queries_cte_sql()}),
e AS (SELECT unnest(vec) AS x, generate_subscripts(vec, 1) AS i FROM b0),
stats AS (SELECT i, min(x::DOUBLE) AS mn, max(x::DOUBLE) AS mx FROM e GROUP BY i),
mm AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM stats),
scored AS (
  SELECT q.query_id, b.id,
         list_sum(list_transform(range(1, len(b.vec) + 1),
                  i -> ({q_fix} - {b_fix}) * ({q_fix} - {b_fix}))) AS cdist
  FROM b0 b, q0 q, mm
  WHERE {workload.PREDICATE_SQL}
),
cands AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY cdist ASC, id ASC) AS crnk
  FROM scored
),
rescored AS (
  SELECT c.query_id, c.id,
         list_sum(list_transform(range(1, len(b0.vec) + 1),
                  i -> (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE)
                     * (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE))) AS dist
  FROM cands c
  JOIN b0 ON b0.id = c.id
  JOIN q0 ON q0.query_id = c.query_id
  WHERE c.crnk <= {refine_k}
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rnk
  FROM rescored
) WHERE rnk <= {k}
"""


def knn_sq4_rerank_sql(k: int = workload.K, refine_k: int = BF_REFINE_K) -> str:
    """Oracle for :func:`knn_sq4_rerank` — all-BIGINT nibble cut."""
    nib_q = (
        "CAST(floor(least(greatest((q.qvec[i]::DOUBLE - mm.mn) / "
        "(CASE WHEN mm.mx > mm.mn THEN mm.mx - mm.mn ELSE 1.0 END), 0.0), 1.0) * 15.0 + 0.5) AS BIGINT)"
    )
    nib_b = (
        "CAST(floor(least(greatest((b.vec[i]::DOUBLE - mm.mn) / "
        "(CASE WHEN mm.mx > mm.mn THEN mm.mx - mm.mn ELSE 1.0 END), 0.0), 1.0) * 15.0 + 0.5) AS BIGINT)"
    )
    return f"""
WITH b0 AS ({workload.base_cte_sql()}),
q0 AS ({workload.queries_cte_sql()}),
mm AS (
  SELECT min(list_min(vec))::DOUBLE AS mn, max(list_max(vec))::DOUBLE AS mx FROM b0
),
scored AS (
  SELECT q.query_id, b.id,
         list_sum(list_transform(range(1, len(b.vec) + 1),
                  i -> ({nib_q} - {nib_b}) * ({nib_q} - {nib_b}))) AS cdist
  FROM b0 b, q0 q, mm
  WHERE {workload.PREDICATE_SQL}
),
cands AS (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY cdist ASC, id ASC) AS crnk
  FROM scored
),
rescored AS (
  SELECT c.query_id, c.id,
         list_sum(list_transform(range(1, len(b0.vec) + 1),
                  i -> (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE)
                     * (q0.qvec[i]::DOUBLE - b0.vec[i]::DOUBLE))) AS dist
  FROM cands c
  JOIN b0 ON b0.id = c.id
  JOIN q0 ON q0.query_id = c.query_id
  WHERE c.crnk <= {refine_k}
)
SELECT query_id, id, CAST(rnk AS BIGINT) AS rnk FROM (
  SELECT query_id, id,
         row_number() OVER (PARTITION BY query_id ORDER BY dist ASC, id ASC) AS rnk
  FROM rescored
) WHERE rnk <= {k}
"""
