"""Local Binary Pattern (LBP) census over the mosaicked fine grid — the
classic non-parametric texture descriptor (Ojala et al. 2002): each cell's
8-bit code concatenates the comparisons neighbor >= center around the
compass, and the per-coarse-cell code histogram is the texture signature
downstream classifiers/dedup consume (LBP histograms are THE pre-CNN
texture feature, invariant to monotone illumination changes).

Exactness: the code is pure integer — bit k is (v_k >= v_c) with the
neighbor order FIXED (E, NE, N, NW, W, SW, S, SE = bits 0..7); cells
missing any of the 8 neighbors emit nothing (the focal_gradient honesty
rule — a partial ring would silently change the code's meaning). Ties
(v_k = v_c) set the bit, the textbook convention.

Scale shape (100 TB): ONE halo scatter (9 arms, each source cell sends
its value labeled with the arm index) + ONE hash agg with 9 conditional
MAX slots (each slot has at most one contributor, so partials combine
map-side) + a pure bit-assembly projection + ONE more hash agg to
(coarse cell, code) — <= 256 small rows per cell in the final exchange;
no join, no Python past the decode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .focal import scatter
from .mosaic import PATCH, PATCH_BITS, fine_grid

# bit k -> offset from the CENTER to the neighbor (compass CCW from east)
LBP_OFFS = [
    (1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1),
]


def lbp_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, code, cnt): per coarse cell, the histogram of 8-bit LBP
    codes of its fine subcells with complete 8-neighborhoods."""
    nf = 1 << (res + PATCH_BITS)
    # source s reaches target t = s - off_k carrying arm k; arm 8 = center
    arms = ", ".join(
        f"named_struct('dx', {-dx}, 'dy', {-dy}, 'k', {k})"
        for k, (dx, dy) in enumerate(LBP_OFFS)
    ) + ", named_struct('dx', 0, 'dy', 0, 'k', 8)"
    scattered = scatter(
        fine_grid(images, res), arms, nf
    ).selectExpr("tx", "ty", "val", "o.k")
    slots = [
        F.max(F.when(F.col("k") == kk, F.col("val"))).alias(f"v{kk}")
        for kk in range(9)
    ]
    ring = (
        scattered.groupBy("tx", "ty")
        .agg(F.count("*").alias("n_contrib"), *slots)
        .where(F.col("n_contrib") == 9)   # full ring + center present
    )
    code = " + ".join(
        f"CASE WHEN v{k} >= v8 THEN {1 << k} ELSE 0 END" for k in range(8)
    )
    return (
        ring.selectExpr(
            f"tx DIV {PATCH} AS cgx", f"ty DIV {PATCH} AS cgy",
            f"CAST({code} AS BIGINT) AS code",
        )
        .groupBy("cgx", "cgy", "code")
        .agg(F.count("*").cast("long").alias("cnt"))
        .selectExpr(
            "CAST(cgx AS BIGINT) AS gx", "CAST(cgy AS BIGINT) AS gy",
            "code", "cnt",
        )
    )


def oracle_lbp_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical scatter, slot fold and bit assembly."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({-dx}, {-dy}, {k})" for k, (dx, dy) in enumerate(LBP_OFFS)
    ) + ", (0, 0, 8)"
    slots = ",\n    ".join(
        f"MAX(CASE WHEN k = {kk} THEN val END) AS v{kk}" for kk in range(9)
    )
    code = " + ".join(
        f"CASE WHEN v{k} >= v8 THEN {1 << k} ELSE 0 END" for k in range(8)
    )
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, val, o.k
  FROM fine, (VALUES {offs}) AS o(dx, dy, k)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
ring AS (
  SELECT tx, ty, COUNT(*) AS n_contrib,
    {slots}
  FROM sc GROUP BY 1, 2
),
codes AS (
  SELECT tx // {PATCH} AS cgx, ty // {PATCH} AS cgy,
    CAST({code} AS BIGINT) AS code
  FROM ring WHERE n_contrib = 9
)
SELECT CAST(cgx AS BIGINT) AS gx, CAST(cgy AS BIGINT) AS gy, code,
  CAST(COUNT(*) AS BIGINT) AS cnt
FROM codes GROUP BY 1, 2, 3"""
