"""HOG-lite census: 8-bin histogram of oriented gradients per coarse cell
over the mosaicked fine grid — the classic pre-CNN shape descriptor
(Dalal & Triggs 2005), here as the per-cell (orientation bin -> count,
energy) table a downstream detector or dedup stage consumes.

Exactness device: the orientation NEVER calls atan2 — an 8-way octant is
exactly three integer predicates (gy >= 0, gx >= 0, |gy| >= |gx|), so the
bin is a pure-integer CASE whose boundary ties are defined by the SHARED
formula text (one formula, two engines — no libm, no float angles at
all). Zero-gradient cells get the visible bin -1 ("flat") rather than
being silently dropped. Energy = sum of grad2 (exact integer squared
magnitudes) per bin.

Scale shape (100 TB): focal_gradient's halo scatter-aggregate (integer
partials combine map-side) followed by ONE more hash agg to (coarse cell,
bin) — <= 9 rows per cell in the exchange regardless of pixel volume;
the octant is a projection; no join, no Python past the decode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .focal import focal_gradient
from .mosaic import PATCH, PATCH_BITS

# one formula, two engines: octant of (gx, gy) counterclockwise from +x,
# boundaries resolved by the CASE order; (0,0) -> -1 (flat)
OCTANT_SQL = """CASE
  WHEN gx = 0 AND gy = 0 THEN -1
  WHEN gy >= 0 AND gx > 0 AND gx >= gy THEN 0
  WHEN gy > 0 AND gx >= 0 AND gy >= gx THEN 1
  WHEN gy > 0 AND gx < 0 AND gy >= -gx THEN 2
  WHEN gy >= 0 AND gx < 0 AND -gx >= gy THEN 3
  WHEN gy <= 0 AND gx < 0 AND -gx >= -gy THEN 4
  WHEN gy < 0 AND gx <= 0 AND -gy >= -gx THEN 5
  WHEN gy < 0 AND gx > 0 AND -gy >= gx THEN 6
  ELSE 7
END"""


def hog_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, obin, cnt, energy): per coarse cell, the count and summed
    squared gradient magnitude of its fine-grid gradient cells in each of
    8 orientation octants (+ the -1 flat bin)."""
    grad = focal_gradient(images, res)
    binned = grad.selectExpr(
        f"fx DIV {PATCH} AS cgx",
        f"fy DIV {PATCH} AS cgy",
        f"CAST({OCTANT_SQL} AS BIGINT) AS obin",
        "grad2",
    )
    return (
        binned.groupBy("cgx", "cgy", "obin")
        .agg(
            F.count("*").cast("long").alias("cnt"),
            F.sum("grad2").cast("long").alias("energy"),
        )
        .selectExpr(
            "CAST(cgx AS BIGINT) AS gx", "CAST(cgy AS BIGINT) AS gy",
            "obin", "cnt", "energy",
        )
    )


def oracle_hog_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    focal_gradient's stencil + the VERBATIM octant CASE."""
    nf = 1 << (res + PATCH_BITS)
    return f"""{fine_cte},
gsc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         o.wx * val AS cx, o.wy * val AS cy,
         (o.dx = 0 AND o.dy = 0) AS is_c
  FROM fine, (VALUES (0,0,0,0),(1,0,-1,0),(-1,0,1,0),(0,1,0,-1),(0,-1,0,1))
       AS o(dx, dy, wx, wy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
grad AS (
  SELECT tx AS fx, ty AS fy,
         CAST(SUM(cx) AS BIGINT) AS gx, CAST(SUM(cy) AS BIGINT) AS gy,
         CAST(SUM(cx) * SUM(cx) + SUM(cy) * SUM(cy) AS BIGINT) AS grad2
  FROM gsc GROUP BY 1, 2 HAVING bool_or(is_c) AND COUNT(*) = 5
),
binned AS (
  SELECT fx // {PATCH} AS cgx, fy // {PATCH} AS cgy,
         CAST({OCTANT_SQL} AS BIGINT) AS obin, grad2
  FROM grad
)
SELECT CAST(cgx AS BIGINT) AS gx, CAST(cgy AS BIGINT) AS gy, obin,
  CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(grad2) AS BIGINT) AS energy
FROM binned GROUP BY 1, 2, 3"""
