"""Contour extraction (marching squares) over the mosaicked fine grid.

The classic raster->vector iso-line operator: every 2x2 block of grid
values is classified into one of 16 cases by thresholding its corners, and
the case determines how many contour segments cross the block (0 for
all-above/all-below, 2 for the two saddle cases 5/10, else 1). This is the
vectorization step a tile server runs to draw elevation/NDVI iso-lines.

Spark shape — the same halo-exchange-as-scatter-aggregate pattern as
focal.py: each filled fine subcell sends (corner-bit, val) to the <= 4
block anchors that use it as a corner (a projection + explode of 4 constant
offsets), ONE hash aggregation folds the 4 corners per anchor (map-side
partial combine; pixel buffers never shuffle), and a second tiny
aggregation rolls blocks up to (threshold, case) counts. All thresholds are
folded in the SAME pass (one conditional-sum column per threshold), so the
iso-band stack costs one scatter regardless of how many levels are drawn.

Semantics: marching squares is defined on a complete window — blocks are
emitted only when all 4 corners are filled mosaic subcells (COUNT(*) = 4),
the sparse-raster analog of clipping at the data edge. Everything is exact
integer arithmetic: case ids are bit sums, segment counts are a CASE
lookup, identical text in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import fine_grid

# corner offset (dx, dy) from the block anchor -> marching-squares bit
# (SW=1, SE=2, NE=4, NW=8; anchor = SW corner, y-up grid)
CORNER_BITS = [(0, 0, 1), (1, 0, 2), (1, 1, 4), (0, 1, 8)]

DEFAULT_THRESHOLDS = (64, 128, 192)

# segments crossing a block, by case id: 0/15 none, 5/10 saddle (two)
SEGS_CASE_SQL = "CASE WHEN {c} IN (0, 15) THEN 0 WHEN {c} IN (5, 10) THEN 2 ELSE 1 END"


def contour_cases(
    images: DataFrame,
    res: int = DEFAULT_RES,
    thresholds: tuple[int, ...] = DEFAULT_THRESHOLDS,
) -> DataFrame:
    """(threshold, case_id, n_cells, n_segments): marching-squares census
    of the mosaic fine grid at each iso level; n_segments counts contour
    segments crossing blocks of that case."""
    fine = fine_grid(images, res)
    arms = ", ".join(
        f"named_struct('ax', fx - {dx}, 'ay', fy - {dy}, "
        f"'bit', CAST({bit} AS BIGINT))"
        for dx, dy, bit in CORNER_BITS
    )
    scattered = fine.select(
        "val", F.expr(f"explode(array({arms})) AS o")
    ).select("o.ax", "o.ay", "o.bit", "val")
    case_cols = [
        F.sum(
            F.expr(f"CASE WHEN val >= {t} THEN bit ELSE CAST(0 AS BIGINT) END")
        ).alias(f"case_{t}")
        for t in thresholds
    ]
    blocks = (
        scattered.groupBy("ax", "ay")
        .agg(F.count("*").alias("n_corners"), *case_cols)
        .where(F.col("n_corners") == 4)
    )
    lvl_arms = ", ".join(
        f"named_struct('threshold', CAST({t} AS BIGINT), 'case_id', case_{t})"
        for t in thresholds
    )
    per_level = blocks.select(
        F.expr(f"explode(array({lvl_arms})) AS l")
    ).select("l.threshold", "l.case_id")
    return (
        per_level.groupBy("threshold", "case_id")
        .agg(F.count("*").cast("long").alias("n_cells"))
        .selectExpr(
            "threshold", "case_id", "n_cells",
            "CAST(n_cells * ({segs}) AS BIGINT) AS n_segments".format(
                segs=SEGS_CASE_SQL.format(c="case_id")
            ),
        )
    )


def oracle_contours_sql(
    fine_cte: str, thresholds: tuple[int, ...] = DEFAULT_THRESHOLDS
) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val)."""
    offs = ", ".join(f"({dx}, {dy}, {bit})" for dx, dy, bit in CORNER_BITS)
    # CAST: DuckDB SUM(BIGINT) is HUGEINT -> pandas float64, which the
    # driver canonicalizer renders '3.0' vs Spark's '3' (SURVEY §8 palette)
    case_cols = ",\n  ".join(
        f"CAST(SUM(CASE WHEN val >= {t} THEN bit ELSE CAST(0 AS BIGINT) END)"
        f" AS BIGINT) AS case_{t}"
        for t in thresholds
    )
    lvl_rows = "\n  UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS threshold, case_{t} AS case_id FROM blocks"
        for t in thresholds
    )
    segs = SEGS_CASE_SQL.format(c="case_id")
    return f"""{fine_cte},
sc AS (
  SELECT fx - o.dx AS ax, fy - o.dy AS ay, CAST(o.bit AS BIGINT) AS bit, val
  FROM fine, (VALUES {offs}) AS o(dx, dy, bit)
),
blocks AS (
  SELECT ax, ay, {case_cols}
  FROM sc GROUP BY ax, ay HAVING COUNT(*) = 4
),
lvls AS (
  {lvl_rows}
)
SELECT threshold, case_id, CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(COUNT(*) * ({segs}) AS BIGINT) AS n_segments
FROM lvls GROUP BY threshold, case_id"""
