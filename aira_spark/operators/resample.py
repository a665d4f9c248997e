"""Bilinear 2x upsample of the mosaic fine grid — the zoom-in resample
(inverse of pyramid.py's overview build): each target subcell at doubled
resolution interpolates its 2x2 enclosing source centers with the standard
half-pixel-aligned bilinear weights.

Grid alignment: source cell s spans [s, s+1) with center s + 0.5; target
cell t (at 2x) has center (t + 0.5) / 2. The sample point falls 1/4 or 3/4
of the way between two source centers, so the per-axis weights are exactly
{1/4, 3/4} and the 2D stencil is the {1, 3, 9} / 16 kernel — EXACT in
sixteenths, no floating point anywhere.

Spark shape: the gather ("which 4 sources surround target t?") is restated
as the same scatter-aggregate as every stencil in this repo: each source
scatters (weight, weight*val) to the 16 targets it influences (4 arms per
axis: t in {2s-1, 2s, 2s+1, 2s+2} with weights {1,3,3,1}/4), and ONE hash
aggregation folds them. Targets with total weight 16 have all 4 sources
present (interior of the data); edge targets are dropped rather than
renormalized — same clipping stance as focal_gradient's full-stencil rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .kmeans import _floor_div
from .mosaic import fine_grid

# per-axis arms: target offset from 2*s, and the numerator of the /4 weight
AXIS_ARMS = [(-1, 1), (0, 3), (1, 3), (2, 1)]


def upsample_bilinear(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(tx, ty, val_x16, val): bilinear 2x upsample; val_x16 is the exact
    interpolated value in sixteenths, val its floor."""
    fine = fine_grid(images, res)
    arms = ", ".join(
        f"named_struct('tx', 2 * fx + {ox}, 'ty', 2 * fy + {oy}, "
        f"'w', CAST({wx * wy} AS BIGINT))"
        for ox, wx in AXIS_ARMS
        for oy, wy in AXIS_ARMS
    )
    scattered = fine.select(
        "val", F.expr(f"explode(array({arms})) AS o")
    ).select("o.tx", "o.ty", "o.w", "val")
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.sum("w").cast("long").alias("ws"),
            F.sum(F.col("w") * F.col("val")).cast("long").alias("val_x16"),
        )
        .where(F.col("ws") == 16)
        .selectExpr(
            "tx", "ty", "val_x16",
            f"{_floor_div('val_x16', '16', 'spark')} AS val",
        )
    )


def oracle_upsample_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val)."""
    offs = ", ".join(
        f"({ox}, {oy}, {wx * wy})"
        for ox, wx in AXIS_ARMS
        for oy, wy in AXIS_ARMS
    )
    val = _floor_div("val_x16", "16", "duck")
    return f"""{fine_cte},
sc AS (
  SELECT 2 * fx + o.ox AS tx, 2 * fy + o.oy AS ty,
         CAST(o.w AS BIGINT) AS w, val
  FROM fine, (VALUES {offs}) AS o(ox, oy, w)
),
up AS (
  SELECT tx, ty, CAST(SUM(w) AS BIGINT) AS ws,
    CAST(SUM(w * val) AS BIGINT) AS val_x16
  FROM sc GROUP BY tx, ty HAVING SUM(w) = 16
)
SELECT tx, ty, val_x16, {val} AS val FROM up"""
