"""Capped chamfer-(3,4) proximity raster: for every fine-grid position
within a bounded chamfer distance of a "feature" cell (mosaic value >=
thresh), the EXACT distance to the nearest feature in the classic 3-4
chamfer metric (3 per orthogonal step, 4 per diagonal step) — the GIS
`gdal_proximity` / distance-buffer primitive next to the morphology ops.

On an unobstructed grid the 3-4 chamfer path metric has a closed form:

    d((0,0) -> (dx,dy)) = 3*max(|dx|,|dy|) + min(|dx|,|dy|)

(min(|dx|,|dy|) diagonal steps at 4 plus (max-min) straight steps at 3).
That turns the distance transform from a sequential two-scan raster sweep
(the textbook formulation, useless distributed) into ONE scatter + ONE
MIN aggregation: each feature cell emits (target, w) for every offset
whose closed-form weight w is <= `cap`, and min(w) per target IS the
capped transform. Capping by METRIC value (not by Chebyshev radius)
keeps the output exact: any excluded offset has w > cap, so it can never
beat an included arm under the cap semantics, and positions whose true
distance exceeds `cap` are absent rather than silently wrong.

Scale shape: zero joins — #features x |arms| integer-triple rows feed a
single hash agg with map-side combine (partial MINs fold before the
exchange), so the wire cost is bounded by the DISTINCT reached targets
per task no matter how many tiles feed the mosaic. Pixels never shuffle
(the fine grid comes out of the decode mapInPandas); the proximity field
is defined over the raster EXTENT, so gap positions near features emit
too (matching gdal_proximity over nodata).

Reference anchor: the reference's tile grid / window arithmetic
(crates/aira-tiff/src/metadata.rs chunk geometry) defines the fine grid
this operates over; the proximity transform itself is engine-side (north
rule raster<->vector family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH_BITS, fine_grid


def chamfer_offsets(cap: int) -> list[tuple[int, int, int]]:
    """All (dx, dy, w) with w = 3*max(|dx|,|dy|) + min(|dx|,|dy|) <= cap."""
    r = cap // 3
    out = []
    for dx in range(-r, r + 1):
        for dy in range(-r, r + 1):
            a, b = abs(dx), abs(dy)
            w = 3 * max(a, b) + min(a, b)
            if w <= cap:
                out.append((dx, dy, w))
    return out


def proximity_raster(
    images: DataFrame,
    res: int = DEFAULT_RES,
    thresh: int = 200,
    cap: int = 12,
) -> DataFrame:
    """(fx, fy, dist34): exact capped 3-4 chamfer distance to the nearest
    feature cell (mosaic value >= thresh); dist34 = 0 on feature cells,
    positions farther than `cap` are absent."""
    from .focal import scatter

    nf = 1 << (res + PATCH_BITS)
    feats = fine_grid(images, res).where(F.col("val") >= thresh)
    arms = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy}, 'w', {w})"
        for dx, dy, w in chamfer_offsets(cap)
    )
    scattered = scatter(feats, arms, nf).selectExpr("tx", "ty", "o.w")
    return (
        scattered.groupBy("tx", "ty")
        .agg(F.min("w").cast("long").alias("dist34"))
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            "dist34",
        )
    )


def oracle_proximity_sql(
    fine_cte: str, res: int = DEFAULT_RES, thresh: int = 200, cap: int = 12,
) -> str:
    """DuckDB mirror, independently formulated as a pairwise MIN-join:
    candidate targets are the Chebyshev floor(cap/3) box around each
    feature (w <= cap forces max(|dx|,|dy|) <= cap/3), and each target
    takes the min closed-form distance over ALL features in its box —
    a join-per-pair decomposition, not the scatter-fold."""
    r = cap // 3
    nf = 1 << (res + PATCH_BITS)
    return f"""{fine_cte},
feats AS (SELECT fx, fy FROM fine WHERE val >= {thresh}),
box AS (
  SELECT dx.x AS dx, dy.y AS dy
  FROM (SELECT unnest(generate_series(-{r}, {r})) AS x) dx,
       (SELECT unnest(generate_series(-{r}, {r})) AS y) dy
),
tg AS (
  SELECT DISTINCT f.fx + b.dx AS tx, f.fy + b.dy AS ty
  FROM feats f, box b
  WHERE f.fx + b.dx >= 0 AND f.fx + b.dx < {nf}
    AND f.fy + b.dy >= 0 AND f.fy + b.dy < {nf}
)
SELECT CAST(t.tx AS BIGINT) AS fx, CAST(t.ty AS BIGINT) AS fy,
  CAST(MIN(3 * GREATEST(ABS(f.fx - t.tx), ABS(f.fy - t.ty))
           + LEAST(ABS(f.fx - t.tx), ABS(f.fy - t.ty))) AS BIGINT) AS dist34
FROM tg t JOIN feats f
  ON ABS(f.fx - t.tx) <= {r} AND ABS(f.fy - t.ty) <= {r}
GROUP BY 1, 2
HAVING MIN(3 * GREATEST(ABS(f.fx - t.tx), ABS(f.fy - t.ty))
           + LEAST(ABS(f.fx - t.tx), ABS(f.fy - t.ty))) <= {cap}"""
