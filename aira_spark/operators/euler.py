"""Euler-characteristic census of the mosaic occupancy mask — the
topology probe chi = V - E + F over the cubical complex of occupied
fine cells (V = cells, E = horizontal + vertical adjacent pairs, F =
fully-occupied 2x2 quads): chi equals #connected components - #holes
(4-connectivity components, 8-connectivity holes), so a solid blob
scores 1, a ring scores 0, two blobs with three lakes score -1 — the
"how many islands minus how many lakes" question raster_regions'
component labeling cannot answer without a second pass, here with NO
iteration at all (Gray 1971's additive Euler computation).

Exactness: pure 0/1 integer arithmetic — every term is a presence
product over a 2x2 gather window; chi per coarse cell sums anchor
contributions keyed by the ANCHOR cell (boundary quads straddling
coarse cells belong to their anchor's cell — documented; the GLOBAL
fold row chi = -1 key is the topology of the whole mask and is
tiling-invariant).

Scale shape (100 TB): ONE constant 4-arm focal scatter (self, E, N, NE
presence into conditional-MAX slots — the lbp device) + one hash agg to
anchors + one bounded census agg. No joins, no iteration, no Python
past the decode. This is the striking scale fact: component-minus-hole
counting with zero connected-components rounds."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH, fine_grid

MASK_MIN = 128

# gather the 2x2 quad anchored at (fx, fy): arms scatter each occupied
# cell to the anchors that see it as (a|b|c|d)
_QUAD = [("a", 0, 0), ("b", 1, 0), ("c", 0, 1), ("d", 1, 1)]


def euler_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, v, e, f, chi) per coarse cell over the val >= MASK_MIN
    mask, plus the global fold row (gx = gy = -1); chi = v - e + f =
    components - holes for the whole-mask row."""
    mask = (
        fine_grid(images, res)
        .where(F.col("val") >= MASK_MIN)
        .select("fx", "fy")
    )
    arms = ", ".join(
        f"named_struct('tx', fx - {dx}, 'ty', fy - {dy}, 'tag', '{t}')"
        for t, dx, dy in _QUAD
    )
    slot = (
        "coalesce(MAX(CASE WHEN o.tag = '{t}' THEN 1 END), 0)"
    )
    anchors = (
        mask.select(F.expr(f"explode(array({arms})) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(*[F.expr(slot.format(t=t)).alias(t) for t, _, _ in _QUAD])
        .selectExpr(
            "fx", "fy", "a AS v", "a * b + a * c AS e", "a * b * c * d AS f"
        )
    )
    census = (
        anchors.selectExpr(
            f"fx DIV {PATCH} AS gx", f"fy DIV {PATCH} AS gy", "v", "e", "f"
        )
        .groupBy("gx", "gy")
        .agg(
            F.sum("v").cast("long").alias("v"),
            F.sum("e").cast("long").alias("e"),
            F.sum("f").cast("long").alias("f"),
        )
        .where("v > 0 OR e > 0 OR f > 0")
    )
    fold = census.agg(
        F.sum("v").cast("long").alias("v"),
        F.sum("e").cast("long").alias("e"),
        F.sum("f").cast("long").alias("f"),
    ).selectExpr("CAST(-1 AS BIGINT) AS gx", "CAST(-1 AS BIGINT) AS gy",
                 "v", "e", "f")
    return (
        census.selectExpr(
            "CAST(gx AS BIGINT) AS gx", "CAST(gy AS BIGINT) AS gy",
            "v", "e", "f",
        )
        .unionByName(fold)
        .selectExpr("gx", "gy", "v", "e", "f",
                    "CAST(v - e + f AS BIGINT) AS chi")
    )


def oracle_euler_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) —
    INDEPENDENT formulation: LEFT self-joins for the quad corners
    instead of the scatter."""
    return f"""{fine_cte},
mk AS (SELECT fx, fy FROM fine WHERE val >= {MASK_MIN}),
an AS (
  SELECT m.fx, m.fy, 1 AS v,
    (CASE WHEN b.fx IS NOT NULL THEN 1 ELSE 0 END
     + CASE WHEN c.fx IS NOT NULL THEN 1 ELSE 0 END) AS e,
    CASE WHEN b.fx IS NOT NULL AND c.fx IS NOT NULL
         AND d.fx IS NOT NULL THEN 1 ELSE 0 END AS f
  FROM mk m
  LEFT JOIN mk b ON b.fx = m.fx + 1 AND b.fy = m.fy
  LEFT JOIN mk c ON c.fx = m.fx AND c.fy = m.fy + 1
  LEFT JOIN mk d ON d.fx = m.fx + 1 AND d.fy = m.fy + 1
),
cen AS (
  SELECT fx // {PATCH} AS gx, fy // {PATCH} AS gy,
    CAST(SUM(v) AS BIGINT) AS v, CAST(SUM(e) AS BIGINT) AS e,
    CAST(SUM(f) AS BIGINT) AS f
  FROM an GROUP BY 1, 2
)
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy, v, e, f,
  CAST(v - e + f AS BIGINT) AS chi
FROM cen
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
  CAST(SUM(v) AS BIGINT), CAST(SUM(e) AS BIGINT), CAST(SUM(f) AS BIGINT),
  CAST(SUM(v) - SUM(e) + SUM(f) AS BIGINT)
FROM cen"""
