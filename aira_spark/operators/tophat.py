"""Grayscale morphological top-hat over the mosaicked fine grid — the
background-subtraction detector for SMALL bright features (ships, cars,
hot pixels) on slowly-varying background: tophat = val - opening, where
opening = dilate(erode(val)) with the 3x3 structuring element removes
everything that cannot contain the element. cover_morph does SET
morphology on cell covers; this is the GRAYSCALE (min/max) sibling on
pixel values.

Semantics: both stages demand a COMPLETE 3x3 window (the focal_gradient
honesty rule — a clipped structuring element silently changes what
"opening" means), so the valid region shrinks by two rings and
data-edge cells emit nothing rather than something subtly wrong. By the
standard anti-extensivity of opening, opening <= val wherever defined,
so tophat >= 0 always — pinned in the pytest. `peak` flags
tophat >= 32 (an 1/8-range literal), the curation-facing output.

Exactness: min/max/subtract over exact integers — order-independent at
any parallelism, no floats anywhere.

Scale shape (100 TB): two chained focal scatter-aggregates (MIN fold,
then MAX fold — integer partials combine map-side, the 9x scatter never
crosses the wire) + ONE integer equi-join back to the fine grid for the
center value; no window, no Python past the decode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .focal import OFFSETS, WINDOW_ARMS, scatter
from .mosaic import PATCH_BITS, fine_grid

PEAK_MIN = 32    # tophat >= 32 of 255: a "small bright feature" flag


def _focal_fold(df: DataFrame, fold, nf: int) -> DataFrame:
    """One complete-window focal stage: (fx, fy, v) -> (fx, fy, fold(v))
    restricted to targets with all 9 window cells present."""
    return (
        scatter(df, WINDOW_ARMS, nf)
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"), fold(F.col("v")).alias("v"))
        .where(F.col("n") == 9)
        .select(F.col("tx").alias("fx"), F.col("ty").alias("fy"), "v")
    )


def tophat(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, val, opening, tophat, peak): 3x3 grayscale top-hat of the
    mosaic fine grid; only cells where the double-window is complete."""
    nf = 1 << (res + PATCH_BITS)
    fine = fine_grid(images, res).selectExpr(
        "fx", "fy", "CAST(val AS BIGINT) AS v"
    ).localCheckpoint(eager=True)   # reused: erode input + center join
    eroded = _focal_fold(fine, F.min, nf)
    opened = _focal_fold(eroded, F.max, nf)
    return (
        fine.join(opened.selectExpr("fx", "fy", "v AS opening"),
                  ["fx", "fy"])
        .selectExpr(
            "CAST(fx AS BIGINT) AS fx", "CAST(fy AS BIGINT) AS fy",
            "CAST(v AS BIGINT) AS val",
            "CAST(opening AS BIGINT) AS opening",
            "CAST(v - opening AS BIGINT) AS tophat",
            f"CAST(v - opening >= {PEAK_MIN} AS BIGINT) AS peak",
        )
    )


def oracle_tophat_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical complete-window MIN then MAX folds + the center join."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(f"({dx}, {dy})" for dx, dy in OFFSETS)

    def stage(src: str, fold: str, out: str) -> str:
        return f"""{out} AS (
  SELECT fx + o.dx AS fx, fy + o.dy AS fy, {fold}(v) AS v
  FROM (SELECT fx, fy, v FROM {src}) s, (VALUES {offs}) AS o(dx, dy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
  GROUP BY 1, 2 HAVING COUNT(*) = 9)"""

    return f"""{fine_cte},
fv AS (SELECT fx, fy, CAST(val AS BIGINT) AS v FROM fine),
{stage('fv', 'MIN', 'eroded')},
{stage('eroded', 'MAX', 'opened')}
SELECT CAST(f.fx AS BIGINT) AS fx, CAST(f.fy AS BIGINT) AS fy,
  CAST(f.v AS BIGINT) AS val, CAST(o.v AS BIGINT) AS opening,
  CAST(f.v - o.v AS BIGINT) AS tophat,
  CAST(f.v - o.v >= {PEAK_MIN} AS BIGINT) AS peak
FROM fv f JOIN opened o ON o.fx = f.fx AND o.fy = f.fy"""
