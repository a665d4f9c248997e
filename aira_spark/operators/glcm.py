"""GLCM (gray-level co-occurrence matrix) texture census per coarse cell
(Haralick, Shanmugam & Dinstein 1973) — the classic texture descriptor
family over the mosaic fine grid: quantize values to 8 gray levels,
count horizontally adjacent level pairs (the (1,0) offset, ordered —
documented, identical in both engines), and reduce each coarse cell's
co-occurrence matrix to the three standard features:

    contrast    = sum p_ij * (i-j)^2          (local variation)
    energy/ASM  = sum p_ij^2                  (orderliness)
    homogeneity = sum p_ij / (1 + (i-j)^2)    (closeness to diagonal)

The GLCM completes the texture family: lbp (micro-pattern codes), rle
(run structure), patch_entropy (histogram disorder) — GLCM is the
PAIRWISE-level view none of those capture.

Exactness (the no-division modularity rule — only exact numerators
ship): with pair counts c and n = sum c, contrast_num = sum c*(i-j)^2
(contrast = contrast_num/n), energy_num = sum c^2 (ASM = energy_num/n^2),
and homogeneity clears its denominators by the COMPILE-TIME constant
LCM(1+d^2, d = 0..7) = 408850: hom_num = sum c * (408850 / (1+d^2)) is
an exact BIGINT and homogeneity = hom_num / (408850 * n). Every weight
is a literal; nothing rounds.

Scale shape (100 TB): ONE constant 2-arm focal scatter (center value +
east-gathered value) + two chained hash aggs — the (coarse cell, i, j)
exchange carries <= 64 rows per cell regardless of pixel volume
(map-side combined), the census is one more bounded agg. No joins, no
Python past the decode."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH, fine_grid

N_LEVELS = 8  # val DIV 32
HOM_LCM = math.lcm(*[1 + d * d for d in range(N_LEVELS)])  # 408850

_HOM_W = "CASE " + " ".join(
    f"WHEN (ga - gb) * (ga - gb) = {d * d} THEN {HOM_LCM // (1 + d * d)}"
    for d in range(N_LEVELS)
) + " END"


def glcm_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, n_pairs, contrast_num, energy_num, hom_num) per coarse
    cell over horizontally adjacent fine-cell 8-level pairs; only cells
    with >= 1 adjacent pair emit."""
    fine = fine_grid(images, res).select(
        "fx", "fy", (F.col("val") / 32).cast("long").alias("g"),
    )
    arms = (
        "array(named_struct('tx', fx, 'ty', fy, 'tag', 'c'), "
        "named_struct('tx', fx - 1, 'ty', fy, 'tag', 'e'))"
    )
    pairs = (
        fine.select("g", F.expr(f"explode({arms}) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(
            F.max(F.expr("CASE WHEN o.tag = 'c' THEN g END")).alias("ga"),
            F.max(F.expr("CASE WHEN o.tag = 'e' THEN g END")).alias("gb"),
        )
        .where("ga IS NOT NULL AND gb IS NOT NULL")
    )
    counts = (
        pairs.selectExpr(
            f"fx DIV {PATCH} AS gx", f"fy DIV {PATCH} AS gy", "ga", "gb"
        )
        .groupBy("gx", "gy", "ga", "gb")
        .agg(F.count("*").cast("long").alias("c"))
    )
    return (
        counts.groupBy("gx", "gy")
        .agg(
            F.sum("c").cast("long").alias("n_pairs"),
            F.sum(F.expr("c * (ga - gb) * (ga - gb)"))
            .cast("long").alias("contrast_num"),
            F.sum(F.expr("c * c")).cast("long").alias("energy_num"),
            F.sum(F.expr(f"c * ({_HOM_W})")).cast("long").alias("hom_num"),
        )
        .selectExpr(
            "CAST(gx AS BIGINT) AS gx", "CAST(gy AS BIGINT) AS gy",
            "n_pairs", "contrast_num", "energy_num", "hom_num",
        )
    )


def oracle_glcm_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) —
    INDEPENDENT adjacency formulation (self-JOIN on fx+1 instead of the
    scatter), identical quantization, weights and numerators."""
    return f"""{fine_cte},
lv AS (SELECT fx, fy, CAST(val // 32 AS BIGINT) AS g FROM fine),
pr AS (
  SELECT a.fx // {PATCH} AS gx, a.fy // {PATCH} AS gy,
    a.g AS ga, b.g AS gb
  FROM lv a JOIN lv b ON b.fx = a.fx + 1 AND b.fy = a.fy
),
ct AS (
  SELECT gx, gy, ga, gb, CAST(COUNT(*) AS BIGINT) AS c
  FROM pr GROUP BY 1, 2, 3, 4
)
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
  CAST(SUM(c) AS BIGINT) AS n_pairs,
  CAST(SUM(c * (ga - gb) * (ga - gb)) AS BIGINT) AS contrast_num,
  CAST(SUM(c * c) AS BIGINT) AS energy_num,
  CAST(SUM(c * ({_HOM_W})) AS BIGINT) AS hom_num
FROM ct GROUP BY 1, 2"""
