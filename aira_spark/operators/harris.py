"""Harris corner detector over the mosaicked fine grid — the interest-point
primitive behind image registration / mosaicking control points (Harris &
Stephens 1988), here in EXACT integers end to end.

Three chained focal (halo-exchange-as-aggregation) stages, each the
focal_mean scatter + ONE hash agg:

1. gradient: central differences gx = E - W, gy = N - S, emitted only where
   the center and all four cardinal neighbors are filled (focal_gradient's
   honesty rule — one-sided differences silently change meaning at edges);
2. structure tensor: 3x3 window sums Sxx = sum(gx^2), Syy = sum(gy^2),
   Sxy = sum(gx*gy) over the FILLED gradient cells of the window (n_win in
   [1, 9]); the Harris response with k = 1/20 cross-multiplied into the
   integers: r20 = 20*(Sxx*Syy - Sxy^2) - (Sxx + Syy)^2 — the classic
   k = 0.05 with ZERO floats (r20 is 20x the textbook R);
3. non-max suppression: a cell is a peak iff its r20 STRICTLY exceeds every
   8-neighbor's (plateaus yield no peak — deterministic at any parallelism,
   no engine tie-ordering in play); corner = peak AND r20 > 0 (positive
   response = both eigenvalues large, Harris' corner criterion).

Overflow budget: val <= 255 so |gx| <= 255, gx^2 <= 65025, window sums
<= 585225; Sxx*Syy <= 3.5e11, 20x <= 7e12, (Sxx+Syy)^2 <= 1.4e12 — all
comfortably inside int64.

Scale shape (100 TB): three chained scatter-aggregates — each exchange
carries only (pos, integer partials) rows that combine map-side (the 9x /
5x scatter blowup never crosses the wire); pixels cross Arrow exactly once
in the decode; no join, no window function, no Python past the decode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .focal import GRAD_ARMS, GRAD_OFFSETS, OFFSETS, WINDOW_ARMS, scatter
from .mosaic import PATCH_BITS, fine_grid


def harris_corners(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, n_win, sxx, syy, sxy, r20, is_peak, corner): exact-integer
    Harris response (x20 fixed point, k = 1/20) with strict 3x3 non-max
    suppression over the mosaic fine grid."""
    nf = 1 << (res + PATCH_BITS)

    # stage 1: central-difference gradient (focal_gradient's stencil)
    grad = (
        scatter(fine_grid(images, res), GRAD_ARMS, nf)
        .selectExpr(
            "tx", "ty",
            "CAST(o.wx AS BIGINT) * val AS cx",
            "CAST(o.wy AS BIGINT) * val AS cy",
            "o.is_center AS is_c",
        )
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n_contrib"),
            F.sum("cx").cast("long").alias("gx"),
            F.sum("cy").cast("long").alias("gy"),
            F.max("is_c").alias("has_c"),
        )
        .where(F.col("has_c") & (F.col("n_contrib") == 5))
        .select(F.col("tx").alias("fx"), F.col("ty").alias("fy"), "gx", "gy")
    )

    # stage 2: 3x3 structure-tensor sums + the k=1/20 integer response
    tensor = (
        scatter(grad, WINDOW_ARMS, nf)
        .selectExpr(
            "tx", "ty", "gx * gx AS xx", "gy * gy AS yy", "gx * gy AS xy",
            "o.is_center AS is_c",
        )
        .groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_win"),
            F.sum("xx").cast("long").alias("sxx"),
            F.sum("yy").cast("long").alias("syy"),
            F.sum("xy").cast("long").alias("sxy"),
            F.max("is_c").alias("has_c"),
        )
        .where("has_c")
        .select(
            F.col("tx").alias("fx"), F.col("ty").alias("fy"),
            "n_win", "sxx", "syy", "sxy",
            (
                F.lit(20) * (F.col("sxx") * F.col("syy")
                             - F.col("sxy") * F.col("sxy"))
                - (F.col("sxx") + F.col("syy"))
                * (F.col("sxx") + F.col("syy"))
            ).alias("r20"),
        )
    )

    # stage 3: strict 3x3 non-max suppression on r20
    return (
        scatter(tensor, WINDOW_ARMS, nf)
        .selectExpr(
            "tx", "ty", "n_win", "sxx", "syy", "sxy", "r20",
            "o.is_center AS is_c",
        )
        .groupBy("tx", "ty")
        .agg(
            F.max(F.when(~F.col("is_c"), F.col("r20"))).alias("nbr_max"),
            F.max(F.when(F.col("is_c"), F.col("r20"))).alias("r20"),
            F.max(F.when(F.col("is_c"), F.col("n_win"))).alias("n_win"),
            F.max(F.when(F.col("is_c"), F.col("sxx"))).alias("sxx"),
            F.max(F.when(F.col("is_c"), F.col("syy"))).alias("syy"),
            F.max(F.when(F.col("is_c"), F.col("sxy"))).alias("sxy"),
            F.max("is_c").alias("has_c"),
        )
        .where("has_c")
        .selectExpr(
            "CAST(tx AS BIGINT) AS fx", "CAST(ty AS BIGINT) AS fy",
            "CAST(n_win AS BIGINT) AS n_win",
            "CAST(sxx AS BIGINT) AS sxx", "CAST(syy AS BIGINT) AS syy",
            "CAST(sxy AS BIGINT) AS sxy", "CAST(r20 AS BIGINT) AS r20",
            "CAST(nbr_max IS NULL OR r20 > nbr_max AS BIGINT) AS is_peak",
            "CAST((nbr_max IS NULL OR r20 > nbr_max) AND r20 > 0 AS BIGINT)"
            " AS corner",
        )
    )


def oracle_harris_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical gradient / tensor / NMS scatter-aggregate chain."""
    nf = 1 << (res + PATCH_BITS)
    grad_offs = ", ".join(
        f"({dx}, {dy}, {-wx}, {-wy})"
        for (dx, dy), (wx, wy) in GRAD_OFFSETS.items()
    )
    win_offs = ", ".join(
        f"({dx}, {dy}, {str(dx == 0 and dy == 0).lower()})"
        for dx, dy in OFFSETS
    )
    return f"""{fine_cte},
gsc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         o.wx * val AS cx, o.wy * val AS cy,
         (o.dx = 0 AND o.dy = 0) AS is_c
  FROM fine, (VALUES {grad_offs}) AS o(dx, dy, wx, wy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
grad AS (
  SELECT tx AS fx, ty AS fy,
         CAST(SUM(cx) AS BIGINT) AS gx, CAST(SUM(cy) AS BIGINT) AS gy
  FROM gsc GROUP BY 1, 2 HAVING bool_or(is_c) AND COUNT(*) = 5
),
tsc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         gx * gx AS xx, gy * gy AS yy, gx * gy AS xy, o.is_c
  FROM grad, (VALUES {win_offs}) AS o(dx, dy, is_c)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
tensor AS (
  SELECT tx AS fx, ty AS fy, CAST(COUNT(*) AS BIGINT) AS n_win,
         CAST(SUM(xx) AS BIGINT) AS sxx, CAST(SUM(yy) AS BIGINT) AS syy,
         CAST(SUM(xy) AS BIGINT) AS sxy,
         CAST(20 * (SUM(xx) * SUM(yy) - SUM(xy) * SUM(xy))
              - (SUM(xx) + SUM(yy)) * (SUM(xx) + SUM(yy)) AS BIGINT) AS r20
  FROM tsc GROUP BY 1, 2 HAVING bool_or(is_c)
),
nsc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         n_win, sxx, syy, sxy, r20, o.is_c
  FROM tensor, (VALUES {win_offs}) AS o(dx, dy, is_c)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
nms AS (
  SELECT tx, ty,
         MAX(CASE WHEN NOT is_c THEN r20 END) AS nbr_max,
         MAX(CASE WHEN is_c THEN r20 END) AS r20,
         MAX(CASE WHEN is_c THEN n_win END) AS n_win,
         MAX(CASE WHEN is_c THEN sxx END) AS sxx,
         MAX(CASE WHEN is_c THEN syy END) AS syy,
         MAX(CASE WHEN is_c THEN sxy END) AS sxy,
         bool_or(is_c) AS has_c
  FROM nsc GROUP BY 1, 2
)
SELECT CAST(tx AS BIGINT) AS fx, CAST(ty AS BIGINT) AS fy,
  n_win, sxx, syy, sxy, r20,
  CAST(nbr_max IS NULL OR r20 > nbr_max AS BIGINT) AS is_peak,
  CAST((nbr_max IS NULL OR r20 > nbr_max) AND r20 > 0 AS BIGINT) AS corner
FROM nms WHERE has_c"""
