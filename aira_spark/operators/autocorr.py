"""Spatial autocorrelation statistics (global Moran's I and Geary's C)
over the mosaicked fine grid with rook (4-neighbor) binary weights.

Moran's I = (n/W) * sum_ij w_ij (v_i - m)(v_j - m) / sum_i (v_i - m)^2 and
Geary's C = ((n-1)/2W) * sum_ij w_ij (v_i - v_j)^2 / sum_i (v_i - m)^2 are
THE standard first questions asked of any gridded measurement (is the
raster spatially clustered, random, or dispersed?).

Scale shape — no pairwise join materializes: the neighbor structure is the
same halo exchange as focal.py, ONE scatter of each filled subcell's value
to its 4 rook neighbors (+ itself) and ONE hash aggregation per target
cell. Per-cell sufficient statistics (deg_i, sum_j v_j, sum_j v_j^2) make
every cross term a per-row expression:

    sum_ij w v_i v_j        = sum_i v_i * nbr_sum_i
    sum_ij w (v_i + v_j)    = sum_i (deg_i * v_i + nbr_sum_i)
    sum_ij w (v_i - v_j)^2  = sum_i (deg_i * v_i^2 + nbr_sum2_i
                                      - 2 v_i * nbr_sum_i)

so the whole statistic is scatter -> agg -> ONE single-row aggregate of
exact BIGINT sums. The final I and C divide those exact integers through a
SHARED expression text (explicit DOUBLE casts, pinned parenthesization) so
Spark and DuckDB execute the identical IEEE sequence — the bm25 rule.

Mean centering is exact: both numerators and the denominator are expanded
algebraically (multiply through by n^2) instead of subtracting a rounded
mean, so there is NO fixed-point centering error at any n.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .focal import WINDOW_ARMS, scatter
from .mosaic import PATCH_BITS, fine_grid

ROOK = [(0, 0), (1, 0), (-1, 0), (0, 1), (0, -1)]
# the rook window as focal.scatter arms; is_center marks the (0, 0) arm
ROOK_ARMS = ", ".join(
    f"named_struct('dx', {dx}, 'dy', {dy}, "
    f"'is_center', {str(dx == 0 and dy == 0).lower()})"
    for dx, dy in ROOK
)

_D = "CAST({x} AS DOUBLE)"


def moran_expr_text() -> str:
    """I = (n/W) * (n^2*Swvv - n*S*Swvp + S^2*W) / (n*(n*Sv2 - S^2)), in
    integer micros — one string, valid in Spark SQL and DuckDB."""
    n, s, sv2 = _D.format(x="n"), _D.format(x="s_v"), _D.format(x="s_v2")
    w, swvv, swvp = (
        _D.format(x="w_pairs"), _D.format(x="s_wvv"), _D.format(x="s_wvp"),
    )
    num = f"((({n} * {n}) * {swvv}) - (({n} * {s}) * {swvp}) + (({s} * {s}) * {w}))"
    den = f"({n} * (({n} * {sv2}) - ({s} * {s})))"
    return (
        f"CASE WHEN w_pairs = 0 THEN NULL ELSE "
        f"CAST(round((({n} / {w}) * ({num} / {den})) * 1000000, 0) AS BIGINT) END"
    )


def geary_expr_text() -> str:
    """C = ((n-1)/(2W)) * n*Swd2 / (n*Sv2 - S^2), integer micros."""
    n, s, sv2 = _D.format(x="n"), _D.format(x="s_v"), _D.format(x="s_v2")
    w, swd2 = _D.format(x="w_pairs"), _D.format(x="s_wd2")
    num = f"({n} * {swd2})"
    den = f"(({n} * {sv2}) - ({s} * {s}))"
    return (
        f"CASE WHEN w_pairs = 0 THEN NULL ELSE "
        f"CAST(round(((({n} - 1) / (2 * {w})) * ({num} / {den})) * 1000000, 0)"
        f" AS BIGINT) END"
    )


_FINAL_SELECT = (
    "n, s_v, s_v2, w_pairs, s_wvv, s_wvp, s_wd2, "
    "{moran} AS moran_e6, {geary} AS geary_e6"
)


def spatial_autocorr(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """One row: (n, s_v, s_v2, w_pairs, s_wvv, s_wvp, s_wd2, moran_e6,
    geary_e6) — global Moran's I / Geary's C of the mosaic fine grid."""
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(fine_grid(images, res), ROOK_ARMS, nf)
    cells = (
        scattered.groupBy("tx", "ty")
        .agg(
            F.max(F.when(F.col("o.is_center"), F.col("val"))).alias("v"),
            F.sum(
                F.when(~F.col("o.is_center"), F.lit(1)).otherwise(F.lit(0))
            ).cast("long").alias("deg"),
            F.sum(
                F.when(~F.col("o.is_center"), F.col("val")).otherwise(F.lit(0))
            ).cast("long").alias("nbr_sum"),
            F.sum(
                F.when(~F.col("o.is_center"), F.col("val") * F.col("val"))
                .otherwise(F.lit(0))
            ).cast("long").alias("nbr_sum2"),
        )
        .where(F.col("v").isNotNull())
    )
    totals = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("s_v"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("s_v2"),
        F.sum("deg").cast("long").alias("w_pairs"),
        F.sum(F.col("v") * F.col("nbr_sum")).cast("long").alias("s_wvv"),
        F.sum(F.col("deg") * F.col("v") + F.col("nbr_sum"))
        .cast("long").alias("s_wvp"),
        F.sum(
            F.col("deg") * F.col("v") * F.col("v")
            + F.col("nbr_sum2")
            - 2 * F.col("v") * F.col("nbr_sum")
        ).cast("long").alias("s_wd2"),
    )
    return totals.selectExpr(
        "n", "s_v", "s_v2", "w_pairs", "s_wvv", "s_wvp", "s_wd2",
        f"{moran_expr_text()} AS moran_e6",
        f"{geary_expr_text()} AS geary_e6",
    )


def oracle_autocorr_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val)."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({dx}, {dy}, {str(dx == 0 and dy == 0).lower()})"
        for dx, dy in ROOK
    )
    final = _FINAL_SELECT.format(
        moran=moran_expr_text(), geary=geary_expr_text()
    )
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, val, o.is_center
  FROM fine, (VALUES {offs}) AS o(dx, dy, is_center)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
cells AS (
  SELECT tx, ty,
    MAX(CASE WHEN is_center THEN val END) AS v,
    CAST(SUM(CASE WHEN is_center THEN 0 ELSE 1 END) AS BIGINT) AS deg,
    CAST(SUM(CASE WHEN is_center THEN 0 ELSE val END) AS BIGINT) AS nbr_sum,
    CAST(SUM(CASE WHEN is_center THEN 0 ELSE val * val END) AS BIGINT)
      AS nbr_sum2
  FROM sc GROUP BY tx, ty HAVING bool_or(is_center)
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(v) AS BIGINT) AS s_v,
    CAST(SUM(v * v) AS BIGINT) AS s_v2,
    CAST(SUM(deg) AS BIGINT) AS w_pairs,
    CAST(SUM(v * nbr_sum) AS BIGINT) AS s_wvv,
    CAST(SUM(deg * v + nbr_sum) AS BIGINT) AS s_wvp,
    CAST(SUM(deg * v * v + nbr_sum2 - 2 * v * nbr_sum) AS BIGINT) AS s_wd2
  FROM cells
)
SELECT {final} FROM totals"""


# Getis-Ord Gi* z^2 thresholds as exact rationals: 1.96^2 = (49/25)^2 and
# 2.576^2 = (322/125)^2 — the 95% / 99% two-tailed normal cutoffs.
GI_T95_NUM, GI_T95_DEN = 2401, 625
GI_T99_NUM, GI_T99_DEN = 103684, 15625


def _gi_class_case(cast: str) -> str:
    """Shared CASE text classifying each cell from exact integer pieces.

    z^2 = num^2 * (n-1) / (g_var * k_var) with num = n*S_i - k_i*sx,
    g_var = n*sx2 - sx^2, k_var = n*k_i - k_i^2; the threshold test
    T_den * num^2 * (n-1) > T_num * g_var * k_var is exact once the
    products are evaluated in 128-bit integers — `cast` is a "{x}" format
    template supplying the per-engine widening (Spark DECIMAL(38,0),
    DuckDB HUGEINT; both exact integer types, so the comparison has one
    answer). Magnitude budget at
    the bench grid (n<=7000, val<=255): LHS <= 15625 * (7000*9*255)^2 *
    7000 ~ 3e28, RHS <= 103684 * 7000^2*65025 * 7000*9 ~ 2e25 — 9+ orders
    inside both types' ~1e38 range."""
    w = cast.format
    lhs = f"{w(x='num')} * {w(x='num')} * {w(x='(n - 1)')}"
    kvar = "(n * k_i - k_i * k_i)"
    rhs = f"{w(x='g_var')} * {w(x=kvar)}"
    return (
        f"CASE WHEN g_var = 0 OR {kvar} = 0 THEN 'ns' "
        f"WHEN num > 0 AND {GI_T99_DEN} * {lhs} > {GI_T99_NUM} * {rhs} "
        f"THEN 'hot99' "
        f"WHEN num > 0 AND {GI_T95_DEN} * {lhs} > {GI_T95_NUM} * {rhs} "
        f"THEN 'hot95' "
        f"WHEN num < 0 AND {GI_T99_DEN} * {lhs} > {GI_T99_NUM} * {rhs} "
        f"THEN 'cold99' "
        f"WHEN num < 0 AND {GI_T95_DEN} * {lhs} > {GI_T95_NUM} * {rhs} "
        f"THEN 'cold95' "
        f"ELSE 'ns' END"
    )


def gi_hotspots(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, k_i, s_i, num, gi_class): local Getis-Ord Gi* hot/cold-spot
    classification of every fine-grid cell — the LOCAL companion to the
    global Moran/Geary statistic above, and the standard "where are the
    clusters" map (hot99/hot95/cold95/cold99/ns at the two-tailed normal
    cutoffs).

    Gi* uses queen 3x3 weights INCLUDING self: S_i = sum of present
    neighborhood values, k_i = present neighborhood size. The z-score's
    numerator and variance are kept as exact integers (num = n*S_i -
    k_i*sx; g_var = n*sx2 - sx^2), and the significance test is the
    CROSS-MULTIPLIED square comparison in 128-bit exact arithmetic — no
    sqrt, no libm, no doubles anywhere near the checked output (the r3
    driver-gate lesson).

    Scale shape: ONE halo scatter (9 arms, the focal_mean exchange) + one
    hash agg gives every per-cell piece; the three global sums are a
    single-row aggregate BROADCAST back over the cells (metadata-sized);
    classification is a pure projection. Cells never pair with cells.
    """
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(fine_grid(images, res), WINDOW_ARMS, nf)
    cells = (
        scattered.groupBy("tx", "ty")
        .agg(
            F.max(F.when(F.col("o.is_center"), F.col("val"))).alias("v"),
            F.count("*").cast("long").alias("k_i"),
            F.sum("val").cast("long").alias("s_i"),
        )
        .where(F.col("v").isNotNull())
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            "v", "k_i", "s_i",
        )
    )
    totals = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("sx2"),
    )
    return (
        cells.crossJoin(F.broadcast(totals))
        .selectExpr(
            "fx", "fy", "k_i", "s_i", "n",
            "n * s_i - k_i * sx AS num",
            "n * sx2 - sx * sx AS g_var",
        )
        .selectExpr(
            "fx", "fy", "k_i", "s_i", "CAST(num AS BIGINT) AS num",
            f"{_gi_class_case('CAST({x} AS DECIMAL(38,0))')} AS gi_class",
        )
    )


def oracle_hotspots_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val): the
    identical scatter/totals algebra with HUGEINT as the 128-bit widener."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({dx}, {dy}, {str(dx == 0 and dy == 0).lower()})"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    case = _gi_class_case("CAST({x} AS HUGEINT)")
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, val, o.is_center
  FROM fine, (VALUES {offs}) AS o(dx, dy, is_center)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
cells AS (
  SELECT CAST(tx AS BIGINT) AS fx, CAST(ty AS BIGINT) AS fy,
    MAX(CASE WHEN is_center THEN val END) AS v,
    CAST(COUNT(*) AS BIGINT) AS k_i,
    CAST(SUM(val) AS BIGINT) AS s_i
  FROM sc GROUP BY tx, ty HAVING bool_or(is_center)
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sx,
    CAST(SUM(v * v) AS BIGINT) AS sx2
  FROM cells
),
pieces AS (
  SELECT fx, fy, k_i, s_i, n,
    CAST(n * s_i - k_i * sx AS BIGINT) AS num,
    CAST(n * sx2 - sx * sx AS BIGINT) AS g_var
  FROM cells, totals
)
SELECT fx, fy, k_i, s_i, num, {case} AS gi_class FROM pieces"""


# local Moran quadrant: sign of a = n*v_i - sx (own deviation) and of
# b = n*s_nbr - k_i*sx (neighborhood deviation); zeros are 'ns'
_LISA_CASE = (
    "CASE WHEN a > 0 AND b > 0 THEN 'HH' "
    "WHEN a < 0 AND b < 0 THEN 'LL' "
    "WHEN a > 0 AND b < 0 THEN 'HL' "
    "WHEN a < 0 AND b > 0 THEN 'LH' "
    "ELSE 'ns' END"
)


def lisa_clusters(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, k_i, a_num, b_num, lisa_d, quad): Anselin 1995 LOCAL
    Moran's I cluster map of every fine-grid cell — the quadrant
    companion to gi_hotspots' Gi* (Gi* says hot-or-cold; LISA separates
    cluster cores HH/LL from spatial OUTLIERS HL/LH, the 'rich block in
    a poor neighborhood' detector GeoDa popularized).

    I_i ∝ (v_i − m) · Σ_{j∈N(i)} (v_j − m), queen 3x3 EXCLUDING self
    (Gi* includes self — the one-weight difference between the two
    statistics). Mean centering is EXACT by cross-multiplication: the
    checked projection carries a_num = n·v_i − sx and b_num = n·s_nbr −
    k_i·sx (both exact BIGINT), their sign quadrant, and the ONCE-divided
    product lisa_d = (a_num·b_num) DIV (n·n) — 128-bit intermediate via
    Spark DECIMAL(38,0) / DuckDB HUGEINT (the moments widening), floored
    back to BIGINT ≈ (v_i−m)·Σ(v_j−m). No sqrt, no doubles anywhere.

    Scale shape: identical to gi_hotspots — ONE 9-arm halo scatter of the
    grid-bounded mosaic rows + one hash agg, single-row totals broadcast,
    classification pure projection. Cells never pair with cells."""
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(fine_grid(images, res), WINDOW_ARMS, nf)
    cells = (
        scattered.groupBy("tx", "ty")
        .agg(
            F.max(F.when(F.col("o.is_center"), F.col("val"))).alias("v"),
            F.count(F.when(~F.col("o.is_center"), F.lit(1)))
            .cast("long").alias("k_i"),
            F.sum(F.when(~F.col("o.is_center"), F.col("val")))
            .cast("long").alias("s_nbr_raw"),
        )
        .where(F.col("v").isNotNull())
        .selectExpr(
            "CAST(tx AS BIGINT) AS fx", "CAST(ty AS BIGINT) AS fy",
            "v", "k_i", "CAST(coalesce(s_nbr_raw, 0) AS BIGINT) AS s_nbr",
        )
    )
    totals = cells.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("v").cast("long").alias("sx"),
    )
    return (
        cells.crossJoin(F.broadcast(totals))
        .selectExpr(
            "fx", "fy", "k_i", "n",
            "CAST(n * v - sx AS BIGINT) AS a",
            "CAST(n * s_nbr - k_i * sx AS BIGINT) AS b",
        )
        .selectExpr(
            "fx", "fy", "k_i",
            "a AS a_num", "b AS b_num",
            "CAST((CAST(a AS DECIMAL(38,0)) * b) DIV (CAST(n AS"
            " DECIMAL(38,0)) * n) AS BIGINT) AS lisa_d",
            f"{_LISA_CASE} AS quad",
        )
    )


def oracle_lisa_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical scatter (self excluded from the neighbor fold), totals and
    HUGEINT once-divided product."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({dx}, {dy}, {str(dx == 0 and dy == 0).lower()})"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, val, o.is_center
  FROM fine, (VALUES {offs}) AS o(dx, dy, is_center)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
cells AS (
  SELECT CAST(tx AS BIGINT) AS fx, CAST(ty AS BIGINT) AS fy,
    MAX(CASE WHEN is_center THEN val END) AS v,
    CAST(COUNT(CASE WHEN NOT is_center THEN 1 END) AS BIGINT) AS k_i,
    CAST(COALESCE(SUM(CASE WHEN NOT is_center THEN val END), 0)
         AS BIGINT) AS s_nbr
  FROM sc GROUP BY tx, ty HAVING bool_or(is_center)
),
totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS sx
  FROM cells
),
base AS (
  SELECT fx, fy, k_i,
    CAST(n * v - sx AS BIGINT) AS a,
    CAST(n * s_nbr - k_i * sx AS BIGINT) AS b,
    n
  FROM cells, totals
)
SELECT fx, fy, k_i, a AS a_num, b AS b_num,
  CAST((CAST(a AS HUGEINT) * b) // (CAST(n AS HUGEINT) * n)
       AS BIGINT) AS lisa_d,
  {_LISA_CASE} AS quad
FROM base"""
