"""Focal (neighborhood/stencil) raster statistics over a mosaicked grid.

Map-algebra focal ops (focal mean, convolution, slope) need each output
pixel's NEIGHBORS — across tile AND image boundaries. On a cluster that is
the halo-exchange problem: every partition must see a one-pixel border of
its neighbors' data. Expressed as DataFrames, the halo exchange IS a
scatter-aggregate: each filled fine-grid subcell sends its value to the 9
positions whose 3x3 window contains it (a projection + posexplode of the 9
constant offsets), and ONE hash aggregation per target position folds the
contributions. Catalyst's partial aggregation combines contributions
map-side, so the exchange carries at most one partial row per target
position per source partition (fine_grid's own (fx, fy) agg leaves every
source position in exactly one partition) — pixel buffers are never
shuffled at all (only (pos, sum, cnt) integer rows).

Semantics: SPARSE-raster focal mean — the mean is over the FILLED subcells
of the 3x3 window (count in [1, 9]); windows clip at the global grid edge;
positions whose own subcell is unfilled emit nothing (max(is_center) keeps
center-filled rows without re-joining the filled set — a flag folded in the
same aggregation replaces a second shuffle/join).

Plan shape (pinned by tests/test_plans.py): decode mapInPandas -> mosaic
hash agg -> offset explode (projection) -> ONE more hash agg; no join, no
cartesian, no Python nodes past the decode.

Contract for every raster neighbourhood operator in the engine (focal,
terrain, texture, morphology, density): read the grid through
`mosaic.fine_grid` (or a points-to-cells count), and move values to the
neighbours through `scatter` with SQL-text arms — it owns the explode, the
target arithmetic and the [0, n)^2 edge clip. A caller states only its
value columns, its arms and its aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cell_ix, cell_iy
from .mosaic import PATCH_BITS, fine_grid

OFFSETS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
# the 3x3 window as scatter arms; is_center marks the (0, 0) arm
WINDOW_ARMS = ", ".join(
    f"named_struct('dx', {dx}, 'dy', {dy}, "
    f"'is_center', {str(dx == 0 and dy == 0).lower()})"
    for dx, dy in OFFSETS
)


def scatter(
    df: DataFrame, arms: str, n: int, x: str = "fx", y: str = "fy"
) -> DataFrame:
    """df's rows once per arm, plus the arm struct `o` and its target
    tx = x + o.dx, ty = y + o.dy; rows whose target falls outside the
    [0, n)^2 grid are dropped. `arms` is the SQL text of comma-separated
    named_struct('dx', .., 'dy', .., <carried fields>) arms — the caller
    reads its carried fields from `o`."""
    return (
        df.select("*", F.expr(f"explode(array({arms}))").alias("o"))
        .selectExpr("*", f"{x} + o.dx AS tx", f"{y} + o.dy AS ty")
        .where(f"tx >= 0 AND tx < {n} AND ty >= 0 AND ty < {n}")
    )


def focal_mean(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, n_nbrs, sum_val, focal_mean): 3x3 focal mean of the
    max-composited mosaic at the fine grid (res + PATCH_BITS), mean taken
    over the filled neighbors present in each window."""
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(
        fine_grid(images, res), WINDOW_ARMS, nf
    ).selectExpr("tx", "ty", "val", "o.is_center")
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_nbrs"),
            F.sum("val").cast("long").alias("sum_val"),
            F.max("is_center").alias("has_center"),
        )
        .where("has_center")
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            "n_nbrs",
            "sum_val",
            F.expr(
                "ROUND(CAST(sum_val AS DOUBLE) / CAST(n_nbrs AS DOUBLE), 6)"
            ).alias("focal_mean"),
        )
    )


# KDE-style smoothing kernel: binomial-ish 3x3 integer weights (sum 16)
DENSITY_KERNEL = {
    (0, 0): 4,
    (1, 0): 2, (-1, 0): 2, (0, 1): 2, (0, -1): 2,
    (1, 1): 1, (1, -1): 1, (-1, 1): 1, (-1, -1): 1,
}
DENSITY_ARMS = ", ".join(
    f"named_struct('dx', {dx}, 'dy', {dy}, 'w', {w})"
    for (dx, dy), w in sorted(DENSITY_KERNEL.items())
)


def point_density(points: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, n_src_cells, density_16): kernel-smoothed point density —
    the heat-map primitive. Points bin to cells, per-cell counts scatter
    through the integer 3x3 kernel (center 4 / edge 2 / corner 1, sum 16),
    and one hash aggregation folds the weighted contributions; density_16
    is the smoothed density in 1/16 units, kept as an exact BIGINT
    numerator so engines agree bit-for-bit. Cells within one ring of any
    occupied cell emit (everything else is exactly zero).

    Scale shape: identical to focal_mean's halo-exchange-as-aggregation —
    counts combine map-side BEFORE the 9x scatter ever crosses the wire;
    the exchange carries (pos, weighted partials) integer rows bounded by
    occupied-neighborhood size, never points."""
    from ..functions.cells import cell_from_xy

    nf = 1 << res
    counts = (
        points.select(
            cell_from_xy(F.col("x"), F.col("y"), res).alias("cell")
        )
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("cnt"))
        .select(
            cell_ix(F.col("cell")).alias("gx"),
            cell_iy(F.col("cell")).alias("gy"),
            "cnt",
        )
    )
    scattered = scatter(counts, DENSITY_ARMS, nf, "gx", "gy").selectExpr(
        "tx", "ty", "cnt * o.w AS contrib"
    )
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_src_cells"),
            F.sum("contrib").cast("long").alias("density_16"),
        )
        .select(
            F.col("tx").cast("long").alias("gx"),
            F.col("ty").cast("long").alias("gy"),
            "n_src_cells",
            "density_16",
        )
    )


# central-difference gradient stencil: (offset dx, dy) -> (weight in gx, gy)
GRAD_OFFSETS = {
    (0, 0): (0, 0),      # center: presence flag only
    (1, 0): (1, 0),      # east neighbor adds +val to gx
    (-1, 0): (-1, 0),
    (0, 1): (0, 1),
    (0, -1): (0, -1),
}
# a source at s contributes to target t = s + (dx, dy) with the weight the
# stencil assigns to the RELATIVE offset t - s = (dx, dy) negated:
# val(t + (1,0)) means the source EAST of t, which scatters via (-1, 0)
GRAD_ARMS = ", ".join(
    f"named_struct('dx', {dx}, 'dy', {dy}, 'wx', {-wx}, 'wy', {-wy}, "
    f"'is_center', {str(dx == 0 and dy == 0).lower()})"
    for (dx, dy), (wx, wy) in GRAD_OFFSETS.items()
)


def focal_gradient(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, gx, gy, grad2): central-difference gradient of the mosaic
    fine grid — gx = val(E) - val(W), gy = val(N) - val(S), grad2 = gx^2 +
    gy^2 (the integer square of the slope magnitude; map-algebra slope /
    edge detection). Emitted ONLY where the center and all four cardinal
    neighbors are filled (a one-sided difference would silently change
    meaning at data edges).

    Same halo-exchange-as-aggregation shape as focal_mean: each source
    subcell scatters (weighted) contributions to the 5 stencil targets, one
    hash agg folds them map-side; the required-neighbor check is a counter
    folded in the same agg — no join against the filled set."""
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(
        fine_grid(images, res), GRAD_ARMS, nf
    ).selectExpr(
        "tx", "ty",
        "CAST(o.wx AS BIGINT) * val AS cx", "CAST(o.wy AS BIGINT) * val AS cy",
        "o.is_center",
    )
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_contrib"),
            F.sum("cx").cast("long").alias("gx"),
            F.sum("cy").cast("long").alias("gy"),
            F.max("is_center").alias("has_center"),
        )
        # 5 contributions = center + all 4 cardinal neighbors present
        .where(F.col("has_center") & (F.col("n_contrib") == 5))
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            "gx", "gy",
            (F.col("gx") * F.col("gx") + F.col("gy") * F.col("gy")).alias("grad2"),
        )
    )


def focal_median(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, n_nbrs, med_lo, med_hi, med_x2): EXACT 3x3 focal median of
    the mosaic fine grid — the edge-preserving smoother (salt-and-pepper
    denoise) next to focal_mean's linear one.

    Medians don't decompose into sums, but the window is BOUNDED (<= 9
    filled neighbors), so the same scatter-aggregate halo exchange works
    with collect_list instead of sum: partial lists combine map-side and
    never exceed 9 small integers per target. med_lo/med_hi are the lower/
    upper order statistics at ranks (n+1) DIV 2 and n DIV 2 + 1 (equal for
    odd n); med_x2 = med_lo + med_hi is twice the textbook median, kept in
    exact integers so every engine agrees bit-for-bit (no .5 floats)."""
    nf = 1 << (res + PATCH_BITS)
    scattered = scatter(
        fine_grid(images, res), WINDOW_ARMS, nf
    ).selectExpr("tx", "ty", "val", "o.is_center")
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_nbrs"),
            F.expr("array_sort(collect_list(val))").alias("vs"),
            F.max("is_center").alias("has_center"),
        )
        .where("has_center")
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            "n_nbrs",
            F.expr("CAST(element_at(vs, CAST((n_nbrs + 1) DIV 2 AS INT)) AS BIGINT)").alias("med_lo"),
            F.expr("CAST(element_at(vs, CAST(n_nbrs DIV 2 + 1 AS INT)) AS BIGINT)").alias("med_hi"),
        )
        .withColumn("med_x2", (F.col("med_lo") + F.col("med_hi")).cast("long"))
    )


def focal_majority(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, n_nbrs, center_cls, mode_cls, mode_cnt, changed): EXACT
    3x3 focal MAJORITY of the 2-bit class grid (cls = val DIV 64) — the
    categorical-raster smoother (land-cover / segmentation cleanup) next
    to focal_median's ordinal one: a cell flips to its neighborhood's
    most common class.

    Determinism: the argmax is the pure-integer ENCODED key
    max(cnt * 4 + (3 - cls)) — count majority first, ties break to the
    SMALLEST class — so no engine's struct-ordering semantics are in
    play; mode_cls/mode_cnt decode from the key by DIV/mod. `changed`
    flags cells the smoothing would flip (the QA payload).

    Scale shape: the focal_median halo exchange with per-(cell, class)
    COUNTS instead of value lists — partials combine map-side and the
    exchange payload is <= 4 small rows per target cell regardless of
    data volume; two chained hash aggs, no window, no Python."""
    nf = 1 << (res + PATCH_BITS)
    fine = fine_grid(images, res).selectExpr(
        "fx", "fy", "val DIV 64 AS cls"
    )
    scattered = scatter(fine, WINDOW_ARMS, nf).selectExpr(
        "tx", "ty", "cls", "o.is_center"
    )
    per_cls = scattered.groupBy("tx", "ty", "cls").agg(
        F.count("*").cast("long").alias("cnt"),
        F.max("is_center").alias("c_center"),
    )
    return (
        per_cls.groupBy("tx", "ty")
        .agg(
            F.sum("cnt").cast("long").alias("n_nbrs"),
            F.expr("MAX(cnt * 4 + (3 - cls))").alias("key"),
            F.max(F.when(F.col("c_center"), F.col("cls"))).alias("ccls"),
            F.max("c_center").alias("has_center"),
        )
        .where("has_center")
        .selectExpr(
            "CAST(tx AS BIGINT) AS fx", "CAST(ty AS BIGINT) AS fy",
            "n_nbrs",
            "CAST(ccls AS BIGINT) AS center_cls",
            "CAST(3 - (key % 4) AS BIGINT) AS mode_cls",
            "CAST(key DIV 4 AS BIGINT) AS mode_cnt",
        )
        .selectExpr(
            "fx", "fy", "n_nbrs", "center_cls", "mode_cls", "mode_cnt",
            "CAST(mode_cls != center_cls AS BIGINT) AS changed",
        )
    )


def oracle_focal_majority_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical scatter, per-class counts and encoded-key argmax."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({dx}, {dy}, {str(dx == 0 and dy == 0).lower()})"
        for dx, dy in OFFSETS
    )
    return f"""{fine_cte},
cl AS (SELECT fx, fy, val // 64 AS cls FROM fine),
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, cls, o.is_center
  FROM cl, (VALUES {offs}) AS o(dx, dy, is_center)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
per_cls AS (
  SELECT tx, ty, cls, CAST(COUNT(*) AS BIGINT) AS cnt,
    bool_or(is_center) AS c_center
  FROM sc GROUP BY 1, 2, 3
),
agg AS (
  SELECT tx, ty, CAST(SUM(cnt) AS BIGINT) AS n_nbrs,
    MAX(cnt * 4 + (3 - cls)) AS key,
    MAX(CASE WHEN c_center THEN cls END) AS ccls,
    bool_or(c_center) AS has_center
  FROM per_cls GROUP BY 1, 2
)
SELECT CAST(tx AS BIGINT) AS fx, CAST(ty AS BIGINT) AS fy, n_nbrs,
  CAST(ccls AS BIGINT) AS center_cls,
  CAST(3 - (key % 4) AS BIGINT) AS mode_cls,
  CAST(key // 4 AS BIGINT) AS mode_cnt,
  CAST((3 - (key % 4)) != ccls AS BIGINT) AS changed
FROM agg WHERE has_center"""
