"""Quartic (biweight) kernel density over a point table — the ArcGIS/QGIS
"Kernel Density" heat-map op proper, generalizing focal.point_density's
fixed 3x3 binomial smoothing to a parametric bandwidth with true
distance-decay weights.

Exactness: Silverman's quartic kernel w(d) ~ (1 - (d/h)^2)^2 is evaluated
on the CELL grid with h^2 = R^2 + 1, giving the all-integer weight
w(dx, dy) = (R^2 + 1 - dx^2 - dy^2)^2 over the Chebyshev-bounded disk
dx^2 + dy^2 <= R^2 — COMPILE-TIME literals per offset (R = 3: 29 arms,
weights 100 center .. 1 rim), so the density is an exact BIGINT numerator
(in 1/w(0) = 1/100 units of points) and engines agree bit-for-bit.

Scale shape (100 TB): identical to the focal halo-exchange-as-aggregation —
points fold to per-cell counts map-side FIRST (one hash agg whose exchange
carries (cell, cnt) rows, never points), then the 29-arm scatter is a pure
projection and ONE more hash agg folds weighted partials map-side; the
29x blowup never crosses the wire. No join, no window, no Python."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cell_from_xy, cell_ix, cell_iy
from .focal import scatter

RADIUS = 3
H2 = RADIUS * RADIUS + 1    # h^2 in cell^2: rim cells keep weight >= 1

# (dx, dy) -> (H2 - dx^2 - dy^2)^2 over the disk dx^2 + dy^2 <= R^2
KDE_KERNEL = {
    (dx, dy): (H2 - dx * dx - dy * dy) ** 2
    for dx in range(-RADIUS, RADIUS + 1)
    for dy in range(-RADIUS, RADIUS + 1)
    if dx * dx + dy * dy <= RADIUS * RADIUS
}


def kde_quartic(points: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, n_src_cells, kde_w): exact-integer quartic kernel density
    (1/100-point units at R = 3) per grid cell; cells beyond the bandwidth
    of every point emit nothing (their density is exactly zero)."""
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
    offs = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy}, 'w', {w}L)"
        for (dx, dy), w in sorted(KDE_KERNEL.items())
    )
    scattered = scatter(counts, offs, nf, "gx", "gy").selectExpr(
        "tx", "ty", "cnt * o.w AS contrib"
    )
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.count("*").cast("long").alias("n_src_cells"),
            F.sum("contrib").cast("long").alias("kde_w"),
        )
        .select(
            F.col("tx").cast("long").alias("gx"),
            F.col("ty").cast("long").alias("gy"),
            "n_src_cells", "kde_w",
        )
    )


def oracle_kde_quartic_sql(cnts_cte: str, n: int) -> str:
    """DuckDB mirror over a WITH clause ending in cnts(gx, gy, cnt):
    identical literal kernel scatter + fold on an n x n grid."""
    offs = ", ".join(
        f"({dx}, {dy}, {w})" for (dx, dy), w in sorted(KDE_KERNEL.items())
    )
    return f"""{cnts_cte},
offs(dx, dy, w) AS (VALUES {offs}),
sc AS (
  SELECT gx + dx AS tx, gy + dy AS ty, cnt * w AS contrib
  FROM cnts, offs
  WHERE gx + dx BETWEEN 0 AND {n - 1} AND gy + dy BETWEEN 0 AND {n - 1}
)
SELECT CAST(tx AS BIGINT) AS gx, CAST(ty AS BIGINT) AS gy,
       CAST(COUNT(*) AS BIGINT) AS n_src_cells,
       CAST(SUM(contrib) AS BIGINT) AS kde_w
FROM sc GROUP BY 1, 2"""
