"""Empirical semivariogram — the geostatistics primitive (Matheron 1963;
Cressie, "Statistics for Spatial Data" §2.4) behind every kriging
pipeline: the lag-binned census

    gamma(h) = (1 / 2|N(h)|) * sum_{(i,j) in N(h)} (v_i - v_j)^2,
    N(h) = pairs with lag_h <= d(i, j) < lag_{h+1}

that reveals spatial structure (range / sill / nugget) of a sampled
field — rising gamma with lag means near things are more alike, the
premise interpolators like `idw` rely on and this operator verifies.

Exactness: coordinates quantized to integer microdegrees with the shared
floor(x * 1e6) device; the lag bin comes from FLOOR(SQRT(d2)) on the
exact integer d2 — one correctly-rounded IEEE op, bit-identical in every
engine; gamma ships as `(500 * sum_sq_diff) DIV n_pairs` floor fixed
point e3 with an exact BIGINT sum of squared value differences.

Scale shape (100 TB): ONE candidate join at grid pitch = r_max with 3x3
neighbourhood emission (each close pair matches exactly one key — the
ripley/convoy device, `skew.grid_pairs`), every lag answered from the
same candidate set, so points are never duplicated per bin; the bin
spine LEFT-joins the census so empty lags report n_pairs = 0 instead of
vanishing (a hole in the variogram reads as structure — it must be
visibly empty). Only (id, ix, iy, v) rows shuffle; the hot-cell guard
raises a KeyBoundError before a grid cell holding more than
max_cell_points points goes quadratic."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import grid_pairs


def semivariogram(
    points: DataFrame,
    lag_e6: int = 2_000_000,
    n_bins: int = 8,
    max_cell_points: int = 200_000,
) -> DataFrame:
    """(lag_bin, lag_lo_e6, n_pairs, gamma_e3) over `points` carrying
    (point_id, x, y, v): lag-binned half mean squared difference; grid
    pitch = n_bins * lag_e6 so one candidate join serves every bin."""
    pitch = lag_e6 * n_bins
    pts = points.selectExpr(
        "point_id", "CAST(v AS BIGINT) AS v",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS ix",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS iy",
    )
    binned = (
        grid_pairs(
            pts, pitch, "point_id", carry=("v",), bound=max_cell_points,
            op="semivariogram", param="max_cell_points",
            hint="the candidate join would be quadratic in it — shrink "
            "r_max (lag_e6 * n_bins) or thin the samples first",
        )
        .selectExpr(
            f"CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT)"
            f" DIV {lag_e6} AS lag_bin",
            "(v_a - v_b) * (v_a - v_b) AS sq",
        )
        .where(f"lag_bin < {n_bins}")
        .groupBy("lag_bin")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.sum("sq").cast("long").alias("ssq"),
        )
    )
    spine = points.sparkSession.range(n_bins).selectExpr(
        "CAST(id AS BIGINT) AS lag_bin"
    )
    return spine.join(binned, "lag_bin", "left").selectExpr(
        "lag_bin",
        f"lag_bin * {lag_e6} AS lag_lo_e6",
        "CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs",
        "CAST(CASE WHEN coalesce(n_pairs, 0) > 0"
        " THEN (500 * ssq) DIV n_pairs ELSE 0 END AS BIGINT) AS gamma_e3",
    )


def oracle_variogram_sql(
    points_sql: str, lag_e6: int = 2_000_000, n_bins: int = 8
) -> str:
    """DuckDB mirror over a subquery yielding (point_id, x, y, v) —
    brute-force pair join with NO grid prefilter (independent method),
    identical quantization, bin floor, and fixed-point gamma."""
    return f"""
WITH pts AS (
  SELECT point_id, CAST(v AS BIGINT) AS v,
    CAST(floor(x * 1000000.0) AS BIGINT) AS ix,
    CAST(floor(y * 1000000.0) AS BIGINT) AS iy
  FROM ({points_sql})
),
pairs AS (
  SELECT
    (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) AS d2,
    (a.v - b.v) * (a.v - b.v) AS sq
  FROM pts a JOIN pts b ON a.point_id < b.point_id
),
binned AS (
  SELECT CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT) // {lag_e6}
           AS lag_bin,
    CAST(COUNT(*) AS BIGINT) AS n_pairs, CAST(SUM(sq) AS BIGINT) AS ssq
  FROM pairs
  WHERE CAST(FLOOR(SQRT(CAST(d2 AS DOUBLE))) AS BIGINT) // {lag_e6}
        < {n_bins}
  GROUP BY 1
),
spine AS (SELECT CAST(range AS BIGINT) AS lag_bin FROM range({n_bins}))
SELECT s.lag_bin, s.lag_bin * {lag_e6} AS lag_lo_e6,
  CAST(COALESCE(b.n_pairs, 0) AS BIGINT) AS n_pairs,
  CAST(CASE WHEN COALESCE(b.n_pairs, 0) > 0
       THEN (500 * b.ssq) // b.n_pairs ELSE 0 END AS BIGINT) AS gamma_e3
FROM spine s LEFT JOIN binned b ON s.lag_bin = b.lag_bin
"""
