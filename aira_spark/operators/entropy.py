"""Patch Shannon-entropy census over the mosaicked fine grid — the
texture / information-content quality gate of an image curation pipeline
(blank or flat tiles score near zero bits; busy texture approaches the
4-bit cap of the 16-bin histogram), the raster analog of text.py's
quality signals.

Exactness device (the benford/chi2 play): log2 enters ONLY through a
COMPILE-TIME fixed-point table L(k) = floor(log2(k) * 1e6) for
k = 1..patch_area, embedded as the SAME literal array in both engines —
no libm call at query time, so engine ULPs can't diverge. With per-bin
counts c_i and n = sum(c_i):

    H = -sum(c_i/n * log2(c_i/n)) = (n*L(n) - sum(c_i*L(c_i))) / n  bits

and h_e6 = (n*L(n) - S) DIV n is a single nonneg floor division (c_i <= n
so the numerator is >= 0). Overflow: n <= 256, L <= 8e6, S <= 2.1e9 —
nowhere near int64.

Scale shape (100 TB): two chained hash aggs — fine values fold to
(gx, gy, bin, cnt) map-side (<= 16 rows per cell in the exchange regardless
of pixel volume), then one agg to cells; the log table is a pure
projection (element_at on a literal array), no join, no Python past the
decode."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH, PATCH_BITS, fine_grid

N_BINS = 16          # val DIV 16: 4-bit luminance histogram
FLAT_E6 = 500_000    # < 0.5 bits = "flat tile" curation flag


def _log2_e6_table(n_max: int) -> list[int]:
    """floor(log2(k) * 1e6) for k = 1..n_max — computed once, embedded as
    identical literals in BOTH engines (never evaluated at query time)."""
    return [math.floor(math.log2(k) * 1_000_000) for k in range(1, n_max + 1)]


def patch_entropy(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, n_fine, n_bins, h_e6, flat): exact fixed-point Shannon
    entropy (bits x 1e6) of the 16-bin value histogram of every coarse
    cell's occupied fine subcells."""
    tab = _log2_e6_table(PATCH * PATCH)
    arr = "array(" + ", ".join(f"{v}L" for v in tab) + ")"
    fine = fine_grid(images, res).selectExpr(
        f"shiftright(fx, {PATCH_BITS}) AS gx",
        f"shiftright(fy, {PATCH_BITS}) AS gy",
        f"val DIV {256 // N_BINS} AS bin",
    )
    per_bin = fine.groupBy("gx", "gy", "bin").agg(
        F.count("*").cast("long").alias("cnt")
    )
    return (
        per_bin.groupBy("gx", "gy")
        .agg(
            F.sum("cnt").cast("long").alias("n_fine"),
            F.count("*").cast("long").alias("n_bins"),
            F.sum(
                F.col("cnt")
                * F.expr(f"element_at({arr}, CAST(cnt AS INT))")
            ).cast("long").alias("s_cl"),
        )
        .select(
            F.col("gx").cast("long").alias("gx"),
            F.col("gy").cast("long").alias("gy"),
            "n_fine", "n_bins",
            F.expr(
                f"(n_fine * element_at({arr}, CAST(n_fine AS INT)) - s_cl)"
                " DIV n_fine"
            ).alias("h_e6"),
        )
        .selectExpr(
            "gx", "gy", "n_fine", "n_bins", "h_e6",
            f"CAST(h_e6 < {FLAT_E6} AS BIGINT) AS flat",
        )
    )


def oracle_patch_entropy_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical two-level histogram fold and literal log2 table."""
    tab = _log2_e6_table(PATCH * PATCH)
    arr = "[" + ", ".join(str(v) for v in tab) + "]"
    return f"""{fine_cte},
bins AS (
  SELECT fx // {PATCH} AS gx, fy // {PATCH} AS gy, val // {256 // N_BINS} AS bin
  FROM fine
),
per_bin AS (
  SELECT gx, gy, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM bins GROUP BY 1, 2, 3
),
cells AS (
  SELECT gx, gy, CAST(SUM(cnt) AS BIGINT) AS n_fine,
    CAST(COUNT(*) AS BIGINT) AS n_bins,
    CAST(SUM(cnt * ({arr})[CAST(cnt AS INT)]) AS BIGINT) AS s_cl
  FROM per_bin GROUP BY 1, 2
)
SELECT CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy, n_fine, n_bins,
  CAST((n_fine * ({arr})[CAST(n_fine AS INT)] - s_cl) // n_fine AS BIGINT)
    AS h_e6,
  CAST((n_fine * ({arr})[CAST(n_fine AS INT)] - s_cl) // n_fine
       < {FLAT_E6} AS BIGINT) AS flat
FROM cells"""
