"""Hough line-transform vote census (Duda & Hart 1972) over the mosaic
fine grid — the classic "which straight lines run through this raster"
detector (roads/runways/ship-wakes in overhead imagery): every ON pixel
of a binary mask votes for all (theta, rho) lines through it in the
normal form rho = x*cos(theta) + y*sin(theta), and line evidence is a
peak in the accumulator.

Exactness: trigonometry enters ONLY via a COMPILE-TIME table (the
adamic_adar/patch_entropy device) — cos/sin at T evenly spaced thetas in
[0, pi) as round(±1e6) integer literals baked into both engines' query
text, so the vote rho_fp = fx*c_t + fy*s_t is an exact BIGINT (bounded
by 2*nf*1e6 ~ 4e9 at nf = 2048). Binning shifts by a literal OFFSET that
makes every rho_fp nonnegative BEFORE the single floor division (Spark
DIV truncates toward zero, DuckDB // floors — on nonnegative operands
they agree; the textrank pinned-division rule), bucket width = RHO_Q
pixels. The mask is a literal threshold on the grid value (val >= 192,
the top quartile of the synthetic ramp).

Scale shape (100 TB): NO join and NO Python anywhere — mask cells
project T=12 literal vote arms (constant fan-out, the focal scatter
class) and fold map-side into (theta, rho_bin) counts; ONE hash agg
whose key space is bounded by T * (diagonal / RHO_Q) ~ thousands of
rows REGARDLESS of raster size, so the accumulator always fits and the
reduce side is metadata-sized. The census keeps bins with votes >=
min_votes plus a per-theta peak row via the encoded argmax (the
focal_majority device: votes * 2^32 + (2^32-1-bin) so ties break to the
SMALLEST rho bin)."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH_BITS, fine_grid

E6 = 1_000_000
ENC = 1 << 32


def trig_table(n_theta: int) -> list[tuple[int, int, int]]:
    """(t, cos_e6, sin_e6) literals at theta_t = t*pi/n_theta, t in
    [0, n_theta) — computed once at plan-build time, identical literal
    text in both engines."""
    return [
        (
            t,
            round(math.cos(math.pi * t / n_theta) * E6),
            round(math.sin(math.pi * t / n_theta) * E6),
        )
        for t in range(n_theta)
    ]


def hough_lines(
    images: DataFrame,
    res: int = DEFAULT_RES,
    n_theta: int = 12,
    rho_q: int = 4,
    mask_min: int = 192,
    min_votes: int = 8,
) -> DataFrame:
    """(theta, rho_bin, votes, is_peak) — accumulator bins with votes >=
    min_votes, is_peak = 1 on each theta's arg-max bin (smallest-bin tie
    break); peak bins ship even below min_votes so every theta with any
    vote emits exactly one peak row."""
    nf = 1 << (res + PATCH_BITS)
    # encode bound, CHECKED not assumed (the voronoi rule): the encoded
    # argmax votes*2^32 + (2^32-1-bin) overflows int64 at votes >= 2^31,
    # and votes per (theta, rho_bin) is structurally <= n_on_pixels <= nf^2
    # (each theta's bins partition the mask), so nf^2 < 2^31 is sufficient
    if 2 * (res + PATCH_BITS) >= 31:
        raise ValueError(
            f"hough_lines: res+PATCH_BITS={res + PATCH_BITS} makes the "
            f"fine grid nf^2 = 2^{2 * (res + PATCH_BITS)} >= 2^31 possible "
            "votes per bin — the votes*2^32 argmax encode would overflow "
            "int64; widen the encode or coarsen the grid"
        )
    off = 2 * nf * E6  # |rho_fp| <= 2*(nf-1)*1e6 < off: shift is total
    fine = fine_grid(images, res)
    arms = ", ".join(
        f"named_struct('t', CAST({t} AS BIGINT), 'rb', "
        f"(fx * CAST({c} AS BIGINT) + fy * CAST({s} AS BIGINT) + {off})"
        f" DIV {rho_q * E6})"
        for t, c, s in trig_table(n_theta)
    )
    votes = (
        fine.where(F.col("val") >= mask_min)
        .select(F.expr(f"explode(array({arms})) AS o"))
        .groupBy(
            F.col("o.t").alias("theta"), F.col("o.rb").alias("rho_bin")
        )
        .agg(F.count("*").cast("long").alias("votes"))
    )
    peaks = (
        votes.groupBy("theta")
        .agg(
            F.max(
                F.col("votes") * F.lit(ENC)
                + (F.lit(ENC - 1) - F.col("rho_bin"))
            ).alias("key")
        )
        .selectExpr(
            "theta AS pt", f"CAST({ENC - 1} - key % {ENC} AS BIGINT) AS pb"
        )
    )
    return (
        votes.join(
            F.broadcast(peaks),
            (F.col("theta") == F.col("pt"))
            & (F.col("rho_bin") == F.col("pb")),
            "left",
        )
        .where((F.col("votes") >= min_votes) | F.col("pt").isNotNull())
        .selectExpr(
            "CAST(theta AS BIGINT) AS theta",
            "CAST(rho_bin AS BIGINT) AS rho_bin",
            "votes",
            "CAST(CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)"
            " AS is_peak",
        )
    )


def oracle_hough_sql(
    fine_cte: str,
    res: int = DEFAULT_RES,
    n_theta: int = 12,
    rho_q: int = 4,
    mask_min: int = 192,
    min_votes: int = 8,
) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    identical literal trig table via VALUES, same offset-then-divide
    binning and encoded per-theta argmax."""
    nf = 1 << (res + PATCH_BITS)
    off = 2 * nf * E6
    tab = ", ".join(f"({t}, {c}, {s})" for t, c, s in trig_table(n_theta))
    return f"""{fine_cte},
tt AS (SELECT * FROM (VALUES {tab}) AS tt(t, c, s)),
vt AS (
  SELECT CAST(tt.t AS BIGINT) AS theta,
    CAST((fx * tt.c + fy * tt.s + {off}) // {rho_q * E6} AS BIGINT)
      AS rho_bin
  FROM fine, tt WHERE val >= {mask_min}
),
ac AS (
  SELECT theta, rho_bin, CAST(COUNT(*) AS BIGINT) AS votes
  FROM vt GROUP BY 1, 2
),
pk AS (
  SELECT theta AS pt,
    CAST({ENC - 1} - MAX(votes * {ENC} + ({ENC - 1} - rho_bin)) % {ENC}
         AS BIGINT) AS pb
  FROM ac GROUP BY 1
)
SELECT ac.theta, ac.rho_bin, ac.votes,
  CAST(CASE WHEN pk.pt IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_peak
FROM ac LEFT JOIN pk ON ac.theta = pk.pt AND ac.rho_bin = pk.pb
WHERE ac.votes >= {min_votes} OR pk.pt IS NOT NULL"""
