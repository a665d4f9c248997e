"""Lacunarity census (Allain & Cloitre 1991, box-count form) of the
mosaic fine grid's occupancy — the multi-scale "how gappy is this
pattern" statistic that separates textures sharing a fractal dimension:
at each dyadic box size r the grid tiles into NON-overlapping r x r
boxes (the box-counting variant of the classic gliding box — fan-out 1
per cell instead of r^2, the scale-honest choice; documented, identical
in both engines), box mass m = occupied cells inside, and

    Lambda(r) = N * sum(m^2) / (sum m)^2        (N = ALL boxes, empties
                                                 contribute 0 to both sums)

Lambda(1) = N/M is the inverse density; a fully occupied grid scores
EXACTLY 1 at every r (both pytest-pinned). The per-scale occupied-box
count doubles as the box-counting-dimension sequence.

Exactness: every sufficient statistic (N total boxes = (nf/r)^2 closed
form, occupied boxes, sum m, sum m^2) is an exact BIGINT; lac_e6 is the
ONE floor division (1e6 * N * sum_m2) DIV (sum_m)^2 on nonnegative
integers (Spark DIV = DuckDB // on nonneg, the textrank rule). Overflow
is GUARDED, not assumed: 1e6 * N * sum_m2 <= 1e6 * nf^2 * occupied for
every scale r, so the operator raises loudly when the occupied-cell
count exceeds min(max_occupied, 2^63 / (1e6 * nf^2)) — the cap is
DERIVED from nf, so a res bump tightens it automatically;
the escalation is DECIMAL widening.

Scale shape (100 TB): ONE constant fan-out explode (|SCALES| arms per
cell) folding map-side into (r, box) masses, one bounded second agg per
scale, zero joins, zero Python. The census is |SCALES| rows whatever the
raster size."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH_BITS, fine_grid

SCALES = (1, 2, 4, 8)
E6 = 1_000_000


def lacunarity_census(
    images: DataFrame, res: int = DEFAULT_RES, max_occupied: int = 1_000_000,
) -> DataFrame:
    """(box_size, n_boxes, occ_boxes, sum_m, sum_m2, lac_e6) — one row
    per dyadic scale over the occupancy mask of the fine grid."""
    nf = 1 << (res + PATCH_BITS)
    fine = fine_grid(images, res).select("fx", "fy")
    # derive the guard from nf instead of trusting the fixed default: the
    # worst case at scale r is 1e6 * N * sum_m2 <= 1e6 * (nf/r)^2 * occ * r^2
    # = 1e6 * nf^2 * occ, so occ must stay under 2^63 / (1e6 * nf^2) —
    # a res bump tightens the cap automatically
    safe_occupied = (1 << 63) // (E6 * nf * nf)
    cap = min(max_occupied, safe_occupied)
    occ = fine.agg(F.count("*").alias("n")).first()["n"]
    if occ > cap:
        raise RuntimeError(
            f"lacunarity_census: {occ} occupied cells > cap={cap} "
            f"(min of max_occupied={max_occupied} and the derived int64 "
            f"budget 2^63/(1e6*nf^2)={safe_occupied} at nf={nf}); "
            "1e6 * N * sum_m2 would overflow int64 — widen the arithmetic "
            "to DECIMAL(38,0) for rasters this size"
        )
    arms = ", ".join(
        f"named_struct('r', CAST({r} AS BIGINT), "
        f"'bx', fx DIV {r}, 'by', fy DIV {r})"
        for r in SCALES
    )
    masses = (
        fine.select(F.expr(f"explode(array({arms})) AS o"))
        .groupBy("o.r", "o.bx", "o.by")
        .agg(F.count("*").cast("long").alias("m"))
    )
    per_scale = masses.groupBy(F.col("r").alias("box_size")).agg(
        F.count("*").cast("long").alias("occ_boxes"),
        F.sum("m").cast("long").alias("sum_m"),
        F.sum(F.expr("m * m")).cast("long").alias("sum_m2"),
    )
    return per_scale.selectExpr(
        "box_size",
        f"CAST(({nf} DIV box_size) * ({nf} DIV box_size) AS BIGINT)"
        " AS n_boxes",
        "occ_boxes", "sum_m", "sum_m2",
        f"CASE WHEN sum_m > 0 THEN ({E6} * ({nf} DIV box_size) *"
        f" ({nf} DIV box_size) * sum_m2) DIV (sum_m * sum_m)"
        " ELSE 0 END AS lac_e6",
    ).selectExpr(
        "box_size", "n_boxes", "occ_boxes", "sum_m", "sum_m2",
        "CAST(lac_e6 AS BIGINT) AS lac_e6",
    )


def oracle_lacunarity_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val):
    identical dyadic tiling, sums and single floor division."""
    nf = 1 << (res + PATCH_BITS)
    tab = ", ".join(f"({r})" for r in SCALES)
    return f"""{fine_cte},
sc AS (SELECT * FROM (VALUES {tab}) AS sc(r)),
ms AS (
  SELECT CAST(sc.r AS BIGINT) AS r, fx // sc.r AS bx, fy // sc.r AS by,
    CAST(COUNT(*) AS BIGINT) AS m
  FROM fine, sc GROUP BY 1, 2, 3
),
ps AS (
  SELECT r AS box_size,
    CAST(COUNT(*) AS BIGINT) AS occ_boxes,
    CAST(SUM(m) AS BIGINT) AS sum_m,
    CAST(SUM(m * m) AS BIGINT) AS sum_m2
  FROM ms GROUP BY 1
)
SELECT box_size,
  CAST(({nf} // box_size) * ({nf} // box_size) AS BIGINT) AS n_boxes,
  occ_boxes, sum_m, sum_m2,
  CAST(CASE WHEN sum_m > 0 THEN ({E6} * ({nf} // box_size) *
    ({nf} // box_size) * sum_m2) // (sum_m * sum_m)
    ELSE 0 END AS BIGINT) AS lac_e6
FROM ps"""
