"""Bilateral filter (Tomasi & Manduchi 1998) over the mosaic fine grid —
THE edge-preserving smoother (denoise flat regions WITHOUT blurring the
boundaries box_filter/focal_mean smear): each complete 3x3 window
averages neighbors weighted by spatial closeness AND value similarity,

    out = floor( sum_i S_i * R[|v_i - v_c|] * v_i
               / sum_i S_i * R[|v_i - v_c|] )

so a neighbor across an edge (large value gap) contributes ~nothing.

Exactness devices: the spatial kernel is the integer binomial 3x3
(corner 1, edge 2, center 4 — the exact 2D binomial, no floats); the
range kernel enters ONLY via the COMPILE-TIME table
R[d] = round(exp(-d^2 / (2*50^2)) * 1024) for d = 0..255 (the
adamic_adar/patch_entropy device — identical literal array in both
engines, no libm at query time); the output is ONE nonneg floor
division (den >= center weight 4*1024 > 0 always). Complete windows
only (the harris honesty rule — a clipped kernel silently changes what
"bilateral" means at borders).

Overflow budget: num <= 16*1024*255*9 ~ 3.8e7 per cell — nowhere near
int64.

Scale shape (100 TB): ONE constant-9-arm focal scatter into per-offset
conditional-MAX slots (the lbp device) + one hash agg; the weighted fold
is a pure projection over literal arrays (element_at). No joins, no
Python past the decode."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import fine_grid

SIGMA_R = 50

# 3x3 binomial spatial weights by (dx, dy)
_SPATIAL = {
    (0, 0): 4,
    (1, 0): 2, (-1, 0): 2, (0, 1): 2, (0, -1): 2,
    (1, 1): 1, (1, -1): 1, (-1, 1): 1, (-1, -1): 1,
}


def range_table() -> list[int]:
    """round(exp(-d^2 / (2*SIGMA_R^2)) * 1024) for d = 0..255 — computed
    once at plan-build time, embedded as identical literals."""
    return [
        round(math.exp(-(d * d) / (2.0 * SIGMA_R * SIGMA_R)) * 1024)
        for d in range(256)
    ]


def bilateral(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, val, smoothed) for every complete-window fine cell."""
    tab = "array({})".format(", ".join(str(v) for v in range_table()))
    fine = fine_grid(images, res).select(
        "fx", "fy",
        # loud in-row guard (zero extra jobs): the 256-entry Gaussian range
        # table can only index |v_i - v11| for u8 values — a band value
        # outside [0,255] must raise, not silently NULL the element_at
        F.expr(
            "CASE WHEN val BETWEEN 0 AND 255 THEN val ELSE "
            "raise_error(concat('bilateral: band value ', "
            "CAST(val AS STRING), ' outside [0,255] — the 256-entry "
            "range table cannot index it; rescale the band first')) END"
        ).alias("val"),
    )
    arms = ", ".join(
        f"named_struct('tx', fx - {dx}, 'ty', fy - {dy}, "
        f"'tag', 's{dx + 1}{dy + 1}')"
        for dx, dy in _SPATIAL
    )
    slots = [
        F.max(
            F.expr(f"CASE WHEN o.tag = 's{dx + 1}{dy + 1}' THEN val END")
        ).alias(f"v{dx + 1}{dy + 1}")
        for dx, dy in _SPATIAL
    ]
    terms_num = " + ".join(
        f"{s} * element_at(rt, CAST(abs(v{dx + 1}{dy + 1} - v11) + 1"
        f" AS INT)) * v{dx + 1}{dy + 1}"
        for (dx, dy), s in _SPATIAL.items()
    )
    terms_den = " + ".join(
        f"{s} * element_at(rt, CAST(abs(v{dx + 1}{dy + 1} - v11) + 1"
        " AS INT))"
        for (dx, dy), s in _SPATIAL.items()
    )
    return (
        fine.select("val", F.expr(f"explode(array({arms})) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(F.count("*").alias("k"), *slots)
        .where("k = 9 AND v11 IS NOT NULL")
        .selectExpr("fx", "fy", "v11", f"{tab} AS rt",
                    *[f"v{dx + 1}{dy + 1}" for dx, dy in _SPATIAL])
        .selectExpr(
            "CAST(fx AS BIGINT) AS fx", "CAST(fy AS BIGINT) AS fy",
            "CAST(v11 AS BIGINT) AS val",
            f"CAST(({terms_num}) DIV ({terms_den}) AS BIGINT) AS smoothed",
        )
    )


def oracle_bilateral_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) —
    INDEPENDENT window formulation (8 self-joins), the identical literal
    range table as a VALUES lookup per term."""
    tab = range_table()
    vals = ", ".join(f"({d}, {v})" for d, v in enumerate(tab))
    joins = "\n".join(
        f"  JOIN fine n{dx + 1}{dy + 1} ON n{dx + 1}{dy + 1}.fx ="
        f" m.fx + {dx} AND n{dx + 1}{dy + 1}.fy = m.fy + {dy}"
        for dx, dy in _SPATIAL if not (dx == 0 and dy == 0)
    )
    def v(dx, dy):
        return "m.val" if dx == 0 and dy == 0 else f"n{dx + 1}{dy + 1}.val"
    tnum = " + ".join(
        f"{s} * (SELECT w FROM rt WHERE d = abs({v(dx, dy)} - m.val))"
        f" * {v(dx, dy)}"
        for (dx, dy), s in _SPATIAL.items()
    )
    tden = " + ".join(
        f"{s} * (SELECT w FROM rt WHERE d = abs({v(dx, dy)} - m.val))"
        for (dx, dy), s in _SPATIAL.items()
    )
    return f"""{fine_cte},
rt AS (SELECT * FROM (VALUES {vals}) AS rt(d, w))
SELECT CAST(m.fx AS BIGINT) AS fx, CAST(m.fy AS BIGINT) AS fy,
  CAST(m.val AS BIGINT) AS val,
  CAST(({tnum}) // ({tden}) AS BIGINT) AS smoothed
FROM fine m
{joins}"""
