"""Bivariate (cross-type) Ripley K — the spatial-INTERACTION census
between two mark classes (Lotwick & Silverman 1982; Dixon's K12): for
every unordered pair of mark classes,

    K12_hat(r) = A * n_pairs_AB(r) / (n1 * n2),
    n_pairs_AB(r) = #{i in A, j in B : d(i, j) <= r}

against the independence expectation pi*r^2 — attraction (stores chase
customers, symbionts co-locate) scores above, repulsion (competitors,
inhibition) below. The cross-type sibling of ripley.py's univariate K,
sharing its devices: integer-microdegree quantization, squared-distance
predicates, one grid-pitch-r_max candidate join with 3x3 emission
(`skew.grid_pairs`: each geometric pair matches EXACTLY one key; its
order column is the mark, so the (mark_a < mark_b) class filter makes
each unordered cross pair count once), every radius a conditional sum
over the same candidates, and K as the floor fixed point
(A * 1000 * n_pairs) DIV (n1 * n2).

Zero safety: class pairs with no close pairs still report n_pairs = 0 —
the always-present per-mark census cross-joins into the bounded
(mark_a < mark_b) frame (marks are a handful; the broadcast is
metadata-sized) and LEFT-joins the pair counts.

Scale shape (100 TB): identical to ripley_k — only (id, mark, ix, iy)
integer rows shuffle, the hot-cell guard raises a KeyBoundError when one
grid cell (all marks together: the join is keyed on the cell alone)
holds more than max_cell_points points, radii never duplicate points."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ripley import _AREA, RADII_E6
from .skew import grid_pairs


def cross_k(
    points: DataFrame,
    radii_e6: tuple[int, ...] = RADII_E6,
    max_cell_points: int = 200_000,
) -> DataFrame:
    """(mark_a, mark_b, r_e6, n_a, n_b, n_pairs, k12_e3) for every
    unordered mark-class pair. `points` carries (point_id, mark, x, y)."""
    pitch = max(radii_e6)
    pts = points.selectExpr(
        "mark",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS ix",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS iy",
    )
    cand = grid_pairs(
        pts, pitch, "mark", bound=max_cell_points,
        op="cross_k", param="max_cell_points",
        hint="the candidate join would be quadratic in it — thin or "
        "sub-sample the pattern first",
    )
    pc = cand.groupBy("mark_a", "mark_b").agg(
        *[
            F.sum(
                (F.col("d2") <= F.lit(r).cast("long") * F.lit(r).cast("long"))
                .cast("long")
            ).alias(f"c{i}")
            for i, r in enumerate(radii_e6)
        ]
    )
    npts = pts.groupBy("mark").agg(F.count("*").cast("long").alias("n"))
    frame = (
        npts.selectExpr("mark AS mark_a", "n AS n_a")
        .crossJoin(
            F.broadcast(npts.selectExpr("mark AS mark_b", "n AS n_b"))
        )
        .where("mark_a < mark_b")
    )
    wide = frame.join(pc, ["mark_a", "mark_b"], "left").select(
        "mark_a", "mark_b", "n_a", "n_b",
        *[
            F.coalesce(F.col(f"c{i}"), F.lit(0)).cast("long").alias(f"c{i}")
            for i in range(len(radii_e6))
        ],
    )
    stack = ", ".join(
        f"CAST({r} AS BIGINT), c{i}" for i, r in enumerate(radii_e6)
    )
    return wide.selectExpr(
        "CAST(mark_a AS BIGINT) AS mark_a",
        "CAST(mark_b AS BIGINT) AS mark_b",
        "n_a", "n_b",
        f"stack({len(radii_e6)}, {stack}) AS (r_e6, n_pairs)",
    ).selectExpr(
        "mark_a", "mark_b", "r_e6", "n_a", "n_b", "n_pairs",
        f"CASE WHEN n_a > 0 AND n_b > 0 THEN ({_AREA} * 1000 * n_pairs)"
        " DIV (n_a * n_b) ELSE 0 END AS k12_e3",
    )


def oracle_cross_k_sql(
    points_sql: str, radii_e6: tuple[int, ...] = RADII_E6
) -> str:
    """DuckDB mirror over a subquery yielding (point_id, mark, x, y) —
    brute-force cross-class pair join with NO grid prefilter
    (independent method), identical quantization and fixed point."""
    conds = ",\n    ".join(
        f"COALESCE(SUM(CASE WHEN d2 <= CAST({r} AS BIGINT) * {r} "
        f"THEN 1 ELSE 0 END), 0) AS c{i}"
        for i, r in enumerate(radii_e6)
    )
    arms = " UNION ALL ".join(
        f"SELECT mark_a, mark_b, n_a, n_b, CAST({r} AS BIGINT) AS r_e6, "
        f"c{i} AS n_pairs FROM wide"
        for i, r in enumerate(radii_e6)
    )
    return f"""
WITH pts AS (
  SELECT point_id, mark,
    CAST(floor(x * 1000000.0) AS BIGINT) AS ix,
    CAST(floor(y * 1000000.0) AS BIGINT) AS iy
  FROM ({points_sql})
),
pairs AS (
  SELECT a.mark AS mark_a, b.mark AS mark_b,
    (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) AS d2
  FROM pts a JOIN pts b ON a.mark < b.mark
),
pc AS (SELECT mark_a, mark_b, {conds} FROM pairs GROUP BY 1, 2),
np AS (SELECT mark, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY mark),
frame AS (
  SELECT x.mark AS mark_a, y.mark AS mark_b,
    x.n AS n_a, y.n AS n_b
  FROM np x JOIN np y ON x.mark < y.mark
),
wide AS (
  SELECT f.mark_a, f.mark_b, f.n_a, f.n_b,
    {", ".join(f"COALESCE(pc.c{i}, 0) AS c{i}" for i in range(len(radii_e6)))}
  FROM frame f LEFT JOIN pc
    ON pc.mark_a = f.mark_a AND pc.mark_b = f.mark_b
),
longf AS ({arms})
SELECT CAST(mark_a AS BIGINT) AS mark_a, CAST(mark_b AS BIGINT) AS mark_b,
  r_e6, n_a, n_b, CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(CASE WHEN n_a > 0 AND n_b > 0 THEN ({_AREA} * 1000 * n_pairs)
       // (n_a * n_b) ELSE 0 END AS BIGINT) AS k12_e3
FROM longf
"""
