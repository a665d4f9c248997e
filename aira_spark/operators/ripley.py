"""Ripley's K point-pattern analysis — the spatial-statistics primitive
(Ripley 1976; Dixon, "Ripley's K function", Encyclopedia of
Environmetrics) that the distance-band JOIN family (`within_distance`)
cannot express: a multi-radius pair-count CENSUS per mark class

    K_hat(r) = A * 2 * n_pairs(r) / (n * (n - 1)),
    n_pairs(r) = #{i < j : d(i, j) <= r}

compared against the CSR (complete spatial randomness) expectation
pi*r^2 — the detector for clustered vs dispersed point processes (the
synthetic points table carries a deliberate hot cluster, which K flags
at small radii by construction).

Exactness: coordinates quantized to integer microdegrees with the shared
floor(x * 1e6) device (both engines evaluate the same double expression
text, so the floor is identical), distance predicates are integer
squared compares, and K ships as floor fixed point
`(A * 2000 * n_pairs) DIV (n * (n-1))` — BIGINT end-to-end, truncation
identical in both engines (A = 64800 deg^2, the world rectangle; budget:
64800 * 2000 * n_pairs stays mid-int64 for n_pairs up to 7e10).

Scale shape (100 TB): ONE candidate join at grid pitch = r_max with 3x3
neighbourhood emission, keyed on (cell, mark) (`skew.grid_pairs`: each
true pair matches exactly one key, no post-join dedup), every radius
answered from the same candidate set as conditional sums (points are
never duplicated per-radius), and the zero-pair safety net is a LEFT
join from the always-present per-mark point census — a mark with no
close pairs still reports n_pairs = 0 instead of silently dropping. Only
(id, mark, ix, iy) rows ever shuffle; the hot-cell guard raises a
KeyBoundError when one (grid cell, mark) group — the unit the join is
keyed on — holds more than max_cell_points points.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import grid_pairs

_AREA = 360 * 180  # world rectangle, square degrees

RADII_E6 = (1_000_000, 2_000_000, 4_000_000, 8_000_000)


def ripley_k(
    points: DataFrame,
    radii_e6: tuple[int, ...] = RADII_E6,
    max_cell_points: int = 200_000,
) -> DataFrame:
    """(mark, r_e6, n_pts, n_pairs, khat_e3): multi-radius Ripley K census
    per mark class. `points` carries (point_id, mark, x, y); the grid
    pitch is max(radii), so one candidate join serves every radius."""
    pitch = max(radii_e6)
    pts = points.selectExpr(
        "point_id",
        "mark",
        "CAST(floor(x * 1000000.0) AS BIGINT) AS ix",
        "CAST(floor(y * 1000000.0) AS BIGINT) AS iy",
    )
    cand = grid_pairs(
        pts, pitch, "point_id", keys=("mark",), bound=max_cell_points,
        op="ripley_k", param="max_cell_points",
        hint="the candidate join would be quadratic in it — thin or "
        "sub-sample the pattern first",
    )
    pc = cand.groupBy("mark").agg(
        *[
            F.sum((F.col("d2") <= F.lit(r).cast("long") * F.lit(r).cast("long")).cast("long"))
            .alias(f"c{i}")
            for i, r in enumerate(radii_e6)
        ]
    )
    npts = pts.groupBy("mark").agg(F.count("*").cast("long").alias("n_pts"))
    wide = npts.join(pc, "mark", "left").select(
        "mark", "n_pts",
        *[
            F.coalesce(F.col(f"c{i}"), F.lit(0)).cast("long").alias(f"c{i}")
            for i in range(len(radii_e6))
        ],
    )
    stack = ", ".join(
        f"CAST({r} AS BIGINT), c{i}" for i, r in enumerate(radii_e6)
    )
    return wide.selectExpr(
        "CAST(mark AS BIGINT) AS mark",
        "n_pts",
        f"stack({len(radii_e6)}, {stack}) AS (r_e6, n_pairs)",
    ).selectExpr(
        "mark", "r_e6", "n_pts", "n_pairs",
        f"CASE WHEN n_pts > 1 THEN ({_AREA} * 2000 * n_pairs)"
        " DIV (n_pts * (n_pts - 1)) ELSE 0 END AS khat_e3",
    )


def oracle_ripley_sql(
    points_sql: str, radii_e6: tuple[int, ...] = RADII_E6
) -> str:
    """DuckDB mirror over a subquery yielding (point_id, mark, x, y) —
    brute-force pair join with NO grid prefilter (independent method),
    same quantization, conditional sums, and LEFT-join zero safety."""
    conds = ",\n    ".join(
        f"COALESCE(SUM(CASE WHEN d2 <= CAST({r} AS BIGINT) * {r} "
        f"THEN 1 ELSE 0 END), 0) AS c{i}"
        for i, r in enumerate(radii_e6)
    )
    arms = " UNION ALL ".join(
        f"SELECT mark, n_pts, CAST({r} AS BIGINT) AS r_e6, c{i} AS n_pairs "
        "FROM wide"
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
  SELECT a.mark,
    (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) AS d2
  FROM pts a JOIN pts b ON a.mark = b.mark AND a.point_id < b.point_id
),
pc AS (SELECT mark, {conds} FROM pairs GROUP BY mark),
np AS (SELECT mark, CAST(COUNT(*) AS BIGINT) AS n_pts FROM pts GROUP BY mark),
wide AS (
  SELECT np.mark, np.n_pts,
    {", ".join(f"COALESCE(pc.c{i}, 0) AS c{i}" for i in range(len(radii_e6)))}
  FROM np LEFT JOIN pc ON np.mark = pc.mark
),
longf AS ({arms})
SELECT CAST(mark AS BIGINT) AS mark, r_e6, n_pts,
  CAST(n_pairs AS BIGINT) AS n_pairs,
  CAST(CASE WHEN n_pts > 1 THEN ({_AREA} * 2000 * n_pairs)
       // (n_pts * (n_pts - 1)) ELSE 0 END AS BIGINT) AS khat_e3
FROM longf
"""
