"""Segment-intersection join — "which trajectory hops cross?" — the
line×line spatial join completing the PIP (point×polygon), distance-band
(point×point), and footprint-overlap (rect×rect) family.

Exact integer geometry end to end: endpoints live on a 1e-4-deg grid, the
crossing test is the classic 4-orientation predicate (cross products in
int64, collinear touch handled by on-segment box tests), and the SAME
predicate text runs in Spark and DuckDB (one formula, two engines) — no
float epsilon anywhere.

Scale shape: candidates come from a coarse-bin cover of each segment's
bbox (two intersecting segments share the bin containing the crossing
point, so the cover equi-join is a proven superset); coordinates ride the
explode so no geometry re-join; pairs dedupe as ID+coord rows; the exact
refine is a JVM filter. A loud per-bin guard (the ngram-block device)
raises before scheduling quadratic work on a pathological hot bin."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import key_bound

BIN = 10_000  # 1-degree bins over the 1e-4-deg grid


def intersect_expr() -> str:
    """Shared predicate text over columns (axq, ayq, bxq, byq) = segment 1
    and (cxq, cyq, dxq, dyq) = segment 2: true iff closed segments AB and
    CD share at least one point."""
    d1 = "((dxq - cxq) * (ayq - cyq) - (dyq - cyq) * (axq - cxq))"
    d2 = "((dxq - cxq) * (byq - cyq) - (dyq - cyq) * (bxq - cxq))"
    d3 = "((bxq - axq) * (cyq - ayq) - (byq - ayq) * (cxq - axq))"
    d4 = "((bxq - axq) * (dyq - ayq) - (byq - ayq) * (dxq - axq))"

    def on(px, py, qx, qy, rx, ry):
        return (
            f"({rx} BETWEEN LEAST({px}, {qx}) AND GREATEST({px}, {qx}) "
            f"AND {ry} BETWEEN LEAST({py}, {qy}) AND GREATEST({py}, {qy}))"
        )

    proper = (
        f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0)) "
        f"AND (({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
    )
    touches = " OR ".join(
        [
            f"({d1} = 0 AND {on('cxq', 'cyq', 'dxq', 'dyq', 'axq', 'ayq')})",
            f"({d2} = 0 AND {on('cxq', 'cyq', 'dxq', 'dyq', 'bxq', 'byq')})",
            f"({d3} = 0 AND {on('axq', 'ayq', 'bxq', 'byq', 'cxq', 'cyq')})",
            f"({d4} = 0 AND {on('axq', 'ayq', 'bxq', 'byq', 'dxq', 'dyq')})",
        ]
    )
    return f"({proper} OR {touches})"


def proper_expr() -> str:
    d1 = "((dxq - cxq) * (ayq - cyq) - (dyq - cyq) * (axq - cxq))"
    d2 = "((dxq - cxq) * (byq - cyq) - (dyq - cyq) * (bxq - cxq))"
    d3 = "((bxq - axq) * (cyq - ayq) - (byq - ayq) * (cxq - axq))"
    d4 = "((bxq - axq) * (dyq - ayq) - (byq - ayq) * (dxq - axq))"
    return (
        f"((({d1} > 0 AND {d2} < 0) OR ({d1} < 0 AND {d2} > 0)) "
        f"AND (({d3} > 0 AND {d4} < 0) OR ({d3} < 0 AND {d4} > 0)))"
    )


def segment_intersections(
    segs: DataFrame, max_bin: int = 200_000
) -> DataFrame:
    """(seg_a, seg_b, kind): all intersecting cross-user segment pairs.

    `segs` carries (seg_id, user_id, axq, ayq, bxq, byq) with integer
    grid endpoints. kind = 'proper' (interiors cross) or 'touch'
    (endpoint/collinear contact)."""
    binned = (
        segs.withColumn(
            "gx",
            F.explode(
                F.sequence(
                    F.expr(f"LEAST(axq, bxq) div {BIN}"),
                    F.expr(f"GREATEST(axq, bxq) div {BIN}"),
                )
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.sequence(
                    F.expr(f"LEAST(ayq, byq) div {BIN}"),
                    F.expr(f"GREATEST(ayq, byq) div {BIN}"),
                )
            ),
        )
        .withColumn("bin", F.expr("gx * 1024 + gy"))
        .drop("gx", "gy")
    )
    key_bound(
        binned, ["bin"], max_bin, "segment_intersections", "max_bin",
        "refine the binning resolution before scheduling quadratic work",
    )
    a = binned.selectExpr(
        "bin", "seg_id AS seg_a", "user_id AS ua",
        "axq", "ayq", "bxq", "byq",
    )
    b = binned.selectExpr(
        "bin", "seg_id AS seg_b", "user_id AS ub",
        "axq AS cxq", "ayq AS cyq", "bxq AS dxq", "byq AS dyq",
    )
    cand = (
        a.join(b, "bin")
        .where("seg_a < seg_b AND ua != ub")
        .drop("bin", "ua", "ub")
        .distinct()
    )
    hit = cand.where(F.expr(intersect_expr()))
    return hit.select(
        F.col("seg_a").cast("long").alias("seg_a"),
        F.col("seg_b").cast("long").alias("seg_b"),
        F.when(F.expr(proper_expr()), F.lit("proper"))
        .otherwise(F.lit("touch"))
        .alias("kind"),
    )


def oracle_segments_sql(segs_cte: str) -> str:
    """DuckDB mirror: brute-force ALL cross-user pairs (no bins — a cover
    bug on the Spark side cannot cancel) with the identical predicate."""
    return f"""
WITH {segs_cte},
pairs AS (
  SELECT s1.seg_id AS seg_a, s2.seg_id AS seg_b,
    s1.axq, s1.ayq, s1.bxq, s1.byq,
    s2.axq AS cxq, s2.ayq AS cyq, s2.bxq AS dxq, s2.byq AS dyq
  FROM segs s1 JOIN segs s2
    ON s1.seg_id < s2.seg_id AND s1.user_id != s2.user_id
)
SELECT CAST(seg_a AS BIGINT) AS seg_a, CAST(seg_b AS BIGINT) AS seg_b,
  CASE WHEN {proper_expr()} THEN 'proper' ELSE 'touch' END AS kind
FROM pairs WHERE {intersect_expr()}
"""


def within_expr(d: int) -> str:
    """Shared predicate text over (axq, ayq, bxq, byq, pxq, pyq): true iff
    point P lies within distance `d` of closed segment AB — exact in
    int64: the clamped-projection case split compares squared distances,
    and the interior case compares cross(AB,AP)^2 <= d^2 * |AB|^2 (no
    division, no sqrt, no float).

    Overflow budget: with 1e-4-deg grid coords < 2^17 and d <= 10^4,
    d^2 * den < 5e18 fits int64, but cross itself can reach ~10^10 whose
    SQUARE overflows — the nested CASE rejects |cross| > 3e9 before
    squaring (any such cross already exceeds d*sqrt(den), so the answer
    is false; 3e9^2 = 9e18 still fits). Both engines evaluate CASE arms
    lazily, so the guarded square never executes on huge crosses."""
    dx, dy = "(bxq - axq)", "(byq - ayq)"
    apx, apy = "(pxq - axq)", "(pyq - ayq)"
    bpx, bpy = "(pxq - bxq)", "(pyq - byq)"
    den = f"({dx} * {dx} + {dy} * {dy})"
    t = f"({apx} * {dx} + {apy} * {dy})"
    cr = f"({dx} * {apy} - {dy} * {apx})"
    d2 = d * d
    return (
        f"(CASE WHEN {den} = 0 OR {t} <= 0 "
        f"THEN {apx} * {apx} + {apy} * {apy} <= {d2} "
        f"WHEN {t} >= {den} "
        f"THEN {bpx} * {bpx} + {bpy} * {bpy} <= {d2} "
        f"ELSE (CASE WHEN ABS({cr}) > 3000000000 THEN FALSE "
        f"ELSE {cr} * {cr} <= {d2} * {den} END) END)"
    )


def _proximity_pairs(
    segs: DataFrame, points: DataFrame, d: int, max_bin: int, op: str
) -> DataFrame:
    """(seg_id, point_id, axq, ayq, bxq, byq, pxq, pyq): every pair within
    exact grid distance `d`, coords still attached (they rode the explode
    — no geometry re-join). Candidates: the segment's bbox expanded by
    `d`, covered with the same coarse bins as segment_intersections,
    equi-joined against the point's single bin (a proven superset: a
    point within d of the segment lies inside the expanded bbox). The
    exact refine is the shared within_expr predicate — a JVM filter.
    The hot-bin guard reports under the calling operator's name `op`."""
    binned = (
        segs.withColumn(
            "gx",
            F.explode(
                F.sequence(
                    F.expr(f"(LEAST(axq, bxq) - {d}) div {BIN}"),
                    F.expr(f"(GREATEST(axq, bxq) + {d}) div {BIN}"),
                )
            ),
        )
        .withColumn(
            "gy",
            F.explode(
                F.sequence(
                    F.expr(f"(LEAST(ayq, byq) - {d}) div {BIN}"),
                    F.expr(f"(GREATEST(ayq, byq) + {d}) div {BIN}"),
                )
            ),
        )
        .withColumn("bin", F.expr("gx * 1024 + gy"))
        .drop("gx", "gy")
    )
    key_bound(
        binned, ["bin"], max_bin, op, "max_bin",
        "refine the binning",
    )
    pts = points.withColumn(
        "bin", F.expr(f"(pxq div {BIN}) * 1024 + (pyq div {BIN})")
    )
    cand = binned.join(pts, "bin").drop("bin").distinct()
    return cand.where(F.expr(within_expr(d)))


def route_proximity(
    segs: DataFrame, points: DataFrame, d: int, max_bin: int = 200_000
) -> DataFrame:
    """(seg_id, point_id): every (segment, point) pair within exact grid
    distance `d` — the corridor / points-near-route query."""
    pairs = _proximity_pairs(segs, points, d, max_bin, "route_proximity")
    return pairs.select(
        F.col("seg_id").cast("long").alias("seg_id"),
        F.col("point_id").cast("long").alias("point_id"),
    )


def oracle_route_proximity_sql(
    segs_cte: str, points_sql: str, d: int
) -> str:
    """DuckDB mirror: brute-force ALL (segment, point) pairs — no bins —
    with the identical predicate."""
    return f"""
WITH {segs_cte},
pts AS ({points_sql}),
pairs AS (
  SELECT s.seg_id, p.point_id,
    s.axq, s.ayq, s.bxq, s.byq, p.pxq, p.pyq
  FROM segs s CROSS JOIN pts p
)
SELECT CAST(seg_id AS BIGINT) AS seg_id,
  CAST(point_id AS BIGINT) AS point_id
FROM pairs WHERE {within_expr(d)}
"""


def snap_dq2_expr(engine: str) -> str:
    """Shared expression text over (axq, ayq, bxq, byq, pxq, pyq): the
    EXACT floored squared grid distance from point P to closed segment AB
    — floor(cross^2 / |AB|^2) in the interior case (integer division is
    the snapping resolution: 1 grid unit^2 = (1e-4 deg)^2), exact integer
    squared endpoint distance otherwise. Safe to evaluate ONLY on rows
    already inside a within_expr(d) filter with d <= 10^4: there
    cross^2 <= d^2 * |AB|^2 < 4e17 fits int64 without the 3e9 guard."""
    dx, dy = "(bxq - axq)", "(byq - ayq)"
    apx, apy = "(pxq - axq)", "(pyq - ayq)"
    bpx, bpy = "(pxq - bxq)", "(pyq - byq)"
    den = f"({dx} * {dx} + {dy} * {dy})"
    t = f"({apx} * {dx} + {apy} * {dy})"
    cr = f"({dx} * {apy} - {dy} * {apx})"
    fdiv = "div" if engine == "spark" else "//"
    return (
        f"(CASE WHEN {den} = 0 OR {t} <= 0 "
        f"THEN {apx} * {apx} + {apy} * {apy} "
        f"WHEN {t} >= {den} "
        f"THEN {bpx} * {bpx} + {bpy} * {bpy} "
        f"ELSE ({cr} * {cr}) {fdiv} {den} END)"
    )


def map_match(
    segs: DataFrame, points: DataFrame, d: int, max_bin: int = 200_000
) -> DataFrame:
    """(point_id, seg_id, dq2): every ping snapped to its single BEST road
    segment among candidates within grid distance `d` — the map-matching
    baseline (nearest-segment snap with a deterministic spec: argmin by
    (floor(squared grid distance), seg_id), so the winner is identical at
    any parallelism and in both engines; pings with no segment within
    `d` are absent, matching the usual off-network drop).

    Scale shape: candidates ride route_proximity's expanded-bbox bin
    cover (equi-join, loud hot-bin guard); the exact refine + dq2 are JVM
    filters/projections; the argmin is ONE hash agg of a lexicographic
    (dq2, seg_id) struct MIN — map-side combinable, no window, no join
    back. Candidate pairs are id+coord rows only."""
    pairs = _proximity_pairs(segs, points, d, max_bin, "map_match")
    scored = pairs.selectExpr(
        "point_id", "seg_id", f"{snap_dq2_expr('spark')} AS dq2"
    )
    return (
        scored.groupBy("point_id")
        .agg(F.min(F.struct("dq2", "seg_id")).alias("m"))
        .selectExpr(
            "CAST(point_id AS BIGINT) AS point_id",
            "CAST(m.seg_id AS BIGINT) AS seg_id",
            "CAST(m.dq2 AS BIGINT) AS dq2",
        )
    )


def oracle_map_match_sql(segs_cte: str, points_sql: str, d: int) -> str:
    """DuckDB mirror: brute-force ALL pairs (no bins), identical within
    predicate + dq2 text, winner via ROW_NUMBER (a window formulation vs
    the struct-MIN fold)."""
    return f"""
WITH {segs_cte},
pts AS ({points_sql}),
pairs AS (
  SELECT s.seg_id, p.point_id,
    s.axq, s.ayq, s.bxq, s.byq, p.pxq, p.pyq
  FROM segs s CROSS JOIN pts p
),
hits AS (
  SELECT point_id, seg_id, {snap_dq2_expr('duck')} AS dq2
  FROM pairs WHERE {within_expr(d)}
),
ranked AS (
  SELECT point_id, seg_id, dq2,
    ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY dq2, seg_id) AS rn
  FROM hits
)
SELECT CAST(point_id AS BIGINT) AS point_id,
  CAST(seg_id AS BIGINT) AS seg_id, CAST(dq2 AS BIGINT) AS dq2
FROM ranked WHERE rn = 1
"""
