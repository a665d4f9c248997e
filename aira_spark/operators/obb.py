"""Minimum-area oriented bounding rectangle per point cluster — the
tightest rotated box around each coarse-cell territory (ST_OrientedEnvelope
/ cv2.minAreaRect parity): footprint compaction, ship/track extent, the
"real shape" upgrade over the axis-aligned bbox.

Correctness device: the rotating-calipers theorem (Freeman & Shapira
1975) says the optimum rectangle has a side collinear with a HULL EDGE.
This implementation minimizes over ALL hull-vertex PAIR directions — a
superset of the edges, and every direction yields a VALID bounding
rectangle, so the pair-minimum EQUALS the true minimum while needing no
edge ordering (hull vertices arrive unordered from convex_hulls, whose
exact integer chain it reuses).

Exactness: on the 1e-4-degree quantized integer coordinates (the geom/
hull convention), projections t = d.(p-u) and normals n = d x (p-u) are
exact BIGINTs; the candidate's area in q^2 units is the ONE widened
floor division area_q = (dt * dn) DIV d2 (dt = max t - min t etc.,
128-bit product via Spark DECIMAL(38,0) / DuckDB HUGEINT — the lisa
device; nonneg so DIV = //). area_q is a QUANTIZED objective (floor to
1 q^2 ~ 1e-8 deg^2); the argmin is two exact aggregates — MIN(area_q)
per group, then MIN(pair key) among the ties — fully deterministic in
both engines, no encoded giant keys near the 64-bit edge.

Scale shape (100 TB): hulls shuffle once on the coarse cell
(convex_hulls' plan); everything after runs on HULL VERTICES only
(h << n), grp-keyed equi-joins: pairs O(h^2), projections O(h^3) rows
per group — loudly GUARDED at h <= 64 per group (the kendall guard
style; the escalation is true ordered-edge calipers, O(h) per group,
deliberately not built until a workload needs it)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hull import GROUP_RES, convex_hulls, oracle_hull_sql
from .skew import key_bound

PKEY = 1 << 32


def obb(
    points: DataFrame, res: int = GROUP_RES, max_hull: int = 64
) -> DataFrame:
    """(grp, n_hull, area_q, dx, dy, dt_num, dn_num, d2) per cluster:
    the minimum-area oriented bounding rectangle — area_q in squared
    1e-4-degree quanta, (dx, dy) the winning direction, dt_num/dn_num
    the exact projected extents scaled by |d| (true side lengths are
    dt_num/sqrt(d2) and dn_num/sqrt(d2)). Clusters with < 2 hull
    vertices emit zeros."""
    h = convex_hulls(points, res).localCheckpoint(eager=True)
    key_bound(
        h, ["grp"], max_hull, "obb", "max_hull",
        "the O(h^3) pair-projection join would blow up — use ordered-edge "
        "rotating calipers for hulls this size",
    )
    a = h.selectExpr("grp", "point_id AS ia", "qx AS ax", "qy AS ay")
    b = h.selectExpr("grp", "point_id AS ib", "qx AS bx", "qy AS by")
    pairs = (
        a.join(b, "grp").where("ia < ib")
        .selectExpr(
            "grp", f"ia * {PKEY} + ib AS pkey",
            "ax AS ux", "ay AS uy",
            "bx - ax AS dx", "by - ay AS dy",
            "(bx - ax) * (bx - ax) + (by - ay) * (by - ay) AS d2",
        )
    )
    proj = (
        pairs.join(h, "grp")
        .selectExpr(
            "grp", "pkey", "dx", "dy", "d2",
            "dx * (qx - ux) + dy * (qy - uy) AS t",
            "dx * (qy - uy) - dy * (qx - ux) AS n",
        )
        .groupBy("grp", "pkey", "dx", "dy", "d2")
        .agg(
            (F.max("t") - F.min("t")).cast("long").alias("dt_num"),
            (F.max("n") - F.min("n")).cast("long").alias("dn_num"),
        )
        .selectExpr(
            "grp", "pkey", "dx", "dy", "d2", "dt_num", "dn_num",
            "CAST((CAST(dt_num AS DECIMAL(38,0)) * dn_num) DIV d2"
            " AS BIGINT) AS area_q",
        )
        .localCheckpoint(eager=True)  # reused by both argmin joins
    )
    best_area = proj.groupBy("grp").agg(F.min("area_q").alias("area_q"))
    best_key = (
        proj.join(best_area, ["grp", "area_q"])
        .groupBy("grp").agg(F.min("pkey").alias("pkey"))
    )
    winner = proj.join(best_key, ["grp", "pkey"])
    census = h.groupBy("grp").agg(F.count("*").cast("long").alias("n_hull"))
    return (
        census.join(winner, "grp", "left")
        .selectExpr(
            "CAST(grp AS BIGINT) AS grp", "n_hull",
            "CAST(coalesce(area_q, 0) AS BIGINT) AS area_q",
            "CAST(coalesce(dx, 0) AS BIGINT) AS dx",
            "CAST(coalesce(dy, 0) AS BIGINT) AS dy",
            "CAST(coalesce(dt_num, 0) AS BIGINT) AS dt_num",
            "CAST(coalesce(dn_num, 0) AS BIGINT) AS dn_num",
            "CAST(coalesce(d2, 0) AS BIGINT) AS d2",
        )
    )


def oracle_obb_sql(points_sql: str, res: int = GROUP_RES) -> str:
    """DuckDB mirror: hull vertices from oracle_hull_sql's independent
    maximal-edge formulation, identical pair projections, HUGEINT
    widened area and the same two-stage argmin."""
    hull = oracle_hull_sql(points_sql, res)
    return f"""
WITH hv AS ({hull}),
pr AS (
  SELECT a.grp, a.point_id * {PKEY} + b.point_id AS pkey,
    a.qx AS ux, a.qy AS uy, b.qx - a.qx AS dx, b.qy - a.qy AS dy,
    (b.qx - a.qx) * (b.qx - a.qx) + (b.qy - a.qy) * (b.qy - a.qy) AS d2
  FROM hv a JOIN hv b ON b.grp = a.grp AND a.point_id < b.point_id
),
pj AS (
  SELECT p.grp, p.pkey, p.dx, p.dy, p.d2,
    CAST(MAX(p.dx * (v.qx - p.ux) + p.dy * (v.qy - p.uy))
       - MIN(p.dx * (v.qx - p.ux) + p.dy * (v.qy - p.uy)) AS BIGINT)
      AS dt_num,
    CAST(MAX(p.dx * (v.qy - p.uy) - p.dy * (v.qx - p.ux))
       - MIN(p.dx * (v.qy - p.uy) - p.dy * (v.qx - p.ux)) AS BIGINT)
      AS dn_num
  FROM pr p JOIN hv v ON v.grp = p.grp
  GROUP BY 1, 2, 3, 4, 5
),
aq AS (
  SELECT *, CAST(CAST(dt_num AS HUGEINT) * dn_num // d2 AS BIGINT)
    AS area_q
  FROM pj
),
ba AS (SELECT grp, MIN(area_q) AS area_q FROM aq GROUP BY 1),
bk AS (
  SELECT aq.grp, MIN(aq.pkey) AS pkey
  FROM aq JOIN ba ON ba.grp = aq.grp AND ba.area_q = aq.area_q
  GROUP BY 1
),
wn AS (
  SELECT aq.* FROM aq JOIN bk ON bk.grp = aq.grp AND bk.pkey = aq.pkey
),
cn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n_hull FROM hv GROUP BY 1)
SELECT CAST(cn.grp AS BIGINT) AS grp, cn.n_hull,
  CAST(COALESCE(wn.area_q, 0) AS BIGINT) AS area_q,
  CAST(COALESCE(wn.dx, 0) AS BIGINT) AS dx,
  CAST(COALESCE(wn.dy, 0) AS BIGINT) AS dy,
  CAST(COALESCE(wn.dt_num, 0) AS BIGINT) AS dt_num,
  CAST(COALESCE(wn.dn_num, 0) AS BIGINT) AS dn_num,
  CAST(COALESCE(wn.d2, 0) AS BIGINT) AS d2
FROM cn LEFT JOIN wn ON wn.grp = cn.grp"""
