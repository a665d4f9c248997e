"""Canny edge census (Canny 1986) over the mosaicked fine grid — the
full classical pipeline in EXACT integers: central-difference gradient,
non-maximum suppression along the quantized gradient direction, double
threshold, and BOUNDED hysteresis linking — the standard "which pixels
are real edges" detector (coastlines, field boundaries, road curbs)
sitting one level above harris' corners and tophat's blobs.

Exactness, stage by stage:
1. gradient: gx = E - W, gy = N - S only where the center and all four
   cardinal neighbors are filled (the harris/focal_gradient complete-
   window honesty rule); mag2 = gx^2 + gy^2 — sqrt NEVER taken, every
   comparison downstream is on squared magnitudes.
2. direction: the four Canny bins by pure-integer cross-multiplied
   octant tests with the literal rational tan(22.5 deg) ~ 53/128
   (0.4140625, the quantized bin boundary — identical literal in both
   engines): 128|gy| <= 53|gx| -> 0 (E-W), 128|gx| <= 53|gy| -> 90,
   else sign(gx*gy) picks 45 / 135.
3. NMS: a cell survives iff BOTH along-direction neighbors carry a
   gradient and its mag2 STRICTLY exceeds both (plateaus yield nothing —
   the harris strict rule: deterministic at any parallelism, no engine
   tie ordering in play). The valid region shrinks one more ring.
4. double threshold on mag2: strong >= HI2, weak >= LO2 (literals).
5. hysteresis: K fixed rounds of 8-neighbor linking from strong through
   weak (the dist_transform fixed-rounds device — a bounded linking
   radius is a DEFINED semantics both engines compute identically;
   unreached weak cells ship honestly as 'dropped').

Scale shape (100 TB): stages 1-3 are chained focal scatter-aggregates
(the focal_mean exchange: constant-arm scatter, map-side-combined
conditional-MAX slots — the lbp device); hysteresis rounds are id-only
coordinate joins against the bounded edge-candidate set (edge pixels,
not raster pixels), localCheckpointed per round (the pagerank rule).
Pixels cross Arrow once in the decode; no Python past it, nothing
quadratic, nothing collects."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import fine_grid

# tan(22.5 deg) quantized to the literal rational 53/128
TAN_NUM, TAN_DEN = 53, 128
LO2, HI2 = 500, 5_000  # weak / strong thresholds on mag^2
K_ROUNDS = 4              # bounded hysteresis linking radius

_DIR = (
    f"CASE WHEN {TAN_DEN} * abs(gy) <= {TAN_NUM} * abs(gx) THEN 0 "
    f"WHEN {TAN_DEN} * abs(gx) <= {TAN_NUM} * abs(gy) THEN 90 "
    "WHEN gx * gy > 0 THEN 45 ELSE 135 END"
)

# along-gradient neighbor offsets per direction bin
_DIR_OFFS = {0: (1, 0), 90: (0, 1), 45: (1, 1), 135: (1, -1)}

NBR8 = [
    (dx, dy)
    for dx in (-1, 0, 1)
    for dy in (-1, 0, 1)
    if not (dx == 0 and dy == 0)
]


def canny_edges(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, mag2, direction, edge_class) for every NMS survivor with
    mag2 >= LO2; edge_class in 'strong' (>= HI2), 'linked' (weak,
    reached from a strong cell within K_ROUNDS 8-steps through weak),
    'dropped' (weak, unreached)."""
    fine = fine_grid(images, res)
    # stage 1+2: gradient + direction via one 5-arm scatter
    arms5 = ", ".join(
        f"named_struct('tx', fx + {dx}, 'ty', fy + {dy}, 'tag', '{tag}')"
        for dx, dy, tag in [
            (0, 0, "c"), (-1, 0, "e"), (1, 0, "w"), (0, -1, "n"),
            (0, 1, "s"),
        ]
    )
    slot = "MAX(CASE WHEN o.tag = '{t}' THEN val END)"
    grad = (
        fine.select("val", F.expr(f"explode(array({arms5})) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(
            F.count("*").alias("k"),
            F.expr(slot.format(t="e")).alias("ev"),
            F.expr(slot.format(t="w")).alias("wv"),
            F.expr(slot.format(t="n")).alias("nv"),
            F.expr(slot.format(t="s")).alias("sv"),
            F.expr(slot.format(t="c")).alias("cv"),
        )
        .where("k = 5 AND cv IS NOT NULL")
        .selectExpr("fx", "fy", "ev - wv AS gx", "nv - sv AS gy")
        .selectExpr(
            "fx", "fy", "gx * gx + gy * gy AS mag2", f"{_DIR} AS dir"
        )
    )
    # stage 3: NMS via one 9-arm mag2 scatter into conditional-MAX slots
    arms9 = ", ".join(
        f"named_struct('tx', fx + {dx}, 'ty', fy + {dy}, "
        f"'tag', 'm{dx + 1}{dy + 1}')"
        for dx, dy in NBR8 + [(0, 0)]
    ).replace("'m11'", "'c'")
    mslot = "MAX(CASE WHEN o.tag = 'm{x}{y}' THEN mag2 END)"
    gath = (
        grad.select(
            "mag2", "dir", F.expr(f"explode(array({arms9})) AS o")
        )
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(
            F.max(F.expr("CASE WHEN o.tag = 'c' THEN mag2 END"))
            .alias("cm"),
            F.max(F.expr("CASE WHEN o.tag = 'c' THEN dir END"))
            .alias("dir"),
            *[
                F.expr(mslot.format(x=dx + 1, y=dy + 1))
                .alias(f"m{dx + 1}{dy + 1}")
                for dx, dy in NBR8
            ],
        )
        .where("cm IS NOT NULL")
    )
    nms_case = " ".join(
        f"WHEN dir = {d} THEN (m{1 + ox}{1 + oy} IS NOT NULL AND "
        f"m{1 - ox}{1 - oy} IS NOT NULL AND cm > m{1 + ox}{1 + oy} AND "
        f"cm > m{1 - ox}{1 - oy})"
        for d, (ox, oy) in _DIR_OFFS.items()
    )
    cand = (
        gath.where(f"CASE {nms_case} END")
        .where(f"cm >= {LO2}")
        .selectExpr("fx", "fy", "cm AS mag2", "dir")
        .localCheckpoint(eager=True)  # reused every hysteresis round
    )
    # stages 4+5: double threshold + K fixed linking rounds
    weak = cand.where(f"mag2 < {HI2}").select("fx", "fy")
    linked = cand.where(f"mag2 >= {HI2}").select("fx", "fy")
    scatter8 = ", ".join(
        f"named_struct('tx', fx + {dx}, 'ty', fy + {dy})" for dx, dy in NBR8
    )
    for _ in range(K_ROUNDS):
        reach = (
            linked.select(F.expr(f"explode(array({scatter8})) AS o"))
            .select(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
            .distinct()
        )
        linked = (
            weak.join(reach, ["fx", "fy"], "leftsemi")
            .unionByName(linked)
            .distinct()
            .localCheckpoint(eager=True)
        )
    return (
        cand.join(
            linked.selectExpr("fx", "fy", "1 AS lk"), ["fx", "fy"], "left"
        )
        .selectExpr(
            "CAST(fx AS BIGINT) AS fx",
            "CAST(fy AS BIGINT) AS fy",
            "CAST(mag2 AS BIGINT) AS mag2",
            "CAST(dir AS BIGINT) AS direction",
            f"CASE WHEN mag2 >= {HI2} THEN 'strong' "
            "WHEN lk IS NOT NULL THEN 'linked' ELSE 'dropped' END"
            " AS edge_class",
        )
    )


def oracle_canny_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) — an
    INDEPENDENT formulation: neighbor JOINS instead of scatter slots,
    EXISTS-based linking rounds, identical literals throughout."""
    joins = "\n".join(
        f"  LEFT JOIN grad {a} ON {a}.fx = g.fx + {ox} AND "
        f"{a}.fy = g.fy + {oy}"
        for d, (ox, oy) in _DIR_OFFS.items()
        for a, ox, oy in [(f"p{d}", ox, oy), (f"q{d}", -ox, -oy)]
    )
    # collapse the per-direction join aliases into the two used by `nms`
    sel_p = "CASE " + " ".join(
        f"WHEN g.dir = {d} THEN p{d}.mag2" for d in _DIR_OFFS
    ) + " END"
    sel_q = "CASE " + " ".join(
        f"WHEN g.dir = {d} THEN q{d}.mag2" for d in _DIR_OFFS
    ) + " END"
    rounds = []
    for i in range(K_ROUNDS):
        rounds.append(
            f"l{i + 1} AS MATERIALIZED ("
            f"SELECT fx, fy FROM l{i} UNION "
            f"SELECT w.fx, w.fy FROM weak w WHERE EXISTS ("
            f"SELECT 1 FROM l{i} s WHERE abs(s.fx - w.fx) <= 1 AND "
            f"abs(s.fy - w.fy) <= 1 AND NOT (s.fx = w.fx AND "
            f"s.fy = w.fy)))"
        )
    return f"""{fine_cte},
grad AS MATERIALIZED (
  SELECT c.fx, c.fy,
    (e.val - w.val) * (e.val - w.val)
      + (n.val - s.val) * (n.val - s.val) AS mag2,
    CASE WHEN {TAN_DEN} * abs(n.val - s.val)
           <= {TAN_NUM} * abs(e.val - w.val) THEN 0
      WHEN {TAN_DEN} * abs(e.val - w.val)
           <= {TAN_NUM} * abs(n.val - s.val) THEN 90
      WHEN (e.val - w.val) * (n.val - s.val) > 0 THEN 45
      ELSE 135 END AS dir
  FROM fine c
  JOIN fine e ON e.fx = c.fx + 1 AND e.fy = c.fy
  JOIN fine w ON w.fx = c.fx - 1 AND w.fy = c.fy
  JOIN fine n ON n.fx = c.fx AND n.fy = c.fy + 1
  JOIN fine s ON s.fx = c.fx AND s.fy = c.fy - 1
),
cand AS MATERIALIZED (
  SELECT fx, fy, mag2, dir FROM (
    SELECT g.fx AS fx, g.fy AS fy, g.mag2 AS mag2, g.dir AS dir,
      {sel_p} AS pm, {sel_q} AS qm
    FROM grad g
{joins}
  )
  WHERE pm IS NOT NULL AND qm IS NOT NULL
    AND mag2 > pm AND mag2 > qm AND mag2 >= {LO2}
),
weak AS (SELECT fx, fy FROM cand WHERE mag2 < {HI2}),
l0 AS MATERIALIZED (SELECT fx, fy FROM cand WHERE mag2 >= {HI2}),
{','.join(rounds)}
SELECT CAST(c.fx AS BIGINT) AS fx, CAST(c.fy AS BIGINT) AS fy,
  CAST(c.mag2 AS BIGINT) AS mag2, CAST(c.dir AS BIGINT) AS direction,
  CASE WHEN c.mag2 >= {HI2} THEN 'strong'
    WHEN lk.fx IS NOT NULL THEN 'linked' ELSE 'dropped' END AS edge_class
FROM cand c LEFT JOIN l{K_ROUNDS} lk ON lk.fx = c.fx AND lk.fy = c.fy"""
