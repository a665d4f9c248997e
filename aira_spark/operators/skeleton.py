"""Zhang-Suen thinning (skeletonization) census (Zhang & Suen, CACM
1984) over the bright mask of the mosaic fine grid — the classic
"centerline of a thick shape" operator (road/river centerlines from
rasterized footprints, stroke extraction), the 1-px-skeleton complement
of tophat's blob detection and dist_transform's medial distances.

Semantics: the textbook two-subiteration rule. For an ON pixel with
8-neighbors p2..p9 (N, NE, E, SE, S, SW, W, NW — OFF outside the mask,
including beyond raster bounds):

    B = sum(p2..p9) in [2, 6]
    A = #(01 transitions in the circular sequence p2 p3 ... p9 p2) == 1
    sub-1 deletes when additionally p2*p4*p6 = 0 and p4*p6*p8 = 0
    sub-2 deletes when additionally p2*p4*p8 = 0 and p2*p6*p8 = 0

run for K_ROUNDS FIXED full iterations (the dist_transform bounded-
rounds device: a bounded thinning depth is a DEFINED semantics both
engines compute identically — shapes thicker than 2*K_ROUNDS px are
honestly only partially thinned; the census keeps the before-count so
the consumer sees how much mass remained).

Exactness: everything is 0/1 integer arithmetic — neighbor slots are
conditional-MAX 0/1 flags (the lbp device), A and B are integer sums and
products; there is nothing to round anywhere.

Scale shape (100 TB): each subiteration is ONE constant-9-arm focal
scatter of the CURRENT (shrinking) mask + one hash agg with map-side
combine, localCheckpointed (the pagerank rule) so lineage stays flat
across 2*K_ROUNDS stages; the census is one final coarse-cell agg. No
joins, no Python, exchanges carry (pos, 0/1 partials) only."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH, fine_grid

MASK_MIN = 128
K_ROUNDS = 4

# p2..p9 clockwise from North, (dx, dy) in grid coords (y up):
P_OFFS = [
    ("p2", 0, 1), ("p3", 1, 1), ("p4", 1, 0), ("p5", 1, -1),
    ("p6", 0, -1), ("p7", -1, -1), ("p8", -1, 0), ("p9", -1, 1),
]
_SEQ = ["p2", "p3", "p4", "p5", "p6", "p7", "p8", "p9", "p2"]

_A = " + ".join(
    f"(1 - {a}) * {b}" for a, b in zip(_SEQ, _SEQ[1:])
)
_B = " + ".join(p for p, _, _ in P_OFFS)


def _sub_cond(sub: int) -> str:
    """The full delete condition for subiteration 1 or 2."""
    c1 = "p2 * p4 * p6 = 0 AND p4 * p6 * p8 = 0" if sub == 1 else \
         "p2 * p4 * p8 = 0 AND p2 * p6 * p8 = 0"
    return (
        f"({_B}) BETWEEN 2 AND 6 AND ({_A}) = 1 AND {c1}"
    )


def _thin_once(mask: DataFrame, sub: int) -> DataFrame:
    """One Zhang-Suen subiteration: mask(fx, fy) -> surviving mask.

    Scatter goes to (fx - dx, fy - dy): a source reaching a target with
    tag p means the target's neighbor AT +(dx, dy) is ON — the gather
    convention the ASYMMETRIC sub-conditions require (a +(dx, dy)
    scatter would point-reflect the neighborhood and silently swap the
    sub-1/sub-2 rules)."""
    arms = ", ".join(
        f"named_struct('tx', fx - {dx}, 'ty', fy - {dy}, 'tag', '{p}')"
        for p, dx, dy in P_OFFS
    ) + ", named_struct('tx', fx, 'ty', fy, 'tag', 'c')"
    slots = [
        F.coalesce(
            F.max(F.expr(f"CASE WHEN o.tag = '{p}' THEN 1 END")), F.lit(0)
        ).alias(p)
        for p, _, _ in P_OFFS
    ]
    g = (
        mask.select(F.expr(f"explode(array({arms})) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(
            F.max(F.expr("CASE WHEN o.tag = 'c' THEN 1 END")).alias("c"),
            *slots,
        )
        .where("c = 1")
    )
    return g.where(f"NOT ({_sub_cond(sub)})").select("fx", "fy")


def skeleton_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(gx, gy, n_mask, n_skel) per coarse cell: bright-mask size before
    thinning and surviving skeleton size after K_ROUNDS full Zhang-Suen
    iterations."""
    mask = (
        fine_grid(images, res)
        .where(F.col("val") >= MASK_MIN)
        .select("fx", "fy")
        .localCheckpoint(eager=True)
    )
    cur = mask
    for _ in range(K_ROUNDS):
        cur = _thin_once(cur, 1)
        cur = _thin_once(cur, 2).localCheckpoint(eager=True)
    before = mask.selectExpr(
        f"fx DIV {PATCH} AS gx", f"fy DIV {PATCH} AS gy"
    ).groupBy("gx", "gy").agg(F.count("*").cast("long").alias("n_mask"))
    after = cur.selectExpr(
        f"fx DIV {PATCH} AS gx", f"fy DIV {PATCH} AS gy"
    ).groupBy("gx", "gy").agg(F.count("*").cast("long").alias("n_skel"))
    return (
        before.join(after, ["gx", "gy"], "left")
        .selectExpr(
            "CAST(gx AS BIGINT) AS gx", "CAST(gy AS BIGINT) AS gy",
            "n_mask", "CAST(coalesce(n_skel, 0) AS BIGINT) AS n_skel",
        )
    )


def oracle_skeleton_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val):
    identical subiterations via the 3x3 VALUES-offset scatter and
    conditional 0/1 slots, 2*K_ROUNDS materialized mask CTEs."""
    offs = ", ".join(f"({dx}, {dy}, '{p}')" for p, dx, dy in P_OFFS)
    parts = [
        f"m0 AS MATERIALIZED (SELECT fx, fy FROM fine WHERE val >= "
        f"{MASK_MIN})",
        f"po AS (SELECT * FROM (VALUES {offs}) AS po(dx, dy, p))",
    ]
    slots = ", ".join(
        f"COALESCE(MAX(CASE WHEN tag = '{p}' THEN 1 END), 0) AS {p}"
        for p, _, _ in P_OFFS
    )
    n = 0
    for _ in range(K_ROUNDS):
        for sub in (1, 2):
            parts.append(
                f"m{n + 1} AS MATERIALIZED ("
                f"SELECT fx, fy FROM ("
                f"SELECT fx, fy, MAX(CASE WHEN tag = 'c' THEN 1 END) AS c,"
                f" {slots} FROM ("
                f"SELECT fx - dx AS fx, fy - dy AS fy, p AS tag "
                f"FROM m{n}, po "
                f"UNION ALL SELECT fx, fy, 'c' FROM m{n}"
                f") GROUP BY 1, 2) "
                f"WHERE c = 1 AND NOT ({_sub_cond(sub)}))"
            )
            n += 1
    return f"""{fine_cte},
{','.join(parts)}
,bef AS (
  SELECT fx // {PATCH} AS gx, fy // {PATCH} AS gy,
    CAST(COUNT(*) AS BIGINT) AS n_mask
  FROM m0 GROUP BY 1, 2
),
aft AS (
  SELECT fx // {PATCH} AS gx, fy // {PATCH} AS gy,
    CAST(COUNT(*) AS BIGINT) AS n_skel
  FROM m{n} GROUP BY 1, 2
)
SELECT CAST(bef.gx AS BIGINT) AS gx, CAST(bef.gy AS BIGINT) AS gy,
  bef.n_mask, CAST(COALESCE(aft.n_skel, 0) AS BIGINT) AS n_skel
FROM bef LEFT JOIN aft ON aft.gx = bef.gx AND aft.gy = bef.gy"""
