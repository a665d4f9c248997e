"""Chamfer distance transform over the occupied fine grid — per-cell
integer distance to the nearest SEED cell (bright features: val >= the
threshold), the raster proximity product behind "distance to road /
water / built-up" layers (Borgefors 1986's 3-4 chamfer, here in the
classic 10/14 integer weights so diagonals cost ~sqrt(2) with zero
floats).

Semantics: synchronous min-plus relaxation restricted to OCCUPIED cells
(the mosaic's present set — holes block propagation, which is the
honest reading of "distance through observed terrain"). FIXED rounds
(the sssp/k_core device): after `rounds` relaxations both engines hold
the identical state whether or not the fixpoint was reached; cells not
reached within `rounds` ship dist = -1 (a SENTINEL, visible — not
silently dropped), and each round extends reach by >= one ring, so
rounds bounds the served radius explicitly.

Exactness: all distances are exact integers (10-rook / 14-diagonal
steps); the per-round fold is MIN over integers — order-independent at
any parallelism and identical to the oracle's unrolled CTE chain.

Scale shape (100 TB): per round ONE 9-arm halo scatter of (cell, dist)
id rows + one MIN hash agg (map-side combined) — the focal exchange
with a MIN fold; the static occupied set is joined back to keep
unreached cells visible; localCheckpoint per round keeps lineage flat.
Nothing pairs cells with cells."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .mosaic import PATCH_BITS, fine_grid

# (dx, dy, chamfer weight): 10 rook, 14 diagonal, 0 self
W_OFFS = [
    (0, 0, 0),
    (1, 0, 10), (-1, 0, 10), (0, 1, 10), (0, -1, 10),
    (1, 1, 14), (1, -1, 14), (-1, 1, 14), (-1, -1, 14),
]


def distance_transform(
    images: DataFrame, res: int, seed_min_val: int = 192, rounds: int = 6,
) -> DataFrame:
    """(fx, fy, val, dist10): chamfer distance (x10 fixed point) from
    every occupied fine-grid cell to its nearest seed cell (val >=
    seed_min_val), -1 where no seed is reachable within `rounds`."""
    nf = 1 << (res + PATCH_BITS)
    # static: re-joined every round
    fine = fine_grid(images, res).localCheckpoint(eager=True)
    occupied = fine.select("fx", "fy")
    dist = fine.selectExpr(
        "fx", "fy",
        f"CASE WHEN val >= {seed_min_val} THEN CAST(0 AS BIGINT) END AS d",
    ).where("d IS NOT NULL")
    arms = ", ".join(
        f"named_struct('tx', fx + {dx}, 'ty', fy + {dy}, 'w', {w})"
        for dx, dy, w in W_OFFS
    )
    for _ in range(rounds):
        relaxed = (
            dist.select("fx", "fy", "d",
                        F.expr(f"explode(array({arms})) AS o"))
            .where(
                (F.col("o.tx") >= 0) & (F.col("o.tx") < nf)
                & (F.col("o.ty") >= 0) & (F.col("o.ty") < nf)
            )
            .select(
                F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"),
                (F.col("d") + F.col("o.w")).alias("d"),
            )
            .join(occupied, ["fx", "fy"])  # holes block propagation
            .groupBy("fx", "fy")
            .agg(F.min("d").cast("long").alias("d"))
            .localCheckpoint(eager=True)
        )
        dist = relaxed
    return fine.join(dist, ["fx", "fy"], "left").selectExpr(
        "CAST(fx AS BIGINT) AS fx", "CAST(fy AS BIGINT) AS fy",
        "CAST(val AS BIGINT) AS val",
        "CAST(coalesce(d, -1) AS BIGINT) AS dist10",
    )


def oracle_distance_transform_sql(
    fine_cte: str, res: int, seed_min_val: int = 192, rounds: int = 6,
) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    one MATERIALIZED relaxation CTE per round (the sssp unroll)."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(f"({dx}, {dy}, {w})" for dx, dy, w in W_OFFS)
    parts = [
        f"d0 AS MATERIALIZED (SELECT fx, fy, CAST(0 AS BIGINT) AS d "
        f"FROM fine WHERE val >= {seed_min_val})",
    ]
    for i in range(rounds):
        parts.append(
            f"d{i + 1} AS MATERIALIZED ("
            f"SELECT s.tx AS fx, s.ty AS fy, CAST(MIN(s.d) AS BIGINT) AS d "
            f"FROM (SELECT p.fx + o.dx AS tx, p.fy + o.dy AS ty, "
            f"p.d + o.w AS d "
            f"FROM d{i} p, (VALUES {offs}) AS o(dx, dy, w) "
            f"WHERE p.fx + o.dx >= 0 AND p.fx + o.dx < {nf} "
            f"AND p.fy + o.dy >= 0 AND p.fy + o.dy < {nf}) s "
            f"JOIN fine f ON f.fx = s.tx AND f.fy = s.ty "
            f"GROUP BY 1, 2)"
        )
    return f"""{fine_cte},
{", ".join(parts)}
SELECT CAST(f.fx AS BIGINT) AS fx, CAST(f.fy AS BIGINT) AS fy,
  CAST(f.val AS BIGINT) AS val,
  CAST(COALESCE(d.d, -1) AS BIGINT) AS dist10
FROM fine f LEFT JOIN d{rounds} d ON d.fx = f.fx AND d.fy = f.fy"""
