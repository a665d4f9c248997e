"""Discrete Voronoi region census — every occupied cell of the mosaic
fine grid is assigned to its NEAREST seed site by exact squared Euclidean
grid distance (the classic service-area / facility-catchment question:
"which depot owns which pixel, and how much of the raster does each
own"), then folded into one census row per seed. The complete-assignment
sibling of `proximity`/`dist_transform` (those answer "how far to the
nearest seed", this answers "WHICH seed, and what does its region hold").

Exactness: seeds are snapped to fine-grid integer coordinates with the
same clamped floor the grid itself uses, so d2 = (fx-sx)^2 + (fy-sy)^2
is an exact BIGINT; the per-cell argmin is the encoded key
min(d2 * 2^20 + seed_id) — nearest first, ties to the SMALLEST seed id
(the focal_majority device, in min form). Encode bounds are CHECKED, not
assumed: d2 <= 2*(nf-1)^2 and seed ids must sit below 2^20 (one tiny
aggregate over the bounded seed side raises loudly otherwise).

Scale shape (100 TB): the seed side is a BOUNDED dim table (facilities,
depots, ground stations) — it broadcasts; cells never shuffle at full
width: the cells x B assignment rows fold map-side straight into the
per-cell argmin (one hash agg keyed by cell), and the census is a second
bounded agg keyed by seed. For seed sets too large to broadcast, the
k-ring-bounded kNN join (operators/spatial.py) is the escalation path —
deliberately not duplicated here. Seeds that win no cell emit an honest
zero row (n_cells = 0, sentinel -1 extremes) via one left join on the
bounded side."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH_BITS, fine_grid

SEED_ENC = 1 << 20


def voronoi_census(
    images: DataFrame, seeds: DataFrame, res: int = DEFAULT_RES,
) -> DataFrame:
    """(seed_id, n_cells, sum_val, d2_min, d2_max) per seed from `seeds`
    carrying (seed_id bigint, x double, y double in degrees); empty
    regions ship n_cells = 0 with -1 extremes."""
    nf = 1 << (res + PATCH_BITS)
    chk = seeds.agg(
        F.max("seed_id").alias("mx"), F.min("seed_id").alias("mn")
    ).first()
    if chk["mx"] is not None and (chk["mx"] >= SEED_ENC or chk["mn"] < 0):
        raise RuntimeError(
            f"voronoi_census: seed ids must lie in [0, {SEED_ENC}) for "
            f"the d2*2^20+id encode (got min={chk['mn']} max={chk['mx']})"
            " — remap ids or widen the encode"
        )
    sg = seeds.selectExpr(
        "CAST(seed_id AS BIGINT) AS seed_id",
        f"CAST(LEAST(GREATEST(FLOOR((x - (-180.0)) / 360.0 * {float(nf)}),"
        f" 0), {nf - 1}) AS BIGINT) AS sx",
        f"CAST(LEAST(GREATEST(FLOOR((y - (-90.0)) / 180.0 * {float(nf)}),"
        f" 0), {nf - 1}) AS BIGINT) AS sy",
    )
    fine = fine_grid(images, res)
    assigned = (
        fine.crossJoin(F.broadcast(sg))
        .selectExpr(
            "fx", "fy", "val",
            "((fx - sx) * (fx - sx) + (fy - sy) * (fy - sy))"
            f" * {SEED_ENC} + seed_id AS key",
        )
        .groupBy("fx", "fy")
        .agg(F.min("key").alias("key"), F.min("val").alias("val"))
        .selectExpr(
            f"key % {SEED_ENC} AS seed_id",
            f"key DIV {SEED_ENC} AS d2",
            "val",
        )
    )
    census = assigned.groupBy("seed_id").agg(
        F.count("*").cast("long").alias("n_cells"),
        F.sum("val").cast("long").alias("sum_val"),
        F.min("d2").cast("long").alias("d2_min"),
        F.max("d2").cast("long").alias("d2_max"),
    )
    return (
        sg.select("seed_id")
        .join(census, "seed_id", "left")
        .selectExpr(
            "seed_id",
            "CAST(coalesce(n_cells, 0) AS BIGINT) AS n_cells",
            "CAST(coalesce(sum_val, 0) AS BIGINT) AS sum_val",
            "CAST(coalesce(d2_min, -1) AS BIGINT) AS d2_min",
            "CAST(coalesce(d2_max, -1) AS BIGINT) AS d2_max",
        )
    )


def oracle_voronoi_sql(
    fine_cte: str, seeds_sql: str, res: int = DEFAULT_RES,
) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) and a
    subquery yielding seeds (seed_id, x, y): identical snap, encoded
    argmin and zero-region left join."""
    nf = 1 << (res + PATCH_BITS)
    return f"""{fine_cte},
sg AS (
  SELECT CAST(seed_id AS BIGINT) AS seed_id,
    CAST(LEAST(GREATEST(FLOOR((x - (-180.0)) / 360.0 * {float(nf)}), 0),
         {nf - 1}) AS BIGINT) AS sx,
    CAST(LEAST(GREATEST(FLOOR((y - (-90.0)) / 180.0 * {float(nf)}), 0),
         {nf - 1}) AS BIGINT) AS sy
  FROM ({seeds_sql})
),
asg AS (
  SELECT fx, fy,
    MIN(((fx - sx) * (fx - sx) + (fy - sy) * (fy - sy)) * {SEED_ENC}
        + seed_id) AS key,
    MIN(val) AS val
  FROM fine, sg GROUP BY 1, 2
),
cen AS (
  SELECT key % {SEED_ENC} AS seed_id,
    CAST(COUNT(*) AS BIGINT) AS n_cells,
    CAST(SUM(val) AS BIGINT) AS sum_val,
    CAST(MIN(key // {SEED_ENC}) AS BIGINT) AS d2_min,
    CAST(MAX(key // {SEED_ENC}) AS BIGINT) AS d2_max
  FROM asg GROUP BY 1
)
SELECT sg.seed_id,
  CAST(COALESCE(cen.n_cells, 0) AS BIGINT) AS n_cells,
  CAST(COALESCE(cen.sum_val, 0) AS BIGINT) AS sum_val,
  CAST(COALESCE(cen.d2_min, -1) AS BIGINT) AS d2_min,
  CAST(COALESCE(cen.d2_max, -1) AS BIGINT) AS d2_max
FROM sg LEFT JOIN cen ON cen.seed_id = sg.seed_id"""
