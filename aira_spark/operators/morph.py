"""Morphological operations on cell covers: buffer (dilate), erode,
opening/closing — the GIS raster-algebra complement to the cover
machinery (polygon buffer ~ dilate its cell cover; noise removal ~
opening; hole filling ~ closing).

Semantics are on the quadtree grid (functions/cells.py): the structuring
element is the Chebyshev k-ring, clamped at the grid boundary exactly
like `k_ring` — so erosion at the world edge requires only the ring
cells that exist.

Scale shape: dilation is explode(k_ring) -> distinct — a (2k+1)^2
map-side fan-out whose single exchange carries CELL IDS only. Erosion
never self-joins the cover: because Chebyshev rings are symmetric
(p in ring(c) <=> c in ring(p)), every cover cell scatters one "witness"
to each ring neighbor and a cell survives iff its witness COUNT equals
its clamped ring size — one hash aggregation, map-side combined, again
ids only. Both are partitioning-independent set operations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_ix, cell_iy, k_ring


def dilate_cover(cover: DataFrame, k: int, cell_col: str = "cell") -> DataFrame:
    """Buffer the cover by k rings: distinct union of every cell's clamped
    k-ring. Returns a single `cell` column (a SET of cells)."""
    return (
        cover.selectExpr(f"explode({k_ring(cell_col, k)}) AS cell")
        .distinct()
    )


def _ring_size(cell, k: int, res: int):
    n = 1 << res
    cx, cy = cell_ix(cell), cell_iy(cell)
    w = F.least(cx + k, F.lit(n - 1)) - F.greatest(cx - k, F.lit(0)) + 1
    h = F.least(cy + k, F.lit(n - 1)) - F.greatest(cy - k, F.lit(0)) + 1
    return (w * h).cast("long")


def erode_cover(
    cover: DataFrame, k: int, res: int, cell_col: str = "cell"
) -> DataFrame:
    """Keep a cell iff its ENTIRE clamped k-ring is covered. Witness-count
    formulation (no cover-x-cover join): symmetric rings mean the witness
    count at c is exactly |ring(c) ∩ cover|."""
    base = cover.select(F.col(cell_col).alias("cell")).distinct()
    support = (
        base.selectExpr(f"explode({k_ring('cell', k)}) AS cell")
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("witnesses"))
    )
    return (
        base.join(support, "cell")
        .where(F.col("witnesses") == _ring_size(F.col("cell"), k, res))
        .select("cell")
    )


def close_cover(cover: DataFrame, k: int, res: int) -> DataFrame:
    """Morphological closing (dilate then erode): fills holes/gaps up to
    ~k cells without growing the overall footprint."""
    return erode_cover(dilate_cover(cover, k), k, res)


def open_cover(cover: DataFrame, k: int, res: int) -> DataFrame:
    """Morphological opening (erode then dilate): removes specks/spurs
    thinner than ~k cells without shrinking the overall footprint."""
    return dilate_cover(erode_cover(cover, k, res), k)


def morph_summary(cover: DataFrame, k: int, res: int) -> DataFrame:
    """(op, cell) union frame over dilate/erode/close/open of one cover —
    the driver-checkable shape (STRING + BIGINT)."""
    dil = dilate_cover(cover, k)
    arms = [
        dil.selectExpr("'dilate' AS op", "cell"),
        erode_cover(cover, k, res).selectExpr("'erode' AS op", "cell"),
        erode_cover(dil, k, res).selectExpr("'close' AS op", "cell"),
        dilate_cover(erode_cover(cover, k, res), k).selectExpr(
            "'open' AS op", "cell"
        ),
    ]
    out = arms[0]
    for a in arms[1:]:
        out = out.unionByName(a)
    return out.selectExpr("op", "CAST(cell AS BIGINT) AS cell")


def oracle_morph_sql(base_cover_sql: str, k: int, res: int, pack: int) -> str:
    """DuckDB mirror over a CTE chain whose last CTE is
    `base(cell BIGINT)` (a distinct cell set at resolution `res` packed as
    pack + ix*2^29 + iy). Dilation/erosion re-derive ix/iy by integer
    arithmetic and share the clamped-ring formulas."""
    n = 1 << res
    return f"""
WITH {base_cover_sql},
bxy AS MATERIALIZED (
  SELECT cell, (cell - {pack}) // 536870912 AS cx,
         (cell - {pack}) % 536870912 AS cy
  FROM base
),
dil AS MATERIALIZED (
  SELECT DISTINCT CAST({pack} + ix * 536870912 + iy AS BIGINT) AS cell
  FROM (
    SELECT iy, unnest(generate_series(GREATEST(cx - {k}, 0),
                                      LEAST(cx + {k}, {n - 1}))) AS ix
    FROM (
      SELECT cx, unnest(generate_series(GREATEST(cy - {k}, 0),
                                        LEAST(cy + {k}, {n - 1}))) AS iy
      FROM bxy
    )
  )
),
dxy AS MATERIALIZED (
  SELECT cell, (cell - {pack}) // 536870912 AS cx,
         (cell - {pack}) % 536870912 AS cy
  FROM dil
),
wit_b AS (
  SELECT CAST({pack} + ix * 536870912 + iy AS BIGINT) AS cell,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM (
    SELECT iy, unnest(generate_series(GREATEST(cx - {k}, 0),
                                      LEAST(cx + {k}, {n - 1}))) AS ix
    FROM (
      SELECT cx, unnest(generate_series(GREATEST(cy - {k}, 0),
                                        LEAST(cy + {k}, {n - 1}))) AS iy
      FROM bxy
    )
  ) GROUP BY 1
),
wit_d AS (
  SELECT CAST({pack} + ix * 536870912 + iy AS BIGINT) AS cell,
         CAST(COUNT(*) AS BIGINT) AS w
  FROM (
    SELECT iy, unnest(generate_series(GREATEST(cx - {k}, 0),
                                      LEAST(cx + {k}, {n - 1}))) AS ix
    FROM (
      SELECT cx, unnest(generate_series(GREATEST(cy - {k}, 0),
                                        LEAST(cy + {k}, {n - 1}))) AS iy
      FROM dxy
    )
  ) GROUP BY 1
),
rsz AS (
  SELECT b.cell,
    (LEAST(cx + {k}, {n - 1}) - GREATEST(cx - {k}, 0) + 1)
    * (LEAST(cy + {k}, {n - 1}) - GREATEST(cy - {k}, 0) + 1) AS need
  FROM bxy b
),
rszd AS (
  SELECT d.cell,
    (LEAST(cx + {k}, {n - 1}) - GREATEST(cx - {k}, 0) + 1)
    * (LEAST(cy + {k}, {n - 1}) - GREATEST(cy - {k}, 0) + 1) AS need
  FROM dxy d
),
ero AS MATERIALIZED (
  SELECT r.cell FROM rsz r JOIN wit_b w ON r.cell = w.cell
  WHERE w.w = r.need
),
clo AS (
  SELECT r.cell FROM rszd r JOIN wit_d w ON r.cell = w.cell
  WHERE w.w = r.need
),
exy AS (
  SELECT cell, (cell - {pack}) // 536870912 AS cx,
         (cell - {pack}) % 536870912 AS cy
  FROM ero
),
opn AS (
  SELECT DISTINCT CAST({pack} + ix * 536870912 + iy AS BIGINT) AS cell
  FROM (
    SELECT iy, unnest(generate_series(GREATEST(cx - {k}, 0),
                                      LEAST(cx + {k}, {n - 1}))) AS ix
    FROM (
      SELECT cx, unnest(generate_series(GREATEST(cy - {k}, 0),
                                        LEAST(cy + {k}, {n - 1}))) AS iy
      FROM exy
    )
  )
)
SELECT 'dilate' AS op, cell FROM dil
UNION ALL SELECT 'erode', cell FROM ero
UNION ALL SELECT 'close', cell FROM clo
UNION ALL SELECT 'open', cell FROM opn
"""
