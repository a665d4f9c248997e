"""Raster change detection — the two-epoch mosaic diff (appeared / gone /
changed / unchanged) every monitoring pipeline runs between acquisition
dates.

Shape: NOT a join. Both epochs' fine grids union into one stream tagged
with the epoch bit, and a single hash aggregation per fine position folds
them side by side (max-composite per epoch, exactly mosaic semantics);
classification is a projection over the folded pair, and the public output
is the per-COARSE-cell census — bounded rows (counts + exact |delta| sums),
so the full-resolution diff never leaves the cluster. Compared to the
naive full-outer join of two rasters this halves the shuffles (union
inherits one exchange; a join needs two sorted/hashed sides) and cannot
skew — the agg key is the grid position.

All quantities are exact integers (pixel values are 0..255 composites)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import PATCH, fine_grid


def _fine(images: DataFrame, res: int, epoch: int) -> DataFrame:
    return fine_grid(images, res).select(
        "fx", "fy", "val", F.lit(epoch).alias("epoch")
    )


def change_census(
    images_a: DataFrame, images_b: DataFrame, res: int = DEFAULT_RES,
) -> DataFrame:
    """(cx, cy, n_appeared, n_gone, n_changed, n_same, sum_abs_delta) per
    coarse cell: epoch A -> epoch B transition census of the two mosaics."""
    u = _fine(images_a, res, 0).unionByName(_fine(images_b, res, 1))
    folded = (
        u.groupBy("fx", "fy")
        .agg(
            F.max(F.when(F.col("epoch") == 0, F.col("val"))).alias("val_a"),
            F.max(F.when(F.col("epoch") == 1, F.col("val"))).alias("val_b"),
        )
    )
    return (
        folded.select(
            (F.col("fx") / PATCH).cast("long").alias("cx"),
            (F.col("fy") / PATCH).cast("long").alias("cy"),
            F.when(F.col("val_a").isNull(), 1).otherwise(0).alias("ap"),
            F.when(F.col("val_b").isNull(), 1).otherwise(0).alias("go"),
            F.when(
                F.col("val_a").isNotNull()
                & F.col("val_b").isNotNull()
                & (F.col("val_a") != F.col("val_b")),
                1,
            ).otherwise(0).alias("ch"),
            F.when(F.col("val_a") == F.col("val_b"), 1).otherwise(0).alias("sm"),
            F.coalesce(
                F.abs(F.col("val_b") - F.col("val_a")), F.lit(0)
            ).alias("ad"),
        )
        .groupBy("cx", "cy")
        .agg(
            F.sum("ap").cast("long").alias("n_appeared"),
            F.sum("go").cast("long").alias("n_gone"),
            F.sum("ch").cast("long").alias("n_changed"),
            F.sum("sm").cast("long").alias("n_same"),
            F.sum("ad").cast("long").alias("sum_abs_delta"),
        )
    )


def oracle_change_sql(fine2_cte: str) -> str:
    """DuckDB mirror over a CTE chain ending in fine2(fx, fy, epoch, val) —
    the per-epoch max-composited fine grids."""
    return f"""
WITH {fine2_cte},
folded AS (
  SELECT fx, fy,
    MAX(CASE WHEN epoch = 0 THEN val END) AS val_a,
    MAX(CASE WHEN epoch = 1 THEN val END) AS val_b
  FROM fine2 GROUP BY 1, 2
)
SELECT CAST(fx // {PATCH} AS BIGINT) AS cx, CAST(fy // {PATCH} AS BIGINT) AS cy,
  CAST(SUM(CASE WHEN val_a IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_appeared,
  CAST(SUM(CASE WHEN val_b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gone,
  CAST(SUM(CASE WHEN val_a IS NOT NULL AND val_b IS NOT NULL
                 AND val_a != val_b THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
  CAST(SUM(CASE WHEN val_a = val_b THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
  CAST(SUM(COALESCE(abs(val_b - val_a), 0)) AS BIGINT) AS sum_abs_delta
FROM folded GROUP BY 1, 2
"""
