"""Raster overview / pyramid build (COG-style reduced-resolution levels).

Cloud-optimized rasters carry overview levels — the same grid at 1/2, 1/4,
... resolution — so a reader at zoom z touches O(pixels-on-screen) bytes
instead of full resolution. The reference READS overview pages (reduced-
resolution subfile type, crates/aira-tiff/src/ifd.rs tag 254 handling;
mirrored by operators/overview.py); this operator is the missing WRITE
side: it builds the overview stack from the max-composited mosaic grid.

Spark shape — one shuffle for the whole stack: every filled fine subcell
scatters to its (level, parent) coordinate for all L+1 levels (a pure
projection + explode of L+1 structs), and ONE hash aggregation folds
(count, sum) per (level, px, py). Catalyst's partial aggregation combines
map-side, so the exchange carries ~one integer row per parent per source
partition — the L+1x scatter blowup never crosses the wire (same argument
as focal.py's halo exchange), pixels never shuffle at all, and there is no
per-level recompute of the decode subtree (the alternative — iterative
halving level k from level k-1 — either re-runs the mosaic per union
branch or needs an explicit checkpoint per level; one scatter needs
neither).

Exactness: n_src / sum_val are exact BIGINTs under ANY partitioning
(integer addition is order-independent); mean_e6 is floor-division fixed
point computed by the engine-neutral _floor_div text — bit-identical in
Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .kmeans import _floor_div
from .mosaic import fine_grid


def pyramid_levels(
    images: DataFrame, res: int = DEFAULT_RES, levels: int = 3,
) -> DataFrame:
    """(level, px, py, n_src, sum_val, mean_e6): overview stack of the
    max-composited band-0 mosaic. level 0 is the fine grid itself
    (n_src = 1); level k groups 2^k x 2^k fine subcells; mean_e6 is the
    mean of the FILLED children in integer micros (floor)."""
    fine = fine_grid(images, res)
    arms = ", ".join(
        "named_struct('level', CAST({k} AS BIGINT), "
        "'px', {px}, 'py', {py})".format(
            k=k,
            px=_floor_div("fx", str(1 << k), "spark"),
            py=_floor_div("fy", str(1 << k), "spark"),
        )
        for k in range(levels + 1)
    )
    scattered = fine.select(
        "val", F.expr(f"explode(array({arms})) AS o")
    )
    return (
        scattered.groupBy("o.level", "o.px", "o.py")
        .agg(
            F.count("*").cast("long").alias("n_src"),
            F.sum("val").cast("long").alias("sum_val"),
        )
        .selectExpr(
            "level", "px", "py", "n_src", "sum_val",
            f"{_floor_div('sum_val * 1000000', 'n_src', 'spark')} AS mean_e6",
        )
    )


def oracle_pyramid_sql(fine_cte: str, levels: int = 3) -> str:
    """DuckDB mirror: `fine_cte` must be a full WITH clause ending in a
    relation named `fine` with columns (fx, fy, val) — the same fine grid
    the Spark side derives from the mosaic."""
    parts = []
    for k in range(levels + 1):
        px = _floor_div("fx", str(1 << k), "duck")
        py = _floor_div("fy", str(1 << k), "duck")
        parts.append(
            f"SELECT CAST({k} AS BIGINT) AS level, {px} AS px, {py} AS py,\n"
            f"  CAST(COUNT(*) AS BIGINT) AS n_src,\n"
            f"  CAST(SUM(val) AS BIGINT) AS sum_val\n"
            f"FROM fine GROUP BY 2, 3"
        )
    union = "\nUNION ALL\n".join(parts)
    mean = _floor_div("sum_val * 1000000", "n_src", "duck")
    return (
        f"{fine_cte},\n"
        f"lvls AS (\n{union}\n)\n"
        f"SELECT level, px, py, n_src, sum_val, {mean} AS mean_e6 FROM lvls"
    )
