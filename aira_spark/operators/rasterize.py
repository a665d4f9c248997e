"""Vector -> raster: polygon rasterization onto the cell grid and tile grid.

Cover-then-refine, all JVM-side: bbox cell cover (superset) -> exact
center-in-polygon test via the same ray-casting expression used for PIP.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import (
    DEFAULT_RES,
    SPAN_X,
    SPAN_Y,
    cell_bounds_xmin,
    cell_bounds_ymin,
    cell_span,
)
from .spatial import point_in_ring, polygon_cells


def rasterize_to_cells(polygons: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(poly_id, cell) for every cell whose center lies inside the polygon."""
    cx = f"({cell_bounds_xmin('cell')} + {cell_span('cell', SPAN_X)} / 2.0D)"
    cy = f"({cell_bounds_ymin('cell')} + {cell_span('cell', SPAN_Y)} / 2.0D)"
    return polygon_cells(polygons, res).where(point_in_ring(cx, cy, "ring")).select(
        "poly_id", "cell"
    )


def rasterize_to_tiles(
    polygons: DataFrame, chunks_with_fp: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """(poly_id, image_id, chunk_idx) for every image chunk whose world-space
    center falls inside the polygon.

    chunks_with_fp: chunks_df() output joined with footprint columns — chunk
    center = geotransform applied to (origin + size/2).

    Plan shape: delegates to point_in_polygon_join — chunk-center cell
    (pure projection) equi-joined against the broadcast polygon cell cover,
    full-cell shortcut, exact ray-cast refine on candidates only. At 100 TB
    the chunk table is the biggest DataFrame in the system; the previous
    crossJoin ran the O(edges) ray-cast for |chunks| x |polys| pairs, this
    runs it only for cover-overlapping candidates (lossless: point_in_ring
    is half-open — boundary hits have px/py strictly below the bbox max, so
    their cell is always inside the half-open bbox cover)."""
    from .spatial import point_in_polygon_join

    m = F.col("meta")
    ccx = m["tie_x"] + (
        (F.col("origin_x") + F.col("size_x") / 2.0) - m["tie_i"]
    ) * m["scale_x"]
    ccy = m["tie_y"] - ((F.col("origin_y") + F.col("size_y") / 2.0) - m["tie_j"]) * m["scale_y"]
    ch = chunks_with_fp.filter((F.col("size_x") > 0) & (F.col("size_y") > 0)).select(
        "image_id", "chunk_idx", ccx.alias("ccx"), ccy.alias("ccy")
    )
    return point_in_polygon_join(
        ch, polygons.select("poly_id", "ring"), res, x="ccx", y="ccy"
    ).select("poly_id", "image_id", "chunk_idx")
