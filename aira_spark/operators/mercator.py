"""Web-Mercator XYZ tile addressing: assign every image footprint center
to its slippy-map tile (z/x/y) and Bing quadkey — the tile-server /
gdal2tiles parity op that turns a raster catalog into a serveable layout.

The Mercator row needs y = ln(tan(pi/4 + lat/2)) — libm, which the driver
canon forbids in checked outputs (the r3 est_distinct lesson). It never
runs in either engine here: the projection is MONOTONE in latitude, so
the 2^z - 1 tile-row BOUNDARY latitudes are computed ONCE in Python
(math.atan/sinh, baked as repr() double literals into BOTH engines'
expression text — the kmeans literal-baking device) and row assignment is
a pure comparison count:

    y_tile = #{ boundaries b_i strictly above lat }

(a point exactly on a boundary joins the row ABOVE — a stated convention,
identical in both engines). x_tile is exact floor arithmetic; the quadkey
interleaves x/y bits with integer DIV/% only.

Exactness: the footprint center reuses the decoded-geotransform double
algebra already hash-proven by the fine-grid oracles (tie points decode
bit-equal to the closed-form cx/cy; identical expression text both
sides). Scale shape: one metadata decode (no pixels), then a pure
projection — zero joins, zero shuffles; the optional per-tile rollup is
one map-side-combined agg on (x_tile, y_tile).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame

DEFAULT_ZOOM = 4


def _lat_bounds(zoom: int) -> list[float]:
    """Tile-row boundary latitudes, decreasing (between row y-1 and y)."""
    n = 1 << zoom
    return [
        math.degrees(math.atan(math.sinh(math.pi * (1 - 2 * y / n))))
        for y in range(1, n)
    ]


def _xyz_exprs(lat: str, lon: str, zoom: int) -> tuple[str, str, str]:
    """Shared SQL fragments (x_tile, y_tile, quadkey) over lat/lon column
    text — identical in Spark and DuckDB."""
    n = 1 << zoom
    xt = (
        f"CAST(LEAST(GREATEST(FLOOR(({lon} + 180.0) / 360.0 * {float(n)}),"
        f" 0), {n - 1}) AS BIGINT)"
    )
    yt = " + ".join(
        f"(CASE WHEN {b!r} > {lat} THEN 1 ELSE 0 END)"
        for b in _lat_bounds(zoom)
    )
    yt = f"CAST({yt} AS BIGINT)"
    digits = []
    for i in range(zoom, 0, -1):
        p = 1 << (i - 1)
        # engine-portable bit extraction on non-negative ints:
        # bit_k(v) = 1 iff v % 2^(k+1) >= 2^k (no DIV/// divergence)
        bx = f"(CASE WHEN x_tile % {2 * p} >= {p} THEN 1 ELSE 0 END)"
        by = f"(CASE WHEN y_tile % {2 * p} >= {p} THEN 1 ELSE 0 END)"
        digits.append(f"CAST({bx} + 2 * {by} AS STRING)")
    return xt, yt, " || ".join(digits)


def xyz_tiles(images: DataFrame, zoom: int = DEFAULT_ZOOM) -> DataFrame:
    """(image_id, x_tile, y_tile, quadkey): the slippy-map tile of every
    valid image's footprint center at `zoom`. Rows without a decodable
    geotransform are dropped (they have no footprint)."""
    from .chunks import footprint, with_meta

    xt, yt, qk = _xyz_exprs("lat", "lon", zoom)
    return (
        footprint(with_meta(images)).selectExpr(
            "image_id",
            "fp_xmin + CAST(meta.width AS DOUBLE) * meta.scale_x / 2.0D AS lon",
            "fp_ymax - CAST(meta.height AS DOUBLE) * meta.scale_y / 2.0D AS lat",
        )
        .selectExpr("image_id", f"{xt} AS x_tile", f"{yt} AS y_tile")
        .selectExpr("image_id", "x_tile", "y_tile", f"{qk} AS quadkey")
    )


def oracle_xyz_sql(img_cte: str, zoom: int = DEFAULT_ZOOM) -> str:
    """DuckDB mirror over the closed-form image CTE (meta(k, w, h, sx, sy,
    cx, cy, image_id)): the identical center algebra and baked boundary
    comparisons. tie_x == cx and tie_y == cy + h*sy bit-exactly (the
    fine-grid oracles' proven device), so the center expressions mirror
    the decoded-metadata arithmetic term for term."""
    xt, yt, qk = _xyz_exprs("lat", "lon", zoom)
    return f"""{img_cte},
ctr AS (
  SELECT image_id,
    cx + CAST(w AS DOUBLE) * sx / 2.0 AS lon,
    (cy + CAST(h AS DOUBLE) * sy) - CAST(h AS DOUBLE) * sy / 2.0 AS lat
  FROM meta
),
tiles AS (SELECT image_id, {xt} AS x_tile, {yt} AS y_tile FROM ctr)
SELECT image_id, x_tile, y_tile, {qk} AS quadkey FROM tiles"""
