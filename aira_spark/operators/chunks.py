"""Tile/chunk enumeration + footprint cell cover as pure DataFrame ops.

The chunk grid arithmetic replicates Chunks::build_nth_chunk
(/root/reference/crates/aira-tiff/src/metadata.rs:219-243) as Spark SQL
expressions over an exploded index sequence — identical tile assignments by
construction, including edge-chunk clipping and planar zero-size overflow
chunks. Stays entirely inside whole-stage codegen; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cover_rect


def with_meta(images: DataFrame) -> DataFrame:
    """images(bytes, ...) -> + meta struct (decoded by the Arrow UDF)."""
    from ..functions.udfs import decode_meta

    return images.select("*", decode_meta(F.col("bytes")).alias("meta"))


def with_meta_pages(images: DataFrame) -> DataFrame:
    """images -> one row per (image, page): + `page` index + `meta` struct
    (multi-page directory chains; SURVEY.md §1.4 'posexplode of pages')."""
    from ..functions.udfs import decode_meta_pages

    return images.select("*", decode_meta_pages(F.col("bytes")).alias("_pages")).select(
        "*", F.posexplode("_pages").alias("page", "meta")
    ).drop("_pages")


# chunk-grid columns (1 for strips): div_ceil(width, chunk_w) as
# floor((a + d - 1) / d) (metadata.rs:190-198); chunk i sits at grid column
# i % GRID_NX and row i DIV GRID_NX
GRID_NX = "CAST(floor((meta.width + meta.chunk_w - 1) / meta.chunk_w) AS BIGINT)"


def chunk_span(k: str, axis: str) -> tuple[str, str]:
    """(origin, size) SQL of grid column (axis "x") or row (axis "y") `k` of
    the `meta` image; sizes clip to >= 0 so planar overflow chunks degenerate
    to zero-size rectangles (SURVEY.md §1.1.4)."""
    step, length = ("chunk_w", "width") if axis == "x" else ("chunk_h", "height")
    return f"({k} * meta.{step})", f"greatest(0, least(meta.{step}, meta.{length} - {k} * meta.{step}))"


def chunk_rect(i: str) -> tuple[str, str, str, str]:
    """(origin_x, origin_y, size_x, size_y) SQL of chunk index `i`."""
    ox, size_x = chunk_span(f"(CAST({i} AS BIGINT) % {GRID_NX})", "x")
    oy, size_y = chunk_span(f"floor(CAST({i} AS BIGINT) / {GRID_NX})", "y")
    return ox, oy, size_x, size_y


def chunks_df(with_meta_df: DataFrame) -> DataFrame:
    """One row per (image, chunk): origin/size/offset/nbytes."""
    rect = zip(chunk_rect("chunk_idx"), ("origin_x", "origin_y", "size_x", "size_y"))
    return (
        with_meta_df.where("meta.error IS NULL")
        .selectExpr("*", "explode(sequence(0, meta.n_chunks - 1)) AS chunk_idx")
        .selectExpr(
            "*",
            *(f"{sql} AS {name}" for sql, name in rect),
            "element_at(meta.offsets, chunk_idx + 1) AS offset",
            "element_at(meta.byte_counts, chunk_idx + 1) AS nbytes",
        )
    )


def footprint(with_meta_df: DataFrame) -> DataFrame:
    """+ fp_xmin/fp_xmax/fp_ymax/fp_ymin of the image footprint from the
    geotransform; images without one drop out.

    world_x = tie_x + (col - tie_i) * scale_x; world_y = tie_y - (row - tie_j)
    * scale_y (GeoTIFF ModelPixelScale + ModelTiepoint semantics; the
    reference parses the tags, tag.rs:176-179 — the affine math is ours)."""
    xmin, ymax = "(meta.tie_x - meta.tie_i * meta.scale_x)", "(meta.tie_y + meta.tie_j * meta.scale_y)"
    return with_meta_df.where("meta.error IS NULL AND meta.scale_x IS NOT NULL").selectExpr(
        "*",
        f"{xmin} AS fp_xmin",
        f"{xmin} + CAST(meta.width AS DOUBLE) * meta.scale_x AS fp_xmax",
        f"{ymax} AS fp_ymax",
        f"{ymax} - CAST(meta.height AS DOUBLE) * meta.scale_y AS fp_ymin",
    )


def cell_cover(with_meta_df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """+ exploded `cell` column: every grid cell the footprint intersects."""
    return footprint(with_meta_df).selectExpr(
        "*", f"explode({cover_rect('fp_xmin', 'fp_ymin', 'fp_xmax', 'fp_ymax', res)}) AS cell"
    )
