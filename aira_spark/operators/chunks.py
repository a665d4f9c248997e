"""Tile/chunk enumeration + footprint cell cover as pure DataFrame ops.

The chunk grid arithmetic replicates Chunks::build_nth_chunk
(/root/reference/crates/aira-tiff/src/metadata.rs:219-243) as JVM column
expressions over an exploded index sequence — identical tile assignments by
construction, including edge-chunk clipping and planar zero-size overflow
chunks. Stays entirely inside whole-stage codegen; no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cover_rect


def with_meta(images: DataFrame) -> DataFrame:
    """images(bytes, ...) -> + meta struct (decoded by the Arrow UDF)."""
    from ..functions.udfs import decode_meta

    return images.withColumn("meta", decode_meta(F.col("bytes")))


def with_meta_pages(images: DataFrame) -> DataFrame:
    """images -> one row per (image, page): + `page` index + `meta` struct
    (multi-page directory chains; SURVEY.md §1.4 'posexplode of pages')."""
    from ..functions.udfs import decode_meta_pages

    return images.withColumn("_pages", decode_meta_pages(F.col("bytes"))).select(
        "*", F.posexplode("_pages").alias("page", "meta")
    ).drop("_pages")


def chunk_rect(i: Column, m: Column) -> tuple[Column, Column, Column, Column]:
    """(origin_x, origin_y, size_x, size_y) of chunk index `i` of the image
    whose `meta` struct is `m`.

    div_ceil(a, d) is expressed as floor((a + d - 1) / d) in exact integer
    arithmetic (metadata.rs:190-198); sizes clip to >= 0 so planar overflow
    chunks degenerate to zero-size rectangles (SURVEY.md §1.1.4).
    """
    nx = F.floor((m["width"] + m["chunk_w"] - F.lit(1)) / m["chunk_w"]).cast("long")
    i = i.cast("long")
    ox = (i % nx) * m["chunk_w"]
    oy = F.floor(i / nx) * m["chunk_h"]
    return (
        ox,
        oy,
        F.greatest(F.lit(0), F.least(m["chunk_w"], m["width"] - ox)),
        F.greatest(F.lit(0), F.least(m["chunk_h"], m["height"] - oy)),
    )


def chunks_df(with_meta_df: DataFrame) -> DataFrame:
    """One row per (image, chunk): origin/size/offset/nbytes."""
    m = F.col("meta")
    df = with_meta_df.filter(m["error"].isNull())
    df = df.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), m["n_chunks"] - 1)))
    ox, oy, size_x, size_y = chunk_rect(F.col("chunk_idx"), m)
    return (
        df.withColumn("origin_x", ox)
        .withColumn("origin_y", oy)
        .withColumn("size_x", size_x)
        .withColumn("size_y", size_y)
        .withColumn("offset", F.element_at(m["offsets"], F.col("chunk_idx") + 1))
        .withColumn("nbytes", F.element_at(m["byte_counts"], F.col("chunk_idx") + 1))
    )


def footprint(with_meta_df: DataFrame) -> DataFrame:
    """+ xmin/ymin/xmax/ymax of the image footprint from the geotransform.

    world_x = tie_x + (col - tie_i) * scale_x; world_y = tie_y - (row - tie_j)
    * scale_y (GeoTIFF ModelPixelScale + ModelTiepoint semantics; the
    reference parses the tags, tag.rs:176-179 — the affine math is ours)."""
    m = F.col("meta")
    xmin = m["tie_x"] - m["tie_i"] * m["scale_x"]
    ymax = m["tie_y"] + m["tie_j"] * m["scale_y"]
    return (
        with_meta_df.filter(m["error"].isNull() & m["scale_x"].isNotNull())
        .withColumn("fp_xmin", xmin)
        .withColumn("fp_xmax", xmin + m["width"].cast("double") * m["scale_x"])
        .withColumn("fp_ymax", ymax)
        .withColumn("fp_ymin", ymax - m["height"].cast("double") * m["scale_y"])
    )


def cell_cover(with_meta_df: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """+ exploded `cell` column: every grid cell the footprint intersects."""
    return footprint(with_meta_df).withColumn(
        "cell", F.expr(f"explode({cover_rect('fp_xmin', 'fp_ymin', 'fp_xmax', 'fp_ymax', res)})")
    )
