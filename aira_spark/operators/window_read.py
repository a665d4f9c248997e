"""Windowed (pruned) raster reads: decode ONLY the chunks a query touches.

The reference exposes chunk-level random access — `Metadata::chunks()` +
`Seek` lets a caller read just the chunks intersecting a requested window
(/root/reference/crates/aira-tiff/src/metadata.rs:138-144,246-255; SURVEY.md
§4 "chunk-level random access / windowed reads"). In Spark that becomes
*plan-level pruning*: the chunk rectangles are pure SQL arithmetic
(operators/chunks.py), the world-space window predicate selects each image's
chunk ids in the JVM per grid column and row, and only images with a
selected chunk are sent to the Arrow decode UDF, each once with its selected
ids — so the expensive Python stage decodes exactly the chunks a windowed
read would seek to.

At 100 TB scale this is the difference between decoding the full archive and
decoding the window: the selection runs below the decode (the decode UDF sees
only images the window touches), and with the images table partitioned by
cell range the scan itself partition-prunes on the same predicate.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from ..functions.cells import sql_double
from .chunks import GRID_NX, chunk_span, footprint

WINDOW_READ_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("chunk_idx", Ty.LongType()),
        Ty.StructField("n_px", Ty.LongType()),
        Ty.StructField("sum_px", Ty.LongType()),
    ]
)


def _decode_selected_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(image_id, bytes, chunk_ids) -> per-chunk band-0 pixel count + sum.
    One row per image: its metadata is decoded once and each selected chunk's
    payload is sliced and decoded independently (the Spark analog of
    seek-to-chunk)."""
    from ..tiff.meta import TiffError, decode_metadata, pixel_chunks
    from ..tiff.pixels import decode_chunk

    for pdf in batches:
        out: list[tuple] = []
        for image_id, raw, ids in zip(pdf["image_id"], pdf["bytes"], pdf["chunk_ids"]):
            buf = bytes(raw)
            # buffer per image so a mid-image failure drops the WHOLE image
            # (dead-letter contract: all-or-nothing, never a partial result)
            img_rows: list[tuple] = []
            try:
                m = decode_metadata(buf)
                chunk_info = {c["chunk_idx"]: c for c in pixel_chunks(m)}
                for idx in ids:
                    c = chunk_info.get(int(idx))
                    if c is None:  # driver/executor meta disagree (truncated)
                        raise TiffError(f"chunk {int(idx)} missing at decode")
                    px = decode_chunk(
                        buf[c["offset"] : c["offset"] + c["nbytes"]],
                        m, c["chunk_idx"], c["size_x"], c["size_y"],
                    )
                    band0 = px[:, :, 0].astype("int64")
                    img_rows.append((image_id, int(idx), int(band0.size), int(band0.sum())))
            except TiffError:
                continue  # dead-letter: bad images drop out, never raise
            out.extend(img_rows)
        yield pd.DataFrame(out, columns=WINDOW_READ_SCHEMA.fieldNames())


def read_window_pruned(
    spark,
    path: str,
    x0: float,
    y0: float,
    x1: float,
    y1: float,
    margin: float = 2.0,
    res: int = 3,
):
    """Scan a cell-partitioned images table (sources.images.write_images_by_cell)
    reading ONLY the partitions whose coarse cell intersects the window.

    `margin` must bound the maximum footprint half-extent of any image: the
    partition key is the footprint *center* cell, so an image whose center
    sits up to `margin` outside the window can still intersect it. The
    expanded window's res-`res` cell cover becomes an IN-list filter on the
    partition column — Catalyst turns it into PartitionFilters and never
    opens files outside the region (partition pruning at the scan, the
    Spark analog of the reference's seek-past-unneeded-chunks).
    """
    from ..functions.cells import np_cover_rect

    cover = np_cover_rect(x0 - margin, y0 - margin, x1 + margin, y1 + margin, res)
    df = spark.read.parquet(path)
    return df.filter(F.col("part_cell").isin([int(c) for c in cover]))


def window_read(
    with_meta_df: DataFrame, x0: float, y0: float, x1: float, y1: float
) -> DataFrame:
    """Decode only the window's chunks: (image_id, chunk_idx, n_px, sum_px).

    A chunk is selected when its world-space rectangle overlaps the open
    window (x0, x1) x (y0, y1): the tests are strict `<`/`>`, so a chunk that
    only touches a window edge is not selected. Only band-0 chunks count (chunk_idx <
    expected_chunks): for planar files the extra per-plane chunk sets cover
    the same footprint, and the window semantics are defined on the image
    grid, not the sample planes.

    The selection is JVM SQL over one row per image, per axis: chunk i sits
    at grid column i % nx and row i DIV nx, so the x extents of the nx
    columns and the y extents of the ny rows are tested apart (nx + ny
    tests, not nx * ny) and the ids are the row-major product of the hit rows
    and columns. Images with none drop out; the decode UDF gets each other
    image's bytes once.
    """
    (ox, size_x), (oy, size_y) = chunk_span("wr_c", "x"), chunk_span("wr_r", "y")
    col_hit = (
        f"fp_xmin + CAST({ox} AS DOUBLE) * meta.scale_x < {sql_double(x1)}"
        f" AND fp_xmin + CAST({ox} + {size_x} AS DOUBLE) * meta.scale_x > {sql_double(x0)}"
    )
    row_hit = (
        f"fp_ymax - CAST({oy} + {size_y} AS DOUBLE) * meta.scale_y < {sql_double(y1)}"
        f" AND fp_ymax - CAST({oy} AS DOUBLE) * meta.scale_y > {sql_double(y0)}"
    )
    # decode_metadata guarantees expected_chunks >= 1, so both sequences
    # ascend; the hit columns bind to wr_cs once per image, not once per row
    cols = f"filter(sequence(0L, {GRID_NX} - 1), wr_c -> {col_hit})"
    rows = f"filter(sequence(0L, meta.expected_chunks DIV {GRID_NX} - 1), wr_r -> {row_hit})"
    ids = (
        f"transform(array({cols}), wr_cs -> flatten(transform({rows}, wr_r -> "
        f"transform(wr_cs, wr_c -> CAST(wr_r * {GRID_NX} + wr_c AS INT)))))[0]"
    )
    sel = footprint(with_meta_df).selectExpr("image_id", "bytes", f"{ids} AS chunk_ids")
    return sel.where("size(chunk_ids) > 0").mapInPandas(
        _decode_selected_batches, schema=WINDOW_READ_SCHEMA
    )
