"""Synthetic image+caption table (the authoritative input shape).

Builds the Iceberg-shaped table (image_id string, bytes binary, w int, h int,
fmt string, caption string, phash long) mandated by BASELINE.json input_hint,
deterministically derived from the driver's `part` table so every numeric
property (dims, chunk grid, geotransform, pixel values) is reproducible in
closed form by the DuckDB oracle — while the Spark pipeline goes through the
*real* bytes: encode -> decode -> enumerate.

Derivations from k = p_partkey (all int64-exact, SQL-reproducible):
  variant  v = k % 12                      (generation matrix row)
  width    w = 16 + (k % 7) * 8            in [16, 64]
  height   h = 16 + (k % 5) * 8            in [16, 48]
  pixel(r, c, s) = (r*7 + c*13 + s*29 + k) % 256
  scale_x = 0.002 + (k % 17) * 0.001
  scale_y = 0.002 + (k % 13) * 0.001
  corner_x = ((k * 2654435761) % 350000000) / 1000000.0 - 178.0
  corner_y = ((k * 1013904223) % 170000000) / 1000000.0 - 86.0
  footprint = [corner_x, corner_x + w*scale_x) x [corner_y, corner_y + h*scale_y)
  caption  = 'img-' || k || ' synthetic raster caption'
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as Ty

from ..tiff import tags as T
from ..tiff.encode import write_tiff
from .tables import read_table

# generation matrix: v -> (byteorder, layout_kind, compression, predictor,
#                          planar, dtype, spp, big)
VARIANTS = [
    ("<", "strips", T.COMPRESSION_NONE, T.PREDICTOR_NONE, 1, "u1", 1, False),
    (">", "strips", T.COMPRESSION_NONE, T.PREDICTOR_NONE, 1, "u1", 3, False),
    ("<", "tiles", T.COMPRESSION_NONE, T.PREDICTOR_NONE, 1, "u1", 3, False),
    ("<", "strips", T.COMPRESSION_PACKBITS, T.PREDICTOR_NONE, 1, "u1", 1, False),
    (">", "tiles", T.COMPRESSION_PACKBITS, T.PREDICTOR_HORIZONTAL, 1, "u1", 3, False),
    ("<", "strips", T.COMPRESSION_DEFLATE, T.PREDICTOR_HORIZONTAL, 1, "u2", 1, False),
    (">", "strips", T.COMPRESSION_DEFLATE, T.PREDICTOR_HORIZONTAL, 1, "u1", 2, False),
    ("<", "tiles", T.COMPRESSION_LEGACY_DEFLATE, T.PREDICTOR_NONE, 1, "u1", 1, False),
    ("<", "strips", T.COMPRESSION_DEFLATE, T.PREDICTOR_FLOAT, 1, "f4", 1, False),
    (">", "strips", T.COMPRESSION_NONE, T.PREDICTOR_NONE, 2, "u1", 2, False),
    ("<", "strips", T.COMPRESSION_PACKBITS, T.PREDICTOR_NONE, 2, "u1", 3, False),
    ("<", "tiles", T.COMPRESSION_DEFLATE, T.PREDICTOR_HORIZONTAL, 1, "u2", 1, True),
]

STRIP_ROWS = 8
TILE_W = TILE_H = 16

# resolution multiplier for scaling-evidence runs: same geographic footprint,
# IMG_SCALE x the pixels per axis (pixel scale divides accordingly), so the
# decode compute grows ~quadratically while every cell/footprint derivation
# stays identical. The DuckDB oracle reads the same env var (__spark_entry__).
import os as _os

IMG_SCALE = int(_os.environ.get("SPARK_GRAFT_IMG_SCALE", "1"))

IMAGE_SCHEMA = Ty.StructType(
    [
        Ty.StructField("image_id", Ty.StringType()),
        Ty.StructField("bytes", Ty.BinaryType()),
        Ty.StructField("w", Ty.IntegerType()),
        Ty.StructField("h", Ty.IntegerType()),
        Ty.StructField("fmt", Ty.StringType()),
        Ty.StructField("caption", Ty.StringType()),
        Ty.StructField("phash", Ty.LongType()),
    ]
)


def derive_params(k: int) -> dict:
    v = k % 12
    bo, layout_kind, comp, pred, planar, dtype, spp, big = VARIANTS[v]
    w = (16 + (k % 7) * 8) * IMG_SCALE
    h = (16 + (k % 5) * 8) * IMG_SCALE
    layout = ("strips", STRIP_ROWS) if layout_kind == "strips" else ("tiles", TILE_W, TILE_H)
    scale_x = (0.002 + (k % 17) * 0.001) / IMG_SCALE
    scale_y = (0.002 + (k % 13) * 0.001) / IMG_SCALE
    corner_x = ((k * 2654435761) % 350000000) / 1000000.0 - 178.0
    corner_y = ((k * 1013904223) % 170000000) / 1000000.0 - 86.0
    return {
        "k": k,
        "variant": v,
        "byteorder": bo,
        "layout": layout,
        "layout_kind": layout_kind,
        "chunk_w": w if layout_kind == "strips" else TILE_W,
        "chunk_h": STRIP_ROWS if layout_kind == "strips" else TILE_H,
        "compression": comp,
        "predictor": pred,
        "planar": planar,
        "dtype": dtype,
        "spp": spp,
        "big": big,
        "w": w,
        "h": h,
        "scale_x": scale_x,
        "scale_y": scale_y,
        "corner_x": corner_x,
        "corner_y": corner_y,
    }


def make_pixels(p: dict) -> np.ndarray:
    """pixel(r, c, s) = (r*7 + c*13 + s*29 + k) % 256, cast to the variant dtype."""
    r = np.arange(p["h"], dtype=np.int64)[:, None, None]
    c = np.arange(p["w"], dtype=np.int64)[None, :, None]
    s = np.arange(p["spp"], dtype=np.int64)[None, None, :]
    vals = (r * 7 + c * 13 + s * 29 + p["k"]) % 256
    return vals.astype(np.dtype(p["dtype"]))


def phash64(px: np.ndarray) -> int:
    """Deterministic 64-bit perceptual-hash-style fingerprint.

    Block-sum the first channel over an 8x8 grid; bit (i, j) is set iff the
    block's mean EXCEEDS the global pixel mean, decided by exact integer
    cross-multiplication (block_sum * n_pixels > total_sum * block_count) —
    never by float division. ~3% of the synthetic images hit EXACT
    block-mean == global-mean ties, where a float formulation flips bits with
    summation order; the integer rule is platform/engine-exact, so a DuckDB
    oracle can recompute identical values from the closed-form pixel formula.
    Bits pack row-major into 63 bits (bit 63 cleared to stay a positive long).
    """
    a = px[:, :, 0].astype(np.int64)
    h, w = a.shape
    ys = (np.arange(9) * h) // 8
    xs = (np.arange(9) * w) // 8
    # 2-D prefix sums give every block sum exactly (blocks may be unequal
    # when dims aren't divisible by 8; counts carry through the comparison);
    # int64 cannot overflow: total <= 255 * h * w << 2^63
    ps = np.zeros((h + 1, w + 1), dtype=np.int64)
    ps[1:, 1:] = a.cumsum(axis=0).cumsum(axis=1)
    total = int(a.sum())
    n_px = h * w
    val = 0
    for i in range(8):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(8):
            if i == 7 and j == 7:
                break  # bit 63 cleared
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            bsum = int(ps[y1, x1] - ps[y0, x1] - ps[y1, x0] + ps[y0, x0])
            bcnt = (y1 - y0) * (x1 - x0)
            bit = 1 if bsum * n_px > total * bcnt else 0
            val = (val << 1) | bit
    return val


def caption_for(k: int) -> str:
    return f"img-{k} synthetic raster caption"


def resolution_for(k: int) -> tuple:
    """(x_num, x_den, y_num, y_den, unit) — exact u32 rationals with
    non-trivial denominators so exact-rational ordering is exercised
    (x_num/x_den collides at double precision for distinct k only under
    deliberately adversarial inputs; the ratio_sort query builds those)."""
    return (72 + k % 97, 1 + k % 5, 72 + k % 89, 1 + k % 3, 2 + k % 2)


def artist_for(k: int) -> str:
    return f"sensor-{k % 31}"


def datetime_for(k: int) -> str:
    """Deterministic capture timestamp in TIFF 'YYYY:MM:DD HH:MM:SS' form."""
    return f"2026:01:{1 + k % 28:02d} {k % 24:02d}:{k % 60:02d}:{(k * 7) % 60:02d}"


def fmt_label(p: dict) -> str:
    comp = {1: "none", 8: "deflate", 32773: "packbits", 32946: "zlegacy"}[p["compression"]]
    pred = {1: "", 2: "-pred2", 3: "-pred3"}[p["predictor"]]
    pl = "-planar" if p["planar"] == 2 else ""
    big = "-big" if p["big"] else ""
    return f"tiff-{comp}-{p['dtype']}-{p['layout_kind']}{pred}{pl}{big}"


def synthesize_row(k: int) -> tuple:
    p = derive_params(k)
    px = make_pixels(p)
    buf = write_tiff(
        px,
        byteorder=p["byteorder"],
        layout=p["layout"],
        compression=p["compression"],
        predictor=p["predictor"],
        planar=p["planar"],
        big=p["big"],
        geo=(
            (p["scale_x"], p["scale_y"], 0.0),
            (0.0, 0.0, 0.0, p["corner_x"], p["corner_y"] + p["h"] * p["scale_y"], 0.0),
        ),
        description=caption_for(k),
        resolution=resolution_for(k),
        artist=artist_for(k),
        datetime=datetime_for(k),
        subfile_type=0,
    )
    return (
        f"img{k:08d}",
        buf,
        p["w"],
        p["h"],
        fmt_label(p),
        caption_for(k),
        phash64(px),
    )


def images_table(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    """The images DataFrame, one image per `part` row (Arrow-batched synth)."""
    part = read_table(spark, sf_dir, "part").select("p_partkey")
    if limit is not None:
        part = part.filter(F.col("p_partkey") < limit)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [synthesize_row(int(k)) for k in pdf["p_partkey"]]
            yield pd.DataFrame(rows, columns=IMAGE_SCHEMA.fieldNames())

    return part.repartition(max(spark.sparkContext.defaultParallelism, 8)).mapInPandas(
        gen, schema=IMAGE_SCHEMA
    )


def write_images(spark: SparkSession, sf_dir: str, out_path: str, buckets: int = 32) -> None:
    """Materialize the images table as partitioned parquet (Iceberg-style layout)."""
    df = images_table(spark, sf_dir).withColumn(
        "bucket", F.pmod(F.xxhash64("image_id"), F.lit(buckets))
    )
    # repartition ON the bucket column first: otherwise every upstream task
    # writes a sliver of every bucket (tasks x buckets tiny files, and the
    # scan cost becomes pure file-open overhead)
    df.repartition(buckets, "bucket").write.mode("overwrite").partitionBy(
        "bucket"
    ).parquet(out_path)


def _with_footprint_keys(images: DataFrame, keys) -> DataFrame:
    """Decode metadata once and attach integer spatial-key columns derived
    from the footprint CENTER of each image's geotransform (the single
    source of the cx/cy formula for every spatial writer).

    keys: list of (col_name, fn) where fn(cx, cy) -> integer Column; rows
    without a valid geotransform (decode error or no scale) get -1 in every
    key column so full-table scans still see them."""
    from ..functions.udfs import decode_meta

    m = F.col("meta")
    cx = (m["tie_x"] - m["tie_i"] * m["scale_x"]) + m["width"].cast("double") * m["scale_x"] / 2.0
    cy = (m["tie_y"] + m["tie_j"] * m["scale_y"]) - m["height"].cast("double") * m["scale_y"] / 2.0
    valid = m["error"].isNull() & m["scale_x"].isNotNull()
    df = images.withColumn("meta", decode_meta(F.col("bytes")))
    for name, fn in keys:
        df = df.withColumn(name, F.when(valid, fn(cx, cy)).otherwise(F.lit(-1)))
    return df.drop("meta")


def write_images_by_cell(
    spark: SparkSession, images: DataFrame, out_path: str, res: int = 3
) -> None:
    """Spatially-partitioned layout: partition column = coarse grid cell of
    the decoded footprint center (Iceberg partition-spec analog: a cell
    transform on the geotransform).

    This is the 100 TB layout: spatial queries (window reads, PIP, zonal over
    a region) filter on `part_cell` and Catalyst prunes whole partitions at
    the scan — the cluster never opens files outside the query's region.
    Images with no geotransform land in part_cell = -1 (still scanned by
    full-table queries, skipped by spatial ones).
    """
    from ..functions.cells import cell_from_xy

    df = _with_footprint_keys(
        images, [("part_cell", lambda cx, cy: cell_from_xy(cx, cy, res))]
    )
    df.repartition(F.col("part_cell")).write.mode("overwrite").partitionBy(
        "part_cell"
    ).parquet(out_path)


def write_images_zordered(
    spark: SparkSession, images: DataFrame, out_path: str,
    part_res: int = 3, sort_res: int = 10,
) -> None:
    """Spatial layout with BOTH pruning levers: coarse-cell partitioning
    (directory-level pruning, as write_images_by_cell) plus Z-order (Morton)
    sorting WITHIN each partition at a finer grid. Row groups inside every
    file then carry tight lon/lat min/max statistics, so a window/bbox scan
    prunes most row groups even inside the partitions it must open — the
    Iceberg rewrite_data_files(strategy => 'sort', sort_order => zorder(...))
    analog, expressed with a pure integer projection (functions/cells.py
    morton_key)."""
    from ..functions.cells import cell_from_xy, morton_from_xy

    df = _with_footprint_keys(
        images,
        [
            ("part_cell", lambda cx, cy: cell_from_xy(cx, cy, part_res)),
            ("zkey", lambda cx, cy: morton_from_xy(cx, cy, sort_res)),
        ],
    )
    (
        df.repartition(F.col("part_cell"))
        .sortWithinPartitions("part_cell", "zkey")
        .write.mode("overwrite")
        .partitionBy("part_cell")
        .parquet(out_path)
    )


def write_images_bucketed(
    spark: SparkSession, images: DataFrame, table: str, buckets: int = 16
) -> None:
    """Hash-bucketed, sorted table layout (Spark bucketBy — the Iceberg
    bucket-transform analog): downstream equi-joins and aggregations on
    image_id between tables bucketed the same way run WITHOUT a shuffle —
    at 100 TB the join co-location is decided once at write time instead of
    re-shuffling petabytes per query. saveAsTable is required (bucket
    metadata lives in the catalog)."""
    (
        images.write.mode("overwrite")
        .bucketBy(buckets, "image_id")
        .sortBy("image_id")
        .format("parquet")
        .saveAsTable(table)
    )
