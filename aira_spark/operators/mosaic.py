"""Mosaic: composite overlapping images into one raster patch per cell.

The classic raster mosaic (multiple scenes covering the same area merged
into a seamless layer) as DataFrames: each cell of the grid gets a
PATCH x PATCH raster (PATCH = 2^PATCH_BITS subcells, fixed) where every
patch pixel is the MAX of all source-pixel values whose center falls inside
that subcell — max-compositing is commutative/associative, so the result is
independent of image order and partitioning (deterministic at any scale,
and expressible as a plain hash aggregation for the oracle).

Plan shape: the decode UDF (`udfs.map_decoded`) emits per-image partial
maxima keyed by the fine-grid position (fx, fy) at res + PATCH_BITS
(already combined within each image), and Catalyst's partial+final hash
agg merges them across images — pixels never shuffle, only (fx, fy, val)
rows. That aggregate IS `fine_grid`; the (cell, pr, pc) split of
`mosaic_cell_values` is a projection over it. Patch assembly is a
grouped-map applyInPandas per cell (the one UDF shape the input_hint
allows beyond scalar/map batches), emitting the packed binary patch +
fill count.

Contract for the raster neighbourhood operators (focal, terrain, texture,
morphology): they read the composited raster through `fine_grid` — one
(fx, fy, val) row per filled fine cell — and move values between
neighbours through `focal.scatter`; only `mosaic_patches` and the mosaic
queries need the (cell, pr, pc) split.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES, cell_pack, np_cell_ix, np_cell_iy
from ..functions.udfs import map_decoded, pixel_cell_groups

# the one fine-grid patch size: every raster neighbourhood operator and
# its oracle reads the mosaic at res + PATCH_BITS
PATCH_BITS = 4
PATCH = 1 << PATCH_BITS


def fine_grid(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, val): max-composited band-0 value of every filled cell of
    the global fine grid at res + PATCH_BITS — fx = ix * PATCH + pc and
    fy = iy * PATCH + pr of the coarse cell (ix, iy). fx/fy are BIGINT."""
    fine_res = res + PATCH_BITS

    def per_image(rec, m, px):
        groups = pixel_cell_groups(m, px, fine_res)
        if groups is None:
            return []
        order, uniq, starts, _ends = groups
        vals = px[:, :, 0].astype(np.int64).ravel()[order]
        maxs = np.maximum.reduceat(vals, starts)
        return zip(np_cell_ix(uniq).tolist(), np_cell_iy(uniq).tolist(),
                   maxs.tolist())

    partials = map_decoded(
        images.select("bytes"), per_image, "fx long, fy long, val long",
        max_bands=1,
    )
    return partials.groupBy("fx", "fy").agg(F.max("val").alias("val"))


def _cell_split(res: int) -> list[Column]:
    """(cell, pr, pc) of a fine-grid (fx, fy): the coarse cell and the
    INT subcell inside it, row 0 at the cell's SOUTH edge."""
    mask = PATCH - 1
    return [
        cell_pack(
            res, F.shiftright("fx", PATCH_BITS), F.shiftright("fy", PATCH_BITS)
        ).alias("cell"),
        F.expr(f"CAST(fy & {mask} AS INT)").alias("pr"),
        F.expr(f"CAST(fx & {mask} AS INT)").alias("pc"),
    ]


def mosaic_cell_values(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(cell, pr, pc, val): `fine_grid` split into the coarse cell and the
    (pr, pc) subcell of its PATCH x PATCH grid."""
    return fine_grid(images, res).select(*_cell_split(res), "val")


MOSAIC_SCHEMA = "cell long, patch binary, n_filled long"


def mosaic_patches(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(cell, patch, n_filled): the composited PATCH x PATCH raster per cell,
    packed row-major uint8 (values clipped to [0, 255]; unfilled subcells =
    0). Assembly is applyInPandas over the per-cell subcell rows."""
    def assemble(pdf: pd.DataFrame) -> pd.DataFrame:
        arr = np.zeros((PATCH, PATCH), dtype=np.uint8)
        pr = pdf["pr"].to_numpy()
        pc = pdf["pc"].to_numpy()
        arr[pr, pc] = np.clip(pdf["val"].to_numpy(), 0, 255).astype(np.uint8)
        return pd.DataFrame(
            {
                "cell": [int(pdf["cell"].iloc[0])],
                "patch": [arr.tobytes()],
                "n_filled": [len(pdf)],
            }
        )

    return (
        mosaic_cell_values(images, res)
        .groupBy("cell")
        .applyInPandas(assemble, schema=MOSAIC_SCHEMA)
    )


def mosaic_blend_values(
    images: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """(cell, pr, pc, val, w_tot): FEATHERED mosaic — the seam-hiding
    compositor every production mosaic service runs where max/last-wins
    leaves visible edges. Each source pixel contributes with weight
    w = 1 + min(r, c, h-1-r, w-1-c) (its L-inf distance to the nearest
    image edge), and the blended value is the floor weighted mean

        val = SUM(w * v) DIV SUM(w)

    over every contributing pixel of every overlapping image. Sums are
    commutative/associative, so the result is independent of image order
    AND partitioning — the property that makes feathering safe as a plain
    hash aggregation at any scale (no per-seam sequencing). Exact integer
    end-to-end: weights and values are integers, the mean is floor
    division, and w_tot ships so the oracle pins the denominator too.

    Plan shape: identical to fine_grid — per-image partial (wv, w) sums
    per fine cell (fx, fy) inside the decode UDF (reduceat over the shared
    cell grouping), Catalyst partial+final hash agg across images, then
    the (cell, pr, pc) split; pixels never shuffle, only (fx, fy, wv, w)
    integer rows.
    Budget: wv <= 255 * (1 + max_dim/2) * px_per_cell — mid-int64 at any
    realistic tile size."""
    fine_res = res + PATCH_BITS

    def per_image(rec, m, px):
        groups = pixel_cell_groups(m, px, fine_res)
        if groups is None:
            return []
        order, uniq, starts, _ends = groups
        h, w = px.shape[:2]
        ri = np.arange(h, dtype=np.int64)[:, None]
        ci = np.arange(w, dtype=np.int64)[None, :]
        wt = 1 + np.minimum(
            np.minimum(ri, h - 1 - ri), np.minimum(ci, w - 1 - ci)
        )
        wts = np.broadcast_to(wt, (h, w)).ravel()[order]
        vals = px[:, :, 0].astype(np.int64).ravel()[order]
        wv = np.add.reduceat(wts * vals, starts)
        ws = np.add.reduceat(wts, starts)
        return zip(np_cell_ix(uniq).tolist(), np_cell_iy(uniq).tolist(),
                   wv.tolist(), ws.tolist())

    partials = map_decoded(
        images.select("bytes"), per_image, "fx long, fy long, wv long, w long",
        max_bands=1,
    )
    return (
        partials.groupBy("fx", "fy")
        .agg(F.sum("wv").alias("wv"), F.sum("w").alias("w_tot"))
        .select(*_cell_split(res), "wv", "w_tot")
        .selectExpr(
            "CAST(cell AS BIGINT) AS cell",
            "CAST(pr AS BIGINT) AS pr",
            "CAST(pc AS BIGINT) AS pc",
            "wv DIV w_tot AS val",
            "CAST(w_tot AS BIGINT) AS w_tot",
        )
    )
