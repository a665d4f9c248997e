"""Inverse-mapped nearest-neighbor regrid (the `gdalwarp -r near` primitive):
resample every scene onto ONE common target grid, then mosaic-composite the
aligned layers — the alignment step every multi-sensor stack needs before
change detection / trend fitting, when the scenes' native pixel grids
(origin + pixel size per image) don't line up.

Every other raster op in this repo scatters pixels FORWARD into the cell
grid (push). A true warp PULLS: for each target pixel, inverse-map its
center through the source geotransform and read the covering source pixel.
The distinction matters exactly when the target grid is finer than a
source's native grid — a forward scatter leaves holes where no source
pixel center lands, while the inverse map is total over the footprint
(classic resampling fact; same reason gdalwarp iterates destination
pixels). The default target pixel sizes are chosen so both directions are
exercised against the synthetic catalog (sx spans 0.002..0.018 deg, the
target is 1/128 deg): coarse scenes upsample (one source pixel feeds many
target pixels), fine scenes downsample (most source pixels are skipped).

Reference scope note: the reference library decodes rasters and their
geotransform tags (crates/aira-tiff/src/tag.rs:176-179 parses
ModelPixelScale/ModelTiepoint) but has no resampling engine; the warp is
the canonical downstream consumer of exactly those tags.

Shape: one mapInPandas decode pass (pixels never cross an exchange — only
(tx, ty, val) target-cell rows, one per covered target pixel per scene),
then MAX-composite hash agg on the target position (commutative /
associative — scene- and partition-order independent, the mosaic
argument), then a bounded per-patch census (patch = 2^WARP_PATCH_BITS square
of target pixels) so the full-resolution warp never leaves the cluster. The
agg key is the target grid position: no skew (a hot AOI spreads over many
target cells), partial aggregation combines map-side, and both
aggregations reuse one shuffle's partitioning at any cluster size.

Exactness: the inverse map is pure IEEE-double +,-,*,/ and floor — every
one exactly rounded, so numpy and DuckDB agree bit-for-bit as long as the
EXPRESSION TREE is identical on both sides (the fine-grid-oracle device).
The expression, both engines, in this exact association:

    c = floor(((X0 + (tx + 0.5) * tsx) - cx) / sx)        keep iff 0 <= c < w
    r = floor(((cy + h * sy) - (Y0 + (ty + 0.5) * tsy)) / sy)  iff 0 <= r < h

with tsx/tsy dyadic rationals (1/128, 3/512) whose repr() round-trips
exactly in both engines' literal parsers. Per-image target ranges are a
conservative +/-1-widened floor bound; the c/r bounds mask does the exact
clipping identically on both sides, so the widening is harmless.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

X0 = -180.0
Y0 = -90.0
# dyadic-rational target pixel sizes (exact double literals both engines)
DEFAULT_TSX = 1.0 / 128.0  # 0.0078125 deg
DEFAULT_TSY = 3.0 / 512.0  # 0.005859375 deg
# census patch side, in target pixels: warp's own grid, not mosaic.PATCH_BITS
WARP_PATCH_BITS = 3


def warp_cell_values(
    images: DataFrame, tsx: float = DEFAULT_TSX, tsy: float = DEFAULT_TSY
) -> DataFrame:
    """(tx, ty, val): MAX-composited band-0 value per target-grid pixel,
    every scene inverse-map resampled onto the common (X0, Y0, tsx, tsy)
    grid. tx/ty index target pixels east/north of the grid origin."""
    from ..functions.udfs import _decode_full
    from ..tiff.meta import TiffError, geotransform

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list[np.ndarray]] = {"tx": [], "ty": [], "val": []}
            for rec in pdf.itertuples(index=False):
                try:
                    m, px = _decode_full(rec.bytes, max_bands=1)
                except TiffError:
                    continue
                gt = geotransform(m)
                if gt is None:
                    continue
                sv, tv = gt
                h, w = px.shape[:2]
                # left/bottom edges and top edge from the decoded transform
                # (tv[0]/tv[1] are the tie pixel indices — 0 for this writer,
                # kept in the algebra so any valid tiepoint works)
                cx = tv[3] - tv[0] * sv[0]
                top = tv[4] + tv[1] * sv[1]
                cy = top - h * sv[1]
                # conservative +/-1-widened target ranges over the footprint
                tx_lo = int(np.floor((cx - X0) / tsx)) - 1
                tx_hi = int(np.floor((cx + w * sv[0] - X0) / tsx)) + 1
                ty_lo = int(np.floor((cy - Y0) / tsy)) - 1
                ty_hi = int(np.floor((cy + h * sv[1] - Y0) / tsy)) + 1
                txs = np.arange(tx_lo, tx_hi + 1, dtype=np.float64)
                tys = np.arange(ty_lo, ty_hi + 1, dtype=np.float64)
                # the shared expression tree (module docstring) — exact
                cs = np.floor(((X0 + (txs + 0.5) * tsx) - cx) / sv[0])
                rs = np.floor((top - (Y0 + (tys + 0.5) * tsy)) / sv[1])
                mx = (cs >= 0) & (cs < w)
                my = (rs >= 0) & (rs < h)
                if not mx.any() or not my.any():
                    continue
                cok = cs[mx].astype(np.int64)
                rok = rs[my].astype(np.int64)
                grid = px[np.ix_(rok, cok)][:, :, 0].astype(np.int64)
                txv = txs[mx].astype(np.int64)
                tyv = tys[my].astype(np.int64)
                cols["tx"].append(np.broadcast_to(txv[None, :], grid.shape).ravel())
                cols["ty"].append(np.broadcast_to(tyv[:, None], grid.shape).ravel())
                cols["val"].append(grid.ravel())
            yield pd.DataFrame(
                {
                    k: (np.concatenate(v) if v else np.array([], dtype=np.int64))
                    for k, v in cols.items()
                }
            )

    partials = images.select("bytes").mapInPandas(
        fn, schema="tx long, ty long, val long"
    )
    return partials.groupBy("tx", "ty").agg(F.max("val").alias("val"))


def warp_census(
    images: DataFrame,
    tsx: float = DEFAULT_TSX,
    tsy: float = DEFAULT_TSY,
) -> DataFrame:
    """(wx, wy, n_cells, sum_val, min_val, max_val) per 8 x 8 patch
    (2^WARP_PATCH_BITS target pixels a side) of the common target grid —
    the bounded public face of the warp (counts prove footprint coverage;
    sum/min/max fingerprint the values)."""
    pb = 1 << WARP_PATCH_BITS
    vals = warp_cell_values(images, tsx, tsy)
    return (
        vals.groupBy(
            F.floor(F.col("tx") / pb).cast("long").alias("wx"),
            F.floor(F.col("ty") / pb).cast("long").alias("wy"),
        )
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("val").cast("long").alias("sum_val"),
            F.min("val").cast("long").alias("min_val"),
            F.max("val").cast("long").alias("max_val"),
        )
    )


def oracle_warp_sql(
    img_cte: str,
    modulo: int = 8,
    tsx: float = DEFAULT_TSX,
    tsy: float = DEFAULT_TSY,
) -> str:
    """DuckDB mirror over the closed-form image catalog (a WITH body ending
    in meta(k, w, h, sx, sy, cx, cy, ...)) — regenerates every covered
    target pixel per scene via the identical inverse-map expression tree
    and the synthetic pixel formula (r*7 + c*13 + k) % 256."""
    pb = 1 << WARP_PATCH_BITS
    return f"""
WITH {img_cte},
sel AS (SELECT * FROM meta WHERE k % {modulo} = 0),
txs AS (SELECT *, unnest(generate_series(
          CAST(FLOOR((cx - ({X0!r})) / {tsx!r}) AS BIGINT) - 1,
          CAST(FLOOR((cx + w * sx - ({X0!r})) / {tsx!r}) AS BIGINT) + 1)) AS tx
        FROM sel),
tys AS (SELECT *, unnest(generate_series(
          CAST(FLOOR((cy - ({Y0!r})) / {tsy!r}) AS BIGINT) - 1,
          CAST(FLOOR((cy + h * sy - ({Y0!r})) / {tsy!r}) AS BIGINT) + 1)) AS ty
        FROM txs),
src AS (SELECT k, w, h, tx, ty,
          FLOOR((({X0!r} + (CAST(tx AS DOUBLE) + 0.5) * {tsx!r}) - cx) / sx) AS c,
          FLOOR(((cy + h * sy) - ({Y0!r} + (CAST(ty AS DOUBLE) + 0.5) * {tsy!r})) / sy) AS r
        FROM tys),
regrid AS (
  SELECT tx, ty,
         MAX((CAST(r AS BIGINT) * 7 + CAST(c AS BIGINT) * 13 + k) % 256) AS val
  FROM src WHERE c >= 0 AND c < w AND r >= 0 AND r < h
  GROUP BY 1, 2)
SELECT CAST(FLOOR(CAST(tx AS DOUBLE) / {pb}) AS BIGINT) AS wx,
       CAST(FLOOR(CAST(ty AS DOUBLE) / {pb}) AS BIGINT) AS wy,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(val) AS BIGINT) AS sum_val,
       CAST(MIN(val) AS BIGINT) AS min_val,
       CAST(MAX(val) AS BIGINT) AS max_val
FROM regrid GROUP BY 1, 2
"""
