"""The shared decode loop of the raster operators (udfs.map_decoded) and the
flagship decode (udfs.full_decode_batches): undecodable images drop out of
every operator on the helper without changing the other rows, and the
flagship parses each image's metadata once while keeping its dead-letter
rows."""

from __future__ import annotations

import pandas as pd
import pytest

from aira_spark.sources.images import synthesize_row
from aira_spark.tiff.meta import decode_metadata

RES = 7
N_VALID = 12  # one image per synthetic variant: every layout/codec/band count


def _corrupt_chunk(variant: int) -> bytes:
    """A valid header whose first chunk is garbage."""
    buf = bytearray(synthesize_row(variant)[1])
    m = decode_metadata(bytes(buf))
    o, n = m["offsets"][0], m["byte_counts"][0]
    buf[o : o + n] = b"\xff" * n
    return bytes(buf)


VALID = [synthesize_row(k)[:2] for k in range(N_VALID)]
BAD_HEADER = ("bad_header", b"not a tiff at all")
BAD_CHUNK = ("bad_chunk", _corrupt_chunk(3))  # PackBits
BAD_DEFLATE = ("bad_deflate", _corrupt_chunk(5))


def _zonal_exact(images):
    from aira_spark.operators.chunks import with_meta
    from aira_spark.operators.zonal import zonal_exact_by_polygon

    spark = images.sparkSession
    ring = [(-180.0, -90.0), (180.0, -90.0), (180.0, 90.0), (-180.0, 90.0),
            (-180.0, -90.0)]
    polys = spark.createDataFrame(
        [("world", [{"x": x, "y": y} for x, y in ring])],
        "poly_id string, ring array<struct<x: double, y: double>>",
    )
    return zonal_exact_by_polygon(with_meta(images), polys)


def _op(module: str, name: str, *args):
    def run(images):
        import importlib

        return getattr(importlib.import_module(module), name)(images, *args)

    return run


OPERATORS = {
    "zonal_pixel": _op("aira_spark.operators.zonal", "per_image_cell_stats", RES),
    "zonal_bands": _op("aira_spark.operators.zonal", "zonal_stats_bands", RES),
    "band_index": _op("aira_spark.operators.zonal", "band_index_stats", RES),
    "zonal_exact": _zonal_exact,
    "band_histogram": _op("aira_spark.operators.zonal", "band_histogram"),
    "zonal_quantiles": _op("aira_spark.operators.zonal", "zonal_quantiles", RES),
    "box_filter": _op("aira_spark.operators.boxfilter", "box_filter_census"),
    "luma": _op("aira_spark.operators.luma", "luma_census"),
    "band_corr": _op("aira_spark.operators.bandcorr", "band_correlation"),
    "rle": _op("aira_spark.operators.rle", "rle_census"),
    "moments": _op("aira_spark.operators.moments", "image_moments"),
    "dither": _op("aira_spark.operators.dither", "dither_census"),
    "pyramid": _op("aira_spark.operators.overview", "with_pyramid"),
    "wht": _op("aira_spark.operators.wht", "wht_block_features"),
    "augment": _op("aira_spark.operators.augment", "augment_stats"),
    "ssim": _op("aira_spark.operators.ssim", "ssim_bands"),
    "template": _op("aira_spark.operators.template", "template_match"),
    "resize": _op("aira_spark.operators.multimodal", "resize_images", 8, 8),
    "patchify": _op("aira_spark.operators.multimodal", "patchify"),
    "transcode": _op("aira_spark.operators.multimodal", "transcode_stats"),
    "fine_grid": _op("aira_spark.operators.mosaic", "fine_grid", RES),
    "mosaic_blend": _op("aira_spark.operators.mosaic", "mosaic_blend_values", RES),
}


def _frame(spark, rows):
    # one partition, so the corrupt rows share an Arrow batch with valid ones
    return spark.createDataFrame(
        [(i, bytearray(b)) for i, b in rows], "image_id string, bytes binary"
    ).coalesce(1)


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_undecodable_images_drop_without_touching_other_rows(spark, name):
    op = OPERATORS[name]
    want = _rows(op(_frame(spark, VALID)))
    assert want, f"{name}: no output over the valid images"
    bad = [*VALID[:4], BAD_HEADER, *VALID[4:8], BAD_CHUNK, BAD_DEFLATE, *VALID[8:]]
    got = _rows(op(_frame(spark, bad)))
    assert got == want


def _full_decode(rows) -> list[dict]:
    from aira_spark.functions.udfs import full_decode_batches

    pdf = pd.DataFrame(rows, columns=["image_id", "bytes"])
    batches = [pdf[:5], pdf[5:]]
    return pd.concat(list(full_decode_batches(RES)(iter(batches)))).to_dict("records")


def test_full_decode_parses_metadata_once_per_image(monkeypatch):
    from aira_spark.functions import udfs

    calls = [0]
    original = udfs.decode_metadata

    def counting(*a, **kw):
        calls[0] += 1
        return original(*a, **kw)

    monkeypatch.setattr(udfs, "decode_metadata", counting)
    rows = [BAD_HEADER, *VALID, BAD_CHUNK]
    out = _full_decode(rows)
    assert len(out) == len(rows)
    assert calls[0] == len(rows)


def test_full_decode_rows_match_meta_row_and_stitch():
    """Valid rows equal `_meta_row` plus the band-0 cell partials of
    `_decode_full`; the two dead-letter rows keep their error text, the
    meta fields and an empty zonal list."""
    from aira_spark.functions.udfs import (
        _META_NULL,
        _decode_full,
        _meta_row,
        _zonal_partials,
    )

    out = {r["image_id"]: r for r in _full_decode([BAD_HEADER, *VALID, BAD_CHUNK])}
    for image_id, buf in VALID:
        m, px = _decode_full(buf, max_bands=1)
        assert out[image_id]["meta"] == _meta_row(buf)
        assert out[image_id]["zonal"] == _zonal_partials(m, px, RES)
        assert out[image_id]["zonal"]

    hdr = out["bad_header"]
    assert hdr["meta"] == dict(_META_NULL, error="Invalid byte order signature b'no'")
    assert hdr["zonal"] == []

    chunk = out["bad_chunk"]
    assert chunk["meta"] == dict(
        _meta_row(BAD_CHUNK[1]), error="Chunk payload is not a whole number of rows"
    )
    assert chunk["meta"]["width"] == 16 + 3 * 8
    assert chunk["zonal"] == []


def _argsort_cell_groups(m, px, res):
    """Reference grouping: stable argsort and unique over the h x w cell ids."""
    import numpy as np

    from aira_spark.functions.cells import np_cell_from_xy
    from aira_spark.functions.udfs import pixel_world_coords

    h, w = px.shape[:2]
    xs, ys, _sv, _tv = pixel_world_coords(m, h, w)
    if xs is None:
        return None
    cell = np_cell_from_xy(
        np.broadcast_to(xs[None, :], (h, w)),
        np.broadcast_to(ys[:, None], (h, w)),
        res,
    ).ravel()
    order = np.argsort(cell, kind="stable")
    uniq, starts = np.unique(cell[order], return_index=True)
    return order, uniq, starts, np.append(starts[1:], len(cell))


def _large_geo_image():
    """A 320 x 300 image whose every pixel has a cell of its own at res 14
    (96,000 groups: past the 16-bit rank key)."""
    import numpy as np

    from aira_spark.tiff.encode import write_tiff

    px = (np.arange(320 * 300) % 251).astype(np.uint8).reshape(300, 320, 1)
    return write_tiff(px, geo=((0.05, 0.05, 0.0), (0.0, 0.0, 0.0, -10.0, 7.5, 0.0)))


@pytest.mark.parametrize("res", [6, 8, 10, 12, 14])
def test_pixel_cell_groups_match_argsort_reference(res):
    """The rank-key grouping returns the same (order, uniq, starts, ends)
    arrays as a stable argsort + unique over the per-pixel cell ids, for every
    synthetic variant and for an image with more than 65,536 groups."""
    import numpy as np

    from aira_spark.functions.udfs import _decode_full, pixel_cell_groups

    bufs = [raw for _, raw in VALID] + [synthesize_row(k)[1] for k in (37, 58, 111)]
    bufs.append(_large_geo_image())
    n_groups = 0
    for buf in bufs:
        m, px = _decode_full(buf)
        got, want = pixel_cell_groups(m, px, res), _argsort_cell_groups(m, px, res)
        for g, e in zip(got, want):
            assert g.dtype == e.dtype and np.array_equal(g, e)
        n_groups = max(n_groups, len(got[1]))
    assert (n_groups > 1 << 16) == (res == 14)


def test_pixel_cell_groups_without_geotransform_is_none():
    import numpy as np

    from aira_spark.functions.udfs import _decode_full, pixel_cell_groups
    from aira_spark.tiff.encode import write_tiff

    m, px = _decode_full(write_tiff(np.zeros((8, 8, 1), np.uint8)))
    assert pixel_cell_groups(m, px, 7) is None
