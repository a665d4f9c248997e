"""The mosaic fine grid (operators/mosaic.fine_grid) against a numpy brute
force, and the packed cell bit layout kept in functions/cells.py alone."""

from __future__ import annotations

import io
import pathlib
import tokenize

import aira_spark

PATCH_BITS = 4


def test_fine_grid_matches_numpy_brute_force(spark, sf_dir):
    """Max of every decoded band-0 pixel per fine cell (fx, fy) at
    res + patch_bits across overlapping images; a corrupt-bytes row drops
    out without failing the query."""
    import __spark_entry__ as em
    from aira_spark.functions.cells import np_cell_from_xy, np_cell_ix, np_cell_iy
    from aira_spark.functions.udfs import _decode_full
    from aira_spark.operators.mosaic import fine_grid
    from aira_spark.tiff.meta import geotransform

    fine_res = em.CELL_RES + PATCH_BITS
    images = em._images(spark, sf_dir, modulo=8).select("image_id", "bytes")
    want: dict[tuple[int, int], int] = {}
    for r in images.collect():
        m, px = _decode_full(r["bytes"], max_bands=1)
        gt = geotransform(m)
        if gt is None:
            continue
        sv, tv = gt
        for row in range(px.shape[0]):
            for col in range(px.shape[1]):
                cell = np_cell_from_xy(
                    tv[3] + (col + 0.5 - tv[0]) * sv[0],
                    tv[4] - (row + 0.5 - tv[1]) * sv[1],
                    fine_res,
                )
                key = (int(np_cell_ix(cell)), int(np_cell_iy(cell)))
                want[key] = max(want.get(key, -1), int(px[row, col, 0]))
    assert len(want) > 100

    bad = spark.createDataFrame(
        [("bad", bytearray(b"II*\x00" + b"\xff" * 60))],
        "image_id string, bytes binary",
    )
    out = fine_grid(images.unionByName(bad), em.CELL_RES, PATCH_BITS)
    assert dict(out.dtypes) == {"fx": "bigint", "fy": "bigint", "val": "bigint"}
    got = {(r["fx"], r["fy"]): r["val"] for r in out.collect()}
    assert got == want


# the packed layout cell = res << 58 | ix << 29 | iy and its two strides
LAYOUT_SHIFTS = {58, 29}
LAYOUT_LITERALS = {1 << 29, 1 << 58}


def _layout_tokens(source: str) -> list[tuple[int, str]]:
    """(line, text) of every code token that spells the cell bit layout:
    a shift by 58 or 29, or the 2^29 / 2^58 stride literal. Strings and
    comments are separate tokens, so SQL text and prose never match."""
    hits = []
    toks = [
        t for t in tokenize.generate_tokens(io.StringIO(source).readline)
        if t.type not in (tokenize.NL, tokenize.NEWLINE, tokenize.COMMENT)
    ]
    for prev, tok in zip([None, *toks], toks):
        if tok.type != tokenize.NUMBER:
            continue
        try:
            value = int(tok.string.replace("_", ""), 0)
        except ValueError:
            continue  # a float or imaginary literal
        shifted = prev is not None and prev.string in ("<<", ">>", "<<=", ">>=")
        if value in LAYOUT_LITERALS or (shifted and value in LAYOUT_SHIFTS):
            hits.append((tok.start[0], f"{prev.string if shifted else ''}{tok.string}"))
    return hits


def test_layout_guard_sees_code_not_strings():
    src = (
        "a = (res << 58) + (ix << 29)\n"
        "b = x >> 29\n"
        "c = 536_870_912\n"
        "d = f'{pack} + ix * 536870912'  # cell = res<<58 | ix<<29\n"
        "e = y << 4\n"
    )
    assert _layout_tokens(src) == [
        (1, "<<58"), (1, "<<29"), (2, ">>29"), (3, "536_870_912"),
    ]


def test_cell_bit_layout_lives_only_in_cells_module():
    root = pathlib.Path(aira_spark.__file__).parent
    offenders = {
        f"{path.relative_to(root)}:{line}": text
        for path in sorted(root.rglob("*.py"))
        if path != root / "functions" / "cells.py"
        for line, text in _layout_tokens(path.read_text())
    }
    assert offenders == {}
