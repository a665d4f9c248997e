"""The mosaic fine grid (operators/mosaic.fine_grid) against a numpy brute
force, the packed cell bit layout kept in functions/cells.py alone, and
the fine-grid patch size kept as one constant in operators/mosaic.py."""

from __future__ import annotations

import ast
import io
import pathlib
import tokenize

import aira_spark
from aira_spark.operators.mosaic import PATCH_BITS


def test_fine_grid_matches_numpy_brute_force(spark, sf_dir):
    """Max of every decoded band-0 pixel per fine cell (fx, fy) at
    res + PATCH_BITS across overlapping images; a corrupt-bytes row drops
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
    out = fine_grid(images.unionByName(bad), em.CELL_RES)
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


PATCH_CONSTANTS = ("PATCH_BITS", "WARP_PATCH_BITS")


def _patch_size_spellings(source: str) -> list[tuple[int, str]]:
    """(line, what) of every place `source` spells the patch size on its
    own: a function taking a `patch_bits` option, an assignment to
    PATCH_BITS or WARP_PATCH_BITS, or a `CELL_RES + 4` sum."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            a = node.args
            params = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
            if "patch_bits" in params:
                hits.append((node.lineno, "patch_bits parameter"))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            hits += [
                (node.lineno, f"assigns {n.id}")
                for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name) and n.id in PATCH_CONSTANTS
            ]
        elif (
            isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add)
            and "CELL_RES" in (getattr(node.left, "id", None),
                               getattr(node.left, "attr", None))
            and isinstance(node.right, ast.Constant) and node.right.value == 4
        ):
            hits.append((node.lineno, "CELL_RES + 4"))
    return hits


def test_patch_size_guard_sees_each_spelling():
    src = (
        "PATCH_BITS = 4\n"
        "def f(images, res, patch_bits=4):\n"
        "    return 1 << (em.CELL_RES + 4)\n"
        "g = lambda *, patch_bits: patch_bits\n"
        "h = CELL_RES + PATCH_BITS\n"
    )
    assert _patch_size_spellings(src) == [
        (1, "assigns PATCH_BITS"), (2, "patch_bits parameter"),
        (4, "patch_bits parameter"), (3, "CELL_RES + 4"),
    ]


def test_patch_size_is_one_constant():
    """No function takes the fine-grid patch size as an option: it is
    mosaic.PATCH_BITS, and warp's census patch is warp.WARP_PATCH_BITS,
    each assigned once."""
    root = pathlib.Path(aira_spark.__file__).parent
    hits = [
        (f"{path.relative_to(root.parent)}: {what}", line)
        for path in [*root.rglob("*.py"), root.parent / "__spark_entry__.py"]
        for line, what in _patch_size_spellings(path.read_text())
    ]
    assert sorted(h for h, _ in hits) == [
        "aira_spark/operators/mosaic.py: assigns PATCH_BITS",
        "aira_spark/operators/warp.py: assigns WARP_PATCH_BITS",
    ], hits
