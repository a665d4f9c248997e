"""Cover morphology tests: hand-built shapes, boundary clamping, and the
closing/opening identities."""

from __future__ import annotations

from aira_spark.functions.cells import np_cell_pack
from aira_spark.operators.morph import (
    close_cover,
    dilate_cover,
    erode_cover,
    open_cover,
)

RES = 4  # 16x16 grid — edges reachable in tests
N = 1 << RES


def _cover(spark, cells):
    return spark.createDataFrame(
        [(int(np_cell_pack(RES, x, y)),) for x, y in cells], "cell long"
    )


def _xy(rows):
    from aira_spark.functions.cells import np_cell_ix, np_cell_iy

    return sorted((int(np_cell_ix(r["cell"])), int(np_cell_iy(r["cell"]))) for r in rows)


def test_dilate_single_cell_interior_and_corner(spark):
    # interior cell -> full 3x3; corner (0,0) -> clamped 2x2
    got = _xy(dilate_cover(_cover(spark, [(5, 5)]), 1).collect())
    assert got == sorted((x, y) for x in (4, 5, 6) for y in (4, 5, 6))
    got = _xy(dilate_cover(_cover(spark, [(0, 0)]), 1).collect())
    assert got == [(0, 0), (0, 1), (1, 0), (1, 1)]


def test_erode_rectangle_keeps_interior(spark):
    # 4x3 rectangle: erode k=1 keeps the 2x1 interior
    rect = [(x, y) for x in range(2, 6) for y in range(2, 5)]
    got = _xy(erode_cover(_cover(spark, rect), 1, RES).collect())
    assert got == [(3, 3), (4, 3)]


def test_erode_at_grid_corner_uses_clamped_ring(spark):
    # 2x2 block at the (0,0) corner: only (0,0)'s CLAMPED ring (a 2x2) is
    # fully covered — (0,1)/(1,0) need 6 cells, (1,1) needs the full 3x3.
    # An unclamped erosion would kill (0,0) too; clamping keeps it
    # (H3-style edge semantics).
    block = [(0, 0), (0, 1), (1, 0), (1, 1)]
    got = _xy(erode_cover(_cover(spark, block), 1, RES).collect())
    assert got == [(0, 0)]


def test_closing_fills_a_hole(spark):
    # 5x5 rectangle with its center missing: closing at k=1 restores it
    rect = [(x, y) for x in range(4, 9) for y in range(4, 9) if (x, y) != (6, 6)]
    closed = _xy(close_cover(_cover(spark, rect), 1, RES).collect())
    assert (6, 6) in closed
    # and closing never leaks outside the dilate of the original
    assert set(closed) <= {
        (x, y) for x in range(3, 10) for y in range(3, 10)
    }


def test_opening_removes_a_speck(spark):
    # a solid 4x4 block plus an isolated speck: opening keeps the block's
    # opened form and drops the speck entirely
    block = [(x, y) for x in range(8, 12) for y in range(8, 12)]
    speck = [(1, 14)]
    opened = set(_xy(open_cover(_cover(spark, block + speck), 1, RES).collect()))
    assert (1, 14) not in opened
    assert (9, 9) in opened  # interior survives erode then re-dilates


def test_dilate_then_erode_superset_of_base_minus_edge_effects(spark):
    # closing is extensive on shapes without grid-edge contact:
    # base ⊆ close(base)
    shape = [(x, y) for x in range(5, 8) for y in range(5, 8)]
    closed = set(_xy(close_cover(_cover(spark, shape), 1, RES).collect()))
    assert set(shape) <= closed
