"""Hierarchical grid cell index (H3/S2-style, from scratch — no geo libs).

A cell at resolution r is one square of the 2^r x 2^r grid over the world
rectangle WORLD = [-180, 180) x [-90, 90). Cell ids pack (res, ix, iy) into a
non-negative int64:

    cell = (res << 58) | (ix << 29) | iy        (res <= 29, ix/iy < 2^29)

This keeps parent/child/k-ring arithmetic to pure integer ops, so every
operation exists in three equivalent forms: numpy (serial oracle library),
a Spark form that runs JVM-side (whole-stage-codegen friendly — the scale
path; no UDFs anywhere), and ANSI SQL (DuckDB correctness oracle). The Spark
form of the hot builders (k_ring, the cover_rect family, cell bounds) is
Spark SQL text for one F.expr; the rest are Column expressions. The north
rule's "H3/S2 index" semantics (hierarchy, k-ring, cover) follow standard
definitions; the square grid replaces hexagons since no h3 lib exists here
(SURVEY.md §7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_SHIFT = 58
IX_SHIFT = 29
COORD_MASK = (1 << 29) - 1

# world rectangle; lon-like x, lat-like y
X0, Y0, X1, Y1 = -180.0, -90.0, 180.0, 90.0
SPAN_X, SPAN_Y = X1 - X0, Y1 - Y0

DEFAULT_RES = 7  # 128 x 128 grid -> 2.8125 x 1.40625 degree cells


# ---------- numpy forms ----------


def np_cell_pack(res: int, ix, iy):
    return (np.int64(res) << RES_SHIFT) | (np.asarray(ix, np.int64) << IX_SHIFT) | np.asarray(iy, np.int64)


def np_cell_from_xy(x, y, res: int = DEFAULT_RES):
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(x) - X0) / SPAN_X * n), 0, n - 1).astype(np.int64)
    iy = np.clip(np.floor((np.asarray(y) - Y0) / SPAN_Y * n), 0, n - 1).astype(np.int64)
    return np_cell_pack(res, ix, iy)


def np_cell_res(cell):
    return np.asarray(cell, np.int64) >> RES_SHIFT


def np_cell_ix(cell):
    return (np.asarray(cell, np.int64) >> IX_SHIFT) & COORD_MASK


def np_cell_iy(cell):
    return np.asarray(cell, np.int64) & COORD_MASK


def np_cell_parent(cell, steps: int = 1):
    res = np_cell_res(cell)
    return np_cell_pack(0, np_cell_ix(cell) >> steps, np_cell_iy(cell) >> steps) | (
        (res - steps) << RES_SHIFT
    )


def np_cell_children(cell):
    """The 4 children one level down (quadtree refinement)."""
    res = int(np_cell_res(cell))
    ix, iy = int(np_cell_ix(cell)) << 1, int(np_cell_iy(cell)) << 1
    return [
        int(np_cell_pack(res + 1, ix + dx, iy + dy)) for dy in (0, 1) for dx in (0, 1)
    ]


def np_k_ring(cell: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k (grid analog of H3 kRing)."""
    res = int(np_cell_res(cell))
    n = 1 << res
    cx, cy = int(np_cell_ix(cell)), int(np_cell_iy(cell))
    out = []
    for iy in range(max(0, cy - k), min(n - 1, cy + k) + 1):
        for ix in range(max(0, cx - k), min(n - 1, cx + k) + 1):
            out.append(int(np_cell_pack(res, ix, iy)))
    return out


def np_cover_rect(xmin, ymin, xmax, ymax, res: int = DEFAULT_RES) -> list[int]:
    """Cells intersecting the half-open rect [xmin, xmax) x [ymin, ymax).

    High index = ceil(u) - 1 so an edge exactly on a cell boundary does not
    pull in the next cell; degenerate rects still cover their point's cell.
    """
    n = 1 << res
    ix0 = int(np.clip(np.floor((xmin - X0) / SPAN_X * n), 0, n - 1))
    iy0 = int(np.clip(np.floor((ymin - Y0) / SPAN_Y * n), 0, n - 1))
    ix1 = int(np.clip(np.ceil((xmax - X0) / SPAN_X * n) - 1, ix0, n - 1))
    iy1 = int(np.clip(np.ceil((ymax - Y0) / SPAN_Y * n) - 1, iy0, n - 1))
    return [
        int(np_cell_pack(res, ix, iy))
        for iy in range(iy0, iy1 + 1)
        for ix in range(ix0, ix1 + 1)
    ]


def np_cell_bounds(cell):
    """(xmin, ymin, xmax, ymax) of a cell."""
    res = np_cell_res(cell)
    n = np.int64(1) << res
    cw, chh = SPAN_X / n, SPAN_Y / n
    x = X0 + np_cell_ix(cell) * cw
    y = Y0 + np_cell_iy(cell) * chh
    return x, y, x + cw, y + chh


# ---------- Spark Column forms (pure built-ins: stay in codegen) ----------


def _clamp(c: Column, lo, hi) -> Column:
    return F.least(F.greatest(c, F.lit(lo)), F.lit(hi))


def cell_pack(res: int, ix: Column, iy: Column) -> Column:
    return (
        F.lit(int(res) << RES_SHIFT).cast("long")
        + ix.cast("long") * F.lit(1 << IX_SHIFT).cast("long")
        + iy.cast("long")
    )


def cell_from_xy(x: Column, y: Column, res: int = DEFAULT_RES) -> Column:
    n = 1 << res
    ix = _clamp(F.floor((x - F.lit(X0)) / F.lit(SPAN_X) * F.lit(float(n))), 0, n - 1)
    iy = _clamp(F.floor((y - F.lit(Y0)) / F.lit(SPAN_Y) * F.lit(float(n))), 0, n - 1)
    return cell_pack(res, ix, iy)


def cell_res(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, RES_SHIFT)


def cell_ix(cell: Column) -> Column:
    return F.shiftrightunsigned(cell, IX_SHIFT).bitwiseAND(F.lit(COORD_MASK))


def cell_iy(cell: Column) -> Column:
    return cell.bitwiseAND(F.lit(COORD_MASK))


def cell_parent(cell: Column, steps: int = 1) -> Column:
    res = cell_res(cell) - F.lit(steps)
    return (
        res * F.lit(1 << RES_SHIFT).cast("long")
        + F.shiftrightunsigned(cell_ix(cell), steps) * F.lit(1 << IX_SHIFT).cast("long")
        + F.shiftrightunsigned(cell_iy(cell), steps)
    )


# ---------- Spark SQL-text forms (hot builders: one F.expr per expression) ----------
#
# Inputs are SQL fragments (column names or expressions), the result is Spark
# SQL text for one F.expr / selectExpr. A Column tree costs py4j round trips
# per node at plan-build time; text crosses once. Doubles carry the D suffix
# (a bare 1.5 is DECIMAL), lambda variables a per-builder prefix (a plain `x`
# would shadow an input column), and the operation order and BIGINT casts are
# fixed: float results must stay bit-identical to the numpy twins and to the
# DuckDB oracle text.


def sql_double(v: float) -> str:
    """Spark SQL DOUBLE literal (a bare 1.5 parses as DECIMAL)."""
    return f"{float(v)!r}D"


def _res_sql(cell: str) -> str:
    return f"shiftrightunsigned({cell}, {RES_SHIFT})"


def _ix_sql(cell: str) -> str:
    return f"(shiftrightunsigned({cell}, {IX_SHIFT}) & {COORD_MASK})"


def _iy_sql(cell: str) -> str:
    return f"({cell} & {COORD_MASK})"


def _pack_sql(packed_res: str, ix: str, iy: str) -> str:
    return (
        f"({packed_res} + CAST({ix} AS BIGINT) * CAST({1 << IX_SHIFT} AS BIGINT)"
        f" + CAST({iy} AS BIGINT))"
    )


def k_ring(cell: str, k: int) -> str:
    """array<long> of cells within Chebyshev distance k; pure sequence+transform.

    The ring is computed at the CELL'S OWN encoded resolution (extracted
    per row, exactly like the numpy twin np_k_ring), so mixed-resolution
    columns (compact covers) ring correctly per row."""
    cres = _res_sql(cell)
    hi = f"(shiftleft(CAST(1 AS BIGINT), CAST({cres} AS INT)) - CAST(1 AS BIGINT))"

    def span(c: str) -> str:
        return (
            f"sequence(LEAST(GREATEST(({c} - {k}), CAST(0 AS BIGINT)), {hi}), "
            f"LEAST(GREATEST(({c} + {k}), CAST(0 AS BIGINT)), {hi}))"
        )

    pack = _pack_sql(f"({cres} * CAST({1 << RES_SHIFT} AS BIGINT))", "kr_ix", "kr_iy")
    return (
        f"flatten(transform({span(_iy_sql(cell))}, kr_iy -> "
        f"transform({span(_ix_sql(cell))}, kr_ix -> {pack})))"
    )


def _cover(xmin: str, ymin: str, xmax: str, ymax: str, res: int, closed: bool,
           touch_lo: bool = False) -> str:
    """Shared cover builder: half-open (ceil-1 upper bound) or closed (floor
    upper bound — the boundary point's own cell is included). touch_lo
    additionally extends the LOWER bound one cell when it sits exactly on a
    grid line, so the cover overlaps the half-open cover of any closed rect
    that merely touches this one (see cover_rect_touch)."""
    n = 1 << res

    def t(v: str, origin: float, span: float) -> str:
        return f"((({v}) - {sql_double(origin)}) / {sql_double(span)} * {sql_double(n)})"

    def clamp(idx: str) -> str:
        return f"LEAST(GREATEST({idx}, 0), {n - 1})"

    def lo(v: str, origin: float, span: float) -> str:
        idx = f"FLOOR({t(v, origin, span)})"
        if touch_lo:
            idx = (
                f"({idx} - CASE WHEN {t(v, origin, span)} = CAST({idx} AS DOUBLE)"
                " THEN 1 ELSE 0 END)"
            )
        return clamp(idx)

    def hi(v: str, origin: float, span: float, lo_idx: str) -> str:
        tv = t(v, origin, span)
        idx = f"FLOOR({tv})" if closed else f"(CEIL({tv}) - 1)"
        return f"GREATEST({clamp(idx)}, {lo_idx})"

    ix0, iy0 = lo(xmin, X0, SPAN_X), lo(ymin, Y0, SPAN_Y)
    ix1, iy1 = hi(xmax, X0, SPAN_X, ix0), hi(ymax, Y0, SPAN_Y, iy0)
    pack = _pack_sql(f"CAST({int(res) << RES_SHIFT} AS BIGINT)", "cv_ix", "cv_iy")
    return (
        f"flatten(transform(sequence({iy0}, {iy1}), cv_iy -> "
        f"transform(sequence({ix0}, {ix1}), cv_ix -> {pack})))"
    )


def cover_rect(xmin: str, ymin: str, xmax: str, ymax: str, res: int = DEFAULT_RES) -> str:
    """array<long> cell cover of a half-open rect — JVM-side, explode-ready."""
    return _cover(xmin, ymin, xmax, ymax, res, closed=False)


def cover_rect_closed(
    xmin: str, ymin: str, xmax: str, ymax: str, res: int = DEFAULT_RES
) -> str:
    """Cell cover of the CLOSED rect [xmin, xmax] x [ymin, ymax].

    Unlike cover_rect (half-open: a rect ending exactly on a cell boundary
    excludes that boundary's cell), the upper bound uses floor so the cell
    containing the boundary point itself is included — required when the
    downstream predicate is inclusive (e.g. dist <= d: a point at exactly
    distance d sits at x == qx + d, whose cell_from_xy cell must be covered).
    """
    return _cover(xmin, ymin, xmax, ymax, res, closed=True)


def cover_rect_touch(
    xmin: str, ymin: str, xmax: str, ymax: str, res: int = DEFAULT_RES
) -> str:
    """Touch-inclusive cover: closed upper bound AND a lower bound extended one
    cell when it lies exactly on a grid line.

    Guarantees that any closed rect A intersecting-or-touching a closed rect B
    shares >= 1 cell between cover_rect_touch(A) and cover_rect(B) (B's
    ordinary half-open cover) — including the degenerate contact where the
    shared edge sits exactly on a cell boundary, in either direction. Use on
    the probe side of a lossless bbox-prefilter join whose refine predicate is
    closed (e.g. footprint_polygon_join); the at-most-one extra row/column of
    cells only enlarges the candidate superset.
    """
    return _cover(xmin, ymin, xmax, ymax, res, closed=True, touch_lo=True)


def cell_span(cell: str, span: float) -> str:
    """Cell extent along a world axis of `span` degrees, at the cell's own res."""
    return f"({sql_double(span)} / power(2.0D, CAST({_res_sql(cell)} AS DOUBLE)))"


def cell_bounds_xmin(cell: str) -> str:
    return f"({sql_double(X0)} + CAST({_ix_sql(cell)} AS DOUBLE) * {cell_span(cell, SPAN_X)})"


def cell_bounds_ymin(cell: str) -> str:
    return f"({sql_double(Y0)} + CAST({_iy_sql(cell)} AS DOUBLE) * {cell_span(cell, SPAN_Y)})"


# ---------- SQL fragment builders (DuckDB oracle parity) ----------


def sql_cell_from_xy(x: str, y: str, res: int = DEFAULT_RES) -> str:
    """ANSI-SQL text computing the same cell id (for oracle_sql strings)."""
    n = 1 << res
    ix = f"LEAST(GREATEST(FLOOR(({x} - ({X0})) / {SPAN_X} * {float(n)}), 0), {n - 1})"
    iy = f"LEAST(GREATEST(FLOOR(({y} - ({Y0})) / {SPAN_Y} * {float(n)}), 0), {n - 1})"
    return (
        f"(CAST({res} AS BIGINT) * {1 << RES_SHIFT} + "
        f"CAST({ix} AS BIGINT) * {1 << IX_SHIFT} + CAST({iy} AS BIGINT))"
    )


# ---------------------------------------------------------------- Z-order


def np_morton_key(ix: int, iy: int, res: int) -> int:
    """Python reference: bit-interleaved (Morton / Z-order) key of a grid
    cell — even bits from ix, odd bits from iy."""
    out = 0
    for b in range(res):
        out |= ((ix >> b) & 1) << (2 * b)
        out |= ((iy >> b) & 1) << (2 * b + 1)
    return out


def morton_key(ix: Column, iy: Column, res: int = DEFAULT_RES) -> Column:
    """Z-order (Morton) key as a pure integer projection: interleaves the
    res bits of ix and iy so that cells close in 2-D are close in the 1-D
    sort order. THE spatial-locality layout device at 100 TB: writing files
    sorted by morton_key clusters each polygon window / k-ring / bbox query
    into O(1) contiguous byte ranges per partition, so parquet row-group
    min/max statistics prune most of the table for spatial predicates
    (the 1-D analog of Iceberg's Z-order rewrite strategy)."""
    terms = None
    for b in range(res):
        t = F.shiftleft(F.shiftrightunsigned(ix, b).bitwiseAND(F.lit(1)), 2 * b) + \
            F.shiftleft(F.shiftrightunsigned(iy, b).bitwiseAND(F.lit(1)), 2 * b + 1)
        terms = t if terms is None else terms + t
    return terms.cast("long")


def morton_from_xy(x: Column, y: Column, res: int = DEFAULT_RES) -> Column:
    """Morton key straight from lon/lat (same grid as cell_from_xy)."""
    n = 1 << res
    ix = _clamp(F.floor((x - F.lit(X0)) / F.lit(SPAN_X) * F.lit(float(n))), 0, n - 1)
    iy = _clamp(F.floor((y - F.lit(Y0)) / F.lit(SPAN_Y) * F.lit(float(n))), 0, n - 1)
    return morton_key(ix.cast("long"), iy.cast("long"), res)


# --------------------------------------------------------------- Hilbert


def np_hilbert_key(ix, iy, res: int):
    """Vectorized numpy Hilbert curve index of grid cells on the 2^res
    grid (the canonical iterative xy->d walk: quadrant digit + rotate/flip
    per level; the flip is the full-width bitwise complement n-1-x, whose
    low bits equal the in-quadrant flip — high bits are never re-read).

    Morton's sibling with strictly better locality: consecutive keys are
    ALWAYS L1-adjacent cells (Z-order jumps across the grid at quadrant
    seams), so range scans over a Hilbert-sorted layout touch fewer,
    longer contiguous stretches for the same bbox."""
    import numpy as np

    x = np.asarray(ix, dtype=np.int64).copy()
    y = np.asarray(iy, dtype=np.int64).copy()
    d = np.zeros_like(x)
    n = 1 << res
    s = n >> 1
    while s > 0:
        rx = ((x & s) != 0).astype(np.int64)
        ry = ((y & s) != 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        flip = (ry == 0) & (rx == 1)
        x = np.where(flip, n - 1 - x, x)
        y = np.where(flip, n - 1 - y, y)
        swap = ry == 0
        x, y = np.where(swap, y, x), np.where(swap, x, y)
        s >>= 1
    return d


def sql_hilbert_cte(src: str, res: int) -> str:
    """DuckDB CTE chain computing the SAME walk: `src` must select
    (id, x, y); the chain ends in CTE hfin(id, hkey). One simple
    projection per level — linear, no recursion."""
    n = 1 << res
    parts = [f"h0 AS (SELECT id, CAST(0 AS BIGINT) AS d, x, y FROM ({src}))"]
    for k in range(res):
        s = 1 << (res - 1 - k)
        parts.append(
            f"h{k + 1} AS (SELECT id, d, "
            "CASE WHEN ry = 0 THEN yf ELSE xf END AS x, "
            "CASE WHEN ry = 0 THEN xf ELSE yf END AS y "
            "FROM (SELECT id, "
            f"d + {s * s} * (CASE WHEN rx = 0 THEN ry ELSE 3 - ry END) AS d, "
            f"CASE WHEN ry = 0 AND rx = 1 THEN {n - 1} - x ELSE x END AS xf, "
            f"CASE WHEN ry = 0 AND rx = 1 THEN {n - 1} - y ELSE y END AS yf, "
            "rx, ry FROM (SELECT id, d, x, y, "
            f"(x // {s}) % 2 AS rx, (y // {s}) % 2 AS ry FROM h{k})))"
        )
    parts.append(
        f"hfin AS (SELECT id, CAST(d AS BIGINT) AS hkey FROM h{res})"
    )
    return ",\n".join(parts)
