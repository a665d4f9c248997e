"""Cell index unit + property tests (numpy forms; Spark parity in test_pipeline)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from aira_spark.functions.cells import (
    DEFAULT_RES,
    np_cell_bounds,
    np_cell_children,
    np_cell_from_xy,
    np_cell_ix,
    np_cell_iy,
    np_cell_pack,
    np_cell_parent,
    np_cell_res,
    np_cover_rect,
    np_k_ring,
)

COORD = st.floats(min_value=-179.999, max_value=179.999, allow_nan=False)
LAT = st.floats(min_value=-89.999, max_value=89.999, allow_nan=False)
RES = st.integers(min_value=0, max_value=12)


def test_pack_unpack():
    c = np_cell_pack(7, 100, 42)
    assert np_cell_res(c) == 7
    assert np_cell_ix(c) == 100
    assert np_cell_iy(c) == 42
    assert c > 0


@given(COORD, LAT, RES)
@settings(max_examples=200, deadline=None)
def test_point_in_own_cell_bounds(x, y, res):
    c = int(np_cell_from_xy(x, y, res))
    xmin, ymin, xmax, ymax = np_cell_bounds(c)
    # epsilon-tolerant: (x - X0) absorbs values below one ulp of the span,
    # so points within ~1e-13 deg of a boundary may land on either side
    tol = 1e-10
    assert xmin - tol <= x <= xmax + tol
    assert ymin - tol <= y <= ymax + tol


@given(COORD, LAT, RES)
@settings(max_examples=200, deadline=None)
def test_parent_contains_child(x, y, res):
    c = int(np_cell_from_xy(x, y, res + 1))
    p = int(np_cell_parent(c))
    assert p == int(np_cell_from_xy(x, y, res))
    assert c in np_cell_children(p)


@given(COORD, LAT)
@settings(max_examples=100, deadline=None)
def test_k_ring_contains_center_and_is_bounded(x, y):
    c = int(np_cell_from_xy(x, y, DEFAULT_RES))
    ring = np_k_ring(c, 2)
    assert c in ring
    assert len(ring) <= 25
    assert len(set(ring)) == len(ring)
    for r in ring:
        assert abs(int(np_cell_ix(r)) - int(np_cell_ix(c))) <= 2
        assert abs(int(np_cell_iy(r)) - int(np_cell_iy(c))) <= 2


@given(COORD, LAT, st.floats(min_value=0.0001, max_value=3.0),
       st.floats(min_value=0.0001, max_value=3.0))
@settings(max_examples=200, deadline=None)
def test_cover_superset_of_sample_points(x, y, dw, dh):
    """cover(rect) must contain the cell of every point inside the rect."""
    xmax = min(x + dw, 179.999)
    ymax = min(y + dh, 89.999)
    cover = set(np_cover_rect(x, y, xmax, ymax, DEFAULT_RES))
    rng = np.random.default_rng(0)
    for _ in range(16):
        px = x + (xmax - x) * rng.random() * 0.999
        py = y + (ymax - y) * rng.random() * 0.999
        assert int(np_cell_from_xy(px, py, DEFAULT_RES)) in cover


def test_cover_exact_boundary_excluded():
    # a rect ending exactly on a cell boundary must not include the next cell
    xmin, ymin, _, _ = np_cell_bounds(int(np_cell_from_xy(0.1, 0.1, 4)))
    cw = 360.0 / 16
    chh = 180.0 / 16
    cover = np_cover_rect(xmin, ymin, xmin + cw, ymin + chh, 4)
    assert len(cover) == 1


def test_cover_degenerate_rect():
    cover = np_cover_rect(10.0, 10.0, 10.0, 10.0, DEFAULT_RES)
    assert cover == [int(np_cell_from_xy(10.0, 10.0, DEFAULT_RES))]


@given(
    st.floats(min_value=-179.99, max_value=179.99),
    st.floats(min_value=-89.9999, max_value=89.9999),
    st.floats(min_value=-179.99, max_value=179.99),
    st.floats(min_value=-89.9999, max_value=89.9999),
    st.floats(min_value=1.0, max_value=2000.0),
)
@settings(max_examples=400, deadline=None)
def test_geodesic_disk_margins_are_superset(qx, qy, px, py, d_km):
    """Property: any point within d great-circle km of the query lies inside
    the margin-expanded bbox (possibly via the antimeridian wrap) — the
    numeric core of within_distance_km_join's prefilter soundness."""
    import math

    from aira_spark.functions.geo import EARTH_RADIUS_KM

    dlat1 = math.radians(py - qy) / 2.0
    dlon1 = math.radians(px - qx) / 2.0
    h = (
        math.sin(dlat1) ** 2
        + math.cos(math.radians(qy)) * math.cos(math.radians(py)) * math.sin(dlon1) ** 2
    )
    dist = 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))
    if dist > d_km:
        return
    # margins (python mirror of functions.geo.disk_margins_deg)
    dlat = math.degrees(d_km / EARTH_RADIUS_KM)
    phi_max = abs(qy) + dlat
    if phi_max >= 89.9:
        dlon = 360.0  # near-pole: full-longitude cover, never lossy
    else:
        dlon = (90.0 * d_km / EARTH_RADIUS_KM) / math.cos(math.radians(phi_max))
    assert qy - dlat <= py <= qy + dlat
    in_primary = qx - dlon <= px <= qx + dlon
    in_wrap_w = (qx - dlon < -180.0) and (px >= qx - dlon + 360.0)
    in_wrap_e = (qx + dlon > 180.0) and (px <= qx + dlon - 360.0)
    assert in_primary or in_wrap_w or in_wrap_e


@given(COORD, LAT, st.floats(min_value=0.0001, max_value=3.0),
       st.floats(min_value=0.0001, max_value=3.0))
@settings(max_examples=150, deadline=None)
def test_closed_cover_includes_boundary_cells(x, y, dw, dh):
    """Property: cover_rect_closed includes the cell of every point of the
    CLOSED rect, including the exact max corner (which the half-open
    cover_rect may exclude)."""
    from aira_spark.functions.cells import np_cell_from_xy

    res = 7
    x2, y2 = min(x + dw, 179.999), min(y + dh, 89.999)
    cover = set(_np_cover(x, y, x2, y2, res))
    for px, py in ((x, y), (x2, y), (x, y2), (x2, y2),
                   ((x + x2) / 2, (y + y2) / 2)):
        assert int(np_cell_from_xy(px, py, res)) in cover


def _np_cover(xmin, ymin, xmax, ymax, res, closed=True, touch_lo=False):
    """numpy mirror of cells.cover_rect (closed=False), cover_rect_closed
    (floor upper bound) and cover_rect_touch (+ lower bound extended one
    cell when it sits exactly on a grid line)."""
    import math

    n = 1 << res
    def clamp(v):
        return min(max(v, 0), n - 1)

    def lo(t):
        i = math.floor(t)
        return clamp(i - 1 if touch_lo and t == i else i)

    def hi(t, lo_idx):
        return max(clamp(math.floor(t) if closed else math.ceil(t) - 1), lo_idx)

    ix0 = lo((xmin + 180.0) / 360.0 * n)
    iy0 = lo((ymin + 90.0) / 180.0 * n)
    ix1 = hi((xmax + 180.0) / 360.0 * n, ix0)
    iy1 = hi((ymax + 90.0) / 180.0 * n, iy0)
    from aira_spark.functions.cells import np_cell_pack

    return [
        int(np_cell_pack(res, ix, iy))
        for iy in range(iy0, iy1 + 1)
        for ix in range(ix0, ix1 + 1)
    ]


def test_morton_key_matches_reference(spark):
    """Column morton_key == the Python bit-interleave reference over the
    full res-5 grid plus a res-10 sample."""
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import morton_key, np_morton_key

    n = 1 << 5
    grid = spark.range(n * n).selectExpr(
        "CAST(id % 32 AS BIGINT) AS ix", "CAST(id DIV 32 AS BIGINT) AS iy"
    )
    rows = grid.withColumn("mk", morton_key(F.col("ix"), F.col("iy"), 5)).collect()
    for r in rows:
        assert r.mk == np_morton_key(r.ix, r.iy, 5), (r.ix, r.iy)
    sample = spark.range(500).selectExpr(
        "CAST((id * 7919) % 1024 AS BIGINT) AS ix",
        "CAST((id * 104729) % 1024 AS BIGINT) AS iy",
    )
    for r in sample.withColumn("mk", morton_key(F.col("ix"), F.col("iy"), 10)).collect():
        assert r.mk == np_morton_key(r.ix, r.iy, 10)


def test_zordered_layout_locality(spark, sf_dir, tmp_path):
    """write_images_zordered: every file is sorted by the Morton key (row
    groups carry tight spatial min/max), and a bbox read over the layout
    returns exactly the same images as the unpartitioned scan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import morton_from_xy
    from aira_spark.operators.chunks import with_meta
    from aira_spark.sources.images import images_table, write_images_zordered

    out = str(tmp_path / "zorder")
    imgs = images_table(spark, sf_dir, limit=400)
    n_in = imgs.count()
    write_images_zordered(spark, imgs, out, part_res=2, sort_res=8)

    back = spark.read.parquet(out)
    assert back.count() == n_in > 0
    # layout property: every FILE is sorted by the stored z-key (parquet
    # preserves row order within a file; monotonically_increasing_id is
    # per-partition monotone in scan order)
    keyed = back.select(
        F.input_file_name().alias("f"),
        F.monotonically_increasing_id().alias("pos"),
        "zkey",
    )
    w = Window.partitionBy("f").orderBy("pos")
    bad = (
        keyed.withColumn("prev", F.lag("zkey").over(w))
        .filter(F.col("prev").isNotNull() & (F.col("zkey") < F.col("prev")))
        .count()
    )
    assert bad == 0
    # the stored key IS the morton key of the decoded footprint center
    # (recomputed independently through the decode path)
    m = F.col("meta")
    cx = (m["tie_x"] - m["tie_i"] * m["scale_x"]) + m["width"].cast("double") * m["scale_x"] / 2.0
    cy = (m["tie_y"] + m["tie_j"] * m["scale_y"]) - m["height"].cast("double") * m["scale_y"] / 2.0
    mismatch = (
        with_meta(back)
        .select("zkey", morton_from_xy(cx, cy, 8).alias("rz"))
        .filter(F.col("zkey") != F.col("rz"))
        .count()
    )
    assert mismatch == 0
    # bbox equivalence: partition-pruned + full scans agree
    ids_full = {
        r.image_id
        for r in with_meta(imgs).filter(
            (m["tie_x"] > -60) & (m["tie_x"] < 60) & (m["tie_y"] > -30) & (m["tie_y"] < 30)
        ).select("image_id").collect()
    }
    mb = F.col("meta")
    ids_z = {
        r.image_id
        for r in with_meta(back).filter(
            (mb["tie_x"] > -60) & (mb["tie_x"] < 60) & (mb["tie_y"] > -30) & (mb["tie_y"] < 30)
        ).select("image_id").collect()
    }
    assert ids_z == ids_full


# ------------------------------------------ SQL-text kernels on an edge frame

NAN = float("nan")
# grid lines (0 at every res, one res-7 cell in), world corners, points
# beyond the world rectangle (clamped), NULL and NaN coordinates
EDGE_XY = [
    (0, 0.0, 0.0), (1, 2.8125, 1.40625), (2, -180.0, -90.0), (3, 180.0, 90.0),
    (4, -200.0, 95.0), (5, 250.0, -100.0), (6, 179.999, 89.999), (7, 12.3, 45.6),
    (8, None, 10.0), (9, 10.0, None), (10, NAN, 10.0), (11, 10.0, NAN),
]
# rect half-sizes around each point; the last two are grid-aligned at res 7
EDGE_HALF = (0.0, 0.7, 1.40625, 2.8125)
# res-7 covers of the NULL/NaN rects, captured from the Column-API builders
# before they became SQL text: rect id -> (ix0, ix1, iy0, iy1), identical for
# all three cover variants (a NULL or NaN bound lands on grid index 0)
PINNED_NULL_NAN_COVERS = {
    80: (0, 0, 71, 71), 81: (0, 0, 70, 71), 82: (0, 0, 70, 72), 83: (0, 0, 69, 73),
    90: (67, 67, 0, 0), 91: (67, 67, 0, 0), 92: (67, 68, 0, 0), 93: (66, 68, 0, 0),
    100: (0, 0, 71, 71), 101: (0, 0, 70, 71), 102: (0, 0, 70, 72), 103: (0, 0, 69, 73),
    110: (67, 67, 0, 0), 111: (67, 67, 0, 0), 112: (67, 68, 0, 0), 113: (66, 68, 0, 0),
}


def _finite(*vs) -> bool:
    return all(v is not None and v == v for v in vs)


def _edge_rects():
    """(id, xmin, ymin, xmax, ymax): each edge point +- each half-size, plus
    an inverted rect (xmin > xmax), which covers its lower corner's cell."""
    rects = [
        (i * 10 + j, *(None if v is None else v + sign * h
                       for v, sign in ((x, -1), (y, -1), (x, 1), (y, 1))))
        for i, x, y in EDGE_XY
        for j, h in enumerate(EDGE_HALF)
    ]
    return rects + [(999, 5.0, 5.0, 4.0, 4.0)]


def test_cover_kernels_match_numpy_on_edge_frame(spark):
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import cover_rect, cover_rect_closed, cover_rect_touch

    rects = {r[0]: r[1:] for r in _edge_rects()}
    df = spark.createDataFrame(
        list(_edge_rects()), "id int, xmin double, ymin double, xmax double, ymax double"
    )
    variants = {
        "half": (cover_rect, False, False),
        "closed": (cover_rect_closed, True, False),
        "touch": (cover_rect_touch, True, True),
    }
    for res in (0, 3, 7):
        rows = df.select(
            "id",
            *(F.expr(fn("xmin", "ymin", "xmax", "ymax", res)).alias(name)
              for name, (fn, _, _) in variants.items()),
        ).collect()
        assert len(rows) == len(rects)
        for r in rows:
            bounds = rects[r.id]
            for name, (_, closed, touch) in variants.items():
                if _finite(*bounds):
                    want = _np_cover(*bounds, res, closed, touch)
                    if name == "half":
                        assert want == np_cover_rect(*bounds, res)
                elif res == 7:
                    ix0, ix1, iy0, iy1 = PINNED_NULL_NAN_COVERS[r.id]
                    want = [int(np_cell_pack(7, ix, iy))
                            for iy in range(iy0, iy1 + 1) for ix in range(ix0, ix1 + 1)]
                else:
                    continue
                assert r[name] == want, (name, res, r.id, bounds)
    # the grid-aligned rect around (0, 0) separates the three variants
    r2 = next(r for r in rows if r.id == 2)
    assert len(r2.half) < len(r2.closed) < len(r2.touch)


def _edge_cells():
    return [
        int(np_cell_from_xy(x, y, res))
        for _, x, y in EDGE_XY if _finite(x, y)
        for res in (0, 1, 3, 7)
    ]


def test_k_ring_and_bounds_kernels_match_numpy_on_edge_frame(spark):
    from pyspark.sql import functions as F

    from aira_spark.functions.cells import cell_bounds_xmin, cell_bounds_ymin, k_ring

    df = spark.createDataFrame([(c,) for c in _edge_cells()] + [(None,)], "cell long")
    rows = df.select(
        "cell",
        F.expr(k_ring("cell", 1)).alias("k1"),
        F.expr(k_ring("cell", 2)).alias("k2"),
        F.expr(cell_bounds_xmin("cell")).alias("bx"),
        F.expr(cell_bounds_ymin("cell")).alias("by"),
    ).collect()
    for r in rows:
        if r.cell is None:
            # pinned: GREATEST skips the NULL, so the ring is one NULL cell
            assert (r.k1, r.k2, r.bx, r.by) == ([None], [None], None, None)
            continue
        assert r.k1 == np_k_ring(r.cell, 1), r.cell
        assert r.k2 == np_k_ring(r.cell, 2), r.cell
        xmin, ymin, _, _ = np_cell_bounds(r.cell)
        assert (r.bx, r.by) == (float(xmin), float(ymin)), r.cell


def test_haversine_and_disk_margin_kernels_on_edge_frame(spark):
    import math

    import pytest
    from pyspark.sql import functions as F

    from aira_spark.functions.geo import EARTH_RADIUS_KM, disk_margins_deg, haversine_km

    pairs = [
        (0, 0.0, 0.0, 0.0, 0.0), (1, 10.0, 179.9, 10.0, -179.9),  # across +-180
        (2, 90.0, 0.0, 89.999, 170.0), (3, -45.0, 12.0, 45.0, -168.0),  # pole, antipode
        (4, None, 1.0, 2.0, 3.0), (5, NAN, 1.0, 2.0, 3.0), (6, 1.0, 2.0, 3.0, NAN),
    ]
    df = spark.createDataFrame(pairs, "id int, lat1 double, lon1 double, lat2 double, lon2 double")
    got = {
        r.id: r.d
        for r in df.select(
            "id", F.expr(haversine_km("lat1", "lon1", "lat2", "lon2")).alias("d")
        ).collect()
    }
    for i, lat1, lon1, lat2, lon2 in pairs:
        if not _finite(lat1, lon1, lat2, lon2):
            continue
        dlat, dlon = math.radians(lat2 - lat1) / 2.0, math.radians(lon2 - lon1) / 2.0
        h = math.sin(dlat) ** 2 + math.cos(math.radians(lat1)) * math.cos(
            math.radians(lat2)) * math.sin(dlon) ** 2
        assert got[i] == pytest.approx(2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h)),
                                       rel=1e-12, abs=1e-9), i
    assert got[1] == pytest.approx(21.90115508687676, rel=1e-12)  # wraps, not 39,000 km
    assert got[4] is None and math.isnan(got[5]) and math.isnan(got[6])

    qys = [(0, 0.0), (1, 45.0), (2, 87.2), (3, 89.9), (4, -89.95), (5, None), (6, NAN), (7, 200.0)]
    qdf = spark.createDataFrame(qys, "id int, qy double")
    for d_km in (1.0, 300.0):
        dlat_sql, dlon_sql = disk_margins_deg("qy", d_km)
        got = {
            r.id: (r.a, r.b)
            for r in qdf.select("id", F.expr(dlat_sql).alias("a"), F.expr(dlon_sql).alias("b"))
            .collect()
        }
        dlat = math.degrees(d_km / EARTH_RADIUS_KM)
        for i, qy in qys:
            assert got[i][0] == dlat
            if not _finite(qy):
                continue
            phi = abs(qy) + dlat
            want = 360.0 if phi >= 89.9 else (90.0 * d_km / EARTH_RADIUS_KM) / math.cos(
                math.radians(phi))
            assert got[i][1] == pytest.approx(want, rel=1e-12), (d_km, qy)
        # pinned: NULL propagates; NaN sorts above every double in Spark SQL,
        # so a NaN latitude takes the full-longitude branch
        assert got[5][1] is None and got[6][1] == 360.0
