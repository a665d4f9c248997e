"""Spatial operator tests vs in-process brute-force oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from aira_spark.operators.spatial import knn_join, point_in_polygon_join
from aira_spark.sources.vectors import DIRS, points_table, polygons_table


def ray_cast(px: float, py: float, ring: list[tuple[float, float]]) -> bool:
    inside = False
    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:]):
        if (ay > py) != (by > py) and px < (bx - ax) * (py - ay) / (by - ay) + ax:
            inside = not inside
    return inside


@pytest.fixture(scope="module")
def pts(spark, sf_dir):
    df = points_table(spark, sf_dir)
    return df, [(r.point_id, r.x, r.y) for r in df.collect()]


@pytest.fixture(scope="module")
def polys(spark, sf_dir):
    df = polygons_table(spark, sf_dir)
    rings = {
        r.poly_id: [(v.x, v.y) for v in r.ring] for r in df.collect()
    }
    return df, rings


def test_polygon_rings_closed(polys):
    _, rings = polys
    for ring in rings.values():
        assert ring[0] == ring[-1]
        assert len(ring) == 9


def test_pip_matches_bruteforce(spark, pts, polys):
    pts_df, pt_rows = pts
    poly_df, rings = polys
    got = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(pts_df, poly_df).select("point_id", "poly_id").collect()
    }
    expected = {
        (pid, poly_id)
        for pid, x, y in pt_rows
        for poly_id, ring in rings.items()
        if ray_cast(x, y, ring)
    }
    assert got == expected
    assert len(expected) > 0  # non-trivial by construction


def test_knn_matches_bruteforce(spark, pts, sf_dir):
    pts_df, pt_rows = pts
    queries = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "s_suppkey AS query_id",
        "CAST((s_suppkey * 48271) % 350000000 AS DOUBLE) / 1000000.0 - 178.0 AS x",
        "CAST((s_suppkey * 69621) % 170000000 AS DOUBLE) / 1000000.0 - 86.0 AS y",
    )
    k = 5
    got = {}
    for r in knn_join(queries, pts_df, k=k).collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.dist))
    q_rows = [(r.query_id, r.x, r.y) for r in queries.collect()]
    P = np.array([(x, y) for _, x, y in pt_rows])
    ids = np.array([pid for pid, _, _ in pt_rows])
    for qid, qx, qy in q_rows:
        d = np.sqrt(((P - np.array([qx, qy])) ** 2).sum(axis=1))
        order = np.lexsort((ids, d))[:k]
        expected = [(int(ids[i]), float(d[i])) for i in order]
        got_q = sorted(got[qid])
        assert len(got_q) == k, f"query {qid}: got {len(got_q)} neighbors"
        for (rank, nid, dist), (eid, ed) in zip(got_q, expected):
            assert nid == eid, f"query {qid} rank {rank}: {nid} != {eid}"
            assert abs(dist - ed) < 1e-9


def test_pip_salted_same_result(spark, sf_dir, pts, polys):
    import __spark_entry__ as em

    plain = {(r.point_id, r.poly_id) for r in em.q_pip(spark, sf_dir).collect()}
    salted = {(r.point_id, r.poly_id) for r in em.q_pip_salted(spark, sf_dir).collect()}
    assert plain == salted


def test_multimodal_features(spark, sf_dir):
    from aira_spark.operators.multimodal import image_features
    import __spark_entry__ as em

    imgs = em._images(spark, sf_dir)
    feats = image_features(imgs)
    rows = feats.collect()
    assert all(r.error is None for r in rows)
    assert all(len(r.thumb8) == 64 for r in rows)
    # dead-letter paths: error rows, no exceptions. JPEG is a REAL codec
    # since round 5 (aira_spark/jpegio.py), so a truncated JPEG yields a
    # JpegError row; audio remains the documented env-blocked stub
    fake = spark.createDataFrame(
        [
            ("m1", "jpeg", bytearray(b"\xff\xd8")),
            ("m2", "fake-img", bytearray(b"xx")),
            ("m3", "mp3", bytearray(b"ID3")),
        ],
        "image_id string, fmt string, bytes binary",
    )
    frows = {r.image_id: r for r in image_features(fake).collect()}
    assert frows["m1"].error and "JPEG" in frows["m1"].error
    assert frows["m2"].error is None and len(frows["m2"].thumb8) == 64
    assert frows["m3"].error and "not available" in frows["m3"].error


def test_frame_sample_stub(spark):
    from aira_spark.operators.multimodal import frame_sample

    media = spark.createDataFrame(
        [("v1", "fake-video", bytearray(b"x" * 25)), ("v2", "mp4", bytearray(b"y"))],
        "media_id string, fmt string, bytes binary",
    )
    rows = frame_sample(media, every_n=10).collect()
    v1 = [r for r in rows if r.media_id == "v1"]
    v2 = [r for r in rows if r.media_id == "v2"]
    assert len(v1) >= 1 and all(r.error is None for r in v1)
    assert len(v2) == 1 and "not available" in v2[0].error


# ------------------------------------------ SQL-text kernels on edge geometry

NAN = float("nan")


def _ring_sql(ring) -> str:
    return "array(" + ", ".join(
        f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))" for x, y in ring
    ) + ")"


EDGE_RINGS = {
    "square": [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)],
    # the rightward ray from (-1, 0) passes exactly through the vertex (2, 0)
    "diamond": [(0, -2), (2, 0), (0, 2), (-2, 0), (0, -2)],
    # the horizontal edge (4, 2)-(2, 2) lies on the ray from (1, 2)
    "notch": [(0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)],
}
EDGE_PTS = [
    (0, 2.0, 2.0), (1, 5.0, 2.0), (2, 2.0, 4.0), (3, 2.0, 0.0), (4, 0.0, 2.0),
    (5, 4.0, 2.0), (6, -1.0, 0.0), (7, -3.0, 0.0), (8, 0.0, 2.0), (9, 1.0, 2.0),
    (10, 3.0, 2.0), (11, -1.0, 2.0), (12, None, 1.0), (13, NAN, 1.0), (14, 1.0, NAN),
    (15, 1.0, 1.0), (16, 0.0, 0.0), (17, 2.0, 0.5),
]


def test_point_in_ring_kernel_on_edge_rings(spark):
    """The SQL-text ray cast agrees with the Python ray cast on vertex-on-ray,
    on-edge and horizontal-edge points; NULL and NaN points are outside."""
    from aira_spark.operators.spatial import point_in_ring

    df = spark.createDataFrame(EDGE_PTS, "id int, px double, py double")
    got = {}
    for name, ring in EDGE_RINGS.items():
        got[name] = {
            r.id: r.hit
            for r in df.select("id", F.expr(point_in_ring("px", "py", _ring_sql(ring)))
                               .alias("hit")).collect()
        }
        for i, px, py in EDGE_PTS:
            want = False if px is None else ray_cast(px, py, ring)
            assert got[name][i] is want, (name, i, px, py)
    # pinned (Column-API builder output): bottom/left edges are inside,
    # top/right edges outside; a ray through a vertex counts one crossing;
    # a ray along a horizontal edge ignores it, a point on it is outside
    assert [got["square"][i] for i in (3, 4, 2, 5)] == [True, True, False, False]
    assert (got["diamond"][6], got["diamond"][7]) == (True, False)
    assert (got["notch"][9], got["notch"][10]) == (True, False)


def _edge_polygons(spark):
    return spark.createDataFrame(
        [("a", 0), ("b", 1)], "poly_id string, k int"
    ).selectExpr(
        "poly_id",
        f"CASE WHEN k = 0 THEN {_ring_sql(EDGE_POLYS['a'])} "
        f"ELSE {_ring_sql(EDGE_POLYS['b'])} END AS ring",
    )


EDGE_POLYS = {
    "a": [(0, 0), (8, 0), (8, 6), (4, 3), (0, 6), (0, 0)],  # concave
    "b": [(170, -10), (179.9, -10), (179.9, 10), (170, 10), (170, -10)],  # near +180
}


def test_polygon_cells_full_flag_and_rasterize_on_edge_polygons(spark):
    """Every `full` cell lies inside its polygon with no edge bbox touching
    it; rasterize_to_cells keeps exactly the cover cells whose center the
    Python ray cast puts inside. Counts pinned from the Column-API builders."""
    from aira_spark.functions.cells import np_cell_bounds
    from aira_spark.operators.rasterize import rasterize_to_cells
    from aira_spark.operators.spatial import polygon_cells

    polys = _edge_polygons(spark)
    pinned = {5: (6, 0, 5), 9: (1086, 798, 923)}  # cover rows, full rows, raster cells
    for res, (n_cover, n_full, n_raster) in pinned.items():
        cover = polygon_cells(polys, res, classify_full=True).select(
            "poly_id", "cell", "full").collect()
        raster = {(r.poly_id, r.cell) for r in rasterize_to_cells(polys, res).collect()}
        assert (len(cover), sum(r.full for r in cover), len(raster)) == (
            n_cover, n_full, n_raster)
        want = set()
        for r in cover:
            ring = EDGE_POLYS[r.poly_id]
            x0, y0, x1, y1 = (float(v) for v in np_cell_bounds(r.cell))
            if ray_cast((x0 + x1) / 2.0, (y0 + y1) / 2.0, ring):
                want.add((r.poly_id, r.cell))
            if r.full:
                assert all(ray_cast(cx, cy, ring) for cx in (x0, x1) for cy in (y0, y1))
                assert not any(
                    min(ax, bx) <= x1 and max(ax, bx) >= x0
                    and min(ay, by) <= y1 and max(ay, by) >= y0
                    for (ax, ay), (bx, by) in zip(ring[:-1], ring[1:])
                )
        assert raster == want, res


def test_distance_joins_across_the_antimeridian(spark):
    """Query disks that cross +-180 (and one reaching the pole) find the
    wrapped points; both distance joins equal brute force. Pairs pinned from
    the Column-API builders."""
    import math

    from aira_spark.functions.geo import EARTH_RADIUS_KM
    from aira_spark.operators.spatial import within_distance_join, within_distance_km_join

    qs = [(1, 179.5, 10.0), (2, -179.9, -20.0), (3, 0.0, 89.5), (4, 10.0, 10.0)]
    ps = [(-179.8, 10.0), (179.9, 10.5), (-178.0, 9.0), (170.0, 10.0), (179.0, -20.0),
          (-179.95, -20.1), (120.0, 89.9), (-60.0, 88.0), (10.0, 12.0), (12.0, 10.0),
          (10.0, 10.0), (180.0, 10.0), (-180.0, -20.0)]
    q = spark.createDataFrame(qs, "query_id long, x double, y double")
    p = spark.createDataFrame([(i, x, y) for i, (x, y) in enumerate(ps)],
                              "point_id long, x double, y double")

    def hav(lat1, lon1, lat2, lon2):
        dlat, dlon = math.radians(lat2 - lat1) / 2.0, math.radians(lon2 - lon1) / 2.0
        h = math.sin(dlat) ** 2 + math.cos(math.radians(lat1)) * math.cos(
            math.radians(lat2)) * math.sin(dlon) ** 2
        return 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))

    km = {(r.query_id, r.point_id) for r in within_distance_km_join(q, p, 300.0).collect()}
    assert km == {(qi, pi) for qi, qx, qy in qs for pi, (x, y) in enumerate(ps)
                  if hav(qy, qx, y, x) <= 300.0}
    assert km == {(1, 0), (1, 1), (1, 2), (1, 11), (2, 4), (2, 5), (2, 12), (3, 6), (3, 7),
                  (4, 8), (4, 9), (4, 10)}
    deg = {(r.query_id, r.point_id) for r in within_distance_join(q, p, 2.0).collect()}
    assert deg == {(qi, pi) for qi, qx, qy in qs for pi, (x, y) in enumerate(ps)
                   if math.sqrt((x - qx) ** 2 + (y - qy) ** 2) <= 2.0}
    assert deg == {(1, 1), (1, 11), (2, 5), (2, 12), (4, 8), (4, 9), (4, 10)}
