"""Range join, footprint x polygon overlap, windowed chunk read, and the
streaming sessionize / stateful-totals operators vs in-process oracles."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from aira_spark.operators.chunks import with_meta
from aira_spark.operators.spatial import (
    footprint_polygon_join,
    rect_intersects_ring,
    within_distance_join,
)
from aira_spark.sources.images import derive_params, images_table
from aira_spark.sources.vectors import points_table, polygons_table

N_IMAGES = 60


@pytest.fixture(scope="module")
def images(spark, sf_dir):
    df = images_table(spark, sf_dir, limit=N_IMAGES).cache()
    df.count()
    return df


# ---------------------------------------------------------------- range join


def test_within_distance_matches_bruteforce(spark, sf_dir):
    pts = points_table(spark, sf_dir)
    pt_rows = [(r.point_id, r.x, r.y) for r in pts.collect()]
    queries = pts.limit(40).select(
        F.col("point_id").alias("query_id"), "x", "y"
    )
    q_rows = [(r.query_id, r.x, r.y) for r in queries.collect()]
    d = 3.0
    got = {
        (r.query_id, r.point_id)
        for r in within_distance_join(queries, pts, d=d).collect()
    }
    expected = {
        (qid, pid)
        for qid, qx, qy in q_rows
        for pid, px, py in pt_rows
        if math.hypot(px - qx, py - qy) <= d
    }
    assert got == expected
    assert len(expected) > len(q_rows)  # beyond the self-pairs


# ----------------------------------------------------- footprint x polygon


def _seg_cross(a, b, c, d) -> bool:
    def orient(p, q, r):
        return (q[0] - p[0]) * (r[1] - p[1]) - (q[1] - p[1]) * (r[0] - p[0])

    return (
        orient(a, b, c) * orient(a, b, d) < 0
        and orient(c, d, a) * orient(c, d, b) < 0
    )


def _rect_hits_ring(xmin, ymin, xmax, ymax, ring) -> bool:
    from tests.test_spatial import ray_cast

    if any(xmin <= x <= xmax and ymin <= y <= ymax for x, y in ring):
        return True
    if any(
        ray_cast(cx, cy, ring)
        for cx, cy in ((xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax))
    ):
        return True
    rect = [(xmin, ymin), (xmax, ymin), (xmax, ymax), (xmin, ymax), (xmin, ymin)]
    return any(
        _seg_cross(a, b, c, d)
        for a, b in zip(ring[:-1], ring[1:])
        for c, d in zip(rect[:-1], rect[1:])
    )


def test_footprint_poly_matches_bruteforce(spark, sf_dir, images):
    polys = polygons_table(spark, sf_dir)
    rings = {r.poly_id: [(v.x, v.y) for v in r.ring] for r in polys.collect()}
    got = {
        (r.image_id, r.poly_id)
        for r in footprint_polygon_join(with_meta(images), polys).collect()
    }
    expected = set()
    for k in range(N_IMAGES):
        p = derive_params(k)
        xmin, ymin = p["corner_x"], p["corner_y"]
        xmax = xmin + p["w"] * p["scale_x"]
        ymax = ymin + p["h"] * p["scale_y"]
        for poly_id, ring in rings.items():
            if _rect_hits_ring(xmin, ymin, xmax, ymax, ring):
                expected.add((f"img{k:08d}", poly_id))
    assert got == expected


def test_rect_intersects_ring_cases(spark):
    """Hand-built containment / crossing / disjoint cases."""
    square = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    cases = [
        # rect fully inside polygon (no vertex containment either way)
        (1.0, 1.0, 2.0, 2.0, True),
        # polygon fully inside rect
        (-1.0, -1.0, 5.0, 5.0, True),
        # pure edge crossing: tall thin rect through the middle
        (1.0, -1.0, 2.0, 5.0, True),
        # disjoint
        (5.0, 5.0, 6.0, 6.0, False),
        (-2.0, 0.0, -1.0, 4.0, False),
    ]
    df = spark.createDataFrame(
        [(i, *c[:4]) for i, c in enumerate(cases)],
        "id int, xmin double, ymin double, xmax double, ymax double",
    ).withColumn(
        "ring",
        F.expr(
            "array(" + ", ".join(
                f"named_struct('x', CAST({x} AS DOUBLE), 'y', CAST({y} AS DOUBLE))"
                for x, y in square
            ) + ")"
        ),
    )
    got = {
        r.id: r.hit
        for r in df.select(
            "id",
            F.expr(rect_intersects_ring("xmin", "ymin", "xmax", "ymax", "ring")).alias("hit"),
        ).collect()
    }
    for i, c in enumerate(cases):
        assert got[i] == c[4], f"case {i}"


# ---------------------------------------------------------------- window read


def _serial_window(rows, x0, y0, x1, y1) -> dict:
    """Serial mirror of window_read over (image_id, bytes) rows: every band-0
    chunk whose world rectangle meets the window, from a full decode."""
    from aira_spark.functions.udfs import _decode_full
    from aira_spark.tiff.meta import decode_metadata, geotransform, pixel_chunks

    expected = {}
    for image_id, raw in rows:
        buf = bytes(raw)
        m = decode_metadata(buf)
        _, px = _decode_full(buf)
        (sx_, sy_, *_), (ti, tj, _, tx, ty, *_) = geotransform(m)
        fx, fy_top = tx - ti * sx_, ty + tj * sy_
        for c in pixel_chunks(m):
            if c["size_x"] == 0 or c["size_y"] == 0:
                continue
            if c["chunk_idx"] >= m["expected_chunks"]:
                continue  # band-0 chunks only
            cxmin = fx + c["origin_x"] * sx_
            cxmax = fx + (c["origin_x"] + c["size_x"]) * sx_
            cymax = fy_top - c["origin_y"] * sy_
            cymin = fy_top - (c["origin_y"] + c["size_y"]) * sy_
            if not (cxmin < x1 and cxmax > x0 and cymin < y1 and cymax > y0):
                continue
            blk = px[
                c["origin_y"] : c["origin_y"] + c["size_y"],
                c["origin_x"] : c["origin_x"] + c["size_x"],
                0,
            ].astype("int64")
            expected[(image_id, c["chunk_idx"])] = (blk.size, int(blk.sum()))
    return expected


def _window_got(df, x0, y0, x1, y1) -> dict:
    from aira_spark.operators.window_read import window_read

    return {
        (r.image_id, r.chunk_idx): (r.n_px, r.sum_px)
        for r in window_read(with_meta(df), x0, y0, x1, y1).collect()
    }


def test_window_read_matches_serial(spark, images):
    win = (-60.0, -30.0, 60.0, 30.0)
    got = _window_got(images, *win)
    rows = [(r.image_id, r.bytes) for r in images.select("image_id", "bytes").collect()]
    expected = _serial_window(rows, *win)
    assert got == expected
    assert len(expected) > 0


def _chunk_rects(k: int):
    """(image row, metadata, {chunk_idx: (xmin, ymin, xmax, ymax)}) of
    synthetic image k, with the world rectangles computed as window_read does."""
    from aira_spark.sources.images import synthesize_row
    from aira_spark.tiff.meta import decode_metadata, geotransform, pixel_chunks

    row = synthesize_row(k)
    m = decode_metadata(row[1])
    (sx, sy, *_), (ti, tj, _, tx, ty, *_) = geotransform(m)
    fx, fy = tx - ti * sx, ty + tj * sy
    rects = {
        c["chunk_idx"]: (
            fx + float(c["origin_x"]) * sx,
            fy - float(c["origin_y"] + c["size_y"]) * sy,
            fx + float(c["origin_x"] + c["size_x"]) * sx,
            fy - float(c["origin_y"]) * sy,
        )
        for c in pixel_chunks(m)
    }
    return row, m, rects


def _one_image_df(spark, row):
    from aira_spark.sources.images import IMAGE_SCHEMA

    return spark.createDataFrame([row], IMAGE_SCHEMA)


def test_window_read_strict_subset_of_one_image(spark):
    """A window inside one middle tile selects that tile and nothing else."""
    row, m, rects = _chunk_rects(4)  # tiled, 3 x 3 chunks at IMG_SCALE=1
    mid = m["expected_chunks"] // 2
    xmin, ymin, xmax, ymax = rects[mid]
    dx, dy = (xmax - xmin) / 4, (ymax - ymin) / 4
    win = (xmin + dx, ymin + dy, xmax - dx, ymax - dy)
    got = _window_got(_one_image_df(spark, row), *win)
    assert set(got) == {(row[0], mid)}
    assert m["expected_chunks"] > 1
    assert got == _serial_window([row[:2]], *win)


def test_window_read_edges_on_chunk_edges_are_strict(spark):
    """A window edge lying exactly on a chunk edge does not select the chunk
    on the far side of it: the intersection test is strict (`<`/`>`)."""
    row, m, rects = _chunk_rects(4)
    nx = -(-m["width"] // m["chunk_w"])
    c = 0  # top-left tile; its right neighbour is 1, the one below it is nx
    xmin, ymin, xmax, ymax = rects[c]
    dy = (ymax - ymin) / 4
    df = _one_image_df(spark, row)
    # x0 on the tile's right edge: only the right neighbour is selected
    win = (xmax, ymin + dy, xmax + (xmax - xmin) / 2, ymax - dy)
    got = _window_got(df, *win)
    assert set(got) == {(row[0], c + 1)}
    assert got == _serial_window([row[:2]], *win)
    # y1 on the tile's bottom edge: only the tile below is selected
    dx = (xmax - xmin) / 4
    win = (xmin + dx, ymin - (ymax - ymin) / 2, xmax - dx, ymin)
    got = _window_got(df, *win)
    assert set(got) == {(row[0], c + nx)}
    assert got == _serial_window([row[:2]], *win)


@pytest.mark.parametrize("k", [9, 10])
def test_window_read_planar_selects_band0_chunks_only(spark, k):
    """Planar multi-plane images carry one chunk set per plane over the same
    footprint; a window over the whole image selects the band-0 set only."""
    row, m, rects = _chunk_rects(k)
    assert m["planar"] == 2 and len(rects) > m["expected_chunks"]
    xs = [v for r in rects.values() for v in (r[0], r[2])]
    ys = [v for r in rects.values() for v in (r[1], r[3])]
    win = (min(xs) - 1.0, min(ys) - 1.0, max(xs) + 1.0, max(ys) + 1.0)
    got = _window_got(_one_image_df(spark, row), *win)
    assert {i for _, i in got} == set(range(m["expected_chunks"]))
    assert got == _serial_window([row[:2]], *win)


def _sweep_windows(rects: dict, seed: int) -> list[tuple]:
    """Seeded windows over one image's band-0 chunk rectangles: the whole
    image, exactly the footprint, windows that miss it, windows whose edges
    lie on chunk edges, windows that straddle a footprint edge, and random
    windows around the image."""
    rng = random.Random(seed)
    xs = sorted({v for r in rects.values() for v in (r[0], r[2])})
    ys = sorted({v for r in rects.values() for v in (r[1], r[3])})
    fx0, fx1, fy0, fy1 = xs[0], xs[-1], ys[0], ys[-1]
    dx, dy = fx1 - fx0, fy1 - fy0
    wins = [
        (fx0 - 1.0, fy0 - 1.0, fx1 + 1.0, fy1 + 1.0),
        (fx0, fy0, fx1, fy1),
        (fx1, fy0, fx1 + dx, fy1),  # touches the right edge only
        (fx0 - dx, fy1 + dy / 4, fx1 + dx, fy1 + dy),  # above the image
    ]
    for _ in range(3):
        (a, b), (c, d) = sorted(rng.sample(xs, 2)), sorted(rng.sample(ys, 2))
        wins.append((a, c, b, d))
        wins.append((rng.choice(xs), fy0 - dy / 3, fx1 + dx / 3, rng.choice(ys)))
        wins.append((fx0 - dx / 2, rng.uniform(fy0, fy1), rng.uniform(fx0, fx1), fy1 + dy / 2))
        x0, y0 = rng.uniform(fx0 - dx, fx1), rng.uniform(fy0 - dy, fy1)
        wins.append((x0, y0, x0 + rng.uniform(0.0, dx), y0 + rng.uniform(0.0, dy)))
    return wins


@pytest.mark.parametrize("k", [4, 23, 5, 9, 10])  # tiled, tiled, strips, planar
def test_window_read_per_axis_selection_matches_per_chunk(spark, k):
    """window_read's per-axis chunk selection picks exactly the chunks the
    per-chunk brute force (_serial_window) picks, on tiled, strip (nx = 1)
    and planar images, for windows on chunk edges, over the whole image,
    straddling the footprint edge and missing the image. Each window reads
    the image's cached metadata row, tagged with the window's index, and the
    reads run as one union."""
    from functools import reduce

    from aira_spark.operators.window_read import window_read

    row, m, rects = _chunk_rects(k)
    wins = _sweep_windows({i: r for i, r in rects.items() if i < m["expected_chunks"]}, 1800 + k)
    wm = with_meta(_one_image_df(spark, row).coalesce(1)).cache()
    reads = [
        window_read(wm.withColumn("image_id", F.lit(str(j))), *win)
        for j, win in enumerate(wins)
    ]
    got = {
        (r.image_id, r.chunk_idx): (r.n_px, r.sum_px)
        for r in reduce(lambda a, b: a.union(b), reads).collect()
    }
    wm.unpersist()
    want = {
        (str(j), i): v
        for j, win in enumerate(wins)
        for (_, i), v in _serial_window([row[:2]], *win).items()
    }
    assert got == want
    assert 0 < len({j for j, _ in want}) < len(wins)


def test_cell_partitioned_layout_prunes(spark, images, tmp_path_factory):
    """Cell-partitioned layout: the windowed read (a) prunes partitions at the
    scan (PartitionFilters on part_cell) and (b) returns the same decoded
    result as the unpruned scan."""
    from aira_spark.operators.window_read import read_window_pruned, window_read
    from aira_spark.sources.images import write_images_by_cell

    out = str(tmp_path_factory.mktemp("cellpart") / "images")
    write_images_by_cell(spark, images, out, res=3)

    x0, y0, x1, y1 = -60.0, -30.0, 60.0, 30.0
    pruned_scan = read_window_pruned(spark, out, x0, y0, x1, y1, margin=2.0, res=3)

    plan = pruned_scan._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    pf_section = plan.split("PartitionFilters", 1)[1].split("]", 1)[0]
    assert "part_cell" in pf_section

    got = {
        (r.image_id, r.chunk_idx): (r.n_px, r.sum_px)
        for r in window_read(with_meta(pruned_scan), x0, y0, x1, y1).collect()
    }
    full = {
        (r.image_id, r.chunk_idx): (r.n_px, r.sum_px)
        for r in window_read(with_meta(spark.read.parquet(out)), x0, y0, x1, y1).collect()
    }
    assert got == full and len(got) > 0
    # pruning is real: STRICTLY fewer partition dirs scanned than exist on
    # disk (the 60-image fixture spans the world; the window + margin covers
    # only a few res-3 cells)
    import os as _os

    n_parts = len([d for d in _os.listdir(out) if d.startswith("part_cell=")])
    kept = pruned_scan.select("part_cell").distinct().count()
    assert 1 <= kept < n_parts


def test_window_filter_precedes_decode(spark, images):
    """The decode UDF must run on the pruned chunk set: the physical plan
    filters on the chunk-rect window predicate BELOW the mapInPandas node."""
    from aira_spark.operators.window_read import window_read

    plan = window_read(with_meta(images), -10.0, -10.0, 10.0, 10.0)._jdf.queryExecution(
    ).executedPlan().toString()
    # MapInPandas must appear above (before, in top-down print order) the
    # window filter on the derived chunk rects (literal bound 10.0)
    i_udf = plan.index("MapInPandas")
    i_filter = plan.index("< 10.0")
    assert i_udf < i_filter
    # chunks are selected per image as an array column: no exploded
    # (image, chunk) rows, each carrying the image's bytes, reach the UDF
    assert "Generate" not in plan[i_udf:]


def _hav_km(lat1, lon1, lat2, lon2):
    from aira_spark.functions.geo import EARTH_RADIUS_KM

    dlat = math.radians(lat2 - lat1) / 2.0
    dlon = math.radians(lon2 - lon1) / 2.0
    h = (
        math.sin(dlat) ** 2
        + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2)) * math.sin(dlon) ** 2
    )
    return 2.0 * EARTH_RADIUS_KM * math.asin(math.sqrt(h))


def test_within_distance_km_matches_bruteforce(spark, sf_dir):
    from aira_spark.operators.spatial import within_distance_km_join

    pts = points_table(spark, sf_dir)
    pt_rows = [(r.point_id, r.x, r.y) for r in pts.collect()]
    queries = pts.limit(30).select(F.col("point_id").alias("query_id"), "x", "y")
    q_rows = [(r.query_id, r.x, r.y) for r in queries.collect()]
    d = 400.0
    got = {
        (r.query_id, r.point_id)
        for r in within_distance_km_join(queries, pts, d_km=d).collect()
    }
    expected = {
        (qid, pid)
        for qid, qx, qy in q_rows
        for pid, px, py in pt_rows
        if _hav_km(qy, qx, py, px) <= d
    }
    assert got == expected
    assert len(expected) > len(q_rows)


def test_within_distance_km_near_pole(spark):
    """The latitude-dependent longitude margin must keep the prefilter a
    superset near the pole, where a fixed-degree bbox would lose matches."""
    from aira_spark.operators.spatial import within_distance_km_join

    rows = [(0, -170.0, 88.0), (1, 170.0, 88.2), (2, 0.0, 88.5), (3, 10.0, -88.0)]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    queries = pts.selectExpr("point_id AS query_id", "x", "y")
    d = 600.0
    got = {
        (r.query_id, r.point_id)
        for r in within_distance_km_join(queries, pts, d_km=d).collect()
    }
    expected = {
        (q, p)
        for q, qx, qy in rows
        for p, px, py in rows
        if _hav_km(qy, qx, py, px) <= d
    }
    assert got == expected
    # near the pole, points 170 deg of longitude apart ARE within 600 km
    assert (0, 1) in expected


def test_within_distance_km_antimeridian(spark):
    """Pairs wrapped across +-180 must be found: haversine wraps, so the disk
    cover must include the wrapped remainder of the interval."""
    from aira_spark.operators.spatial import within_distance_km_join

    rows = [(0, -179.5, 10.0), (1, 179.5, 10.0), (2, 0.0, 10.0)]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    queries = pts.selectExpr("point_id AS query_id", "x", "y")
    got = {
        (r.query_id, r.point_id)
        for r in within_distance_km_join(queries, pts, d_km=200.0).collect()
    }
    expected = {
        (q, p)
        for q, qx, qy in rows
        for p, px, py in rows
        if _hav_km(qy, qx, py, px) <= 200.0
    }
    assert got == expected
    assert (0, 1) in got and (1, 0) in got  # the wrapped pair


def test_knn_haversine_matches_bruteforce(spark, sf_dir):
    from aira_spark.operators.spatial import knn_join

    pts = points_table(spark, sf_dir)
    pt_rows = [(r.point_id, r.x, r.y) for r in pts.collect()]
    queries = pts.limit(25).select(F.col("point_id").alias("query_id"), "x", "y")
    q_rows = [(r.query_id, r.x, r.y) for r in queries.collect()]
    k = 4
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(queries, pts, k=k, metric="haversine").collect()
    }
    for qid, qx, qy in q_rows:
        ranked = sorted(
            ((_hav_km(qy, qx, py, px), pid) for pid, px, py in pt_rows)
        )[:k]
        for rank, (_, pid) in enumerate(ranked, start=1):
            assert got[(qid, rank)] == pid


def test_knn_haversine_near_pole_and_wrap(spark):
    """Near-pole and antimeridian-wrapped neighbors: the finalization bound
    must never certify a query whose true nearest sits outside the planar
    ring (the exact fallback finds it)."""
    from aira_spark.operators.spatial import knn_join

    rows = [
        (0, -179.0, 89.5),   # query near pole + seam
        (1, 178.0, 89.6),    # wrapped-close neighbor
        (2, 1.0, 89.4),      # same pole cap, far in planar lon
        (3, -179.0, 70.0),   # far south
        (4, 10.0, -89.5),    # opposite pole
    ]
    pts = spark.createDataFrame(rows, "point_id long, x double, y double")
    queries = pts.selectExpr("point_id AS query_id", "x", "y")
    k = 3
    got = {
        (r.query_id, r.rank): r.neighbor_id
        for r in knn_join(queries, pts, k=k, metric="haversine").collect()
    }
    for qid, qx, qy in rows:
        ranked = sorted(
            ((_hav_km(qy, qx, py, px), pid) for pid, px, py in rows)
        )[:k]
        for rank, (_, pid) in enumerate(ranked, start=1):
            assert got[(qid, rank)] == pid, (qid, rank)


def test_pip_shuffled_path_same_result(spark, sf_dir):
    """broadcast_polygons=False (the too-big-to-broadcast scale path) must
    produce identical pairs — only the physical join strategy changes."""
    from aira_spark.operators.spatial import point_in_polygon_join

    pts = points_table(spark, sf_dir)
    polys = polygons_table(spark, sf_dir)
    a = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(pts, polys).select("point_id", "poly_id").collect()
    }
    b = {
        (r.point_id, r.poly_id)
        for r in point_in_polygon_join(pts, polys, broadcast_polygons=False)
        .select("point_id", "poly_id")
        .collect()
    }
    assert a == b and len(a) > 0


def test_zonal_exact_matches_bruteforce(spark, sf_dir):
    """Exact polygon-masked zonal stats == per-pixel python ray-cast.

    Uses the full 200-image sf0.001 table: footprints are tiny, so enough
    images are needed for some pixels to land inside a polygon."""
    from tests.test_spatial import ray_cast

    from aira_spark.operators.zonal import zonal_exact_by_polygon
    from aira_spark.sources.images import make_pixels

    n_all = 200
    all_images = images_table(spark, sf_dir, limit=n_all)
    polys = polygons_table(spark, sf_dir)
    rings = {r.poly_id: [(v.x, v.y) for v in r.ring] for r in polys.collect()}
    got = {
        r.poly_id: (r.n_px, r.sum_px, r.min_px, r.max_px)
        for r in zonal_exact_by_polygon(with_meta(all_images), polys).collect()
    }
    expected: dict[str, list[int]] = {}
    for k in range(n_all):
        p = derive_params(k)
        px = make_pixels(p)
        fx, fy_top = p["corner_x"], p["corner_y"] + p["h"] * p["scale_y"]
        # only polygons whose bbox overlaps the footprint can mask pixels
        for poly_id, ring in rings.items():
            bx0 = min(x for x, _ in ring)
            bx1 = max(x for x, _ in ring)
            by0 = min(y for _, y in ring)
            by1 = max(y for _, y in ring)
            if not (
                fx < bx1
                and fx + p["w"] * p["scale_x"] > bx0
                and p["corner_y"] < by1
                and fy_top > by0
            ):
                continue
            for r in range(p["h"]):
                y = fy_top - (r + 0.5) * p["scale_y"]
                if not (by0 <= y <= by1):
                    continue
                for c in range(p["w"]):
                    x = fx + (c + 0.5) * p["scale_x"]
                    if not (bx0 <= x <= bx1):
                        continue
                    if ray_cast(x, y, ring):
                        v = int(px[r, c, 0])
                        cur = expected.setdefault(poly_id, [0, 0, v, v])
                        cur[0] += 1
                        cur[1] += v
                        cur[2] = min(cur[2], v)
                        cur[3] = max(cur[3], v)
    assert got == {k: tuple(v) for k, v in expected.items()}
    assert len(got) > 0  # non-vacuous: some pixels are masked at this sf


def test_area_pool_floor_exact():
    import numpy as np

    from aira_spark.operators.multimodal import _area_pool_floor

    px = np.arange(10 * 6 * 2, dtype=np.uint16).reshape(10, 6, 2)
    out = _area_pool_floor(px, 3, 3)
    assert out.shape == (3, 3, 2) and out.dtype == px.dtype
    # block (0,0): rows 0..2 (10*0//3=0 .. 10*1//3=3), cols 0..1
    blk = px[0:3, 0:2, 0].astype(np.int64)
    assert out[0, 0, 0] == blk.sum() // blk.size
    # degenerate: target == source is identity
    assert (_area_pool_floor(px, 10, 6) == px).all()
    with pytest.raises(ValueError):
        _area_pool_floor(px, 11, 6)


def test_resize_images_roundtrip(spark, images):
    """resize -> re-encode -> decode: dims, geotransform footprint, pixels."""
    import numpy as np

    from aira_spark.functions.udfs import _decode_full, _meta_row
    from aira_spark.operators.multimodal import _area_pool_floor, resize_images
    from aira_spark.sources.images import make_pixels

    rows = resize_images(images.limit(8), 8, 8).collect()
    assert len(rows) == 8
    for rec in rows:
        k = int(rec.image_id.removeprefix("img"))
        p = derive_params(k)
        m, px = _decode_full(bytes(rec.bytes))
        assert (m["width"], m["height"]) == (8, 8)
        expect = _area_pool_floor(make_pixels(p), 8, 8)
        assert np.array_equal(px.astype(np.int64), expect.astype(np.int64))
        # footprint preserved: new scale covers the same extent
        mr = _meta_row(bytes(rec.bytes))
        assert mr["scale_x"] * 8 == pytest.approx(p["scale_x"] * p["w"])
        assert mr["scale_y"] * 8 == pytest.approx(p["scale_y"] * p["h"])


def test_duplicate_clusters_match_union_find(spark, sf_dir):
    from aira_spark.operators.dedup import (
        duplicate_clusters,
        minhash_lsh_pairs,
        with_duplicates,
    )

    docs = with_duplicates(
        spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text", "lang", "source"
        )
    )
    pairs = minhash_lsh_pairs(docs).persist()
    edges = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    got = {
        r.doc_id: (r.cluster_id, r.cluster_size)
        for r in duplicate_clusters(pairs).collect()
    }
    # brute-force union-find
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[int, list[int]] = {}
    for node in parent:
        comp.setdefault(find(node), []).append(node)
    expected = {
        n: (root, len(members))
        for root, members in comp.items()
        for n in members
    }
    assert got == expected
    assert any(size > 1 for _, size in got.values())


def test_mosaic_patch_assembly(spark, images):
    """mosaic_patches packs exactly the mosaic_cell_values content, and
    overlapping images composite by max (order-independent)."""
    import numpy as np

    from aira_spark.operators.mosaic import mosaic_cell_values, mosaic_patches

    vals = {
        (r.cell, r.pr, r.pc): r.val
        for r in mosaic_cell_values(images, res=7).collect()
    }
    patches = {
        r.cell: (bytes(r.patch), r.n_filled)
        for r in mosaic_patches(images, res=7).collect()
    }
    assert set(patches) == {c for c, _, _ in vals}
    for cell, (buf, n_filled) in patches.items():
        arr = np.frombuffer(buf, dtype=np.uint8).reshape(16, 16)
        expect = np.zeros((16, 16), dtype=np.uint8)
        n = 0
        for (c, pr, pc), v in vals.items():
            if c == cell:
                expect[pr, pc] = min(max(v, 0), 255)
                n += 1
        assert np.array_equal(arr, expect) and n_filled == n
    # overlap: the same images twice must give the identical mosaic (max is
    # idempotent), proving compositing isn't order/multiplicity dependent
    doubled = images.unionByName(images)
    vals2 = {
        (r.cell, r.pr, r.pc): r.val
        for r in mosaic_cell_values(doubled, res=7).collect()
    }
    assert vals2 == vals


# ------------------------------------------------------- rollup + overviews


def test_zonal_rollup_matches_fine_reagg(spark, images):
    """Parent-cell rollup == re-aggregating the fine zonal result in Python."""
    from aira_spark.functions.cells import np_cell_parent
    from aira_spark.operators.zonal import zonal_rollup, zonal_stats

    fine = zonal_stats(images, res=7).collect()
    got = {
        r.cell: (r.n_px, r.sum_px, r.min_px, r.max_px)
        for r in zonal_rollup(images, res=7, steps=2).collect()
    }
    expected: dict[int, list[int]] = {}
    for r in fine:
        p = int(np_cell_parent(r.cell, 2))
        cur = expected.get(p)
        if cur is None:
            expected[p] = [r.n_px, r.sum_px, r.min_px, r.max_px]
        else:
            cur[0] += r.n_px
            cur[1] += r.sum_px
            cur[2] = min(cur[2], r.min_px)
            cur[3] = max(cur[3], r.max_px)
    assert got == {k: tuple(v) for k, v in expected.items()}
    assert 0 < len(got) < len(fine)


def test_overview_pyramid_pages(spark, images):
    """Pyramid bytes decode page-by-page: strided dims, doubled GSD, pixels
    equal to the strided base image."""
    import numpy as np

    from aira_spark.functions.udfs import _decode_full
    from aira_spark.operators.overview import with_pyramid
    from aira_spark.tiff.meta import decode_all_pages

    rows = with_pyramid(images.limit(6), levels=3).collect()
    assert len(rows) == 6
    for rec in rows:
        buf = bytes(rec.bytes)
        pages = decode_all_pages(buf)
        assert len(pages) == 3
        k = int(rec.image_id.removeprefix("img"))
        p0 = derive_params(k)
        _, base_px = _decode_full(buf)  # page 0 = original
        expect = base_px
        for p, m in enumerate(pages):
            if p > 0:
                expect = expect[::2, ::2, :]
            assert m["width"] == expect.shape[1]
            assert m["height"] == expect.shape[0]
        # GSD doubles per level
        from aira_spark.tiff import tags as T
        from aira_spark.tiff.meta import entry_value

        for p, m in enumerate(pages):
            sv = entry_value(*m["custom"][T.MODEL_PIXEL_SCALE], m["byteorder"])
            assert sv[0] == pytest.approx(p0["scale_x"] * (1 << p), rel=0, abs=0)


def test_select_overview_matches_closed_form(spark, images):
    import math

    from aira_spark.operators.overview import select_overview

    target = 0.01
    got = {r.image_id: r.page for r in select_overview(images, target, levels=3).collect()}
    for image_id, page in got.items():
        k = int(image_id.removeprefix("img"))
        sx = derive_params(k)["scale_x"]
        best = min(range(3), key=lambda p: (abs(math.log(sx * (1 << p) / target)), p))
        assert page == best
    assert len(got) == N_IMAGES
    assert len(set(got.values())) > 1  # selection is non-trivial


# ---------------------------------------------------------------- streaming


def test_sessionize_stream_matches_batch(spark, sf_dir):
    from aira_spark.streaming.events import run_sessionize_stream

    got = {
        (r.event_type, r.start_us, r.end_us): (r.n_events, r.value_cents)
        for r in run_sessionize_stream(spark, sf_dir, gap_minutes=30).collect()
    }
    events = [
        (r.event_type, r.us, int(math.floor(r.value * 100.0)))
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("event_type", "unix_micros(CAST(ts AS TIMESTAMP)) AS us", "value")
        .collect()
    ]
    gap = 30 * 60 * 1_000_000
    by_type: dict[str, list[tuple[int, int]]] = {}
    for et, us, cents in events:
        by_type.setdefault(et, []).append((us, cents))
    expected = {}
    for et, rows in by_type.items():
        rows.sort()
        start = prev = None
        n = cents_sum = 0
        for us, cents in rows:
            if prev is not None and us - prev < gap:
                n += 1
                cents_sum += cents
            else:
                if prev is not None:
                    expected[(et, start, prev + gap)] = (n, cents_sum)
                start, n, cents_sum = us, 1, cents
            prev = us
        expected[(et, start, prev + gap)] = (n, cents_sum)
    assert got == expected


def test_stateful_totals_matches_batch(spark, sf_dir):
    from aira_spark.streaming.events import run_stateful_totals_stream

    got = {
        (r.event_type, r.user_bucket): (r.n_events, r.value_cents, r.min_ts_us, r.max_ts_us)
        for r in run_stateful_totals_stream(spark, sf_dir).collect()
    }
    expected = {
        (r.event_type, r.user_bucket): (r.n, r.cents, r.mn, r.mx)
        for r in spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("event_type", F.expr("user_id % 16").alias("user_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)")).alias("cents"),
            F.min(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).alias("mn"),
            F.max(F.expr("unix_micros(CAST(ts AS TIMESTAMP))")).alias("mx"),
        )
        .collect()
    }
    assert got == expected
