"""Spatial joins: point-in-polygon and kNN, as DataFrame joins (north rule).

Both use the cell index as a *spatial index expressed as an equi-join*
(SURVEY.md §4): a cheap cell-cover prefilter join with the small (polygon /
query) side broadcast, then an exact refine step — ray-casting for PIP,
distance re-rank for kNN — entirely in JVM column expressions (higher-order
array functions), so the hot path never leaves whole-stage codegen.

Scale notes (100 TB / 10^12 rows):
- the polygon side is broadcast (mandated by BASELINE.json north_star); the
  big point/image side is never shuffled for PIP — prefilter is a broadcast
  hash join, refine is a projection.
- kNN shuffles only unfinished queries per round (iterative ring doubling);
  candidate sets stay bounded by ring size x local density.
- hot cells: see operators/skew.py (salted repartition); AQE skew-join is the
  configured backstop.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import (
    DEFAULT_RES,
    SPAN_X,
    SPAN_Y,
    cell_from_xy,
    cover_rect,
    k_ring,
    sql_double,
)

# The geometry predicates below are Spark SQL text over SQL-fragment inputs
# (column names or expressions), applied through one F.expr / selectExpr /
# where each — see functions/cells.py for why and for the spelling rules.


def _fold(op: str, *terms: str) -> str:
    """`t1 op t2 op ...` grouped left to right. Spark's SQL parser rebalances
    an unparenthesized AND/OR chain into a different tree than the left-deep
    one, which is the evaluation order these predicates were written in."""
    return reduce(lambda a, b: f"({a} {op} {b})", terms)


def ring_bbox(ring: str) -> tuple[str, str, str, str]:
    xs = f"transform({ring}, rb_v -> rb_v.x)"
    ys = f"transform({ring}, rb_v -> rb_v.y)"
    return f"array_min({xs})", f"array_min({ys})", f"array_max({xs})", f"array_max({ys})"


def _ring_edges(ring: str) -> str:
    """array<struct<x,y>> closed ring -> array<struct<ax,ay,bx,by>> edges —
    the one edge construction every geometry predicate shares (a fix to
    edge handling must not be able to diverge between predicates)."""
    return (
        f"zip_with(slice({ring}, 1, size({ring}) - 1), slice({ring}, 2, size({ring}) - 1), "
        "(re_a, re_b) -> struct(re_a.x AS ax, re_a.y AS ay, re_b.x AS bx, re_b.y AS by))"
    )


def point_in_ring(px: str, py: str, ring: str) -> str:
    """Exact ray-casting (odd crossings) as one boolean SQL expression.

    ring: array<struct<x,y>> closed (first == last vertex). An edge (a, b)
    crosses the rightward ray from (px, py) iff (a.y > py) != (b.y > py) and
    px < (b.x - a.x) * (py - a.y) / (b.y - a.y) + a.x.
    """
    crosses = (
        f"((pr_e.ay > ({py})) != (pr_e.by > ({py}))) AND (({px}) < "
        f"(pr_e.bx - pr_e.ax) * (({py}) - pr_e.ay) / (pr_e.by - pr_e.ay) + pr_e.ax)"
    )
    return (
        f"(aggregate({_ring_edges(ring)}, 0, (pr_acc, pr_e) -> "
        f"pr_acc + CASE WHEN {crosses} THEN 1 ELSE 0 END) % 2 = 1)"
    )


def polygon_cells(
    polygons: DataFrame, res: int = DEFAULT_RES, classify_full: bool = False
) -> DataFrame:
    """(poly_id, ring, ...) -> exploded (cell, poly_id, ring): the prefilter
    side. Bbox cover is a superset of the exact polygon cover, so the
    prefilter never loses a true match.

    classify_full=True adds a `full` boolean per (poly, cell): the cell
    rectangle provably lies entirely inside the polygon (all 4 corners
    contained AND no edge's bbox touches the cell — conservative: any
    boundary contact, including degenerate corner/collinear touches that a
    proper-crossing test would miss, demotes the cell to partial). Points
    prefiltered into a full cell are definite hits and skip the exact
    refine — the partial/full-cell split of the Raster Intervals
    polygon-intersection prefilter (SIGMOD 2023, see PAPERS.md). A false
    'partial' only costs a ray-cast, never correctness; interior cells (the
    ones that dominate as resolution grows) stay full."""
    from ..functions.cells import cell_bounds_xmin, cell_bounds_ymin

    out = polygons.withColumn(
        "cell", F.expr(f"explode({cover_rect(*ring_bbox('ring'), res)})")
    )
    if not classify_full:
        return out
    n = 1 << res
    cx0, cy0 = cell_bounds_xmin("cell"), cell_bounds_ymin("cell")
    cx1, cy1 = f"({cx0} + {sql_double(SPAN_X / n)})", f"({cy0} + {sql_double(SPAN_Y / n)})"
    corners_in = [
        point_in_ring(px, py, "ring")
        for px, py in ((cx0, cy0), (cx0, cy1), (cx1, cy0), (cx1, cy1))
    ]
    # conservative boundary test: an edge whose bbox overlaps the cell MIGHT
    # touch it (covers proper crossings, vertices inside, and degenerate
    # corner/collinear contact) -> cell stays partial and gets the exact
    # ray-cast. No edge bbox overlapping + a corner inside => whole cell
    # interior (the boundary cannot enter without an edge point in the cell).
    edge_overlaps_cell = _fold(
        "AND",
        f"LEAST(pf_e.ax, pf_e.bx) <= {cx1}", f"GREATEST(pf_e.ax, pf_e.bx) >= {cx0}",
        f"LEAST(pf_e.ay, pf_e.by) <= {cy1}", f"GREATEST(pf_e.ay, pf_e.by) >= {cy0}",
    )
    edge_near_cell = f"exists({_ring_edges('ring')}, pf_e -> {edge_overlaps_cell})"
    return out.withColumn("full", F.expr(_fold("AND", *corners_in, f"NOT {edge_near_cell}")))


def point_in_polygon_join(
    points: DataFrame,
    polygons: DataFrame,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
    broadcast_polygons: bool = True,
) -> DataFrame:
    """All (point, polygon) containment pairs.

    Plan shape (default): big side gets `cell` (pure expr) -> broadcast hash
    join with the exploded polygon-cell table -> ray-cast refine as a filter.
    One scan, zero shuffles of the point side.

    broadcast_polygons=False is the scale path for polygon sides too big to
    broadcast (continental-coverage polygon sets at 10^12 rows): both sides
    shuffle on `cell` and Catalyst picks shuffled-hash/sort-merge; results are
    identical (pinned by test), only the physical distribution changes. Pair
    with operators/skew.py salting when single cells are hot.
    """
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    # full-cell classification: points landing in a cell entirely inside the
    # polygon skip the ray-cast (codegen short-circuits the OR per row)
    poly = polygon_cells(polygons, res, classify_full=True)
    if broadcast_polygons:
        poly = F.broadcast(poly)
    cand = pts.join(poly, "cell")
    return cand.where(f"full OR {point_in_ring(x, y, 'ring')}").drop("cell", "ring", "full")


def within_distance_join(
    queries: DataFrame,
    points: DataFrame,
    d: float,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Distance-band (range) join: all (query, point) pairs with Euclidean
    distance <= d. Returns (query_id, point_id, dist).

    Plan shape: the small query side is exploded to the cell cover of each
    query's d-disk bounding box and broadcast; the big point side computes its
    single cell (pure expr) and broadcast-hash-joins — zero shuffles of the
    point side, exact distance filter as a projection. A point lies in exactly
    one cell and the cover array has distinct cells, so no pair dedup is
    needed. At 10^12 scale the candidate count is bounded by disk area x local
    point density (the same prefilter-superset argument as PIP: the d-disk's
    bbox cover contains the cell of every point within distance d).
    """
    from ..functions.cells import cover_rect_closed

    # closed cover: the predicate is inclusive (dist <= d), so a point at
    # exactly x == qx + d must have its cell in the prefilter
    dd = sql_double(d)
    disk = cover_rect_closed(f"qx - {dd}", f"qy - {dd}", f"qx + {dd}", f"qy + {dd}", res)
    q = queries.selectExpr("query_id", f"{x} AS qx", f"{y} AS qy").withColumn(
        "cell", F.expr(f"explode({disk})")
    )
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    dist = f"sqrt(({x} - qx) * ({x} - qx) + ({y} - qy) * ({y} - qy))"
    return (
        pts.join(F.broadcast(q), "cell")
        .selectExpr("*", f"{dist} AS dist")
        .where(f"dist <= {dd}")
        .drop("cell", "qx", "qy")
    )


def within_distance_km_join(
    queries: DataFrame,
    points: DataFrame,
    d_km: float,
    res: int = DEFAULT_RES,
    x: str = "x",
    y: str = "y",
) -> DataFrame:
    """Geodesic distance-band join: all (query, point) pairs within d_km
    great-circle km (haversine on the mean sphere). Same plan shape as
    within_distance_join — broadcast closed cell cover of each query's disk
    bbox, point side unshuffled — but the bbox half-extents are the proven
    spherical superset bounds from functions.geo.disk_margins_deg (latitude-
    dependent longitude margin; clamps to full-longitude near the poles),
    and intervals crossing the +-180 antimeridian additionally cover the
    wrapped remainder (haversine wraps; a planar clip would silently drop
    wrapped-close pairs). Returns (query_id, point_id, dist_km).
    """
    from ..functions.cells import cover_rect_closed
    from ..functions.geo import disk_margins_deg, haversine_km

    dlat, dlon = disk_margins_deg("qy", d_km)
    ylo, yhi = f"qy - {dlat}", f"qy + {dlat}"
    # antimeridian wrap: the haversine's sin^2(dlon/2) term has period 360,
    # so a disk crossing +-180 continues on the far side of the x domain —
    # the cover is the clamped primary interval plus the wrapped remainder(s)
    west, east = f"(qx - ({dlon}))", f"(qx + ({dlon}))"
    primary = cover_rect_closed(west, ylo, east, yhi, res)
    wrap_w = cover_rect_closed(f"{west} + 360.0D", ylo, "180.0D", yhi, res)
    wrap_e = cover_rect_closed("-180.0D", ylo, f"{east} - 360.0D", yhi, res)
    empty = "CAST(array() AS ARRAY<BIGINT>)"
    q = queries.selectExpr("query_id", f"{x} AS qx", f"{y} AS qy").withColumn(
        "cell",
        F.expr(
            f"explode(array_distinct(concat({primary}, "
            f"CASE WHEN {west} < -180.0D THEN {wrap_w} ELSE {empty} END, "
            f"CASE WHEN {east} > 180.0D THEN {wrap_e} ELSE {empty} END)))"
        ),
    )
    pts = points.withColumn("cell", cell_from_xy(F.col(x), F.col(y), res))
    return (
        pts.join(F.broadcast(q), "cell")
        .selectExpr("*", f"{haversine_km('qy', 'qx', y, x)} AS dist_km")
        .where(f"dist_km <= {sql_double(d_km)}")
        .drop("cell", "qx", "qy")
    )


def _orient(ax: str, ay: str, bx: str, by: str, px: str, py: str) -> str:
    """Signed area orientation of (a -> b -> p); same operation order as the
    DuckDB oracle so float results are bit-identical."""
    return f"(({bx} - {ax}) * ({py} - {ay}) - ({by} - {ay}) * ({px} - {ax}))"


def _seg_cross(ax, ay, bx, by, cx, cy, dx, dy) -> str:
    """Proper (strict) segment intersection of (a,b) x (c,d): each segment's
    endpoints lie strictly on opposite sides of the other's line."""
    o1 = _orient(ax, ay, bx, by, cx, cy)
    o2 = _orient(ax, ay, bx, by, dx, dy)
    o3 = _orient(cx, cy, dx, dy, ax, ay)
    o4 = _orient(cx, cy, dx, dy, bx, by)
    return f"({o1} * {o2} < 0 AND {o3} * {o4} < 0)"


def rect_intersects_ring(xmin: str, ymin: str, xmax: str, ymax: str, ring: str) -> str:
    """Exact rect x simple-polygon intersection as one boolean SQL expression.

    True iff (a) any polygon vertex is inside the closed rect (covers
    polygon-in-rect and partial overlap), or (b) any rect corner is inside
    the polygon (covers rect-in-polygon), or (c) any polygon edge properly
    crosses any rect edge (boundary crossings with no vertex containment),
    or (d) any rect corner lies exactly ON a polygon edge. Case (d) closes
    the degenerate tangency gap the first three miss: an edge passing
    exactly through a rect corner has no vertex in the rect, no strict
    crossing (the orientation is 0), and an undefined ray-cast for the
    on-boundary corner; any longer collinear contact also passes through a
    corner or puts a vertex in the closed rect, so (a)-(d) are exhaustive
    for simple polygons including touch-degenerate contact. The DuckDB
    oracle states the identical four cases with the same expression text.
    """
    xmin, ymin, xmax, ymax = (f"({v})" for v in (xmin, ymin, xmax, ymax))
    corners = ((xmin, ymin), (xmin, ymax), (xmax, ymin), (xmax, ymax))
    vert_in_rect = _fold(
        "AND", f"ri_v.x >= {xmin}", f"ri_v.x <= {xmax}", f"ri_v.y >= {ymin}", f"ri_v.y <= {ymax}"
    )
    corner_in_poly = _fold("OR", *(point_in_ring(px, py, ring) for px, py in corners))
    e = ("ri_e.ax", "ri_e.ay", "ri_e.bx", "ri_e.by")
    rect_edges = (
        (xmin, ymin, xmax, ymin), (xmax, ymin, xmax, ymax),
        (xmax, ymax, xmin, ymax), (xmin, ymax, xmin, ymin),
    )
    crosses_rect_edge = _fold("OR", *(_seg_cross(*e, *r) for r in rect_edges))

    def on(px: str, py: str) -> str:
        return _fold(
            "AND", f"{_orient(*e, px, py)} = 0",
            f"{px} >= LEAST(ri_e.ax, ri_e.bx)", f"{px} <= GREATEST(ri_e.ax, ri_e.bx)",
            f"{py} >= LEAST(ri_e.ay, ri_e.by)", f"{py} <= GREATEST(ri_e.ay, ri_e.by)",
        )

    corner_on_edge = _fold("OR", *(on(px, py) for px, py in corners))
    edges = _ring_edges(ring)
    return _fold(
        "OR",
        f"exists({ring}, ri_v -> {vert_in_rect})",
        corner_in_poly,
        f"exists({edges}, ri_e -> {crosses_rect_edge})",
        f"exists({edges}, ri_e -> {corner_on_edge})",
    )


def footprint_polygon_join(
    images_with_meta: DataFrame, polygons: DataFrame, res: int = DEFAULT_RES
) -> DataFrame:
    """Raster-footprint x polygon overlap join: (image_id, poly_id) pairs whose
    GeoTIFF footprint rectangle intersects the polygon (exact test).

    Prefilter: footprint cell cover equi-joined with the broadcast polygon
    bbox cell cover. The footprint side uses the TOUCH-INCLUSIVE cover
    (cover_rect_touch): the exact rect_intersects_ring refine uses closed
    comparisons, so a footprint that merely touches the polygon on a shared
    cell boundary is a match — a half-open footprint cover could place the
    two geometries in disjoint cell sets and drop that boundary-degenerate
    pair before the refine ever sees it, in either touch direction. With the
    polygon side as the ordinary half-open bbox cover and the footprint side
    touch-inclusive, overlapping-or-touching geometries always share >= 1
    cell — lossless. Candidates deduped on (image_id, poly_id), then the
    exact rect-x-ring refine runs as a JVM filter. The image side is never
    shuffled before the (tiny, post-prefilter) dedup.
    """
    from ..functions.cells import cover_rect_touch
    from .chunks import footprint

    bbox = ("fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax")
    fp_cells = footprint(images_with_meta).withColumn(
        "cell", F.expr(f"explode({cover_rect_touch(*bbox, res)})")
    ).select("image_id", *bbox, "cell")
    poly = F.broadcast(polygon_cells(polygons, res).select("cell", "poly_id", "ring"))
    cand = fp_cells.join(poly, "cell").dropDuplicates(["image_id", "poly_id"])
    return cand.where(rect_intersects_ring(*bbox, "ring")).select("image_id", "poly_id")


def footprint_overlap_join(
    images_with_meta: DataFrame, res: int = DEFAULT_RES, pad: float = 0.0
) -> DataFrame:
    """Image x image footprint SELF-join: (image_a, image_b, olap_w, olap_h)
    for every pair (image_a < image_b) whose footprint rectangles STRICTLY
    overlap, or — with pad > 0 — come within an L-inf gap < pad degrees
    (a distance-buffered spatial join; pad = 0 is pure overlap).

    The raster-x-raster sibling of footprint_polygon_join: each footprint is
    exploded to its cell cover once and the candidate set is a cell
    equi-join of the cover with itself — never a cross join. The a-side
    cover is dilated by the FULL pad (equivalent to pad/2 per side for the
    pairwise test, but keeps the b-side cover and the refine inputs raw):
    if the padded test passes, rect_a dilated by pad strictly intersects
    rect_b, so their half-open covers share the cell of an interior point
    of the intersection — the prefilter is lossless. The exact test then
    runs as a JVM filter on the candidates.

    olap_w/olap_h are the raw (unpadded) overlap extents; NEGATIVE values
    are the gap between near-but-disjoint footprints when pad > 0.

    Scale shape (10^12 images): one explode (cover cells per image is O(1)
    at fixed res vs footprint size), one shuffle on `cell` (near-uniform for
    geo-distributed footprints; hot cells -> operators/skew.py salting or
    AQE skew-join), candidate dedup on the (a, b) ID pair only. The bbox
    columns ride along (4 doubles) so no second join reattaches geometry.
    """
    from .chunks import footprint

    fp = footprint(images_with_meta).select(
        "image_id", "fp_xmin", "fp_ymin", "fp_xmax", "fp_ymax"
    )
    p = sql_double(pad)
    padded = cover_rect(f"fp_xmin - {p}", f"fp_ymin - {p}", f"fp_xmax + {p}", f"fp_ymax + {p}", res)
    a = fp.selectExpr(
        f"explode({padded}) AS cell", "image_id AS image_a",
        "fp_xmin AS ax0", "fp_ymin AS ay0", "fp_xmax AS ax1", "fp_ymax AS ay1",
    )
    b = fp.selectExpr(
        f"explode({cover_rect('fp_xmin', 'fp_ymin', 'fp_xmax', 'fp_ymax', res)}) AS cell",
        "image_id AS image_b",
        "fp_xmin AS bx0", "fp_ymin AS by0", "fp_xmax AS bx1", "fp_ymax AS by1",
    )
    cand = (
        a.join(b, "cell")
        .where("image_a < image_b")
        .drop("cell")
        .dropDuplicates(["image_a", "image_b"])
    )
    # exact refine (pad applied once per axis: ax0 - pad/2 < bx1 + pad/2
    # <=> ax0 < bx1 + pad) + overlap extent, computed in a pinned op order
    # (least(max) - greatest(min)) mirrored verbatim by the oracle
    return cand.where(
        _fold("AND", f"ax0 < bx1 + {p}", f"bx0 < ax1 + {p}", f"ay0 < by1 + {p}", f"by0 < ay1 + {p}")
    ).selectExpr(
        "image_a", "image_b",
        "least(ax1, bx1) - greatest(ax0, bx0) AS olap_w",
        "least(ay1, by1) - greatest(ay0, by0) AS olap_h",
    )


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    res: int = DEFAULT_RES,
    metric: str = "euclidean",
    cleanup: bool = False,
) -> DataFrame:
    """k nearest points for each query row: (query_id, neighbor_id, rank, dist).

    H3-style k-ring prefilter with a distance-bounded re-rank: join queries
    against points whose cell lies in ring(query_cell, r) at a density-chosen
    radius, rank by exact Euclidean distance, and finalize a query when its
    k-th neighbor is provably inside the guaranteed radius r * min(cell_w,
    cell_h) (any point outside the ring is farther). The few unfinished
    queries (sparse neighborhoods) fall back to an exact broadcast re-rank
    against all points — the unfinished side is broadcast, the point side is
    scanned once more with no shuffle, so at 10^12 scale the expensive path
    is bounded by ring size x local density and the fallback by the (tiny)
    unfinished-query count. Deterministic tie-break: (dist, neighbor_id).

    metric="haversine" ranks by great-circle km; the finalization bound then
    uses the spherical lower bounds for points outside the ring (latitude
    case: central angle >= lat diff; longitude case: sin(x) >= 2x/pi at the
    worst latitude of the ring band — see functions/geo.py) as a per-query
    column, so near-pole queries finalize conservatively and fall back to
    the exact scan when the bound cannot certify k neighbors.

    CACHE LIFECYCLE: the operator persists the point projection and the
    ring candidates and finished ids; like Spark's own .cache(),
    the CALLER owns their lifetime. cleanup=False (default) leaves them
    cached — identical repeated invocations then reuse them via logical-
    plan matching (measured ~40%% faster on a re-run), which suits one-shot
    jobs and benchmarks but pins executor storage until the app ends.
    cleanup=True eagerly materializes the small (queries x k) result via
    localCheckpoint and unpersists every intermediate before returning —
    use it from long-lived applications that call knn_join repeatedly.
    The session (`session.get_spark`) lets AQE coalesce a persisted plan's
    shuffle output, so the cached ranked and certified frames hold a few
    coalesced partitions (at least defaultParallelism once they pass AQE's
    coalescing threshold) instead of one per shuffle partition, and a
    re-run schedules that many tasks per read.
    """
    import math

    n = 1 << res
    cell_w, cell_h = SPAN_X / n, SPAN_Y / n
    safe_per_ring = min(cell_w, cell_h)

    # repartition on persist: a small dim-table scan can arrive as one input
    # split, which would serialize the fallback nested-loop join; at scale the
    # point side is many splits already and this is a no-op cost-wise
    par = points.sparkSession.sparkContext.defaultParallelism
    pts = points.select(
        F.expr("point_id AS neighbor_id"), F.expr("x AS px"), F.expr("y AS py"),
        cell_from_xy(F.col("x"), F.col("y"), res).alias("cell"),
    ).repartition(par).persist()
    n_points = pts.count()
    pending = queries.select(
        "query_id", F.expr("x AS qx"), F.expr("y AS qy"),
        cell_from_xy(F.col("x"), F.col("y"), res).alias("qcell"),
    ).persist()

    # density-based radius: finalization needs the k-th neighbor inside the
    # ring's *inscribed* safe circle (radius * min cell span), so size the
    # ring for ~3k expected points within that circle (not just the square)
    density = max(n_points / float(n * n), 1e-9)  # points per cell
    aspect = min(cell_w, cell_h) / max(cell_w, cell_h)
    radius = max(1, min(n, math.ceil(math.sqrt(3.0 * k / (math.pi * aspect * density)))))

    if metric == "haversine":
        from ..functions.geo import haversine_km

        dist = haversine_km("qy", "qx", "py", "px")
    else:
        dist = "sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy))"

    def rank_candidates(cand: DataFrame) -> DataFrame:
        return (
            cand.selectExpr("*", f"{dist} AS dist")
            .selectExpr(
                "*", "row_number() OVER (PARTITION BY query_id ORDER BY dist, neighbor_id) AS rank"
            )
            .where(f"rank <= {k}")
        )

    handles = [pts, pending]  # every persisted frame, unpersisted on return
    ringed = pending.withColumn("cell", F.expr(f"explode({k_ring('qcell', radius)})"))
    ranked = rank_candidates(ringed.join(pts, "cell")).persist()
    handles.append(ranked)
    if metric == "haversine":
        from ..functions.geo import EARTH_RADIUS_KM as _R

        # lat case: a point outside the ring in latitude differs by
        # >= radius*cell_h deg, and central angle >= lat diff (exact)
        lat_bound = _R * math.radians(radius * cell_h)
        # lon case: the point's latitude can be up to (radius+1)*cell_h
        # from qy (query anywhere in its cell, point anywhere in the
        # outermost ring row), and its TRUE angular separation is
        # min(planar dx, 360 - dx): planar dx >= radius*cell_w, but a
        # wrapped point (dx > 180) can be as angular-close as
        # 180 - |qx| deg — cap the exclusion angle by that, so near the
        # antimeridian the bound shrinks and queries fall back to the
        # exact scan instead of certifying unsoundly
        # clamp at 90 (not an arbitrary 89.9): points can sit above any
        # sub-90 clamp, and cos(90) -> 0 bound -> no certification ->
        # exact fallback, which is the sound behavior at the pole
        phi_max = f"least(abs(qy_) + {sql_double((radius + 1) * cell_h)}, 90.0D)"
        lon_excl_deg = f"least({sql_double(radius * cell_w)}, 180.0D - abs(qx_))"
        lon_bound = (
            f"{sql_double(2.0 * _R / math.pi)} * cos(radians({phi_max}))"
            f" * radians({lon_excl_deg})"
        )
        # STRICT bound: an outside-ring point can sit at distance exactly
        # equal to the exclusion bound, and with kth_dist == bound it
        # would win the (dist, neighbor_id) tie-break whenever its id is
        # smaller — certifying on <= would then diverge from the exact
        # top-k. Strict < also closes the pole case: lon_bound -> 0 at
        # |lat| = 90, and 0 < 0 is false, so co-located polar points fall
        # back to the exact scan instead of certifying unsoundly.
        safe_cond = f"kth_dist < least({sql_double(lat_bound)}, {lon_bound})"
    else:
        safe_cond = f"kth_dist < {sql_double(float(radius) * safe_per_ring)}"
    done_ids = (
        ranked.groupBy("query_id")
        .agg(
            F.expr("count(*) AS n_found"),
            F.expr("max(dist) AS kth_dist"),
            F.expr("min(qy) AS qy_"),
            F.expr("min(qx) AS qx_"),
        )
        .where(f"n_found >= {k} AND {safe_cond}")
        .select("query_id")
        .persist()
    )
    handles.append(done_ids)
    finished = ranked.join(F.broadcast(done_ids), "query_id", "left_semi").select(
        "query_id", "neighbor_id", "rank", "dist"
    )
    pending = pending.join(F.broadcast(done_ids), "query_id", "left_anti")

    # exact fallback: broadcast the unfinished queries against every point —
    # one extra scan of pts, zero shuffles of the point side
    fallback = rank_candidates(
        pts.join(F.broadcast(pending.drop("qcell")), how="cross")
    ).select("query_id", "neighbor_id", "rank", "dist")
    out = finished.unionByName(fallback)
    if cleanup:
        # materialize the (queries x k)-row result, then release every
        # persisted intermediate — the handles are unreachable from the
        # returned frame, so without this path a long-lived application
        # pins them in executor storage for its whole lifetime
        out = out.localCheckpoint(eager=True)
        for h in handles:
            h.unpersist()
    return out


def idw_interpolate(
    queries: DataFrame, points: DataFrame, values: DataFrame,
    k: int = 5, res: int = DEFAULT_RES,
) -> DataFrame:
    """(query_id, n_nbrs, est): inverse-distance-squared (IDW, Shepard 1968)
    interpolation of a point-observation field at each query location from
    its k nearest observations — the classic geostatistics gridding op.

    est = sum(v_i / d_i^2) / sum(1 / d_i^2) over the kNN set, with the exact
    query-on-observation case (d = 0) returning that observation exactly
    (its weight is infinite). Distances are rounded to 6dp BEFORE weighting
    and both fold sums run in rank order over a sorted array — floating
    addition is not associative, so an unordered SQL SUM could differ
    between engines in the last ULP; the ordered fold makes the estimate
    bit-reproducible (the DuckDB oracle folds the identical sequence).

    Scale shape: everything rides the knn_join (k-ring prefilter, no cross
    join); values attach by one neighbor-id equi-join; the per-query state
    is a k-element array."""
    nn = knn_join(queries, points, k, res)
    vals = values.withColumnRenamed("point_id", "neighbor_id")
    j = nn.withColumn("d", F.round("dist", 6)).join(vals, "neighbor_id")
    grouped = j.groupBy("query_id").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("rank").alias("rank"),
                    F.col("d").alias("d"),
                    F.col("val").cast("double").alias("v"),
                )
            )
        ).alias("arr")
    )
    num = (
        "aggregate(transform(arr, e -> e.v / (e.d * e.d)), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    den = (
        "aggregate(transform(arr, e -> 1.0 / (e.d * e.d)), "
        "CAST(0.0 AS DOUBLE), (a, b) -> a + b)"
    )
    return grouped.selectExpr(
        "query_id",
        "CAST(size(arr) AS BIGINT) AS n_nbrs",
        f"CASE WHEN arr[0].d = 0.0 THEN round(arr[0].v, 6) "
        f"ELSE ROUND(({num}) / ({den}), 6) END AS est",
    )
