"""Grid-based DBSCAN: density clustering at 10^12 points with ZERO
pairwise distance computations.

Classic DBSCAN is O(n^2) without an index; the standard scale-out is the
grid method: bin points to cells at a resolution where the cell edge is
the neighborhood radius, then (a) a cell is CORE iff its 3x3-neighborhood
point count >= min_pts, (b) clusters are the connected components of
8-adjacent core cells, (c) an occupied non-core cell is a BORDER of the
cluster of its lexicographically-first adjacent core cell, (d) remaining
occupied cells are NOISE. Every step is one of this repo's existing
bounded-exchange shapes:

  - the neighborhood count is the focal scatter-aggregation (counts
    combine map-side before the 9x scatter; (pos, partial) integer rows
    are all that shuffle — never points);
  - core adjacency is the raster-polygonize bump equi-join (4 directed
    bumps E/N/NE/SE cover undirected 8-adjacency), cells-only;
  - components come from dedup.duplicate_clusters (min-label propagation
    with adaptive pointer jumping, O(log diameter) rounds);
  - border assignment is one explode(k_ring) + min-label aggregation.

Labels are the minimum core-cell id of the component — deterministic,
partitioning-independent, engine-reproducible; borders take the MIN
cluster label over their adjacent cores (a fixed tie-break where classic
DBSCAN is order-dependent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import IX_SHIFT, cell_from_xy, cell_ix, cell_iy, k_ring
from .dedup import duplicate_clusters


def _neighborhood_counts(points: DataFrame, res: int) -> DataFrame:
    """(cell, own_cnt, nbh_cnt) for every OCCUPIED cell: own point count
    and the 3x3-neighborhood total, via the focal scatter-agg."""
    nf = 1 << res
    counts = (
        points.select(cell_from_xy(F.col("x"), F.col("y"), res).alias("cell"))
        .groupBy("cell")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    scattered = counts.selectExpr(
        "cell", "cnt", f"explode({k_ring('cell', 1)}) AS tgt"
    ).select(
        F.col("tgt").alias("cell2"),
        "cnt",
        (F.col("tgt") == F.col("cell")).alias("is_center"),
    )
    return (
        scattered.groupBy("cell2")
        .agg(
            F.sum("cnt").cast("long").alias("nbh_cnt"),
            F.max("is_center").alias("occ"),
            F.sum(F.when(F.col("is_center"), F.col("cnt")).otherwise(0))
            .cast("long")
            .alias("own_cnt"),
        )
        .where("occ")
        .selectExpr("cell2 AS cell", "own_cnt", "nbh_cnt")
    )


def _core_adjacency8(core: DataFrame, res: int) -> DataFrame:
    """(doc_a, doc_b) edges between 8-adjacent core cells: 4 directed bumps
    (E, N, NE, SE) with explicit grid-edge guards, equi-joined against the
    core set — never a spatial join, never points."""
    n = 1 << res
    ids = core.select(F.col("cell").cast("long").alias("cell")).distinct()
    ix, iy = cell_ix(F.col("cell")), cell_iy(F.col("cell"))
    shift = 1 << IX_SHIFT  # packed ix stride
    bumps = [
        (ix < n - 1, shift),            # E
        (iy < n - 1, 1),                # N
        ((ix < n - 1) & (iy < n - 1), shift + 1),  # NE
        ((ix < n - 1) & (iy > 0), shift - 1),      # SE
    ]
    cand = None
    for guard, delta in bumps:
        b = ids.filter(guard).select(
            F.col("cell").alias("doc_a"),
            (F.col("cell") + F.lit(int(delta)).cast("long")).alias("doc_b"),
        )
        cand = b if cand is None else cand.unionByName(b)
    return cand.join(ids.select(F.col("cell").alias("doc_b")), "doc_b").select(
        "doc_a", "doc_b"
    )


def grid_dbscan(points: DataFrame, res: int, min_pts: int) -> DataFrame:
    """(gx, gy, n_pts, role, cluster): grid-DBSCAN labeling of every
    occupied cell. role in ('core', 'border', 'noise'); cluster is the
    minimum core-cell id of the component (-1 for noise)."""
    cells = _neighborhood_counts(points, res).localCheckpoint(eager=True)
    core = cells.where(F.col("nbh_cnt") >= min_pts).select("cell", "own_cnt")
    rest = cells.where(F.col("nbh_cnt") < min_pts).select("cell", "own_cnt")

    # grid adjacency graphs are long snakes (diameter tens-to-hundreds of
    # cells), the regime pointer jumping exists for — start jumping after 3
    # hop rounds instead of the LSH-clique default 6; each saved round is a
    # full synchronous superstep
    comp = duplicate_clusters(_core_adjacency8(core, res), jump_after=3).select(
        F.col("doc_id").alias("cell"), F.col("cluster_id").alias("cluster")
    )
    core_lab = core.join(comp, "cell", "left").withColumn(
        "cluster", F.coalesce(F.col("cluster"), F.col("cell"))
    )

    # border: non-core occupied cell adjacent to >= 1 core -> MIN core label
    reach = core_lab.selectExpr(
        f"explode({k_ring('cell', 1)}) AS cell",
        "cluster",
    ).groupBy("cell").agg(F.min("cluster").alias("bcluster"))
    rest_lab = rest.join(reach, "cell", "left").selectExpr(
        "cell", "own_cnt",
        "CASE WHEN bcluster IS NULL THEN 'noise' ELSE 'border' END AS role",
        "COALESCE(bcluster, -1) AS cluster",
    )

    out = core_lab.selectExpr(
        "cell", "own_cnt", "'core' AS role", "cluster"
    ).unionByName(rest_lab)
    return out.select(
        cell_ix(F.col("cell")).cast("long").alias("gx"),
        cell_iy(F.col("cell")).cast("long").alias("gy"),
        F.col("own_cnt").alias("n_pts"),
        "role",
        F.col("cluster").cast("long").alias("cluster"),
    )


def oracle_grid_dbscan_sql(
    points_sql: str, res: int, min_pts: int, pack: int
) -> str:
    """DuckDB mirror: counts -> 3x3 neighborhood sums -> core set ->
    8-adjacency transitive closure (the raster_regions RECURSIVE pattern)
    -> border min-label join. `points_sql` must yield (x, y) rows; cell
    packing is pack + ix*2^29 + iy."""
    n = 1 << res
    # engine-shared ix/iy from x/y (the _sql_ix/_sql_iy formulas inline)
    ix = (
        f"CAST(LEAST(GREATEST(FLOOR((x - (-180.0)) / 360.0 * {float(n)}), 0),"
        f" {n - 1}) AS BIGINT)"
    )
    iy = (
        f"CAST(LEAST(GREATEST(FLOOR((y - (-90.0)) / 180.0 * {float(n)}), 0),"
        f" {n - 1}) AS BIGINT)"
    )
    return f"""
WITH RECURSIVE p AS ({points_sql}),
cnts AS MATERIALIZED (
  SELECT {ix} AS gx, {iy} AS gy, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM p GROUP BY 1, 2
),
nbh AS MATERIALIZED (
  SELECT c.gx, c.gy, c.cnt AS own_cnt, CAST(SUM(o.cnt) AS BIGINT) AS nbh_cnt
  FROM cnts c JOIN cnts o
    ON o.gx BETWEEN c.gx - 1 AND c.gx + 1
   AND o.gy BETWEEN c.gy - 1 AND c.gy + 1
  GROUP BY 1, 2, 3
),
core AS MATERIALIZED (
  SELECT gx, gy, own_cnt, CAST({pack} + gx * 536870912 + gy AS BIGINT) AS cell
  FROM nbh WHERE nbh_cnt >= {min_pts}
),
e0 AS (
  SELECT a.cell AS a, b.cell AS b FROM core a JOIN core b
    ON b.gx BETWEEN a.gx - 1 AND a.gx + 1
   AND b.gy BETWEEN a.gy - 1 AND a.gy + 1
   AND a.cell <> b.cell
),
reach AS (
  SELECT a, b FROM e0
  UNION
  SELECT r.a, e.b FROM reach r JOIN e0 e ON r.b = e.a
),
labels AS (SELECT a AS cell, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a),
core_lab AS MATERIALIZED (
  SELECT c.gx, c.gy, c.own_cnt, c.cell,
         COALESCE(l.cluster, c.cell) AS cluster
  FROM core c LEFT JOIN labels l ON l.cell = c.cell
),
rest AS (
  SELECT gx, gy, own_cnt FROM nbh WHERE nbh_cnt < {min_pts}
),
border AS (
  SELECT r.gx, r.gy, MIN(k.cluster) AS bcluster
  FROM rest r JOIN core_lab k
    ON k.gx BETWEEN r.gx - 1 AND r.gx + 1
   AND k.gy BETWEEN r.gy - 1 AND r.gy + 1
  GROUP BY 1, 2
)
SELECT gx, gy, own_cnt AS n_pts, 'core' AS role, CAST(cluster AS BIGINT) AS cluster
FROM core_lab
UNION ALL
SELECT r.gx, r.gy, r.own_cnt,
       CASE WHEN b.bcluster IS NULL THEN 'noise' ELSE 'border' END,
       CAST(COALESCE(b.bcluster, -1) AS BIGINT)
FROM rest r LEFT JOIN border b ON r.gx = b.gx AND r.gy = b.gy
"""
