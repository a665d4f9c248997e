"""Terrain classification census: aspect (8 compass octants) and slope
class from the central-difference gradient — map-algebra hillshade's two
inputs, kept EXACT.

GIS aspect is conventionally atan2(gy, gx) quantized to compass sectors;
computing the angle itself would drag libm trig into the checked output
(the r3 lesson: engine-build-sensitive doubles fail the driver gate). The
octant of a vector is decidable by INTEGER comparisons alone — sign tests
plus one |gx| vs |gy| comparison pick the 45-degree sector with zero
floating point — so aspect here is a shared CASE text over exact BIGINTs,
bit-identical in Spark and DuckDB. Slope is the exact grad2 = gx^2 + gy^2
bucketed by integer thresholds (the squared-magnitude classes; taking the
sqrt would again be cosmetic + inexact).

Scale shape: reuses focal_gradient's halo scatter-agg (pixels never
shuffle), classification is a pure projection, and the census is one tiny
aggregation over <= 9 x 4 keys with map-side combine — the output is
metadata-sized no matter how many tiles feed it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions.cells import DEFAULT_RES
from .fixpoint import fixpoint
from .focal import GRAD_OFFSETS, focal_gradient
from .mosaic import PATCH_BITS, fine_grid

# 45-degree sectors with boundaries at multiples of 45 degrees:
# E=[0,45), NE=[45,90), N=[90,135), NW=[135,180), W=[180,225),
# SW=[225,270), S=[270,315), SE=[315,360); ties (boundary angles) land in
# the counter-clockwise sector by the >=/> choices below — deterministic
# and identical in both engines.
ASPECT_CASE = """CASE
  WHEN gx = 0 AND gy = 0 THEN 'flat'
  WHEN gy >= 0 AND gx > 0 AND gx > gy THEN 'E'
  WHEN gx > 0 AND gy > 0 AND gy >= gx THEN 'NE'
  WHEN gx <= 0 AND gy > 0 AND -gx < gy THEN 'N'
  WHEN gx < 0 AND gy > 0 AND -gx >= gy THEN 'NW'
  WHEN gy <= 0 AND gx < 0 AND -gx > -gy THEN 'W'
  WHEN gx < 0 AND gy < 0 AND -gy >= -gx THEN 'SW'
  WHEN gx >= 0 AND gy < 0 AND gx < -gy THEN 'S'
  ELSE 'SE' END"""

SLOPE_CASE = """CASE
  WHEN grad2 = 0 THEN 'level'
  WHEN grad2 < 1024 THEN 'gentle'
  WHEN grad2 < 16384 THEN 'moderate'
  ELSE 'steep' END"""


def terrain_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(aspect, slope_class, n_cells, sum_grad2): census of the gradient
    field over all fully-stenciled fine-grid cells."""
    from pyspark.sql import functions as F

    g = focal_gradient(images, res)
    return (
        g.selectExpr(
            f"{ASPECT_CASE} AS aspect", f"{SLOPE_CASE} AS slope_class",
            "grad2",
        )
        .groupBy("aspect", "slope_class")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("grad2").cast("long").alias("sum_grad2"),
        )
    )


def oracle_terrain_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror over a WITH clause ending in fine(fx, fy, val):
    gradient scatter (GRAD_OFFSETS, scatter weights negated exactly as
    focal.focal_gradient does), then the shared classification text."""
    nf = 1 << (res + PATCH_BITS)
    offs = ", ".join(
        f"({dx},{dy},{-wx},{-wy})"
        for (dx, dy), (wx, wy) in GRAD_OFFSETS.items()
    )
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         o.wx * val AS cx, o.wy * val AS cy,
         (o.dx = 0 AND o.dy = 0) AS is_center
  FROM fine, (VALUES {offs}) AS o(dx, dy, wx, wy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
grad AS (
  SELECT CAST(SUM(cx) AS BIGINT) AS gx, CAST(SUM(cy) AS BIGINT) AS gy,
    CAST(SUM(cx) * SUM(cx) + SUM(cy) * SUM(cy) AS BIGINT) AS grad2
  FROM sc GROUP BY tx, ty HAVING bool_or(is_center) AND COUNT(*) = 5
)
SELECT {ASPECT_CASE} AS aspect, {SLOPE_CASE} AS slope_class,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(grad2) AS BIGINT) AS sum_grad2
FROM grad GROUP BY 1, 2"""


def flow_direction(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(fx, fy, val, flow_dir, drop_val): D8 steepest-descent flow direction
    over the mosaic fine grid — the hydrology primitive (watershed/flow-
    accumulation input) next to the aspect census.

    flow_dir is the 3x3 position code (dy+1)*3 + (dx+1) of the neighbor
    with the LOWEST value (ties -> lowest code; center code 4 is reserved),
    or -1 for pits/flats (no strictly lower neighbor). drop_val = the exact
    integer descent. Steepest descent on a unit grid = minimum neighbor
    value, so the selection is one lexicographic MIN over (nbr_val, code)
    structs folded in the SAME scatter-aggregate halo exchange as
    focal_mean — one scatter + one agg, no join, pixels never shuffle."""
    from pyspark.sql import functions as F

    from .focal import WINDOW_ARMS, scatter

    nf = 1 << (res + PATCH_BITS)
    # the scatter target sees this source at the INVERSE offset, so the
    # code stored is the source's position in the TARGET's 3x3 window
    scattered = scatter(
        fine_grid(images, res), WINDOW_ARMS, nf
    ).selectExpr("tx", "ty", "val", "(1 - o.dy) * 3 + (1 - o.dx) AS code")
    return (
        scattered.groupBy("tx", "ty")
        .agg(
            F.max(F.when(F.col("code") == 4, F.col("val"))).alias("cval"),
            F.min(
                F.when(
                    F.col("code") != 4,
                    F.struct(F.col("val").alias("nv"), F.col("code").alias("nc")),
                )
            ).alias("m"),
        )
        .where(F.col("cval").isNotNull())
        .select(
            F.col("tx").cast("long").alias("fx"),
            F.col("ty").cast("long").alias("fy"),
            F.col("cval").cast("long").alias("val"),
            F.expr(
                "CAST(CASE WHEN m IS NOT NULL AND m.nv < cval THEN m.nc "
                "ELSE -1 END AS BIGINT)"
            ).alias("flow_dir"),
            F.expr(
                "CAST(CASE WHEN m IS NOT NULL AND m.nv < cval "
                "THEN cval - m.nv ELSE 0 END AS BIGINT)"
            ).alias("drop_val"),
        )
    )


def oracle_flow_ctes(fine_cte: str, res: int) -> str:
    """CTE chain (no final SELECT) ending in flow(fx, fy, val, flow_dir,
    drop_val) — shared by the flow_dir and basins oracles."""
    nf = 1 << (res + PATCH_BITS)
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty, val,
         (1 - o.dy) * 3 + (1 - o.dx) AS code
  FROM fine, (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),(1,-1),(1,0),(1,1)) AS o(dx, dy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf} AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
ctr AS (
  SELECT tx, ty, MAX(CASE WHEN code = 4 THEN val END) AS cval
  FROM sc GROUP BY 1, 2 HAVING bool_or(code = 4)
),
best AS (
  SELECT tx, ty, val AS nv, code,
    ROW_NUMBER() OVER (PARTITION BY tx, ty ORDER BY val, code) AS rn
  FROM sc WHERE code != 4
),
flow AS (
  SELECT CAST(c.tx AS BIGINT) AS fx, CAST(c.ty AS BIGINT) AS fy,
    CAST(c.cval AS BIGINT) AS val,
    CAST(CASE WHEN b.nv < c.cval THEN b.code ELSE -1 END AS BIGINT) AS flow_dir,
    CAST(CASE WHEN b.nv < c.cval THEN c.cval - b.nv ELSE 0 END AS BIGINT) AS drop_val
  FROM ctr c LEFT JOIN best b ON b.tx = c.tx AND b.ty = c.ty AND b.rn = 1
)"""


def oracle_flow_sql(fine_cte: str, res: int) -> str:
    """DuckDB mirror over a CTE chain ending in fine(fx, fy, val)."""
    return (
        oracle_flow_ctes(fine_cte, res)
        + "\nSELECT fx, fy, val, flow_dir, drop_val FROM flow\n"
    )


BASIN_K = 1 << 30  # (fx, fy) -> single BIGINT node id; grids stay far below
# the packed node id back to its fine-grid position
NODE_FX_FY = (
    f"CAST(node DIV {BASIN_K} AS BIGINT) AS fx",
    f"CAST(node % {BASIN_K} AS BIGINT) AS fy",
)


def flow_forest(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(node, parent): the D8 flow graph as a functional forest over
    packed node ids fx*2^30+fy — each cell points at the neighbour its
    flow_dir names, pits self-loop. Eager-checkpointed: the basins,
    accumulation and Strahler rounds all read it many times."""
    return flow_direction(images, res).selectExpr(
        f"fx * {BASIN_K} + fy AS node",
        # decode the 3x3 code back to the neighbor offset; pits self-loop
        f"CASE WHEN flow_dir = -1 THEN fx * {BASIN_K} + fy "
        f"ELSE (fx + flow_dir % 3 - 1) * {BASIN_K} + (fy + flow_dir DIV 3 - 1) "
        "END AS parent",
    ).localCheckpoint(eager=True)


def oracle_flow_forest_cte(name: str) -> str:
    """DuckDB mirror of flow_forest: the CTE `name`(node, parent) over the
    flow CTE of oracle_flow_ctes."""
    return f"""{name} AS (
  SELECT fx * {BASIN_K} + fy AS node,
    CASE WHEN flow_dir = -1 THEN fx * {BASIN_K} + fy
    ELSE (fx + flow_dir % 3 - 1) * {BASIN_K} + (fy + flow_dir // 3 - 1)
    END AS parent
  FROM flow
)"""


def drainage_basins(
    images: DataFrame, res: int = DEFAULT_RES, max_rounds: int = 40,
) -> DataFrame:
    """(fx, fy, basin, basin_size): every fine-grid position labeled with
    the PIT its steepest-descent path terminates at (basin = the pit's
    packed node id fx*2^30+fy), plus the basin's cell count — watershed
    delineation, the hydrology payoff of flow_direction.

    The flow graph is a FUNCTIONAL FOREST (each node one parent, strictly
    decreasing value, so no cycles); root-finding is POINTER DOUBLING:
    each round parent := parent(parent), doubling the compressed distance,
    so rounds are ceil(log2(longest path)) — the classic O(log n)
    find-roots for functional graphs as DataFrame self-joins on integer
    ids. Each round shuffles (node, parent) pairs only, localCheckpointed
    (the plan references the table twice per round); convergence = a round
    that changes nothing, counted inside that round's checkpoint job
    (fixpoint's "zero" rule over `count_if(parent != old)`). max_rounds is
    a loud guard: path length > 2^rounds is impossible on a real grid."""
    from pyspark.sql import functions as F

    def double(p: DataFrame, _rnd: int) -> DataFrame:
        q = p.selectExpr("node AS qnode", "parent AS qparent")
        return p.join(q, p["parent"] == q["qnode"]).selectExpr(
            "node", "qparent AS parent", "parent AS old"
        )

    p = fixpoint(
        flow_forest(images, res), double,
        "count_if(parent != old)", max_rounds=max_rounds,
        name="drainage_basins", until="zero",
    ).select("node", "parent")
    sizes = p.groupBy("parent").agg(F.count("*").cast("long").alias("basin_size"))
    return (
        p.join(sizes, "parent")
        .selectExpr(
            *NODE_FX_FY,
            "CAST(parent AS BIGINT) AS basin",
            "basin_size",
        )
    )


def oracle_basins_sql(fine_cte: str, res: int) -> str:
    """DuckDB mirror: parent pointers from the shared flow chain, then a
    RECURSIVE walk to each node's root — an independent (linear, not
    doubling) formulation."""
    return f"""
WITH RECURSIVE {oracle_flow_ctes(fine_cte, res)},
{oracle_flow_forest_cte("p")},
roots AS (SELECT node FROM p WHERE parent = node),
walk(node, cur) AS (
  SELECT node, parent FROM p
  UNION
  SELECT w.node, p2.parent FROM walk w JOIN p p2 ON p2.node = w.cur
  WHERE p2.parent != w.cur
),
basin AS (
  SELECT w.node, w.cur AS basin FROM walk w WHERE w.cur IN (SELECT node FROM roots)
),
sizes AS (SELECT basin, CAST(COUNT(*) AS BIGINT) AS basin_size FROM basin GROUP BY 1)
SELECT CAST(b.node // {BASIN_K} AS BIGINT) AS fx,
  CAST(b.node % {BASIN_K} AS BIGINT) AS fy,
  CAST(b.basin AS BIGINT) AS basin, s.basin_size
FROM basin b JOIN sizes s ON s.basin = b.basin
"""


def flow_accumulation(
    images: DataFrame, res: int = DEFAULT_RES, max_rounds: int = 64,
) -> DataFrame:
    """(fx, fy, acc): D8 flow accumulation — for every fine-grid cell the
    number of cells (ITSELF included, so acc >= 1) whose steepest-descent
    path passes through it. The contributing-area raster that turns
    flow_direction into stream networks (cells with high acc ARE the
    rivers); the third hydrology stage after flow_dir and basins.

    The flow graph is the same functional forest as drainage_basins
    (child -> parent edges, strictly decreasing value, pits self-loop), and
    acc(v) is exactly the size of v's subtree under the child->parent
    orientation. Computed by the monotone Jacobi iteration

        acc_0(v) = 1;  acc_{i+1}(v) = 1 + sum_{parent(u)=v, u != v} acc_i(u)

    which converges to the subtree sizes after exactly height(forest)
    rounds. acc_i is per-node non-decreasing and bounded by the fixpoint,
    so SUM(acc) over all nodes strictly increases until convergence — the
    stopping probe is ONE cheap single-row aggregate per round, no diff
    join (cf. drainage_basins' changed-count probe), and it is read inside
    the round's own checkpoint job (fixpoint's "repeat" rule). Descent
    height is bounded by the number of distinct values on a descending
    path (<= 256 on byte-valued mosaics) and is far smaller on real
    terrain; max_rounds is a loud guard, never a silent truncation.

    Scale shape per round: one equi-join of (node, acc) BIGINT pairs
    against the static edge table + one hash agg on parent (map-side
    combine) — the PageRank round shape; pixel values never re-enter the
    loop and each round localCheckpoints to keep lineage flat.
    """
    from pyspark.sql import functions as F

    p = flow_forest(images, res)
    edges = p.where("parent != node").selectExpr(
        "node AS child", "parent"
    ).localCheckpoint(eager=True)
    nodes = p.select("node")
    # SPARSE rounds (the pagerank_fixed device): the dense acc of ANY node
    # is 1 + inflow with inflow = 0 when absent, so the per-round zero-fill
    # join against the node set folds into the edge-side left join, and the
    # monotone stopping probe reads SUM(s) on the sparse side (dense total
    # = n_nodes + sparse total; a constant offset never changes the round
    # at which the total repeats).
    acc_sql = "CAST(1 + coalesce(s, 0) AS BIGINT)"

    def jacobi(inflow: DataFrame | None, _rnd: int) -> DataFrame:
        if inflow is None:
            child_acc = edges.selectExpr("parent", "CAST(1 AS BIGINT) AS a")
        else:
            child_acc = edges.join(
                inflow.withColumnRenamed("parent", "child"), "child", "left"
            ).selectExpr("parent", f"{acc_sql} AS a")
        return child_acc.groupBy("parent").agg(F.sum("a").cast("long").alias("s"))

    inflow = fixpoint(
        None, jacobi, "sum(s)", max_rounds=max_rounds,
        name="flow_accumulation", until="repeat",
    )
    acc = nodes.join(
        inflow.withColumnRenamed("parent", "node"), "node", "left"
    ).selectExpr("node", f"{acc_sql} AS acc")
    return acc.selectExpr(*NODE_FX_FY, "CAST(acc AS BIGINT) AS acc")


def oracle_flow_acc_sql(fine_cte: str, res: int) -> str:
    """DuckDB mirror, independently formulated: enumerate every (cell,
    cell-on-its-descent-path) pair with a RECURSIVE walk seeded at (node,
    node) — acc(v) is then a plain COUNT per path cell, not a subtree
    recursion, so an agreement is evidence for the Jacobi fixpoint."""
    return f"""
WITH RECURSIVE {oracle_flow_ctes(fine_cte, res)},
{oracle_flow_forest_cte("p")},
paths(u, cur) AS (
  SELECT node, node FROM p
  UNION
  SELECT w.u, p2.parent FROM paths w JOIN p p2 ON p2.node = w.cur
  WHERE p2.parent != w.cur
)
SELECT CAST(cur // {BASIN_K} AS BIGINT) AS fx,
  CAST(cur % {BASIN_K} AS BIGINT) AS fy,
  CAST(COUNT(*) AS BIGINT) AS acc
FROM paths GROUP BY 1, 2
"""


# Lambertian hillshade bands. Light vector L points TOWARD the source at
# azimuth 315 deg (NW: -x, +y) with integer components; surface normal
# N = (-gx, -gy, NZ) from the central-difference gradient with the
# z-exaggeration baked into NZ. shade = cos(angle(N, L)) = N.L/(|N||L|);
# computing it would need sqrt, so the BANDS are decided by exact integer
# cross-multiplied squares instead (the cell_anomalies device):
#   shadow:  N.L <= 0                     (facing away from the light)
#   dim:     0 < shade < 1/2    <=>  4*num^2 <  |N|^2*|L|^2
#   lit:     1/2 <= shade < s3/2 <=> 4*num^2 < 3*|N|^2*|L|^2
#   bright:  shade >= sqrt(3)/2
# num = gx*LX_NEG - gy*LY + NZ*LZ with LX_NEG = -LX folded in (N = -g).
HS_LX, HS_LY, HS_LZ = -1, 1, 2  # azimuth 315 deg, elevation atan(2/sqrt(2))
HS_NZ = 8  # z-exaggeration: flat terrain lands 'lit' (cos ~ 0.816)
HS_L2 = HS_LX * HS_LX + HS_LY * HS_LY + HS_LZ * HS_LZ

HILLSHADE_CASE = f"""CASE
  WHEN num <= 0 THEN 'shadow'
  WHEN 4 * num * num < (grad2 + {HS_NZ * HS_NZ}) * {HS_L2} THEN 'dim'
  WHEN 4 * num * num < 3 * (grad2 + {HS_NZ * HS_NZ}) * {HS_L2} THEN 'lit'
  ELSE 'bright' END"""

HS_NUM = (
    f"CAST({-HS_LX} AS BIGINT) * gx + CAST({-HS_LY} AS BIGINT) * gy"
    f" + CAST({HS_NZ * HS_LZ} AS BIGINT)"
)


def hillshade_census(images: DataFrame, res: int = DEFAULT_RES) -> DataFrame:
    """(shade_band, n_cells, sum_num): Lambertian hillshade banding census
    over all fully-stenciled fine-grid cells — GDAL `hillshade` parity
    without a single float: the band of cos(N, L) is decided by exact
    cross-multiplied integer squares (no sqrt, no division, no libm in
    the checked output), and sum_num carries the exact unnormalized
    illumination numerator so a wrong gradient can't hide in the bands.

    Same scale shape as terrain_census: rides focal_gradient's halo
    scatter-agg (pixels never shuffle), banding is a pure projection, and
    the census is one map-side-combined agg over <= 4 keys."""
    from pyspark.sql import functions as F

    g = focal_gradient(images, res)
    return (
        g.selectExpr(f"{HS_NUM} AS num", "grad2")
        .selectExpr(f"{HILLSHADE_CASE} AS shade_band", "num")
        .groupBy("shade_band")
        .agg(
            F.count("*").cast("long").alias("n_cells"),
            F.sum("num").cast("long").alias("sum_num"),
        )
    )


def oracle_hillshade_sql(fine_cte: str, res: int = DEFAULT_RES) -> str:
    """DuckDB mirror: the focal_gradient scatter (as oracle_terrain_sql)
    then the SAME shared numerator + banding CASE text."""
    nf = 1 << (res + PATCH_BITS)
    from .focal import GRAD_OFFSETS

    offs = ", ".join(
        f"({dx},{dy},{-wx},{-wy})"
        for (dx, dy), (wx, wy) in GRAD_OFFSETS.items()
    )
    return f"""{fine_cte},
sc AS (
  SELECT fx + o.dx AS tx, fy + o.dy AS ty,
         o.wx * val AS cx, o.wy * val AS cy,
         (o.dx = 0 AND o.dy = 0) AS is_center
  FROM fine, (VALUES {offs}) AS o(dx, dy, wx, wy)
  WHERE fx + o.dx >= 0 AND fx + o.dx < {nf}
    AND fy + o.dy >= 0 AND fy + o.dy < {nf}
),
grad AS (
  SELECT CAST(SUM(cx) AS BIGINT) AS gx, CAST(SUM(cy) AS BIGINT) AS gy,
    CAST(SUM(cx) * SUM(cx) + SUM(cy) * SUM(cy) AS BIGINT) AS grad2
  FROM sc GROUP BY tx, ty HAVING bool_or(is_center) AND COUNT(*) = 5
),
hs AS (SELECT {HS_NUM} AS num, grad2 FROM grad)
SELECT {HILLSHADE_CASE} AS shade_band,
  CAST(COUNT(*) AS BIGINT) AS n_cells,
  CAST(SUM(num) AS BIGINT) AS sum_num
FROM hs GROUP BY 1"""


# 8 compass rays (4 cardinal + 4 diagonal) for the line-of-sight scan.
VS_DIRS = [(1, 0), (-1, 0), (0, 1), (0, -1), (1, 1), (1, -1), (-1, 1), (-1, -1)]


def viewshed(
    images: DataFrame,
    res: int = DEFAULT_RES,
    radius: int = 6,
    lattice: int = 4,
) -> DataFrame:
    """(ox, oy, z_obs, n_tgt, n_vis): 8-ray line-of-sight viewshed census
    per observer — the classic terrain visibility question ("how much of
    the surrounding relief can this point see"), restricted to the 8
    compass rays so every sightline lies on exact lattice points (the
    R8 analog of flow_direction's D8).

    A target at step k along a ray is VISIBLE iff no nearer cell on the
    same ray subtends an equal-or-greater elevation angle:

        visible(k)  <=>  for all present j < k:
                         (z_j - z_o) * k < (z_k - z_o) * j

    — the cross-multiplied slope comparison, exact in BIGINT (|z| <= 255,
    k <= radius), no division, no trig. Grazing sightlines (equality)
    BLOCK, and absent cells (grid holes) are transparent — both stated
    conventions, identical in the two engines. The nearest present cell
    on each ray is always visible, so n_vis >= 1 wherever n_tgt >= 1;
    observers whose rays hit no present cell emit no row.

    Scale shape: observers are the 1/lattice^2 modular sublattice of the
    mosaic fine grid; each scatters 8*radius candidate coordinates (a
    bounded explode) into ONE equi-join against the fine grid, and the
    blocker test is an equi-keyed ANTI self-join whose per-ray quadratic
    is hard-bounded by radius^2. Pixels never enter an exchange (the
    mosaic ships per-image subcell partials only), and no stage's width
    depends on corpus size."""
    from pyspark.sql import functions as F

    nf = 1 << (res + PATCH_BITS)
    # the fine grid feeds FOUR subtrees (observers, targets, both anti-join
    # arms); localCheckpoint pins the one decode pass instead of replaying
    # the Arrow decode per subtree (the flow_accumulation device) — the
    # grid is bounded by the cell resolution, never by corpus size
    fine = fine_grid(images, res).localCheckpoint(eager=True)
    obs = fine.where(
        (F.col("fx") % lattice == 0) & (F.col("fy") % lattice == 0)
    ).select(
        F.col("fx").alias("ox"), F.col("fy").alias("oy"),
        F.col("val").alias("zo"),
    )
    arms = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy}, 'k', {k})"
        for dx, dy in VS_DIRS
        for k in range(1, radius + 1)
    )
    rays = obs.select(
        "ox", "oy", "zo", F.expr(f"explode(array({arms})) AS a")
    ).select(
        "ox", "oy", "zo",
        F.col("a.dx").alias("dx"), F.col("a.dy").alias("dy"),
        F.col("a.k").cast("long").alias("k"),
        (F.col("ox") + F.col("a.dx") * F.col("a.k")).alias("tx"),
        (F.col("oy") + F.col("a.dy") * F.col("a.k")).alias("ty"),
    ).where(
        (F.col("tx") >= 0) & (F.col("tx") < nf)
        & (F.col("ty") >= 0) & (F.col("ty") < nf)
    )
    tgt = fine.select(
        F.col("fx").alias("tx"), F.col("fy").alias("ty"),
        F.col("val").alias("z"),
    )
    cand = rays.join(tgt, ["tx", "ty"]).select(
        "ox", "oy", "zo", "dx", "dy", "k", "z"
    )
    c1, c2 = cand.alias("c1"), cand.alias("c2")
    blocked = (
        (F.col("c1.ox") == F.col("c2.ox"))
        & (F.col("c1.oy") == F.col("c2.oy"))
        & (F.col("c1.dx") == F.col("c2.dx"))
        & (F.col("c1.dy") == F.col("c2.dy"))
        & (F.col("c2.k") < F.col("c1.k"))
        & (
            (F.col("c2.z") - F.col("c1.zo")) * F.col("c1.k")
            >= (F.col("c1.z") - F.col("c1.zo")) * F.col("c2.k")
        )
    )
    vis = c1.join(c2, blocked, "left_anti")
    n_tgt = cand.groupBy("ox", "oy").agg(
        F.min("zo").cast("long").alias("z_obs"),
        F.count("*").cast("long").alias("n_tgt"),
    )
    n_vis = vis.groupBy("ox", "oy").agg(
        F.count("*").cast("long").alias("n_vis")
    )
    return n_tgt.join(n_vis, ["ox", "oy"]).select(
        F.col("ox").cast("long").alias("ox"),
        F.col("oy").cast("long").alias("oy"),
        "z_obs", "n_tgt", "n_vis",
    )


def oracle_viewshed_sql(
    fine_cte: str, res: int = DEFAULT_RES, radius: int = 6, lattice: int = 4,
) -> str:
    """DuckDB mirror over the fine(fx, fy, val) CTE: identical observer
    sublattice, ray explode, cross-multiplied blocker NOT EXISTS."""
    nf = 1 << (res + PATCH_BITS)
    dirs = ", ".join(f"({dx}, {dy})" for dx, dy in VS_DIRS)
    return f"""{fine_cte},
obs AS (
  SELECT fx AS ox, fy AS oy, val AS zo FROM fine
  WHERE fx % {lattice} = 0 AND fy % {lattice} = 0
),
cand AS (
  SELECT o.ox, o.oy, o.zo, d.dx, d.dy, CAST(s.k AS BIGINT) AS k, f.val AS z
  FROM obs o,
       (VALUES {dirs}) AS d(dx, dy),
       (SELECT unnest(generate_series(1, {radius})) AS k) s,
       fine f
  WHERE f.fx = o.ox + d.dx * s.k AND f.fy = o.oy + d.dy * s.k
    AND o.ox + d.dx * s.k >= 0 AND o.ox + d.dx * s.k < {nf}
    AND o.oy + d.dy * s.k >= 0 AND o.oy + d.dy * s.k < {nf}
),
vis AS (
  SELECT * FROM cand c1
  WHERE NOT EXISTS (
    SELECT 1 FROM cand c2
    WHERE c2.ox = c1.ox AND c2.oy = c1.oy
      AND c2.dx = c1.dx AND c2.dy = c1.dy AND c2.k < c1.k
      AND (c2.z - c1.zo) * c1.k >= (c1.z - c1.zo) * c2.k
  )
)
SELECT CAST(a.ox AS BIGINT) AS ox, CAST(a.oy AS BIGINT) AS oy,
       a.z_obs, a.n_tgt, b.n_vis
FROM (SELECT ox, oy, CAST(MIN(zo) AS BIGINT) AS z_obs,
             CAST(COUNT(*) AS BIGINT) AS n_tgt
      FROM cand GROUP BY 1, 2) a
JOIN (SELECT ox, oy, CAST(COUNT(*) AS BIGINT) AS n_vis
      FROM vis GROUP BY 1, 2) b
ON a.ox = b.ox AND a.oy = b.oy"""


def strahler_order(
    images: DataFrame, res: int = DEFAULT_RES, max_rounds: int = 64,
) -> DataFrame:
    """(fx, fy, strahler): Horton-Strahler stream order of every cell of
    the D8 flow forest — the hydrology network classifier (order-1 rills
    merge into order-2 brooks merge into order-3 streams...), the fourth
    stage after flow_dir / basins / flow_acc.

    Strahler's bottom-up rule — order = max child order, +1 when >= 2
    children attain that max; leaves are 1 — evaluated as a MONOTONE
    Jacobi iteration from all-1s: each round recomputes every node from
    its inflows, so nodes at height h are final after h rounds and values
    only ever increase toward the least fixpoint (the flow_accumulation
    convergence argument verbatim; SUM(order), read inside each round's
    checkpoint job, is the stopping probe, max_rounds the loud guard). The
    per-round argmax "which child order is maximal and how many children
    attain it" is ONE (parent, order) count agg + ONE lexicographic
    struct-MAX — exact integers, deterministic at any parallelism.

    Scale shape per round: two narrow hash aggs over (node, order) BIGINT
    pairs against the static checkpointed edge list — the PageRank round
    shape; pixels never re-enter the loop."""
    from pyspark.sql import functions as F

    p = flow_forest(images, res)
    edges = p.where("parent != node").selectExpr(
        "node AS child", "parent"
    ).localCheckpoint(eager=True)
    nodes = p.select("node")
    # SPARSE rounds (the flow_accumulation device): the dense order of ANY
    # node is 1 when it has no child votes, else the CASE over its top
    # (o, c) struct, so the per-round zero-fill join against the node set
    # folds into the edge-side left join — only the sparse (parent, t)
    # frame carries between rounds. Every parent is a real fine-grid cell
    # (the chosen neighbor scattered its own value), so the stopping probe
    # over the sparse side (dense SUM(o) = n_nodes + Σ(case − 1)) stops at
    # the identical round.
    case_o = (
        "CAST(CASE WHEN t IS NULL THEN 1 "
        "WHEN t.c >= 2 THEN t.o + 1 ELSE t.o END AS BIGINT)"
    )

    def jacobi(top: DataFrame | None, _rnd: int) -> DataFrame:
        if top is None:
            child_ord = edges.selectExpr("parent", "CAST(1 AS BIGINT) AS o")
        else:
            child_ord = edges.join(
                top.withColumnRenamed("parent", "child"), "child", "left"
            ).selectExpr("parent", f"{case_o} AS o")
        oc = child_ord.groupBy("parent", "o").agg(F.count("*").alias("c"))
        return oc.groupBy("parent").agg(
            F.max(F.struct(F.col("o").alias("o"), F.col("c").alias("c")))
            .alias("t")
        )

    top = fixpoint(
        None, jacobi, "sum(CASE WHEN t.c >= 2 THEN t.o + 1 ELSE t.o END - 1)",
        max_rounds=max_rounds, name="strahler_order", until="repeat",
    )
    ordd = nodes.join(
        top.withColumnRenamed("parent", "node"), "node", "left"
    ).selectExpr("node", f"{case_o} AS o")
    return ordd.selectExpr(*NODE_FX_FY, "CAST(o AS BIGINT) AS strahler")


def oracle_strahler_sql(fine_cte: str, res: int, rounds: int = 8) -> str:
    """DuckDB mirror: the same Jacobi rounds UNROLLED (the k_core device);
    `rounds` must be >= the forest height at the checked scale (height 5
    at the driver's sf0.01 slice — 8 leaves margin; past the fixpoint
    every further round is a no-op, so over-unrolling is harmless)."""
    parts = [f"""{oracle_flow_ctes(fine_cte, res)},
{oracle_flow_forest_cte("par")},
e AS (SELECT node AS child, parent FROM par WHERE parent != node),
o0 AS (SELECT node, CAST(1 AS BIGINT) AS o FROM par)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
oc{i} AS (
  SELECT e.parent, o.o, COUNT(*) AS c
  FROM e JOIN o{i - 1} o ON o.node = e.child GROUP BY 1, 2
),
top{i} AS (
  SELECT parent, o, c,
    ROW_NUMBER() OVER (PARTITION BY parent ORDER BY o DESC, c DESC) AS rn
  FROM oc{i}
),
o{i} AS (
  SELECT p.node,
    CAST(CASE WHEN t.o IS NULL THEN 1
         WHEN t.c >= 2 THEN t.o + 1 ELSE t.o END AS BIGINT) AS o
  FROM par p
  LEFT JOIN (SELECT * FROM top{i} WHERE rn = 1) t ON t.parent = p.node
)""")
    parts.append(f"""
SELECT CAST(node // {BASIN_K} AS BIGINT) AS fx,
       CAST(node % {BASIN_K} AS BIGINT) AS fy,
       o AS strahler
FROM o{rounds}""")
    return "".join(parts)
