"""Trajectory analytics: origin-destination (OD) flow matrix over an
event stream snapped to the cell grid.

The mobility-analysis staple: order each entity's events in time, pair
every event with its predecessor, and count transitions between grid
cells — the OD matrix feeding flow maps, demand models, and anomaly
detection. (The reference's domain stops at raster decode; this extends
the same cell index, functions/cells.py, to movement data.)

Scale shape: trajectories are ENTITY-local, so the sequence step is one
shuffle keyed on user_id (the window's partition key — each user's events
sort within a partition, no global sort), and the OD rollup is one
aggregation keyed on (from_cell, to_cell) with map-side combine. Nothing
quadratic, no self-join: LAG over the time-ordered window is the pair
generator. Hot cells only concentrate AGG rows (already-combined
partials), not raw events; a skewed hot USER would need salting the
window key by session — at that point sessionize (streaming/events.py)
is the right tool.

Exactness: cell ids are the exact integer grid pack; ordering ties are
broken by event_id (ts alone is not unique), making LAG deterministic at
any parallelism in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import key_bound


def od_flows(events: DataFrame) -> DataFrame:
    """(from_cell, to_cell, n_trips, n_users, n_moves): consecutive-event
    cell transitions per user. `events` needs (user_id, ts, event_id,
    cell). Self-loops (dwell in the same cell) are kept as rows —
    n_moves counts the strict transitions among them (0 for self-loops,
    n_trips otherwise), so both densities read from one result."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    moves = (
        events.select(
            "user_id", "cell", F.lag("cell").over(w).alias("from_cell")
        )
        .where(F.col("from_cell").isNotNull())
    )
    return (
        moves.groupBy("from_cell", F.col("cell").alias("to_cell"))
        .agg(
            F.count("*").cast("long").alias("n_trips"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
        .selectExpr(
            "from_cell", "to_cell", "n_trips", "n_users",
            "CAST(CASE WHEN from_cell = to_cell THEN 0 ELSE n_trips END"
            " AS BIGINT) AS n_moves",
        )
    )


def oracle_od_flows_sql(events_cte: str) -> str:
    """DuckDB mirror over a WITH clause ending in ev(user_id, ts,
    event_id, cell)."""
    return f"""{events_cte},
moves AS (
  SELECT user_id, cell AS to_cell,
    LAG(cell) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS from_cell
  FROM ev
)
SELECT from_cell, to_cell,
  CAST(COUNT(*) AS BIGINT) AS n_trips,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
  CAST(CASE WHEN from_cell = to_cell THEN 0 ELSE COUNT(*) END AS BIGINT)
    AS n_moves
FROM moves WHERE from_cell IS NOT NULL
GROUP BY from_cell, to_cell"""


def trajectory_lengths(events: DataFrame) -> DataFrame:
    """(user_id, n_hops, path_e4, max_hop_e4, net_e4): per-user travelled
    path statistics over the time-ordered event stream — total path length,
    longest single hop, and net (start->end) displacement, all in 1e-4-deg
    integer units.

    Exactness (the poly_metrics perimeter device, geom.py): coordinates
    floor-quantize to 1e-4 deg, each hop contributes floor(sqrt(dx^2+dy^2))
    as an INTEGER, and the per-user fold sums integers — aggregation order
    cannot shift a bit, unlike a double SUM of distances. Net displacement
    reuses first/last(ordered) over the same single window.

    Scale shape: identical to od_flows — ONE window keyed on user_id
    (entity-local sort, no global order), one hash agg; hops are
    (user, int, int) rows."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hop = "CAST(floor(sqrt(CAST(dx * dx + dy * dy AS DOUBLE))) AS BIGINT)"
    hops = (
        events.select(
            "user_id", "ts", "event_id",
            F.expr("CAST(floor(x * 10000.0) AS BIGINT)").alias("xq"),
            F.expr("CAST(floor(y * 10000.0) AS BIGINT)").alias("yq"),
        )
        .select(
            "user_id", "xq", "yq",
            (F.col("xq") - F.lag("xq").over(w)).alias("dx"),
            (F.col("yq") - F.lag("yq").over(w)).alias("dy"),
            F.first("xq").over(w).alias("x0"),
            F.first("yq").over(w).alias("y0"),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("user_id")).alias("n_ev"),
        )
    )
    return (
        hops.groupBy("user_id")
        .agg(
            F.count(F.col("dx")).cast("long").alias("n_hops"),
            F.coalesce(F.sum(F.expr(hop)), F.lit(0)).cast("long")
            .alias("path_e4"),
            F.coalesce(F.max(F.expr(hop)), F.lit(0)).cast("long")
            .alias("max_hop_e4"),
            F.max(F.when(F.col("rn") == F.col("n_ev"),
                         F.struct("xq", "yq"))).alias("last_pt"),
            F.max(F.when(F.col("rn") == 1,
                         F.struct(F.col("x0").alias("xq"),
                                  F.col("y0").alias("yq")))).alias("first_pt"),
        )
        .selectExpr(
            "CAST(user_id AS BIGINT) AS user_id", "n_hops", "path_e4",
            "max_hop_e4",
            "CAST(floor(sqrt(CAST("
            "(last_pt.xq - first_pt.xq) * (last_pt.xq - first_pt.xq) + "
            "(last_pt.yq - first_pt.yq) * (last_pt.yq - first_pt.yq)"
            " AS DOUBLE))) AS BIGINT) AS net_e4",
        )
    )


def oracle_trajectory_sql(events_sql: str) -> str:
    """DuckDB mirror over a subquery yielding (user_id, ts, event_id, x, y)."""
    hop = "CAST(floor(sqrt(CAST(dx * dx + dy * dy AS DOUBLE))) AS BIGINT)"
    return f"""
WITH ev AS (
  SELECT user_id, ts, event_id,
    CAST(floor(x * 10000.0) AS BIGINT) AS xq,
    CAST(floor(y * 10000.0) AS BIGINT) AS yq
  FROM ({events_sql})
),
hops AS (
  SELECT user_id, xq, yq,
    xq - LAG(xq) OVER w AS dx, yq - LAG(yq) OVER w AS dy,
    FIRST_VALUE(xq) OVER w AS x0, FIRST_VALUE(yq) OVER w AS y0,
    ROW_NUMBER() OVER w AS rn,
    COUNT(*) OVER (PARTITION BY user_id) AS n_ev
  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT CAST(user_id AS BIGINT) AS user_id,
  CAST(COUNT(dx) AS BIGINT) AS n_hops,
  CAST(COALESCE(SUM({hop}), 0) AS BIGINT) AS path_e4,
  CAST(COALESCE(MAX({hop}), 0) AS BIGINT) AS max_hop_e4,
  CAST(floor(sqrt(CAST(
    (MAX(CASE WHEN rn = n_ev THEN xq END) - MAX(CASE WHEN rn = 1 THEN x0 END))
      * (MAX(CASE WHEN rn = n_ev THEN xq END) - MAX(CASE WHEN rn = 1 THEN x0 END))
    + (MAX(CASE WHEN rn = n_ev THEN yq END) - MAX(CASE WHEN rn = 1 THEN y0 END))
      * (MAX(CASE WHEN rn = n_ev THEN yq END) - MAX(CASE WHEN rn = 1 THEN y0 END))
   AS DOUBLE))) AS BIGINT) AS net_e4
FROM hops GROUP BY user_id
"""


def co_location_pairs(
    events: DataFrame, min_meetings: int = 2, max_group: int = 10_000
) -> DataFrame:
    """(user_a, user_b, n_meetings, n_places): user pairs repeatedly
    present in the same (cell, hour) bucket — proximity/contact analysis,
    the entity-pair product of the trajectory family. `events` carries
    (user_id, cell, hour).

    Scale shape: presence dedups to DISTINCT (user, cell, hour) first (a
    user's burst of events in one bucket counts once), the candidate join
    is an equi-join on the (cell, hour) bucket — work is Σ_g |g|², so hot
    buckets (a stadium hour) are THE skew risk: any bucket over `max_group`
    raises loudly before the join is scheduled (the ngram/caption guard
    device; at planet scale those buckets need a finer grid or sampling,
    decided upstream, not silently here). Only (user, cell, hour) id rows
    shuffle."""
    pres = events.select("user_id", "cell", "hour").distinct()
    key_bound(
        pres, ["cell", "hour"], max_group, "co_location_pairs", "max_group",
        "the pair join would be quadratic in it — use a finer grid for hot "
        "areas",
    )
    a = pres.selectExpr("user_id AS user_a", "cell", "hour")
    b = pres.selectExpr("user_id AS user_b", "cell", "hour")
    return (
        a.join(b, ["cell", "hour"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b")
        .agg(
            F.count("*").cast("long").alias("n_meetings"),
            F.countDistinct("cell").cast("long").alias("n_places"),
        )
        .filter(F.col("n_meetings") >= min_meetings)
        .selectExpr(
            "CAST(user_a AS BIGINT) AS user_a",
            "CAST(user_b AS BIGINT) AS user_b",
            "n_meetings", "n_places",
        )
    )


def oracle_colocation_sql(events_sql: str, min_meetings: int = 2) -> str:
    """DuckDB mirror over a subquery yielding (user_id, cell, hour)."""
    return f"""
WITH pres AS (SELECT DISTINCT user_id, cell, hour FROM ({events_sql})),
pairs AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b,
    CAST(COUNT(*) AS BIGINT) AS n_meetings,
    CAST(COUNT(DISTINCT a.cell) AS BIGINT) AS n_places
  FROM pres a JOIN pres b
    ON a.cell = b.cell AND a.hour = b.hour AND a.user_id < b.user_id
  GROUP BY 1, 2
)
SELECT CAST(user_a AS BIGINT) AS user_a, CAST(user_b AS BIGINT) AS user_b,
       n_meetings, n_places
FROM pairs WHERE n_meetings >= {min_meetings}
"""


def hausdorff_join(
    pings: DataFrame, shift: int = 21, max_cell_users: int = 10_000
) -> DataFrame:
    """(user_a, user_b, n_a, n_b, h_ab, h_ba, h2): trajectory-similarity
    join — the exact SQUARED directed Hausdorff distances between every
    candidate pair of user trajectories:

        h_ab = max over a in A of  min over b in B of  d2(a, b)
        h2   = max(h_ab, h_ba)     (the symmetric Hausdorff, squared)

    `pings` carries (user_id, ix, iy) with EXACT integer coordinates
    (1e-6-degree units here); d2 = (dx^2 + dy^2) stays in BIGINT
    (|dx| <= 3.5e8 -> d2 <= 1.5e17), so every min/max fold is exact and
    order-independent — deterministic at any parallelism, bit-equal in
    both engines. No sqrt: ranking and thresholding read squared values.

    Scale shape (never all-pairs): trajectories dedupe to DISTINCT
    points, candidate pairs come from a shared-coarse-cell equi-join
    (cell = coords >> shift) with the co_location_pairs loud hot-bucket
    guard, and only candidate pairs expand to the point-pair product —
    work is Σ_pairs |A|·|B| with |A| bounded per user (a runaway device
    would cap points per trajectory upstream). The pair table BROADCASTS
    into the two ping joins; only id+coord rows ever shuffle. Directed
    maxes are two map-side-combined agg chains over the same distance
    relation."""
    # pts feeds FIVE subtrees (cells twice, both ping joins, sizes);
    # localCheckpoint pins the scan+distinct once instead of replaying it
    # per subtree — id+coord rows only, linear in the input
    pts = pings.select(
        "user_id",
        F.col("ix").cast("long").alias("ix"),
        F.col("iy").cast("long").alias("iy"),
    ).distinct().localCheckpoint(eager=True)
    cells = pts.select(
        "user_id",
        F.shiftright(F.col("ix"), shift).alias("cx"),
        F.shiftright(F.col("iy"), shift).alias("cy"),
    ).distinct()
    key_bound(
        cells, ["cx", "cy"], max_cell_users, "hausdorff_join",
        "max_cell_users",
        "the candidate join would be quadratic in it — raise `shift` "
        "resolution or pre-partition hot regions",
    )
    pairs = (
        cells.selectExpr("user_id AS user_a", "cx", "cy")
        .join(cells.selectExpr("user_id AS user_b", "cx", "cy"), ["cx", "cy"])
        .filter(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b")
        .distinct()
    )
    pa = pts.selectExpr("user_id AS user_a", "ix AS ax", "iy AS ay")
    pb = pts.selectExpr("user_id AS user_b", "ix AS bx", "iy AS by")
    d2 = (
        F.broadcast(pairs).join(pa, "user_a").join(pb, "user_b")
        .select(
            "user_a", "user_b", "ax", "ay", "bx", "by",
            (
                (F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
                + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by"))
            ).alias("d2"),
        )
    )
    h_ab = (
        d2.groupBy("user_a", "user_b", "ax", "ay")
        .agg(F.min("d2").alias("m"))
        .groupBy("user_a", "user_b")
        .agg(F.max("m").cast("long").alias("h_ab"))
    )
    h_ba = (
        d2.groupBy("user_a", "user_b", "bx", "by")
        .agg(F.min("d2").alias("m"))
        .groupBy("user_a", "user_b")
        .agg(F.max("m").cast("long").alias("h_ba"))
    )
    sizes = pts.groupBy("user_id").count()
    return (
        h_ab.join(h_ba, ["user_a", "user_b"])
        .join(
            sizes.selectExpr("user_id AS user_a", "count AS n_a"), "user_a"
        )
        .join(
            sizes.selectExpr("user_id AS user_b", "count AS n_b"), "user_b"
        )
        .selectExpr(
            "CAST(user_a AS BIGINT) AS user_a",
            "CAST(user_b AS BIGINT) AS user_b",
            "CAST(n_a AS BIGINT) AS n_a",
            "CAST(n_b AS BIGINT) AS n_b",
            "h_ab", "h_ba",
            "CAST(GREATEST(h_ab, h_ba) AS BIGINT) AS h2",
        )
    )


def oracle_hausdorff_sql(pings_cte: str, shift: int = 21) -> str:
    """DuckDB mirror over a WITH chain ending in pings(user_id, ix, iy):
    same dedup, same shared-cell candidate pairs, same exact min/max."""
    return f"""{pings_cte},
pts AS (SELECT DISTINCT user_id, CAST(ix AS BIGINT) AS ix,
               CAST(iy AS BIGINT) AS iy FROM pings),
cells AS (SELECT DISTINCT user_id, ix >> {shift} AS cx, iy >> {shift} AS cy
          FROM pts),
pairs AS (
  SELECT DISTINCT a.user_id AS user_a, b.user_id AS user_b
  FROM cells a JOIN cells b ON a.cx = b.cx AND a.cy = b.cy
  WHERE a.user_id < b.user_id
),
d2 AS (
  SELECT p.user_a, p.user_b, pa.ix AS ax, pa.iy AS ay,
         pb.ix AS bx, pb.iy AS by,
         (pa.ix - pb.ix) * (pa.ix - pb.ix)
           + (pa.iy - pb.iy) * (pa.iy - pb.iy) AS d2
  FROM pairs p
  JOIN pts pa ON pa.user_id = p.user_a
  JOIN pts pb ON pb.user_id = p.user_b
),
hab AS (
  SELECT user_a, user_b, CAST(MAX(m) AS BIGINT) AS h_ab
  FROM (SELECT user_a, user_b, ax, ay, MIN(d2) AS m
        FROM d2 GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
),
hba AS (
  SELECT user_a, user_b, CAST(MAX(m) AS BIGINT) AS h_ba
  FROM (SELECT user_a, user_b, bx, by, MIN(d2) AS m
        FROM d2 GROUP BY 1, 2, 3, 4)
  GROUP BY 1, 2
),
sz AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n FROM pts GROUP BY 1)
SELECT h1.user_a, h1.user_b, sa.n AS n_a, sb.n AS n_b, h1.h_ab, h2.h_ba,
       CAST(GREATEST(h1.h_ab, h2.h_ba) AS BIGINT) AS h2
FROM hab h1
JOIN hba h2 ON h1.user_a = h2.user_a AND h1.user_b = h2.user_b
JOIN sz sa ON sa.user_id = h1.user_a
JOIN sz sb ON sb.user_id = h1.user_b"""


def stay_points(
    pings: DataFrame, d2_max: int = 2_500_000_000_000_000, min_pings: int = 3
) -> DataFrame:
    """(user_id, stay_id, n_pings, dur_s, cx_d, cy_d): stay-point (dwell)
    detection — maximal runs of consecutive pings where every hop stays
    within sqrt(d2_max) — the GeoLife stay-point primitive feeding POI
    mining and home/work inference. `pings` carries (user_id, ts,
    event_id, ix, iy) with exact integer coordinates.

    Gaps-and-islands, kept exact: a ping OPENS a new run iff it is the
    user's first or its hop d2 = dx^2 + dy^2 exceeds d2_max (BIGINT, no
    sqrt); stay_id = running SUM of open flags over the (ts, event_id)
    order — deterministic at any parallelism (event_id breaks ts ties).
    Run centroids divide by n; they ship ONCE-divided in floor fixed
    point (cx_d = SUM(ix) DIV n — `DIV` and DuckDB `//` both truncate
    toward zero; coords are non-negative so floor == trunc), and dur_s
    is the exact whole-second span (timestamp DIFFERENCE — timezone
    cancels). Runs shorter than `min_pings` are dropped (a moving
    vehicle's singleton "stays" are noise by definition).

    Scale shape: identical to od_flows — ONE window keyed on user_id
    (entity-local sort), one hash agg keyed (user_id, stay_id) with
    map-side combine; only (user, int, int) rows shuffle. Nothing
    quadratic, no join."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = (
        pings.select(
            "user_id", "ts", "event_id", "ix", "iy",
            (F.col("ix") - F.lag("ix").over(w)).alias("dx"),
            (F.col("iy") - F.lag("iy").over(w)).alias("dy"),
        )
        .withColumn(
            "opens",
            F.when(
                F.col("dx").isNull()
                | (
                    F.col("dx") * F.col("dx") + F.col("dy") * F.col("dy")
                    > F.lit(d2_max)
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn("stay_id", F.sum("opens").over(w))
    )
    return (
        runs.groupBy("user_id", "stay_id")
        .agg(
            F.count("*").cast("long").alias("n_pings"),
            (
                F.unix_timestamp(F.max("ts"))
                - F.unix_timestamp(F.min("ts"))
            ).cast("long").alias("dur_s"),
            F.sum("ix").alias("sx"),
            F.sum("iy").alias("sy"),
        )
        .where(F.col("n_pings") >= min_pings)
        .selectExpr(
            "CAST(user_id AS BIGINT) AS user_id",
            "CAST(stay_id AS BIGINT) AS stay_id",
            "n_pings", "dur_s",
            "CAST(sx DIV n_pings AS BIGINT) AS cx_d",
            "CAST(sy DIV n_pings AS BIGINT) AS cy_d",
        )
    )


def oracle_stay_points_sql(
    pings_cte: str, d2_max: int = 2_500_000_000_000_000, min_pings: int = 3
) -> str:
    """DuckDB mirror over a WITH chain ending in pings(user_id, ts,
    event_id, ix, iy): same windows, same integer predicate."""
    return f"""{pings_cte},
hops AS (
  SELECT user_id, ts, event_id, ix, iy,
    ix - LAG(ix) OVER w AS dx, iy - LAG(iy) OVER w AS dy
  FROM pings WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
flagged AS (
  SELECT *, CASE WHEN dx IS NULL
                   OR dx * dx + dy * dy > {d2_max} THEN 1 ELSE 0 END AS opens
  FROM hops
),
runs AS (
  SELECT *, SUM(opens) OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS stay_id
  FROM flagged
)
SELECT CAST(user_id AS BIGINT) AS user_id,
  CAST(stay_id AS BIGINT) AS stay_id,
  CAST(COUNT(*) AS BIGINT) AS n_pings,
  CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS dur_s,
  CAST(SUM(ix) // COUNT(*) AS BIGINT) AS cx_d,
  CAST(SUM(iy) // COUNT(*) AS BIGINT) AS cy_d
FROM runs GROUP BY 1, 2
HAVING COUNT(*) >= {min_pings}"""


# hop-length classes by exact squared thresholds (1e-6-deg units):
# short < 10 deg, medium < 60 deg, else long
HOP_CLASS_CASE = """CASE
  WHEN d2 < 100000000000000 THEN 'short'
  WHEN d2 < 3600000000000000 THEN 'medium'
  ELSE 'long' END"""


def heading_census(pings: DataFrame) -> DataFrame:
    """(user_id, heading, hop_class, n_hops, sum_d2): 8-way compass census
    of every user's consecutive hops — the movement-direction/step-length
    distribution (anisotropy/commute-pattern signal; random walks spread
    evenly, directed travel concentrates).

    The heading octant is decided by the EXACT integer sign/magnitude
    comparisons of terrain.ASPECT_CASE (no atan2, no floats; zero-length
    hops are 'flat'), hop length classes compare exact d2 against squared
    integer thresholds, and the fold sums integers — deterministic at any
    parallelism. Shape: ONE entity-local window (the od_flows exchange) +
    one bounded hash agg (≤ users × 9 × 3 rows), map-side combined."""
    from pyspark.sql import Window

    from .terrain import ASPECT_CASE

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = (
        pings.select(
            "user_id",
            (F.col("ix") - F.lag("ix").over(w)).alias("gx"),
            (F.col("iy") - F.lag("iy").over(w)).alias("gy"),
        )
        .where(F.col("gx").isNotNull())
        .selectExpr(
            "user_id",
            f"{ASPECT_CASE} AS heading",
            "gx * gx + gy * gy AS d2",
        )
    )
    return (
        hops.selectExpr("user_id", "heading", f"{HOP_CLASS_CASE} AS hop_class", "d2")
        .groupBy("user_id", "heading", "hop_class")
        .agg(
            F.count("*").cast("long").alias("n_hops"),
            F.sum("d2").cast("long").alias("sum_d2"),
        )
        .selectExpr(
            "CAST(user_id AS BIGINT) AS user_id", "heading", "hop_class",
            "n_hops", "sum_d2",
        )
    )


def oracle_heading_sql(pings_cte: str) -> str:
    """DuckDB mirror: same window hops, the SAME octant + class CASE
    texts."""
    from .terrain import ASPECT_CASE

    return f"""{pings_cte},
hops AS (
  SELECT user_id,
    ix - LAG(ix) OVER w AS gx, iy - LAG(iy) OVER w AS gy
  FROM pings WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
hd AS (
  SELECT user_id, {ASPECT_CASE} AS heading, gx * gx + gy * gy AS d2
  FROM hops WHERE gx IS NOT NULL
)
SELECT CAST(user_id AS BIGINT) AS user_id, heading,
  {HOP_CLASS_CASE} AS hop_class,
  CAST(COUNT(*) AS BIGINT) AS n_hops,
  CAST(SUM(d2) AS BIGINT) AS sum_d2
FROM hd GROUP BY 1, 2, 3"""
