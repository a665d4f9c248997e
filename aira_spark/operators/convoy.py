"""Convoy / co-movement detection — the trajectory-mining pattern the
same-bucket `co_location_pairs` census cannot express: two entities
travelling TOGETHER, i.e. within distance `d` of each other in at least
`k` CONSECUTIVE time buckets (Jeung et al., "Discovery of Convoys in
Trajectory Databases", VLDB 2008 — simplified to pairs, which is the
join-shaped kernel; larger convoys are connected components over the
pair graph, which `dedup.connected_components` already provides).

Exact integers end-to-end: positions are integer microdegrees (the
synthetic ping formula is integral by construction), the proximity
predicate is an integer squared-distance compare, time buckets are
integer epoch divisions, and the consecutive-run analysis is the
gaps-and-islands identity

    island(b) = b - ROW_NUMBER() over buckets sorted ascending

(consecutive buckets share an island id), so the census is a pure
function of the event set at any parallelism.

Scale shape (100 TB): one representative ping per (user, bucket) first —
a burst of pings inside a bucket collapses before anything is joined.
The candidate join is an equi-join on (grid cell, bucket) where the grid
pitch EQUALS `d` and the left side emits its 3x3 cell neighbourhood:
every true pair matches on exactly one (cell_b, bucket) key — no
post-join dedup exchange (`skew.grid_pairs`) — and work is sum over
buckets of occupied-cell products, never global pairs. A (cell, bucket)
group holding more than max_cell_users users raises a KeyBoundError
before the join is scheduled (`skew.key_bound`, the guard
co_location_pairs shares). Only (user, bucket, ix, iy) id rows ever
shuffle; the run analysis is ONE pair-keyed exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .skew import grid_pairs


def convoy_pairs(
    pings: DataFrame,
    d: int = 40_000_000,
    bucket_s: int = 43_200,
    k: int = 2,
    max_cell_users: int = 10_000,
) -> DataFrame:
    """(user_a, user_b, n_meet, n_runs, max_run, first_bucket): user pairs
    within integer distance `d` (microdegrees, exact squared compare) in
    >= `k` consecutive `bucket_s`-second buckets.

    `pings` carries (user_id, ts, event_id, ix, iy) with ix/iy integer
    microdegree positions; the representative position per (user, bucket)
    is the lowest-event_id ping (deterministic at any parallelism).
    """
    rep = (
        pings.select(
            "user_id",
            F.expr(f"unix_timestamp(ts) DIV {bucket_s}").alias("b"),
            "event_id",
            "ix",
            "iy",
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "b").orderBy("event_id")
            ),
        )
        .filter("rn = 1")
        .select("user_id", "b", "ix", "iy")
        # pinned: consumed THREE times below (hot-cell guard probe + both
        # join sides) — without the pin each consumer re-runs the
        # row_number window over ALL pings (SURVEY §8 rule #4); the
        # pinned state is one row per (user, bucket), already reduced
        .localCheckpoint(eager=True)
    )
    meets = grid_pairs(
        rep, d, "user_id", keys=("b",), bound=max_cell_users,
        op="convoy_pairs", param="max_cell_users",
        hint="the candidate join would be quadratic in it — use a finer "
        "pitch for hot areas",
    ).where(f"d2 <= CAST({d} AS BIGINT) * {d}").selectExpr(
        "user_id_a AS user_a", "user_id_b AS user_b", "b"
    )
    wp = Window.partitionBy("user_a", "user_b").orderBy("b")
    runs = (
        meets.withColumn("isl", F.col("b") - F.row_number().over(wp))
        .groupBy("user_a", "user_b", "isl")
        .agg(F.count("*").alias("run_len"), F.min("b").alias("run_start"))
    )
    return (
        runs.groupBy("user_a", "user_b")
        .agg(
            F.sum("run_len").cast("long").alias("n_meet"),
            F.count("*").cast("long").alias("n_runs"),
            F.max("run_len").cast("long").alias("max_run"),
            F.min("run_start").cast("long").alias("first_bucket"),
        )
        .filter(F.col("max_run") >= k)
        .selectExpr(
            "CAST(user_a AS BIGINT) AS user_a",
            "CAST(user_b AS BIGINT) AS user_b",
            "n_meet", "n_runs", "max_run", "first_bucket",
        )
    )


def oracle_convoy_sql(
    pings_cte: str,
    d: int = 40_000_000,
    bucket_s: int = 43_200,
    k: int = 2,
) -> str:
    """DuckDB mirror over a WITH prefix ending in
    pings(user_id, ts, event_id, ix, iy) — brute-force same-bucket pair
    join (no grid prefilter: independence of method is the point), same
    integer predicate and gaps-and-islands run census."""
    return f"""{pings_cte},
rep AS (
  SELECT user_id, b, ix, iy FROM (
    SELECT user_id,
      CAST(floor(epoch(ts)) AS BIGINT) // {bucket_s} AS b,
      ix, iy,
      ROW_NUMBER() OVER (
        PARTITION BY user_id, CAST(floor(epoch(ts)) AS BIGINT) // {bucket_s}
        ORDER BY event_id) AS rn
    FROM pings
  ) WHERE rn = 1
),
meets AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.b AS b
  FROM rep a JOIN rep b
    ON a.b = b.b AND a.user_id < b.user_id
  WHERE (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy)
        <= CAST({d} AS BIGINT) * {d}
),
runs AS (
  SELECT user_a, user_b,
    b - ROW_NUMBER() OVER (PARTITION BY user_a, user_b ORDER BY b) AS isl,
    b
  FROM meets
),
rcensus AS (
  SELECT user_a, user_b, isl,
    COUNT(*) AS run_len, MIN(b) AS run_start
  FROM runs GROUP BY 1, 2, 3
)
SELECT CAST(user_a AS BIGINT) AS user_a, CAST(user_b AS BIGINT) AS user_b,
  CAST(SUM(run_len) AS BIGINT) AS n_meet,
  CAST(COUNT(*) AS BIGINT) AS n_runs,
  CAST(MAX(run_len) AS BIGINT) AS max_run,
  CAST(MIN(run_start) AS BIGINT) AS first_bucket
FROM rcensus GROUP BY 1, 2
HAVING MAX(run_len) >= {k}
"""
