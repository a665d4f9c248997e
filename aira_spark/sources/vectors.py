"""Deterministic vector-side tables (points, polygons) for spatial joins.

Derived in closed form from the driver's `customer` / `nation` tables so the
DuckDB oracle can reproduce every coordinate with the *same SQL expression
text* that the Spark side evaluates (shared snippets below — one source of
truth, zero drift). Points include deliberate hot-spot clusters to exercise
salting (FIXTURES.md §4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .tables import read_table

# --- shared SQL snippets (valid in both Spark SQL and DuckDB) ---

# ~1/3 of points cluster near polygon centers (PIP hits), c_custkey%5==0 form a
# single hot cell (skew), the rest are uniform over the world rectangle.
POINT_X_SQL = (
    "CASE WHEN c_custkey % 5 = 0 THEN 12.3 + CAST(c_custkey % 97 AS DOUBLE) / 1000.0 "
    "WHEN c_custkey % 3 = 1 THEN "
    "  (CAST((c_custkey % 25) * 7919 % 300 AS DOUBLE) - 150.0 + 0.5) "
    "  + CAST((c_custkey * 7) % 80 AS DOUBLE) / 10.0 - 4.0 "
    "ELSE CAST((c_custkey * 2654435761) % 350000000 AS DOUBLE) / 1000000.0 - 178.0 END"
)
POINT_Y_SQL = (
    "CASE WHEN c_custkey % 5 = 0 THEN 45.6 + CAST(c_custkey % 89 AS DOUBLE) / 1000.0 "
    "WHEN c_custkey % 3 = 1 THEN "
    "  (CAST((c_custkey % 25) * 104729 % 150 AS DOUBLE) - 75.0 + 0.25) "
    "  + CAST((c_custkey * 11) % 80 AS DOUBLE) / 10.0 - 4.0 "
    "ELSE CAST((c_custkey * 1013904223) % 170000000 AS DOUBLE) / 1000000.0 - 86.0 END"
)

# polygon center / per-vertex radius, parameterized by the key column name
def poly_cx_sql(key: str = "n_nationkey") -> str:
    return f"(CAST({key} * 7919 % 300 AS DOUBLE) - 150.0 + 0.5)"


def poly_cy_sql(key: str = "n_nationkey") -> str:
    return f"(CAST({key} * 104729 % 150 AS DOUBLE) - 75.0 + 0.25)"


def poly_rv_sql(key: str, t: int) -> str:
    return f"(2.0 + CAST(({key} * 13 + {t} * 7) % 10 AS DOUBLE) / 5.0)"


# octagon unit directions (literal doubles — bit-identical in both engines);
# varying per-vertex radius makes some rings concave (star polygons)
DIRS = [
    (1.0, 0.0),
    (0.7, 0.7),
    (0.0, 1.0),
    (-0.7, 0.7),
    (-1.0, 0.0),
    (-0.7, -0.7),
    (0.0, -1.0),
    (0.7, -0.7),
]


def points_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_id long, x double, y double) from customer."""
    return (
        read_table(spark, sf_dir, "customer")
        .selectExpr(
            "c_custkey AS point_id",
            f"{POINT_X_SQL} AS x",
            f"{POINT_Y_SQL} AS y",
        )
    )


def points_oracle_sql() -> str:
    return (
        "SELECT c_custkey AS point_id, "
        f"{POINT_X_SQL} AS x, {POINT_Y_SQL} AS y FROM customer"
    )


def polygons_table(
    spark: SparkSession,
    sf_dir: str,
    table: str = "nation",
    key: str = "n_nationkey",
) -> DataFrame:
    """(poly_id string, ring array<struct<x,y>>, category string) — star
    octagons synthesized from any integer-keyed table (nation by default;
    pass table/key for a second, independent zone family — same vertex
    arithmetic as polygon_edges_oracle_sql(key, table)).

    ring is closed (vertex 0 repeated at the end)."""
    nation = read_table(spark, sf_dir, table)
    verts = []
    for t, (dx, dy) in enumerate(DIRS):
        vx = F.expr(f"{poly_cx_sql(key)} + {poly_rv_sql(key, t)} * {dx!r}")
        vy = F.expr(f"{poly_cy_sql(key)} + {poly_rv_sql(key, t)} * {dy!r}")
        verts.append(F.struct(vx.alias("x"), vy.alias("y")))
    verts.append(verts[0])
    return nation.select(
        F.concat(F.lit("poly"), F.col(key).cast("string")).alias("poly_id"),
        F.array(*verts).alias("ring"),
        F.concat(F.lit("cat"), (F.col(key) % 3).cast("string")).alias("category"),
    )


def polygon_edges_oracle_sql(key: str = "n_nationkey", table: str = "nation") -> str:
    """DuckDB CTE text producing one row per polygon edge:
    (poly_id, category, ax, ay, bx, by) — same vertex arithmetic as Spark."""
    rows = []
    for t in range(8):
        t2 = (t + 1) % 8
        ax = f"{poly_cx_sql(key)} + {poly_rv_sql(key, t)} * {DIRS[t][0]!r}"
        ay = f"{poly_cy_sql(key)} + {poly_rv_sql(key, t)} * {DIRS[t][1]!r}"
        bx = f"{poly_cx_sql(key)} + {poly_rv_sql(key, t2)} * {DIRS[t2][0]!r}"
        by = f"{poly_cy_sql(key)} + {poly_rv_sql(key, t2)} * {DIRS[t2][1]!r}"
        rows.append(
            f"SELECT 'poly' || CAST({key} AS VARCHAR) AS poly_id, "
            f"'cat' || CAST({key} % 3 AS VARCHAR) AS category, "
            f"{ax} AS ax, {ay} AS ay, {bx} AS bx, {by} AS by FROM {table}"
        )
    return " UNION ALL ".join(rows)
