"""Spearman rank correlation per group — the monotone-association
statistic (Spearman 1904) between two metrics, i.e. Pearson r computed on
AVERAGE RANKS, the tie-correct textbook form (identical to the classic
1 - 6*Sum(d^2)/... formula only when no ties exist; the rank-Pearson form
is the one SciPy/R ship). Completes the association family: `bandcorr`
(Pearson on values), `kendall` (pair concordance) — Spearman is the
middle child: outlier-immune like tau, O(n log n)-rank cheap like r.

Exactness: the average rank of a tied block is (first + last)/2 — a
half-integer — so ranks enter DOUBLED (dx = 2*C_less + c_eq + 1, an
exact BIGINT: the mad_outliers doubled-order-statistics device). Pearson
on a column scaled by 2 is unchanged (scale cancels), so the sufficient
statistics (n, Sxy, Sxx, ...) over doubled ranks are exact BIGINTs and
rho ships floor-e6 through the ONE shared IEEE chain
`FLOOR(1e6*cov_n / SQRT(CAST(vx AS DOUBLE)*CAST(vy AS DOUBLE)))` (the
acf/kendall rule — no accumulation hazard). Invariant pinned by pytest:
sum of doubled ranks = n*(n+1) exactly, ties or not.

Overflow is GUARDED, not assumed: doubled ranks are <= 2n so
n*Sxy <= 4n^4; the operator raises loudly when a group exceeds
n = 30000 (4n^4 ~ 3.2e18, inside int64 with margin) — the escalation is
a doubles-based variant, deliberately not built until a workload needs
it.

Scale shape (100 TB): ranks come from the VALUE level, not the row
level — one map-side-combined agg to (grp, value, cnt), a cumulative
window over DISTINCT VALUES per group (state bounded by the distinct-
value count, never the row count), and an equi-join back on
(grp, value); one final hash agg per group ends it. No Python, no
row-level window."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .skew import key_bound

_RHO = (
    "CASE WHEN n >= 2 AND var_xn > 0 AND var_yn > 0 THEN "
    "FLOOR(1000000.0 * cov_n / "
    "SQRT(CAST(var_xn AS DOUBLE) * CAST(var_yn AS DOUBLE))) "
    "ELSE 0 END"
)


def _doubled_ranks(pairs: DataFrame, col: str, out: str) -> DataFrame:
    """(grp, <col>, <out>) — doubled average rank of every distinct value
    within its group: 2*C_less + c_eq + 1 via a cumsum over the sorted
    distinct-value counts."""
    w = (
        Window.partitionBy("grp")
        .orderBy(col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pairs.groupBy("grp", col)
        .agg(F.count("*").cast("long").alias("cnt"))
        .withColumn("cum", F.sum("cnt").over(w))
        .selectExpr("grp", col, f"2 * (cum - cnt) + cnt + 1 AS {out}")
    )


def spearman_rho(
    pairs: DataFrame, max_group_rows: int = 30_000
) -> DataFrame:
    """(grp, n, cov_n, var_xn, var_yn, rho_e6) from `pairs` carrying
    (grp string, id, xv bigint, yv bigint); cov/var are the exact integer
    numerators n*Sxy - Sx*Sy over DOUBLED average ranks."""
    key_bound(
        pairs, ["grp"], max_group_rows, "spearman_rho", "max_group_rows",
        "doubled-rank moments would overflow int64 — use a doubles-based "
        "variant for groups this size",
    )
    rx = _doubled_ranks(pairs, "xv", "dx")
    ry = _doubled_ranks(pairs, "yv", "dy")
    ranked = pairs.join(rx, ["grp", "xv"]).join(ry, ["grp", "yv"])
    return (
        ranked.groupBy("grp")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("dx").cast("long").alias("sx"),
            F.sum("dy").cast("long").alias("sy"),
            F.sum(F.expr("dx * dx")).cast("long").alias("sxx"),
            F.sum(F.expr("dy * dy")).cast("long").alias("syy"),
            F.sum(F.expr("dx * dy")).cast("long").alias("sxy"),
        )
        .selectExpr(
            "grp", "n",
            "CAST(n * sxy - sx * sy AS BIGINT) AS cov_n",
            "CAST(n * sxx - sx * sx AS BIGINT) AS var_xn",
            "CAST(n * syy - sy * sy AS BIGINT) AS var_yn",
        )
        .selectExpr(
            "grp", "n", "cov_n", "var_xn", "var_yn",
            f"CAST({_RHO} AS BIGINT) AS rho_e6",
        )
    )


def oracle_spearman_sql(pairs_sql: str) -> str:
    """DuckDB mirror over a subquery yielding (grp, id, xv, yv) —
    independent rank formulation: ROW-LEVEL window functions
    (RANK + per-value COUNT) instead of the value-level cumsum, same
    doubled-rank arithmetic and IEEE rho chain."""
    return f"""
WITH s AS ({pairs_sql}),
rk AS (
  SELECT grp,
    2 * RANK() OVER (PARTITION BY grp ORDER BY xv)
      + COUNT(*) OVER (PARTITION BY grp, xv) - 2 + 1 AS dx,
    2 * RANK() OVER (PARTITION BY grp ORDER BY yv)
      + COUNT(*) OVER (PARTITION BY grp, yv) - 2 + 1 AS dy
  FROM s
),
ag AS (
  SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
    CAST(SUM(dx * dx) AS BIGINT) AS sxx,
    CAST(SUM(dy * dy) AS BIGINT) AS syy,
    CAST(SUM(dx * dy) AS BIGINT) AS sxy
  FROM rk GROUP BY 1
),
base AS (
  SELECT grp, n,
    CAST(n * sxy - sx * sy AS BIGINT) AS cov_n,
    CAST(n * sxx - sx * sx AS BIGINT) AS var_xn,
    CAST(n * syy - sy * sy AS BIGINT) AS var_yn
  FROM ag
)
SELECT grp, n, cov_n, var_xn, var_yn,
  CAST({_RHO} AS BIGINT) AS rho_e6
FROM base"""
