"""Kendall tau-b rank association — the tie-corrected rank correlation
(Kendall 1938; Knight 1966 for the O(n log n) algorithm) between two
metrics per group:

    tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2)),
    n0 = n(n-1)/2,  n1/n2/n3 = pairs tied in x / y / both

the robust "do these two rankings agree" statistic (monotone, outlier-
immune — the rank-world complement of `bandcorr`'s Pearson r).

Exactness: every pair count is an exact BIGINT. C and D are NEVER
materialized as pairs: ties come from group counts (t(t-1)/2 per tied
value), D comes from Knight's device — sort by (x asc, y asc, id) and
count strict inversions of the y sequence with a Fenwick tree (an x-tied
pair is y-ascending in that order, so only genuinely discordant pairs
count), and C = n0 - n1 - n2 + n3 - D. tau ships as floor e6 through a
fixed IEEE double chain (`1e6 * (C-D) / sqrt(den)`) — same op order in
Python and SQL, no accumulation hazard.

Scale shape (100 TB): groups are the parallelism unit (applyInPandas —
the sanctioned per-group sequential path: counting inversions is
order-statistics work no built-in expresses); per-group cost is
O(n log n) time / O(n) memory instead of the O(n^2) pair join, with a
loud guard on group size where a single group outgrows one task (the
escalation is a blocked triangular self-join — deliberately not built
until a workload needs it)."""

from __future__ import annotations

from pyspark.sql import DataFrame

from .skew import key_bound

OUT_SCHEMA = (
    "grp string, n bigint, n0 bigint, tie_x bigint, tie_y bigint, "
    "tie_xy bigint, concordant bigint, discordant bigint, tau_b_e6 bigint"
)


def _inversions(ys: list[int]) -> int:
    """Strict inversions (i < j, ys[i] > ys[j]) via a Fenwick tree over
    the rank-compressed values — exact, O(n log n)."""
    ranks = {v: i + 1 for i, v in enumerate(sorted(set(ys)))}
    tree = [0] * (len(ranks) + 1)
    inv = 0
    seen = 0
    for y in ys:
        r = ranks[y]
        i = r  # count seen values <= y
        le = 0
        while i > 0:
            le += tree[i]
            i -= i & (-i)
        inv += seen - le
        i = r
        while i < len(tree):
            tree[i] += 1
            i += i & (-i)
        seen += 1
    return inv


def kendall_tau(
    pairs: DataFrame, max_group_rows: int = 5_000_000
) -> DataFrame:
    """(grp, n, n0, tie_x, tie_y, tie_xy, concordant, discordant,
    tau_b_e6) from `pairs` carrying (grp string, id, xv bigint,
    yv bigint)."""
    import math

    import pandas as pd

    key_bound(
        pairs, ["grp"], max_group_rows, "kendall_tau", "max_group_rows",
        "a single task would own it — use a blocked triangular self-join "
        "for groups this size",
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        grp = pdf["grp"].iloc[0]
        n = len(pdf)
        n0 = n * (n - 1) // 2
        tie = lambda s: int(sum(c * (c - 1) // 2 for c in s.value_counts()))
        n1 = tie(pdf["xv"])
        n2 = tie(pdf["yv"])
        n3 = int(
            sum(
                c * (c - 1) // 2
                for c in pdf.groupby(["xv", "yv"]).size()
            )
        )
        s = pdf.sort_values(["xv", "yv", "id"])
        d = _inversions([int(v) for v in s["yv"]])
        c = n0 - n1 - n2 + n3 - d
        den = (n0 - n1) * (n0 - n2)
        tau = (
            int(math.floor(1_000_000.0 * (c - d) / math.sqrt(float(den))))
            if den > 0 else 0
        )
        return pd.DataFrame(
            [(grp, n, n0, n1, n2, n3, c, d, tau)],
            columns=[
                "grp", "n", "n0", "tie_x", "tie_y", "tie_xy",
                "concordant", "discordant", "tau_b_e6",
            ],
        )

    return pairs.groupBy("grp").applyInPandas(fn, schema=OUT_SCHEMA)


def oracle_kendall_sql(pairs_sql: str) -> str:
    """DuckDB mirror over a subquery yielding (grp, id, xv, yv) —
    brute-force pair join (independent method: no inversion counting),
    identical tie semantics and double tau chain."""
    return f"""
WITH s AS ({pairs_sql}),
pp AS (
  SELECT a.grp,
    CAST(SUM(CASE WHEN (a.xv < b.xv AND a.yv < b.yv)
                    OR (a.xv > b.xv AND a.yv > b.yv)
             THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN (a.xv < b.xv AND a.yv > b.yv)
                    OR (a.xv > b.xv AND a.yv < b.yv)
             THEN 1 ELSE 0 END) AS BIGINT) AS d,
    CAST(SUM(CASE WHEN a.xv = b.xv THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(SUM(CASE WHEN a.yv = b.yv THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(SUM(CASE WHEN a.xv = b.xv AND a.yv = b.yv
             THEN 1 ELSE 0 END) AS BIGINT) AS n3
  FROM s a JOIN s b ON a.grp = b.grp AND a.id < b.id
  GROUP BY 1
),
cn AS (SELECT grp, CAST(COUNT(*) AS BIGINT) AS n FROM s GROUP BY 1)
SELECT cn.grp, cn.n, CAST(cn.n * (cn.n - 1) // 2 AS BIGINT) AS n0,
  CAST(COALESCE(pp.n1, 0) AS BIGINT) AS tie_x,
  CAST(COALESCE(pp.n2, 0) AS BIGINT) AS tie_y,
  CAST(COALESCE(pp.n3, 0) AS BIGINT) AS tie_xy,
  CAST(COALESCE(pp.c, 0) AS BIGINT) AS concordant,
  CAST(COALESCE(pp.d, 0) AS BIGINT) AS discordant,
  CAST(CASE WHEN (cn.n * (cn.n - 1) // 2 - COALESCE(pp.n1, 0)) *
                 (cn.n * (cn.n - 1) // 2 - COALESCE(pp.n2, 0)) > 0
    THEN FLOOR(1000000.0 * (COALESCE(pp.c, 0) - COALESCE(pp.d, 0))
      / SQRT(CAST((cn.n * (cn.n - 1) // 2 - COALESCE(pp.n1, 0)) *
                  (cn.n * (cn.n - 1) // 2 - COALESCE(pp.n2, 0)) AS DOUBLE)))
    ELSE 0 END AS BIGINT) AS tau_b_e6
FROM cn LEFT JOIN pp ON cn.grp = pp.grp
"""
