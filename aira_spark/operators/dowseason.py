"""Day-of-week seasonality census per cell — the chi-square GOODNESS-OF-
FIT test against the uniform week (the retail/mobility "is there a
weekly rhythm here" question; the uniformity sibling of chi2.py's
independence test, over the same event stream): observed event counts
per day-of-week O_0..O_6, expected n/7 each,

    chi2 = sum (O_i - n/7)^2 / (n/7) = (7 * sum O_i^2 - n^2) / n

flagged 'weekly' when chi2 exceeds the df=6 95% critical value 12.592.

Exactness: the algebra clears the n/7 expectation entirely — chi2_num =
7*S2 - n^2 is an exact BIGINT and the significance test cross-multiplies
against the literal rational 12592/1000:

    1000 * chi2_num > 12592 * n

(the benford/hotspots critical-literal device — no division, no doubles
anywhere). The busiest day ships via the encoded argmax
(cnt * 2^32 + (2^32-1-dow), ties to the SMALLEST dow — focal_majority).
Day 0 (2024-01-01) is a Monday, so dow = day % 7 has 0 = Monday.

Overflow budget: S2 <= n^2 so chi2_num <= 6*n^2 and the test's LHS
<= 6000*n^2 — safe to n ~ 3.9e7 events per cell; beyond that the
operator raises loudly (one tiny max-count aggregate, the acf guard).

Scale shape (100 TB): events fold map-side to (cell, dow) counts (<= 7
rows per cell in the exchange), one bounded agg per cell ends it. No
joins, no windows, no Python."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .skew import key_bound

ENC = 1 << 32
CHI2_95_DF6_E3 = 12_592  # 12.592 * 1000, the df=6 95% critical value


def dow_seasonality(
    events: DataFrame, max_cell_events: int = 30_000_000
) -> DataFrame:
    """(cell, n, chi2_num, top_dow, top_cnt, weekly) per cell from
    `events` carrying (cell, day, cents) — counts only, values ignored;
    weekly = 1 when 1000*chi2_num > 12592*n."""
    # n, the per-cell event count, bounds 1000*chi2_num
    key_bound(
        events, ["cell"], max_cell_events, "dow_seasonality",
        "max_cell_events",
        "1000*chi2_num would overflow int64 — pre-aggregate or widen",
    )
    counts = (
        events.selectExpr("cell", "day % 7 AS dow")
        .groupBy("cell", "dow")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    per_cell = counts.groupBy("cell").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.expr("cnt * cnt")).cast("long").alias("s2"),
        F.max(
            F.col("cnt") * F.lit(ENC) + (F.lit(ENC - 1) - F.col("dow"))
        ).alias("key"),
    )
    return per_cell.selectExpr(
        "CAST(cell AS BIGINT) AS cell",
        "n",
        "CAST(7 * s2 - n * n AS BIGINT) AS chi2_num",
        f"CAST({ENC - 1} - key % {ENC} AS BIGINT) AS top_dow",
        f"CAST(key DIV {ENC} AS BIGINT) AS top_cnt",
        f"CAST(CASE WHEN 1000 * (7 * s2 - n * n) > {CHI2_95_DF6_E3} * n"
        " THEN 1 ELSE 0 END AS BIGINT) AS weekly",
    )


def oracle_dow_sql(events_sql: str) -> str:
    """DuckDB mirror over a subquery yielding (cell, day, cents)."""
    return f"""
WITH ev AS ({events_sql}),
cnts AS (
  SELECT cell, day % 7 AS dow, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ev GROUP BY 1, 2
),
pc AS (
  SELECT cell, CAST(SUM(cnt) AS BIGINT) AS n,
    CAST(SUM(cnt * cnt) AS BIGINT) AS s2,
    MAX(cnt * {ENC} + ({ENC - 1} - dow)) AS key
  FROM cnts GROUP BY 1
)
SELECT CAST(cell AS BIGINT) AS cell, n,
  CAST(7 * s2 - n * n AS BIGINT) AS chi2_num,
  CAST({ENC - 1} - key % {ENC} AS BIGINT) AS top_dow,
  CAST(key // {ENC} AS BIGINT) AS top_cnt,
  CAST(CASE WHEN 1000 * (7 * s2 - n * n) > {CHI2_95_DF6_E3} * n
       THEN 1 ELSE 0 END AS BIGINT) AS weekly
FROM pc"""
