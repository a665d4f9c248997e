"""Permutation-entropy census per cell (Bandt & Pompe 2002) — the
ordinal-pattern complexity of each cell's daily series: every run of 3
CONSECUTIVE calendar days maps to its order pattern (which of the 6
orderings the triple realizes), and the Shannon entropy of the pattern
histogram separates deterministic/trending cells (low PE — few patterns
dominate) from noise-like ones (PE near log2(6) ~ 2.585 bits). The
ordinal sibling of runs_test (that asks "random?", this asks "HOW
complex") over the same acf/theilsen daily frame.

Conventions (documented, identical in both engines): triples require all
three calendar days PRESENT (gaps drop the triple — sparse cells stay
honest, the acf rule); ties rank by TIME (the earlier sample is the
smaller — the standard Bandt-Pompe convention), so the pattern code is
the 3-bit integer 4*[a<=b] + 2*[a<=c] + [b<=c] over (a, b, c) =
(day d-2, d-1, d) values — 6 of the 8 codes are realizable.

Exactness: log2 enters ONLY via the COMPILE-TIME table
L(k) = floor(log2(k)*1e6), k = 1..1024 (the patch_entropy device), so
pe_e6 = (n*L(n) - sum c_i*L(c_i)) DIV n is one nonneg floor division on
exact BIGINTs; the dominant pattern ships via the encoded argmax
(cnt * 2^32 + (2^32-1-code), ties to the smallest code — the
focal_majority device). Cells with more than 1024 triples (beyond the
table) raise loudly rather than silently mis-scoring.

Scale shape (100 TB): daily roll-up folds map-side; the triple pairing
is TWO lag windows per cell ordered by day (state bounded by the
CALENDAR, never event volume); pattern counts combine map-side (<= 6
rows per cell in the exchange); one final hash agg. No joins, no
Python."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .entropy import _log2_e6_table
from .skew import key_bound

ENC = 1 << 32
MAX_N = 1024

_PAT = (
    "4 * CAST(a <= b AS INT) + 2 * CAST(a <= c AS INT)"
    " + CAST(b <= c AS INT)"
)


def perm_entropy(events: DataFrame) -> DataFrame:
    """(cell, n_triples, top_pattern, top_cnt, pe_e6) per cell from
    `events` carrying (cell, day, cents); only cells with >= 1 complete
    calendar triple emit."""
    tab = _log2_e6_table(MAX_N)
    arr = "array({})".format(", ".join(str(v) for v in tab))
    daily = events.groupBy("cell", "day").agg(
        F.sum("cents").cast("long").alias("y")
    ).localCheckpoint(eager=True)  # reused by the guard and the windows
    # guard BEFORE any element_at is planned: n_triples <= n_days - 2,
    # and an out-of-table index would throw an opaque ANSI error first
    key_bound(
        daily, ["cell"], MAX_N + 2, "perm_entropy", "MAX_N + 2",
        f"more days than the {MAX_N}-entry log2 table covers — widen "
        "MAX_N for calendars this long",
    )
    trip = daily.selectExpr(
        "cell", "day", "y AS c",
        "lag(y, 1) OVER (PARTITION BY cell ORDER BY day) AS b",
        "lag(y, 2) OVER (PARTITION BY cell ORDER BY day) AS a",
        "lag(day, 2) OVER (PARTITION BY cell ORDER BY day) AS day2",
    ).where("a IS NOT NULL AND day2 = day - 2")
    counts = (
        trip.selectExpr("cell", f"{_PAT} AS pat")
        .groupBy("cell", "pat")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    per_cell = counts.groupBy("cell").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.max(
            F.col("cnt") * F.lit(ENC) + (F.lit(ENC - 1) - F.col("pat"))
        ).alias("key"),
        F.sum(
            F.col("cnt")
            * F.element_at(F.expr(arr), F.col("cnt").cast("int"))
        ).cast("long").alias("s"),
    )
    return per_cell.selectExpr(
        "CAST(cell AS BIGINT) AS cell",
        "n AS n_triples",
        f"CAST({ENC - 1} - key % {ENC} AS BIGINT) AS top_pattern",
        f"CAST(key DIV {ENC} AS BIGINT) AS top_cnt",
        f"CAST((n * element_at({arr}, CAST(n AS INT)) - s) DIV n"
        " AS BIGINT) AS pe_e6",
    )


def oracle_perm_entropy_sql(events_sql: str) -> str:
    """DuckDB mirror over a subquery yielding (cell, day, cents):
    identical lag pairing, 3-bit pattern, literal log2 table (as a
    VALUES lookup) and encoded argmax."""
    tab = _log2_e6_table(MAX_N)
    vals = ", ".join(f"({k + 1}, {v})" for k, v in enumerate(tab))
    return f"""
WITH ev AS ({events_sql}),
daily AS (
  SELECT cell, day, CAST(SUM(cents) AS BIGINT) AS y FROM ev GROUP BY 1, 2
),
tr AS (
  SELECT cell, day, y AS c,
    LAG(y, 1) OVER (PARTITION BY cell ORDER BY day) AS b,
    LAG(y, 2) OVER (PARTITION BY cell ORDER BY day) AS a,
    LAG(day, 2) OVER (PARTITION BY cell ORDER BY day) AS day2
  FROM daily
),
pats AS (
  SELECT cell, {_PAT} AS pat FROM tr
  WHERE a IS NOT NULL AND day2 = day - 2
),
cnts AS (
  SELECT cell, pat, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM pats GROUP BY 1, 2
),
lt AS (SELECT * FROM (VALUES {vals}) AS lt(k, l)),
pc AS (
  SELECT c.cell, CAST(SUM(c.cnt) AS BIGINT) AS n,
    MAX(c.cnt * {ENC} + ({ENC - 1} - c.pat)) AS key,
    CAST(SUM(c.cnt * lt.l) AS BIGINT) AS s
  FROM cnts c JOIN lt ON lt.k = c.cnt
  GROUP BY 1
),
nl AS (SELECT pc.*, lt.l AS ln_ FROM pc JOIN lt ON lt.k = pc.n)
SELECT CAST(cell AS BIGINT) AS cell, n AS n_triples,
  CAST({ENC - 1} - key % {ENC} AS BIGINT) AS top_pattern,
  CAST(key // {ENC} AS BIGINT) AS top_cnt,
  CAST((n * ln_ - s) // n AS BIGINT) AS pe_e6
FROM nl"""
