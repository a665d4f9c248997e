"""Classification-agreement census (confusion matrix + EXACT Cohen's
kappa, Cohen 1960) between TWO CLASSIFIERS of the same scene — the
accuracy-assessment standard of land-cover mapping: classifier A is the
pointwise 4-class quantizer (val DIV 64), classifier B is the 3x3
focal-MEAN quantizer (floor(sum/9) DIV 64, complete windows only — the
context-smoothed map); their confusion matrix over the co-classified
cells scores chance-corrected agreement

    kappa = (po - pe) / (1 - pe),  po = diag/N,  pe = sum(row_c*col_c)/N^2

— the "does smoothing actually change the map beyond chance" question
change_census' same/changed counts cannot answer (two biased maps agree
often by luck; the synthetic tiles' disjoint footprints also make
cross-image epochs vacuous — pytest-pinned lesson).

Exactness (the modularity no-division rule): multiply through by N^2 —
kappa_num = N*diag - sum(row*col), kappa_den = N^2 - sum(row*col), both
exact BIGINTs on the fold row (class_a = class_b = -1); kappa can be
negative so no floor division ships. The focal mean is the exact
floor(sum/9) on nonneg values. Overflow guarded at N > 2.9e9 cells.

Scale shape (100 TB): classifier B = ONE constant-9-arm focal scatter +
one hash agg (the focal_mean exchange, complete windows); A rides the
same gather's center slot so the two maps NEVER JOIN; the confusion
matrix is a second map-side-combined agg to <= 16 rows and every kappa
ingredient folds from those 16 rows. No Python past the decode."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import DEFAULT_RES
from .mosaic import fine_grid

N_CLS_DIV = 64  # 4 classes


def agreement_census(
    images: DataFrame, res: int = DEFAULT_RES, max_cells: int = 2_900_000_000,
) -> DataFrame:
    """(class_a, class_b, cnt, kappa_num, kappa_den): one confusion row
    per observed (pointwise, focal-mean) class pair over complete-window
    cells, plus the fold row (-1, -1, N, N*diag - pe, N^2 - pe)."""
    fine = fine_grid(images, res)
    arms = ", ".join(
        f"named_struct('tx', fx + {dx}, 'ty', fy + {dy}, "
        f"'is_c', {str(dx == 0 and dy == 0).lower()})"
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)
    )
    conf = (
        fine.select("val", F.expr(f"explode(array({arms})) AS o"))
        .groupBy(F.col("o.tx").alias("fx"), F.col("o.ty").alias("fy"))
        .agg(
            F.count("*").alias("k"),
            F.max(F.when(F.col("o.is_c"), F.col("val"))).alias("cv"),
            F.sum("val").cast("long").alias("s"),
        )
        .where("k = 9 AND cv IS NOT NULL")
        .selectExpr(
            f"cv DIV {N_CLS_DIV} AS class_a",
            f"(s DIV 9) DIV {N_CLS_DIV} AS class_b",
        )
        .groupBy("class_a", "class_b")
        .agg(F.count("*").cast("long").alias("cnt"))
        .localCheckpoint(eager=True)  # tiny; reused by 4 fold readers
    )
    tot = conf.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.expr("CASE WHEN class_a = class_b THEN cnt ELSE 0 END"))
        .cast("long").alias("diag"),
    )
    n_val = tot.first()
    if n_val["n"] is not None and n_val["n"] > max_cells:
        raise RuntimeError(
            f"agreement_census: {n_val['n']} cells > max_cells="
            f"{max_cells}; N^2 would overflow int64 — widen the kappa "
            "arithmetic to DECIMAL(38,0)"
        )
    rows = conf.groupBy("class_a").agg(F.sum("cnt").alias("r"))
    cols = conf.groupBy("class_b").agg(F.sum("cnt").alias("c"))
    pe = (
        rows.join(cols, rows["class_a"] == cols["class_b"])
        .agg(F.sum(F.expr("r * c")).cast("long").alias("pe_num"))
    )
    fold = (
        tot.crossJoin(pe)
        .selectExpr(
            "CAST(-1 AS BIGINT) AS class_a",
            "CAST(-1 AS BIGINT) AS class_b",
            "CAST(coalesce(n, 0) AS BIGINT) AS cnt",
            "CAST(coalesce(n, 0) * coalesce(diag, 0)"
            " - coalesce(pe_num, 0) AS BIGINT) AS kappa_num",
            "CAST(coalesce(n, 0) * coalesce(n, 0)"
            " - coalesce(pe_num, 0) AS BIGINT) AS kappa_den",
        )
    )
    return conf.selectExpr(
        "CAST(class_a AS BIGINT) AS class_a",
        "CAST(class_b AS BIGINT) AS class_b",
        "cnt",
        "CAST(0 AS BIGINT) AS kappa_num",
        "CAST(0 AS BIGINT) AS kappa_den",
    ).unionByName(fold)


def oracle_kappa_sql(fine_cte: str) -> str:
    """DuckDB mirror over a WITH chain ending in fine(fx, fy, val) —
    INDEPENDENT window formulation: 8 LEFT self-joins for the 3x3 sum
    instead of the scatter; identical quantizers and kappa fold."""
    joins = "\n".join(
        f"  LEFT JOIN fine n{i} ON n{i}.fx = m.fx + {dx} AND "
        f"n{i}.fy = m.fy + {dy}"
        for i, (dx, dy) in enumerate(
            (dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if not (dx == 0 and dy == 0)
        )
    )
    nsum = " + ".join(f"n{i}.val" for i in range(8))
    ncnt = " + ".join(
        f"CASE WHEN n{i}.fx IS NULL THEN 0 ELSE 1 END" for i in range(8)
    )
    return f"""{fine_cte},
win AS (
  SELECT m.val AS cv, m.val + ({nsum}) AS s9
  FROM fine m
{joins}
  WHERE {ncnt} = 8
),
conf AS (
  SELECT CAST(cv // {N_CLS_DIV} AS BIGINT) AS class_a,
    CAST((s9 // 9) // {N_CLS_DIV} AS BIGINT) AS class_b,
    CAST(COUNT(*) AS BIGINT) AS cnt
  FROM win GROUP BY 1, 2
),
tot AS (
  SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n,
    CAST(COALESCE(SUM(CASE WHEN class_a = class_b THEN cnt ELSE 0 END),
         0) AS BIGINT) AS diag
  FROM conf
),
pe AS (
  SELECT CAST(COALESCE(SUM(r.rr * c.cc), 0) AS BIGINT) AS pe_num
  FROM (SELECT class_a AS k, SUM(cnt) AS rr FROM conf GROUP BY 1) r
  JOIN (SELECT class_b AS k, SUM(cnt) AS cc FROM conf GROUP BY 1) c
    ON c.k = r.k
)
SELECT class_a, class_b, cnt,
  CAST(0 AS BIGINT) AS kappa_num, CAST(0 AS BIGINT) AS kappa_den
FROM conf
UNION ALL
SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), tot.n,
  CAST(tot.n * tot.diag - COALESCE(pe.pe_num, 0) AS BIGINT),
  CAST(tot.n * tot.n - COALESCE(pe.pe_num, 0) AS BIGINT)
FROM tot, pe"""
