"""Workload inputs, Spark-free expected outputs and the timed operations.

Every workload is generated from the seed: the seed picks a scan offset for
the `part` keys and hashed subsets of the `customer` and `supplier` keys, written as parquet tables the
program reads exactly as it reads the driver's TPC-H-ish tables. Expected
outputs come from DuckDB over the same files, using the program's own
`oracle_sql()` entries (or SQL assembled from the same closed-form snippets),
never from Spark.

IMG_SCALE is read by the program at import time, so `configure()` must run
before anything from `aira_spark` or `__spark_entry__` is imported.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np

# key universes the hashed subsets are drawn from (sf1 TPC-H sizes)
PART_KEYS = 200_000
CUSTOMER_KEYS = 150_000
SUPPLIER_KEYS = 10_000
NATIONS = 25

WORKLOADS = {
    # the flagship pipeline plus a selective window decode at IMG_SCALE=8
    # (~125 chunks per image): the Python decode sub-layers weigh most here
    "decode_x8": {"scale": 8, "images": 120, "points": 3000, "queries": 0},
    # no raster decode at all: join, shuffle and hot-cell skew
    "vector_joins": {"scale": 1, "images": 0, "points": 3000, "queries": 100},
}

# checkpoint pass of the traced decode_x8 run: buckets, and how many are
# written before the simulated kill
CKPT_BUCKETS = 16
CKPT_KILLED_AFTER = 8


def configure(workload: str) -> dict:
    """Set the process environment the program reads at import time."""
    spec = WORKLOADS[workload]
    os.environ["SPARK_GRAFT_IMG_SCALE"] = str(spec["scale"])
    return spec


# ------------------------------------------------------------------ inputs


def _mix(k: np.ndarray, seed: int, salt: int) -> np.ndarray:
    """Seeded splitmix64 finalizer over uint64 keys."""
    with np.errstate(over="ignore"):
        z = k + np.uint64((seed * 0x9E3779B97F4A7C15 + salt) & 0xFFFFFFFFFFFFFFFF)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _hashed_subset(universe: int, n: int, seed: int, salt: int) -> np.ndarray:
    """The n keys in [1, universe] with the smallest seeded hash, sorted."""
    k = np.arange(1, universe + 1, dtype=np.uint64)
    z = _mix(k, seed, salt)
    pick = np.argpartition(z, n - 1)[:n] if n < universe else np.arange(universe)
    return np.sort(k[pick].astype(np.int64))


def _part_keys(n: int, seed: int) -> np.ndarray:
    """n part keys: key i is the first key above a seeded offset with
    k = 13 i (mod 420) whose image footprint meets the `window_read` window
    (the first n/4 keys) or misses it (the rest). Image size and encoding
    repeat with k mod 420, so every seed decodes the same images, only at
    other places; with a hashed subset the window pass decoded 3 to 12
    images of 120 and its cost moved twofold with the seed."""
    import __spark_entry__ as em

    x0, y0, x1, y1 = em._WIN
    start = int(_mix(np.array([0], dtype=np.uint64), seed, 1)[0] % np.uint64(PART_KEYS // 2))
    keys = []
    for i in range(n):
        k = np.arange(start + (13 * i - start) % 420, PART_KEYS, 420, dtype=np.int64)
        k = k[k > 0]
        # footprints in closed form (sources/images.py module docstring);
        # the extent does not depend on IMG_SCALE
        cx = ((k * 2654435761) % 350000000) / 1e6 - 178.0
        cy = ((k * 1013904223) % 170000000) / 1e6 - 86.0
        ex = (16 + (k % 7) * 8) * (0.002 + (k % 17) * 0.001)
        ey = (16 + (k % 5) * 8) * (0.002 + (k % 13) * 0.001)
        inside = (cx < x1) & (cx + ex > x0) & (cy < y1) & (cy + ey > y0)
        keys.append(int(k[inside == (i < n // 4)][0]))
    return np.sort(np.array(keys, dtype=np.int64))


def write_tables(data_dir: str, spec: dict, seed: int, source: str | None = None) -> None:
    """part / customer / supplier / nation parquet tables for this seed, or
    the key columns of the same tables in `source` when given."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    if source is not None:
        for name, col in (("part", "p_partkey"), ("customer", "c_custkey"),
                          ("supplier", "s_suppkey"), ("nation", "n_nationkey")):
            pq.write_table(pq.read_table(f"{source}/{name}.parquet", columns=[col]),
                           f"{data_dir}/{name}.parquet")
        return
    tables = {
        "part": ("p_partkey", _part_keys(max(spec["images"], 1), seed)),
        "customer": ("c_custkey", _hashed_subset(CUSTOMER_KEYS, spec["points"], seed, 2)),
        "supplier": ("s_suppkey", _hashed_subset(SUPPLIER_KEYS, max(spec["queries"], 1), seed, 3)),
        "nation": ("n_nationkey", np.arange(NATIONS, dtype=np.int64)),
    }
    for name, (col, keys) in tables.items():
        pq.write_table(pa.table({col: keys}), f"{data_dir}/{name}.parquet")


def materialize_images(data_dir: str, out_dir: str) -> int:
    """The images table as parquet, synthesized in-process by
    `sources.images.synthesize_row` (the program's input layer) from this
    seed's part keys. Returns the image count."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aira_spark.sources.images import IMAGE_SCHEMA, synthesize_row

    keys = pq.read_table(f"{data_dir}/part.parquet").column("p_partkey").to_pylist()
    rows = [synthesize_row(k) for k in keys]
    cols = list(zip(*rows))
    names = IMAGE_SCHEMA.fieldNames()
    types = [pa.string(), pa.binary(), pa.int32(), pa.int32(), pa.string(), pa.string(), pa.int64()]
    table = pa.table({n: pa.array(c, type=t) for n, c, t in zip(names, cols, types)})
    os.makedirs(out_dir, exist_ok=True)
    files = 8
    step = -(-len(rows) // files)
    for i in range(files):
        part = table.slice(i * step, step)
        if part.num_rows:
            pq.write_table(part, f"{out_dir}/part-{i:03d}.parquet")
    return len(rows)


# ----------------------------------------------------------- fingerprints


def _canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.9g}"
    return str(v)


def rows_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive value hash): columns by name, rows
    sorted, floats to 9 significant digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]
    return len(lines), h


def df_hash(df) -> tuple[int, str]:
    return rows_hash(df.columns, [tuple(r) for r in df.collect()])


# ------------------------------------------------------- expected outputs


def duck(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("part", "customer", "supplier", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def flagship_sql(with_partials: bool) -> str:
    """(n_chunks, rows, n_px, sum_px[, n_partials, all_cnt, all_px]) of the
    flagship pipeline from the closed-form image CTE: chunk count, cells
    covered by both an image footprint and a point, and the band-0 pixel
    count and sum inside those cells. The partials columns are the
    (image, cell) zonal partials the checkpoint pass writes."""
    import __spark_entry__ as em
    from aira_spark.sources.vectors import points_oracle_sql

    partials = (
        ", (SELECT COUNT(*) FROM (SELECT DISTINCT image_id, cell FROM pcell_img))"
        ", (SELECT CAST(SUM(n) AS BIGINT) FROM pcell_img)"
        ", (SELECT CAST(SUM(s) AS BIGINT) FROM pcell_img)"
        if with_partials
        else ""
    )
    return f"""
WITH {em._IMG_CTE},
{em._cover_ctes(None)},
pts AS ({points_oracle_sql()}),
pcells AS (SELECT DISTINCT {em._sql_cell('x', 'y')} AS cell FROM pts),
jc AS (SELECT DISTINCT cell FROM cover JOIN pcells USING (cell)),
rws AS (SELECT *, unnest(generate_series(0, h - 1)) AS r FROM meta),
pxs AS (SELECT *, unnest(generate_series(0, w - 1)) AS c FROM rws),
vals AS (
  SELECT image_id, (r * 7 + c * 13 + k) % 256 AS val,
         cx + (CAST(c AS DOUBLE) + 0.5) * sx AS x,
         (cy + h * sy) - (CAST(r AS DOUBLE) + 0.5) * sy AS y
  FROM pxs
),
pcell_img AS (
  SELECT image_id, {em._sql_cell('x', 'y')} AS cell, COUNT(*) AS n, SUM(val) AS s
  FROM vals GROUP BY 1, 2
),
pcell AS (SELECT cell, SUM(n) AS n, SUM(s) AS s FROM pcell_img GROUP BY 1)
SELECT (SELECT CAST(SUM(n_chunks) AS BIGINT) FROM meta),
       (SELECT COUNT(*) FROM jc),
       CAST(SUM(p.n) AS BIGINT), CAST(SUM(p.s) AS BIGINT){partials}
FROM jc JOIN pcell p USING (cell)
"""


def oracle_hash(con, sql: str) -> tuple[int, str]:
    res = con.sql(sql)
    return rows_hash([d[0] for d in res.description], res.fetchall())


def expected(workload: str, data_dir: str, traced: bool) -> dict:
    """Expected fingerprint of every operation the workload runs."""
    import __spark_entry__ as em

    con = duck(data_dir)
    out: dict = {}
    if workload == "decode_x8":
        with_partials = traced
        row = con.sql(flagship_sql(with_partials)).fetchone()
        out["flagship"] = tuple(int(v) for v in row[:4])
        if with_partials:
            out["checkpoint"] = tuple(int(v) for v in row[4:])
    oracles = em.oracle_sql()
    if workload == "decode_x8":
        out["window_read"] = oracle_hash(con, oracles["window_read"])
    if workload == "vector_joins":
        out["pip"] = oracle_hash(con, oracles["pip"])
        out["knn"] = oracle_hash(con, oracles["knn"])
        out["within"] = oracle_hash(con, oracles["within_distance"])
    con.close()
    return out


# ------------------------------------------------------------- operations


def flagship(spark, images, data_dir: str) -> tuple:
    """bench.py's headline pipeline: one decode pass (metadata + per-cell
    pixel partials), chunk explode, footprint cell cover, broadcast join with
    the points, per-cell aggregate. Returns (n_chunks, rows, n_px, sum_px)."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from aira_spark.functions.cells import cell_from_xy
    from aira_spark.functions.udfs import FULL_DECODE_SCHEMA, full_decode_batches
    from aira_spark.operators.chunks import cell_cover, chunks_df
    from aira_spark.sources.vectors import points_table

    fd = (
        images.select("image_id", "bytes")
        .mapInPandas(full_decode_batches(em.CELL_RES), FULL_DECODE_SCHEMA)
        .persist()
    )
    try:
        px = fd.select(F.explode("zonal").alias("z")).select(
            F.col("z.cell").alias("cell"),
            F.col("z.px_sum").alias("px_sum"),
            F.col("z.px_cnt").alias("px_cnt"),
        )
        wm = fd.select("image_id", "meta")
        n_chunks = chunks_df(wm).count()
        cover = cell_cover(wm, em.CELL_RES).select("image_id", "cell")
        pts = points_table(spark, data_dir).select(
            "point_id", cell_from_xy(F.col("x"), F.col("y"), em.CELL_RES).alias("cell")
        )
        joined = (
            cover.join(pts, "cell")
            .groupBy("cell")
            .agg(
                F.countDistinct("image_id").alias("n_images"),
                F.countDistinct("point_id").alias("n_points"),
            )
            .join(
                px.groupBy("cell").agg(
                    F.sum("px_sum").alias("sum_px"), F.sum("px_cnt").alias("n_px")
                ),
                "cell",
                "left",
            )
        )
        row = joined.agg(
            F.count("*").alias("rows"),
            F.sum("n_px").alias("n_px"),
            F.sum("sum_px").alias("sum_px"),
        ).collect()[0]
    finally:
        fd.unpersist()
    return (n_chunks, int(row["rows"]), int(row["n_px"] or 0), int(row["sum_px"] or 0))


def window_pass(spark, images) -> tuple[int, str]:
    import __spark_entry__ as em
    from aira_spark.operators.chunks import with_meta
    from aira_spark.operators.window_read import window_read

    return df_hash(window_read(with_meta(images), *em._WIN))


def operations(workload: str, spark, images, data_dir: str) -> dict:
    """name -> zero-argument callable returning the fingerprint that
    `expected()` predicts; one iteration runs them in order."""
    import __spark_entry__ as em

    if workload == "vector_joins":
        return {
            "pip": lambda: df_hash(em.q_pip(spark, data_dir)),
            "knn": lambda: df_hash(em.q_knn(spark, data_dir)),
            "within": lambda: df_hash(em.q_within_distance(spark, data_dir)),
        }
    ops = {"flagship": lambda: flagship(spark, images, data_dir)}
    if workload == "decode_x8":
        ops["window_read"] = lambda: window_pass(spark, images)
    return ops


def checkpoint_pass(spark, images, path: str, marks: dict) -> tuple:
    """Decode partials written for half the buckets (a simulated kill), then
    resume_stage, then read_stage + verify_manifest. `marks` receives each
    phase's (start, end) epoch seconds. Returns (partial rows, pixel count,
    pixel sum) of the read-back stage, or None when verification fails."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from aira_spark.functions.udfs import ZONAL_PIX_SCHEMA, zonal_pixel_batches
    from aira_spark.sources import checkpoint as ck

    df = images.select("image_id", "bytes").mapInPandas(
        zonal_pixel_batches(em.CELL_RES), ZONAL_PIX_SCHEMA
    )
    key = "image_id"
    t0 = time.time()
    ck.write_stage(df, path, "decode", key, CKPT_BUCKETS,
                   only_buckets=list(range(CKPT_KILLED_AFTER)))
    t1 = time.time()
    ck.resume_stage(df, path, "decode", key, CKPT_BUCKETS)
    t2 = time.time()
    # read_stage also returns the `bucket` partition column; the manifest
    # checksums cover the data columns only
    data = ck.read_stage(spark, path).select(*ZONAL_PIX_SCHEMA.fieldNames())
    ok = ck.verify_manifest(spark, path, "decode", data, key, CKPT_BUCKETS)
    row = data.agg(F.count("*"), F.sum("px_cnt"), F.sum("px_sum")).collect()[0]
    t3 = time.time()
    marks.update(write=(t0, t1), resume=(t1, t2), verify=(t2, t3))
    return tuple(int(v) for v in row) if ok else None
