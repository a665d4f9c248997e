"""Local replica of the driver's correctness gate.

Runs each __spark_entry__ queries() entry at sf0.01 on Spark AND its
oracle_sql() on DuckDB, compares row count, schema (column names), and an
order-insensitive value hash (columns sorted by name, rows sorted, values
canonicalized). Usage:  python tools/check_oracle.py [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def canon(v):
    import datetime
    import math

    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.9g}"
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    try:
        import decimal

        if isinstance(v, decimal.Decimal):
            return f"{float(v):.9g}"
    except ImportError:
        pass
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def pandas_hash(pdf) -> str:
    """The DRIVER's canonicalization path (reconstructed from the
    CORRECTNESS_r03 traceback): whole-result pandas DataFrame, columns
    sorted by name, rows lexsorted by every column, then str() per value.
    This is STRICTER than value_hash — DuckDB HUGEINT (any uncast SUM /
    window SUM) reaches pandas as float64 and strs as '3.0' vs Spark's '3',
    and list columns make sort_values raise TypeError — both drove r3
    hash-reds that value_hash absorbed. Run it in ADDITION so driver parity
    breaks loudly here first."""
    pdf = pdf[sorted(pdf.columns)]
    pdf = pdf.sort_values(by=list(pdf.columns)).reset_index(drop=True)
    h = hashlib.sha256()
    for row in pdf.itertuples(index=False, name=None):
        h.update("|".join(str(v) for v in row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main(argv: list[str]) -> int:
    import duckdb

    import __spark_entry__ as entrymod
    from aira_spark.session import get_spark

    spark = get_spark("oracle-check", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    names = argv or list(oracles.keys())
    failures = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            t_spark = time.time() - t0
            t1 = time.time()
            res = con.sql(oracles[name])
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            dpdf = con.sql(oracles[name]).df()
            t_duck = time.time() - t1
            ok_cols = sorted(scols) == sorted(dcols)
            ok_count = len(srows) == len(drows)
            sh = value_hash(scols, srows)
            dh = value_hash(dcols, drows)
            ok_hash = sh == dh
            # driver-parity pass: pandas on both sides, str() canon
            try:
                import pandas as pd

                spdf = pd.DataFrame(srows, columns=scols)
                # mimic toPandas dtype inference: all-int object cols -> int64
                # (str '3'); int cols holding NULLs -> float64 (str '3.0')
                for c in spdf.columns:
                    if spdf[c].dtype == object:
                        nn = spdf[c].dropna()
                        if len(nn) and all(
                            isinstance(x, (int, float)) and not isinstance(x, bool)
                            for x in nn
                        ):
                            spdf[c] = spdf[c].astype(
                                "float64" if spdf[c].isna().any() else "int64"
                            )
                ok_pandas = pandas_hash(spdf) == pandas_hash(dpdf)
                pandas_note = "" if ok_pandas else " PANDAS-HASH-DIFF"
            except Exception as exc:  # noqa: BLE001 — mirror: driver errors too
                ok_pandas = False
                pandas_note = f" PANDAS-CANON-ERROR {type(exc).__name__}"
            status = (
                "OK " if (ok_cols and ok_count and ok_hash and ok_pandas) else "FAIL"
            )
            if status == "FAIL":
                failures += 1
            print(
                f"{name:20s} {status} rows={len(srows)}/{len(drows)} "
                f"cols={'=' if ok_cols else f'{scols} vs {dcols}'} "
                f"hash={'=' if ok_hash else f'{sh} vs {dh}'}{pandas_note} "
                f"({t_spark:.1f}s spark, {t_duck:.1f}s duck)"
            )
            if not ok_hash and ok_count and ok_cols:
                # print a few mismatching lines to debug
                order = sorted(range(len(scols)), key=lambda i: scols[i])
                sset = {"|".join(canon(r[i]) for i in order) for r in srows}
                dorder = sorted(range(len(dcols)), key=lambda i: dcols[i])
                dset = {"|".join(canon(r[i]) for i in dorder) for r in drows}
                print("  only-spark:", list(sset - dset)[:3])
                print("  only-duck :", list(dset - sset)[:3])
        except Exception as exc:  # noqa: BLE001
            failures += 1
            print(f"{name:20s} ERROR {type(exc).__name__}: {str(exc)[:300]}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
