"""Parquet table reads that infer each file's schema once per session.

`spark.read.parquet(path)` without a schema launches a Spark job that reads
the file footer (`ParquetFileFormat.mergeSchemasInParallel`), scheduled and
cleaned up like any other job: ~140 ms per read on a warm local session,
against ~20 ms when the schema is given. Query builders read the same few
table files again and again, so the inferred `StructType` is kept and later
reads pass it to `spark.read.schema(...)`, which lists the file and runs no
job.

Key: `(applicationId, realpath, st_mtime_ns, st_size)` of a local regular
file. The application id scopes an entry to one SparkContext (a new session
infers again, under its own configuration); the modification time and size
stand for the file's bytes, on the assumption that the same bytes give the
same schema. A file rewritten in place gets a new mtime (or size) and is
inferred again. Directories, missing paths, globs and non-local URIs are not
memoized: they go straight to `spark.read.parquet`, so they behave and raise
exactly as it does.

Why a memo and not declared schemas: the same table has different physical
types in different data sets (`nation.n_nationkey` is int32 in one and int64
in another), and only Spark's own inference is exact for both.
"""

from __future__ import annotations

import os
import stat
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCHEMAS: dict[tuple, StructType] = {}


def _key(spark: SparkSession, path: str) -> tuple | None:
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    return (spark.sparkContext.applicationId, os.path.realpath(path), st.st_mtime_ns, st.st_size)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)`, with the schema of a local file inferred
    only on its first read in this session (see the module docstring)."""
    key = _key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The `name` table of a data set directory: `{sf_dir}/{name}.parquet`."""
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")
