"""`sources.tables.read_parquet`: a local file's schema is inferred once per
session and file, and anything it does not memoize reads as
`spark.read.parquet` does."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from aira_spark.sources.tables import read_parquet


def test_second_read_of_a_file_runs_no_job(spark, tmp_path, count_work):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"k": pa.array([1, 2, 3], pa.int32()), "s": ["a", "b", "c"]}), path)
    first_jobs, _ = count_work(lambda: read_parquet(spark, path))
    assert first_jobs >= 1  # the footer-reading job the memo saves later
    box = {}
    jobs, _ = count_work(lambda: box.setdefault("df", read_parquet(spark, path)))
    assert jobs == 0
    assert box["df"].schema == spark.read.parquet(path).schema
    assert sorted(r.k for r in box["df"].collect()) == [1, 2, 3]


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"b": ["x"], "c": [0.5]}), path)
    df = read_parquet(spark, path)
    assert df.schema == spark.read.parquet(path).schema
    assert [tuple(r) for r in df.collect()] == [("x", 0.5)]


def test_directory_and_missing_paths_read_as_spark_does(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"v": [i, i + 10]}), str(d / f"part-{i}.parquet"))
    got = read_parquet(spark, str(d))
    assert got.schema == spark.read.parquet(str(d)).schema
    assert sorted(r.v for r in got.collect()) == [0, 1, 10, 11]

    missing = str(tmp_path / "missing.parquet")
    with pytest.raises(AnalysisException) as want:
        spark.read.parquet(missing)
    with pytest.raises(AnalysisException) as err:
        read_parquet(spark, missing)
    assert err.value.getCondition() == want.value.getCondition() == "PATH_NOT_FOUND"
