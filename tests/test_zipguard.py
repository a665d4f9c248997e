"""The zip directory guard that `aira_spark` installs before CPython 3.12:
`importlib.invalidate_caches()` skips re-reading an unchanged archive and
still re-reads a rewritten one, in this process and in every Python worker."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

import aira_spark  # noqa: F401  (installs the guard)

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="CPython 3.12+ re-reads zip directories lazily"
)


def _write_zip(path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in members.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = tmp_path / "mods.zip"
    _write_zip(path, {"zg_first.py": "VALUE = 1\n"})
    monkeypatch.syspath_prepend(str(path))
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield path, reads
    for name in ("zg_first", "zg_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(str(path), None)
    zipimport._zip_directory_cache.pop(str(path), None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    path, reads = zip_on_path
    import zg_first

    assert zg_first.VALUE == 1
    importlib.invalidate_caches()  # reads once and records the archive's stamp
    n = reads.count(str(path))
    assert n >= 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(path)) == n


def test_rewritten_archive_is_reread(zip_on_path):
    path, _ = zip_on_path
    import zg_first

    assert zg_first.VALUE == 1
    importlib.invalidate_caches()
    _write_zip(path, {"zg_first.py": "VALUE = 1\n", "zg_second.py": "VALUE = 2\n"})
    importlib.invalidate_caches()
    import zg_second

    assert zg_second.VALUE == 2


def test_worker_invalidate_caches_is_guarded(spark):
    """Unpickling a UDF that references `aira_spark` installs the guard in
    the Python worker that runs it."""
    from aira_spark.operators.window_read import _decode_selected_batches as aira_udf

    def probe(batches):
        import zipimport

        assert aira_udf is not None  # the closure cell pulls in aira_spark
        for _ in batches:
            pass
        guarded = getattr(zipimport.zipimporter.invalidate_caches, "guarded", False)
        yield pd.DataFrame({"guarded": [bool(guarded)]})

    rows = spark.range(4).repartition(2).mapInPandas(probe, "guarded boolean").collect()
    assert rows and all(r.guarded for r in rows)
