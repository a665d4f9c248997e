"""queries() is the one list of query names: oracle_sql() and bench.py's
per-query pass derive from it. No Spark session needed."""

from __future__ import annotations

import inspect

import pytest

import __spark_entry__ as em


def test_oracle_sql_follows_queries():
    oracles = em.oracle_sql()
    assert list(oracles) == list(em.queries())
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_bench_skip_names_are_queries():
    import bench

    assert isinstance(bench.SKIP, frozenset)
    assert bench.SKIP <= set(em.queries())


def test_every_oracle_builder_is_reached(monkeypatch):
    """Each module-level `_oracle_*` builder is called directly by
    oracle_sql() (by query name or through its shared-oracle table), not
    only from inside another builder."""
    builders = {
        n: f
        for n, f in vars(em).items()
        if n.startswith("_oracle_") and inspect.isfunction(f)
    }
    reached: set[str] = set()
    depth = [0]

    def recording(name, fn):
        def wrapper(*a, **kw):
            if depth[0] == 0:
                reached.add(name)
            depth[0] += 1
            try:
                return fn(*a, **kw)
            finally:
                depth[0] -= 1

        return wrapper

    for name, fn in builders.items():
        monkeypatch.setattr(em, name, recording(name, fn))
    em.oracle_sql()
    assert set(builders) - reached == set()


def test_query_without_oracle_builder_is_an_error(monkeypatch):
    roster = em.queries()
    monkeypatch.setattr(em, "queries", lambda: {**roster, "no_such_query": None})
    with pytest.raises(KeyError, match="no_such_query"):
        em.oracle_sql()
