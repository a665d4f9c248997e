"""The hot-key guard (operators/skew.key_bound) and the guarded grid-pitch
pair join (operators/skew.grid_pairs): the guard contract of every
operator that bounds a key group, grid_pairs against a brute force, and a
source check that no operator spells its own guard again."""

from __future__ import annotations

import ast
import importlib
import inspect
import itertools
import math
import pathlib
import random
import re

import pytest

import aira_spark

# (module, function) of every operator that bounds a key group; route
# proximity's guard sits in the helper it shares with map_match
GUARDED = [
    ("convoy", "convoy_pairs"),
    ("variogram", "semivariogram"),
    ("crossk", "cross_k"),
    ("ripley", "ripley_k"),
    ("kendall", "kendall_tau"),
    ("spearman", "spearman_rho"),
    ("dedup", "ngram_jaccard_pairs"),
    ("dedup", "cross_modal_dup_pairs"),
    ("dedup", "containment_pairs"),
    ("trajectory", "co_location_pairs"),
    ("trajectory", "hausdorff_join"),
    ("basket", "basket_pairs"),
    ("obb", "obb"),
    ("permentropy", "perm_entropy"),
    ("dowseason", "dow_seasonality"),
    ("segments", "segment_intersections"),
    ("segments", "_proximity_pairs"),
]

OPS = pathlib.Path(aira_spark.__file__).parent / "operators"


# ---------------------------------------------------------------- source


@pytest.mark.parametrize("module,func", GUARDED, ids=[f for _, f in GUARDED])
def test_guard_goes_through_key_bound(module, func):
    """The guard is a key_bound/grid_pairs call, never a hand-rolled
    count-then-raise block of the operator's own."""
    fn = getattr(importlib.import_module(f"aira_spark.operators.{module}"), func)
    tree = ast.parse(inspect.getsource(fn))
    calls = {
        n.func.id for n in ast.walk(tree)
        if isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
    }
    assert calls & {"key_bound", "grid_pairs"}
    assert not [n for n in ast.walk(tree) if isinstance(n, ast.Raise)]


_HAND_GUARD = re.compile(
    r"groupBy\(.*?(\.count\(\)|F\.count\(\"\*\"\)).*?"
    r"(limit\(1\)|take\(1\)|F\.max\(\"count\"\))",
    re.S,
)


def test_no_operator_outside_skew_spells_a_key_guard():
    """No operator function outside skew.py counts per key, picks an
    over-bound group and raises; the 3x3 grid replication and its packing
    base live in skew.py alone."""
    offenders = []
    for path in sorted(OPS.glob("*.py")):
        if path.name == "skew.py":
            continue
        src = path.read_text()
        for node in ast.walk(ast.parse(src)):
            if not isinstance(node, ast.FunctionDef):
                continue
            body = ast.get_source_segment(src, node)
            raises = any(isinstance(n, ast.Raise) for n in ast.walk(node))
            if raises and _HAND_GUARD.search(body):
                offenders.append(f"{path.name}:{node.name}")
        if re.search(r"^_NB\s*=", src, re.M) or "sequence(-1, 1)" in src:
            offenders.append(f"{path.name}: 3x3 grid replication")
    assert offenders == []


# ------------------------------------------------------ guard contract

BOUND = 3


def _convoy(spark, n, bound):
    import datetime as dt

    from aira_spark.operators.convoy import convoy_pairs

    base = dt.datetime(2024, 1, 1)
    pings = spark.createDataFrame(
        [(u, base, u, 10, 10) for u in range(n)],
        "user_id long, ts timestamp, event_id long, ix long, iy long",
    )
    return convoy_pairs(pings, d=1_000, bucket_s=3_600, max_cell_users=bound)


def _points(spark, n, marks=1):
    return spark.createDataFrame(
        [(i, i % marks, 1.0 + i * 1e-3, 1.0, i) for i in range(n)],
        "point_id long, mark long, x double, y double, v long",
    )


def _variogram(spark, n, bound):
    from aira_spark.operators.variogram import semivariogram

    return semivariogram(_points(spark, n), max_cell_points=bound)


def _cross_k(spark, n, bound):
    from aira_spark.operators.crossk import cross_k

    return cross_k(_points(spark, n, marks=2), max_cell_points=bound)


def _ripley(spark, n, bound):
    from aira_spark.operators.ripley import ripley_k

    return ripley_k(_points(spark, n), max_cell_points=bound)


def _ranked(spark, n):
    return spark.createDataFrame(
        [("g", i, i, (i * 7) % 5) for i in range(n)],
        "grp string, id long, xv long, yv long",
    )


def _kendall(spark, n, bound):
    from aira_spark.operators.kendall import kendall_tau

    return kendall_tau(_ranked(spark, n), max_group_rows=bound)


def _spearman(spark, n, bound):
    from aira_spark.operators.spearman import spearman_rho

    return spearman_rho(_ranked(spark, n), max_group_rows=bound)


def _ngram(spark, n, bound):
    from aira_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "en", "web", f"the quick brown fox {i}") for i in range(n)]
        + [(100 + i, None, "web", "a null block") for i in range(2 * n)],
        "doc_id long, lang string, source string, text string",
    )
    return ngram_jaccard_pairs(docs, max_block=bound)


def _cross_modal(spark, n, bound):
    from aira_spark.operators.dedup import cross_modal_dup_pairs

    imgs = spark.createDataFrame(
        [(f"i{i}", i << 40, "stock photo") for i in range(n)],
        "image_id string, phash long, caption string",
    )
    return cross_modal_dup_pairs(imgs, max_caption_group=bound)


def _containment(spark, n, bound):
    from aira_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(i, "the same boiler plate line") for i in range(n)],
        "doc_id long, text string",
    )
    return containment_pairs(docs, k=3, max_gram_df=bound)


def _co_location(spark, n, bound):
    from aira_spark.operators.trajectory import co_location_pairs

    events = spark.createDataFrame(
        [(u, 7, h) for u in range(n) for h in (1, 2)],
        "user_id long, cell long, hour long",
    )
    return co_location_pairs(events, max_group=bound)


def _hausdorff(spark, n, bound):
    from aira_spark.operators.trajectory import hausdorff_join

    pings = spark.createDataFrame(
        [(u, u, 0) for u in range(n)], "user_id long, ix long, iy long"
    )
    return hausdorff_join(pings, max_cell_users=bound)


def _basket(spark, n, bound):
    from aira_spark.operators.basket import basket_pairs

    items = spark.createDataFrame(
        [(1, i) for i in range(n)], "order_id long, item long"
    )
    return basket_pairs(items, min_support=1, max_basket=bound)


def _obb(spark, n, bound):
    from aira_spark.operators.obb import obb

    # a regular n-gon 0.01 deg across: n hull vertices in one cluster
    pts = [
        (i, 10.5 + 0.005 * math.cos(2 * math.pi * i / n),
         10.5 + 0.005 * math.sin(2 * math.pi * i / n))
        for i in range(n)
    ]
    return obb(
        spark.createDataFrame(pts, "point_id long, x double, y double"),
        max_hull=bound,
    )


def _daily(spark, n):
    return spark.createDataFrame(
        [(1, d, (d * 37) % 11) for d in range(n)] + [(2, 0, 5), (2, 1, 6)],
        "cell long, day long, cents long",
    )


def _perm_entropy(spark, n, bound):
    from aira_spark.operators.permentropy import perm_entropy

    return perm_entropy(_daily(spark, n))


def _dow(spark, n, bound):
    from aira_spark.operators.dowseason import dow_seasonality

    return dow_seasonality(_daily(spark, n), max_cell_events=bound)


def _segs(spark, n):
    return spark.createDataFrame(
        [(i, i, 0, i, 5, i + 5) for i in range(n)],
        "seg_id long, user_id long, axq long, ayq long, bxq long, byq long",
    )


def _segments(spark, n, bound):
    from aira_spark.operators.segments import segment_intersections

    return segment_intersections(_segs(spark, n), max_bin=bound)


def _route(spark, n, bound):
    from aira_spark.operators.segments import route_proximity

    points = spark.createDataFrame(
        [(1, 2, 3)], "point_id long, pxq long, pyq long"
    )
    return route_proximity(_segs(spark, n), points, d=1, max_bin=bound)


def _map_match(spark, n, bound):
    from aira_spark.operators.segments import map_match

    points = spark.createDataFrame(
        [(1, 2, 3)], "point_id long, pxq long, pyq long"
    )
    return map_match(_segs(spark, n), points, d=1, max_bin=bound)


# (operator name in the message, parameter, bound, run(spark, n, bound))
CONTRACT = [
    ("convoy_pairs", "max_cell_users", BOUND, _convoy),
    ("semivariogram", "max_cell_points", BOUND, _variogram),
    ("cross_k", "max_cell_points", BOUND, _cross_k),
    ("ripley_k", "max_cell_points", BOUND, _ripley),
    ("kendall_tau", "max_group_rows", BOUND, _kendall),
    ("spearman_rho", "max_group_rows", BOUND, _spearman),
    ("ngram_jaccard_pairs", "max_block", BOUND, _ngram),
    ("cross_modal_dup_pairs", "max_caption_group", BOUND, _cross_modal),
    ("containment_pairs", "max_gram_df", BOUND, _containment),
    ("co_location_pairs", "max_group", BOUND, _co_location),
    ("hausdorff_join", "max_cell_users", BOUND, _hausdorff),
    ("basket_pairs", "max_basket", BOUND, _basket),
    ("obb", "max_hull", BOUND, _obb),
    ("perm_entropy", "MAX_N + 2", 1026, _perm_entropy),
    ("dow_seasonality", "max_cell_events", BOUND, _dow),
    ("segment_intersections", "max_bin", BOUND, _segments),
    ("route_proximity", "max_bin", BOUND, _route),
    ("map_match", "max_bin", BOUND, _map_match),
]


@pytest.mark.parametrize(
    "op,param,bound,run", CONTRACT, ids=[c[0] for c in CONTRACT]
)
def test_key_bound_contract(spark, op, param, bound, run):
    """One key group at bound + 1 rows raises a KeyBoundError (both a
    RuntimeError and a ValueError) naming the operator, the parameter and
    the count; the same input at exactly `bound` rows runs."""
    from aira_spark.operators.skew import KeyBoundError

    with pytest.raises(KeyBoundError) as exc:
        run(spark, bound + 1, bound).collect()
    assert isinstance(exc.value, RuntimeError)
    assert isinstance(exc.value, ValueError)
    msg = str(exc.value)
    assert msg.startswith(f"{op}: ")
    assert f"holds {bound + 1} rows > {param}={bound};" in msg
    run(spark, bound, bound).collect()


def test_key_bound_message_names_every_key(spark):
    from aira_spark.operators.skew import KeyBoundError, key_bound

    df = spark.createDataFrame(
        [(0, "a")] * 4 + [(1, "b")] * 2, "gx long, tag string"
    )
    key_bound(df, ["gx", "tag"], 4, "op", "max_rows", "unused")
    with pytest.raises(KeyBoundError) as exc:
        key_bound(df, ["gx", "tag"], 3, "op", "max_rows", "thin it first")
    assert str(exc.value) == (
        "op: gx=0, tag='a' holds 4 rows > max_rows=3; thin it first"
    )


# ---------------------------------------------------------- grid_pairs

PITCH = 10


def _grid_rows():
    """(id, k, ix, iy, c): DIV-truncation cells around 0 (twice as wide),
    pairs exactly one pitch apart across a cell edge, rows that share a
    cell but differ in k, plus a seeded scatter."""
    rows = [
        (1, 0, -9, -9), (2, 0, 9, 9),  # one cell (0, 0) across the origin
        (3, 0, -10, 0), (4, 0, 0, 0), (5, 0, 10, 0),  # pitch across edges
        (6, 1, 0, 0), (7, 1, 0, 10),  # 4's cell, other key
        (8, 0, -19, -19), (9, 0, -11, -5),
        (10, 0, 25, -25), (11, 0, 25, -15),
        (12, 1, -20, 30), (13, 1, -20, 20), (14, 0, -20, 20),
    ]
    rnd = random.Random(7)
    rows += [
        (100 + i, rnd.randint(0, 1), rnd.randint(-35, 35), rnd.randint(-35, 35))
        for i in range(60)
    ]
    return [(i, k, x, y, i * 10 + k) for i, k, x, y in rows]


def test_grid_pairs_matches_brute_force(spark):
    from aira_spark.operators.skew import grid_pairs

    rows = _grid_rows()
    pts = spark.createDataFrame(rows, "id long, k long, ix long, iy long, c long")
    got = grid_pairs(
        pts, PITCH, "id", carry=("c",), keys=("k",), bound=1_000,
        op="test", param="bound", hint="",
    ).collect()
    assert set(got[0].asDict()) == {"id_a", "id_b", "c_a", "c_b", "k", "d2"}
    ids = [(r["id_a"], r["id_b"]) for r in got]
    assert len(ids) == len(set(ids))  # each pair matches on one key
    by_id = {r[0]: r for r in rows}
    for r in got:
        a, b = by_id[r["id_a"]], by_id[r["id_b"]]
        assert r["id_a"] < r["id_b"] and r["k"] == a[1] == b[1]
        assert (r["c_a"], r["c_b"]) == (a[4], b[4])
        assert r["d2"] == (a[2] - b[2]) ** 2 + (a[3] - b[3]) ** 2
    close = {(r["id_a"], r["id_b"]) for r in got if r["d2"] <= PITCH * PITCH}
    want = {
        (a[0], b[0])
        for a, b in itertools.combinations(sorted(rows), 2)
        if a[1] == b[1] and (a[2] - b[2]) ** 2 + (a[3] - b[3]) ** 2 <= PITCH * PITCH
    }
    assert {(1, 9), (3, 4), (4, 5), (6, 7), (12, 13)} <= want
    assert not {(4, 6), (13, 14)} & want
    assert close == want


def test_ripley_guard_keys_on_cell_and_mark(spark):
    """A grid cell over max_cell_points only across marks does not raise —
    the join is keyed on (cell, mark), so no group goes quadratic — and its
    counts equal a brute force."""
    from aira_spark.operators.ripley import ripley_k

    # six points in grid cell (1, 1), three per mark
    rows = [(i, i % 2, 1.0 + 0.15 * i, 1.0 + 0.2 * (i % 3)) for i in range(6)]
    pts = spark.createDataFrame(rows, "point_id long, mark long, x double, y double")
    radii = (500_000, 1_000_000)
    got = {
        (r["mark"], r["r_e6"]): (r["n_pts"], r["n_pairs"])
        for r in ripley_k(pts, radii_e6=radii, max_cell_points=3).collect()
    }
    q = [
        (m, math.floor(x * 1000000.0), math.floor(y * 1000000.0))
        for _, m, x, y in rows
    ]
    want = {}
    for m in (0, 1):
        own = [p for p in q if p[0] == m]
        for r in radii:
            n_pairs = sum(
                (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= r * r
                for a, b in itertools.combinations(own, 2)
            )
            want[(m, r)] = (len(own), n_pairs)
    assert got == want
    assert any(v[1] for v in want.values())
