"""Round-4k additions: Theil-Sen robust trend — brute-force python mirrors
+ robustness/zero pins."""

import pytest


# ---------------------------------------------------------------- theilsen


def _brute_sen(rows):
    """rows = (cell, day, cents); mirror of operators/theilsen.py with
    python floor division (// floors, matching the shared floor-div text)."""
    from collections import defaultdict

    daily = defaultdict(int)
    for cell, day, cents in rows:
        daily[(cell, day)] += cents
    by_cell = defaultdict(list)
    for (cell, day), y in daily.items():
        by_cell[cell].append((day, y))
    out = {}
    for cell, pts in by_cell.items():
        pts.sort()
        slopes = []
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                d1, y1 = pts[i]
                d2, y2 = pts[j]
                slopes.append(((y2 - y1) * 1_000_000 // (d2 - d1), d1, d2))
        slopes.sort()
        n = len(slopes)
        sen = slopes[(n + 1) // 2 - 1][0] if n else 0
        out[cell] = (len(pts), n, sen)
    return out


def _run_sen(spark, rows):
    from aira_spark.operators.theilsen import sen_trends

    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    return {
        r["cell"]: (r["n_days"], r["n_pairs"], r["sen_slope_e6"])
        for r in sen_trends(ev).collect()
    }


def test_sen_matches_brute_force(spark):
    import random

    rng = random.Random(7)
    rows = []
    for cell in range(6):
        for day in rng.sample(range(30), rng.randint(1, 12)):
            for _ in range(rng.randint(1, 3)):  # multiple events per day
                rows.append((cell, day, rng.randint(-500, 2000)))
    assert _run_sen(spark, rows) == _brute_sen(rows)


def test_sen_resists_outlier_ols_does_not(spark):
    """One wild day: OLS slope goes hugely negative, Sen stays at the
    clean +100 cents/day trend — the breakdown-resistance pin."""
    from aira_spark.operators.theilsen import sen_trends
    from aira_spark.operators.trend import cell_trends

    rows = [(1, d, 1000 + 100 * d) for d in range(9)] + [(1, 9, -2_000_000)]
    ev = sen_trends(
        spark.createDataFrame(rows, "cell long, day long, cents long")
    ).collect()[0]
    ols = cell_trends(
        spark.createDataFrame(rows, "cell long, day long, cents long")
    ).collect()[0]
    assert ev["sen_slope_e6"] == 100_000_000
    assert ols["slope_e6"] < 0


def test_sen_lone_day_and_negative_floor(spark):
    # lone active day -> zero pairs but the cell stays visible;
    # a decaying 2-day cell pins the FLOOR (not truncate-toward-zero)
    # of a negative slope: (-3 cents over 2 days) -> -1500000 e6
    rows = [(1, 5, 42), (2, 0, 10), (2, 2, 7)]
    got = _run_sen(spark, rows)
    assert got[1] == (1, 0, 0)
    assert got[2] == (2, 1, -1_500_000)


# ---------------------------------------------------------------- ks_drift


def _brute_ks(rows):
    """rows = (grp, v); exact D numerator per unordered pair via merged
    distinct step points (where the ECDF max provably lives)."""
    from collections import Counter, defaultdict

    by = defaultdict(Counter)
    for g, v in rows:
        by[g][v] += 1
    out = {}
    groups = sorted(by)
    for i, ga in enumerate(groups):
        for gb in groups[i + 1:]:
            na, nb = sum(by[ga].values()), sum(by[gb].values())
            ca = cb = 0
            best = 0
            for v in sorted(set(by[ga]) | set(by[gb])):
                ca += by[ga].get(v, 0)
                cb += by[gb].get(v, 0)
                best = max(best, abs(nb * ca - na * cb))
            out[(ga, gb)] = (na, nb, best, best * 1_000_000 // (na * nb))
    return out


def _run_ks(spark, rows):
    from aira_spark.operators.kstest import ks_pairs

    df = spark.createDataFrame(rows, "grp string, v long")
    return {
        (r["grp_a"], r["grp_b"]): (r["n_a"], r["n_b"], r["d_num"], r["d_e6"])
        for r in ks_pairs(df).collect()
    }


def test_ks_matches_brute_force(spark):
    import random

    rng = random.Random(11)
    rows = (
        [("a", rng.randint(0, 50)) for _ in range(40)]
        + [("b", rng.randint(0, 50)) for _ in range(25)]   # same law as a
        + [("c", rng.randint(30, 90)) for _ in range(33)]  # shifted
    )
    assert _run_ks(spark, rows) == _brute_ks(rows)


def test_ks_identical_vs_shifted(spark):
    from aira_spark.operators.kstest import ks_pairs

    # identical samples -> D = 0, never rejected; disjoint supports -> D = 1
    rows = (
        [("p", v) for v in range(20)]
        + [("q", v) for v in range(20)]
        + [("r", v + 1000) for v in range(20)]
    )
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {(r["grp_a"], r["grp_b"]): r for r in ks_pairs(df).collect()}
    assert got[("p", "q")]["d_num"] == 0 and got[("p", "q")]["reject05"] == 0
    assert got[("p", "r")]["d_num"] == 400  # n_a * n_b: D = 1 exactly
    assert got[("p", "r")]["d_e6"] == 1_000_000
    assert got[("p", "r")]["reject05"] == 1


def test_ks_ties_step_together(spark):
    """Both groups share value 5 — the merged step at 5 must apply BOTH
    increments before the diff is taken (the classic off-by-one)."""
    rows = [("a", 5), ("a", 5), ("b", 5), ("b", 9)]
    got = _run_ks(spark, rows)
    # at v=5: |2*2 - 2*1| = 2; at v=9: |2*2 - 2*2| = 0 -> D = 2/4
    assert got[("a", "b")] == (2, 2, 2, 500_000)


# ---------------------------------------------------------------- joincount


def _brute_joincount(cells):
    """cells = (grp, ix, iy, mark) at a given res; rook adjacency over
    OBSERVED cells only; permutation expectations via the double chain."""
    import math
    from collections import defaultdict

    by = defaultdict(dict)
    for g, ix, iy, mark in cells:
        by[g][(ix, iy)] = mark
    out = {}
    for g, cm in by.items():
        n = len(cm)
        nb = sum(cm.values())
        bb = bw = ww = m = 0
        for (ix, iy), mk in cm.items():
            for nbr in ((ix + 1, iy), (ix, iy + 1)):
                if nbr in cm:
                    m += 1
                    s = mk + cm[nbr]
                    bb += s == 2
                    ww += s == 0
                    bw += s == 1
        def e(p, q):
            if n <= 1:
                return 0
            return int(math.floor(1000000.0 * m * (p / n) * (q / (n - 1))))
        e_bw = 0 if n <= 1 else int(
            math.floor(2000000.0 * m * (nb / n) * ((n - nb) / (n - 1)))
        )
        out[g] = (n, nb, m, bb, bw, ww, e(nb, nb - 1), e_bw,
                  e(n - nb, n - nb - 1))
    return out


def test_joincount_matches_brute_force(spark):
    import random

    from aira_spark.functions.cells import np_cell_pack
    from aira_spark.operators.joincount import join_counts

    rng = random.Random(5)
    res = 4
    cells = []
    for g in ("a", "b"):
        for _ in range(40):
            cells.append((g, rng.randint(0, 15), rng.randint(0, 15),
                          rng.randint(0, 1)))
    # dedup per (grp, ix, iy) keeping last, as the dict mirror does
    seen = {}
    for g, ix, iy, mk in cells:
        seen[(g, ix, iy)] = mk
    rows = [(g, int(np_cell_pack(res, ix, iy)), mk)
            for (g, ix, iy), mk in seen.items()]
    df = spark.createDataFrame(rows, "grp string, cell long, mark int")
    got = {
        r["grp"]: (r["n_cells"], r["n_black"], r["m_pairs"], r["bb"],
                   r["bw"], r["ww"], r["e_bb_e6"], r["e_bw_e6"], r["e_ww_e6"])
        for r in join_counts(df).collect()
    }
    want = _brute_joincount([(g, ix, iy, mk) for (g, ix, iy), mk in seen.items()])
    assert got == want


def test_joincount_wraparound_excluded(spark):
    """Cells on the east/north edge of the grid must NOT probe across the
    boundary (id arithmetic would wrap into ix=0 of... nothing valid)."""
    from aira_spark.functions.cells import np_cell_pack
    from aira_spark.operators.joincount import join_counts

    res = 2  # 4x4 grid
    rows = [
        ("g", int(np_cell_pack(res, 3, 1)), 1),  # east edge
        ("g", int(np_cell_pack(res, 0, 2)), 1),  # NOT its wrap neighbour
        ("g", int(np_cell_pack(res, 1, 3)), 1),  # north edge
        ("g", int(np_cell_pack(res, 1, 0)), 1),
    ]
    df = spark.createDataFrame(rows, "grp string, cell long, mark int")
    r = join_counts(df).collect()[0]
    assert r["m_pairs"] == 0 and r["bb"] == 0


def test_joincount_clustered_exceeds_expectation(spark):
    """A solid black 3x3 block inside a white sea: observed BB far above
    the permutation expectation — the detector actually detects."""
    from aira_spark.functions.cells import np_cell_pack
    from aira_spark.operators.joincount import join_counts

    res = 4
    rows = []
    for ix in range(12):
        for iy in range(12):
            mark = 1 if (4 <= ix < 7 and 4 <= iy < 7) else 0
            rows.append(("g", int(np_cell_pack(res, ix, iy)), mark))
    df = spark.createDataFrame(rows, "grp string, cell long, mark int")
    r = join_counts(df).collect()[0]
    assert r["bb"] == 12  # 2 * 3 * 2 internal rook links
    assert r["bb"] * 1_000_000 > 3 * r["e_bb_e6"]


# ---------------------------------------------------------------- variogram


def _brute_variogram(rows, lag_e6, n_bins):
    """rows = (point_id, x, y, v); brute-force pair census."""
    import math

    pts = [
        (pid, math.floor(x * 1_000_000), math.floor(y * 1_000_000), v)
        for pid, x, y, v in rows
    ]
    agg = {b: [0, 0] for b in range(n_bins)}
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            dx = pts[i][1] - pts[j][1]
            dy = pts[i][2] - pts[j][2]
            b = int(math.floor(math.sqrt(float(dx * dx + dy * dy)))) // lag_e6
            if b < n_bins:
                agg[b][0] += 1
                agg[b][1] += (pts[i][3] - pts[j][3]) ** 2
    return {
        b: (n, (500 * s) // n if n else 0) for b, (n, s) in agg.items()
    }


def test_variogram_matches_brute_force(spark):
    import random

    rng = random.Random(3)
    # smooth field v = floor(x) + floor(y) + noise over a 12-degree patch
    rows = []
    for pid in range(60):
        x = rng.uniform(0.0, 12.0)
        y = rng.uniform(0.0, 12.0)
        rows.append((pid, x, y, int(x) + int(y) + pid % 3))
    lag, nb = 2_000_000, 8
    want = _brute_variogram(rows, lag, nb)
    from aira_spark.operators.variogram import semivariogram

    df = spark.createDataFrame(rows, "point_id long, x double, y double, v long")
    got = {
        r["lag_bin"]: (r["n_pairs"], r["gamma_e3"])
        for r in semivariogram(df, lag_e6=lag, n_bins=nb).collect()
    }
    assert got == want
    # spatial structure detected: gamma rises monotonically through the
    # well-populated bins (the thin tail bins are excluded as noise)
    pop = [b for b in range(nb) if want[b][0] >= 30]
    assert all(want[a][1] < want[b][1] for a, b in zip(pop, pop[1:]))


def test_variogram_empty_bin_visible_and_cross_cell(spark):
    from aira_spark.operators.variogram import semivariogram

    # two close points straddling a pitch boundary (pitch = 4e6 = 4 deg
    # for lag 2e6 x 2 bins) and nothing else: bin 0 gets the pair, bin 1
    # is VISIBLY empty
    rows = [(1, 3.999, 0.0, 10), (2, 4.001, 0.0, 13)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double, v long")
    got = {
        r["lag_bin"]: (r["lag_lo_e6"], r["n_pairs"], r["gamma_e3"])
        for r in semivariogram(df, lag_e6=2_000_000, n_bins=2).collect()
    }
    assert got[0] == (0, 1, 4500)  # (13-10)^2 * 500 / 1
    assert got[1] == (2_000_000, 0, 0)


def test_variogram_hot_cell_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.variogram import semivariogram

    rows = [(i, 1.0, 1.0, 0) for i in range(30)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double, v long")
    with _pytest.raises(RuntimeError, match="max_cell_points"):
        semivariogram(df, max_cell_points=10)


# ---------------------------------------------------------------- qa_flags


def _brute_qa(chunks):
    """chunks = (image_id, size_x, size_y, qa); python mirror."""
    from collections import defaultdict

    agg = defaultdict(lambda: [0] * 9)
    for img, sx, sy, qa in chunks:
        px = sx * sy
        usable = int(
            qa & 1 == 0 and (qa >> 1) & 1 == 0 and (qa >> 2) & 1 == 0
            and (qa >> 3) & 1 == 0 and (qa >> 4) & 1 == 0
            and (qa >> 8) & 3 < 2
        )
        a = agg[img]
        a[0] += 1
        a[1] += qa & 1
        a[2] += (qa >> 3) & 1
        a[3] += (qa >> 4) & 1
        a[4] += (qa >> 5) & 1
        a[5] += (qa >> 7) & 1
        a[6] += usable
        a[7] += usable * px
        a[8] += px
    return {
        img: tuple(a) + ((1_000_000 * a[7] // a[8]) if a[8] else 0,)
        for img, a in agg.items()
    }


def test_qa_flags_matches_brute_force(spark):
    import random

    from aira_spark.operators.qaflags import qa_mask_census

    rng = random.Random(13)
    chunks = []
    for img in ("imgA", "imgB", "imgC"):
        for ci in range(rng.randint(3, 9)):
            chunks.append((img, ci, rng.randint(0, 64), rng.randint(0, 64),
                           rng.randint(0, 65535)))
    df = spark.createDataFrame(
        chunks, "image_id string, chunk_idx long, size_x long, size_y long, qa long"
    )
    got = {
        r["image_id"]: (r["n_chunks"], r["n_fill"], r["n_cloud"],
                        r["n_shadow"], r["n_snow"], r["n_water"],
                        r["n_usable"], r["usable_px"], r["total_px"],
                        r["usable_ppm"])
        for r in qa_mask_census(df).collect()
    }
    want = _brute_qa([(c[0], c[2], c[3], c[4]) for c in chunks])
    assert got == want


def test_qa_flags_hand_words(spark):
    """Hand-built words pin each bit position and the confidence field."""
    from aira_spark.operators.qaflags import qa_mask_census

    rows = [
        ("i", 0, 10, 10, 0b0000000000000000),  # pristine -> usable
        ("i", 1, 10, 10, 0b0000000000001000),  # cloud bit 3
        ("i", 2, 10, 10, 0b0000001000000000),  # cloud conf = 2 -> unusable
        ("i", 3, 10, 10, 0b0000000110100000),  # snow+water+conf 1 -> usable
        ("i", 4, 0, 7, 0b0000000000000000),    # zero-size planar chunk
    ]
    df = spark.createDataFrame(
        rows, "image_id string, chunk_idx long, size_x long, size_y long, qa long"
    )
    r = qa_mask_census(df).collect()[0]
    assert (r["n_chunks"], r["n_cloud"], r["n_snow"], r["n_water"]) == (5, 1, 1, 1)
    # chunks 0, 3 and the zero-size chunk 4 pass the usable gate
    assert r["n_usable"] == 3 and r["usable_px"] == 200 and r["total_px"] == 400
    assert r["usable_ppm"] == 500_000


# ---------------------------------------------------------------- emd_drift


def _brute_emd(hist_rows, n_bins=16):
    """hist_rows = (image_id, bin, c); python mirror."""
    from collections import defaultdict

    per = defaultdict(lambda: defaultdict(int))
    for img, b, c in hist_rows:
        per[img][b] += c
    ref = defaultdict(int)
    for img in per:
        for b, c in per[img].items():
            ref[b] += c
    n_ref = sum(ref.values())
    out = {}
    for img, h in per.items():
        n = sum(h.values())
        cimg = cref = 0
        d1 = 0
        for b in range(n_bins - 1):
            cimg += h.get(b, 0)
            cref += ref.get(b, 0)
            d1 += abs(n_ref * cimg - n * cref)
        out[img] = (n, d1,
                    (1_000_000 * d1) // (n * n_ref * (n_bins - 1)) if n else 0)
    return out


def test_emd_matches_brute_force(spark):
    import random

    from aira_spark.operators.emd import emd_drift

    rng = random.Random(17)
    rows = []
    for img in range(8):
        for _ in range(10):
            rows.append((f"i{img}", rng.randint(0, 15), rng.randint(1, 50)))
    df = spark.createDataFrame(rows, "image_id string, bin long, c long")
    dense = (
        df.groupBy("image_id", "bin").sum("c")
        .selectExpr("image_id", "bin", "`sum(c)` AS c")
    )
    got = {
        r["image_id"]: (r["n_px"], r["d1"], r["emd_ppm"])
        for r in emd_drift(dense, n_bins=16).collect()
    }
    assert got == _brute_emd([(r[0], r[1], r[2]) for r in rows])


def test_emd_extremes(spark):
    """An image that IS the reference distribution scores 0; two images
    concentrated in opposite extreme bins score the maximum against each
    other's half of the reference."""
    from aira_spark.operators.emd import emd_drift

    rows = [("lo", 0, 100), ("hi", 15, 100)]
    df = spark.createDataFrame(rows, "image_id string, bin long, c long")
    got = {r["image_id"]: r for r in emd_drift(df, n_bins=16).collect()}
    # ref cdf at bins 0..14 is 100 of 200; lo's cdf is 100 of 100 -> gap
    # |200*100 - 100*100| = 10000 per bin x 15 bins
    assert got["lo"]["d1"] == 150_000 and got["hi"]["d1"] == 150_000
    # exactly half the maximum drift (the other half is the other image's)
    assert got["lo"]["emd_ppm"] == 500_000


def test_emd_overflow_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.emd import emd_drift

    rows = [("a", 0, 3_000_000_000), ("b", 15, 3_000_000_000)]
    df = spark.createDataFrame(rows, "image_id string, bin long, c long")
    with _pytest.raises(RuntimeError, match="overflow"):
        emd_drift(df, n_bins=16)


# ------------------------------------------------------- simpson / gini


def test_simpson_matches_brute_force(spark):
    import random
    from collections import Counter, defaultdict

    from aira_spark.operators.diversity import simpson_cells

    rng = random.Random(23)
    rows = [(rng.randint(0, 9), f"t{rng.randint(0, 4)}") for _ in range(300)]
    df = spark.createDataFrame(rows, "cell long, etype string")
    got = {
        r["cell"]: (r["n_events"], r["n_types"], r["simpson_e6"])
        for r in simpson_cells(df).collect()
    }
    by = defaultdict(Counter)
    for cell, t in rows:
        by[cell][t] += 1
    for cell, cnt in by.items():
        n = sum(cnt.values())
        same = sum(c * (c - 1) for c in cnt.values())
        d = 1_000_000 - (1_000_000 * same) // (n * (n - 1)) if n > 1 else 0
        assert got[cell] == (n, len(cnt), d)


def test_simpson_extremes(spark):
    from aira_spark.operators.diversity import simpson_cells

    rows = (
        [(1, "a")] * 10                       # monoculture -> 0
        + [(2, "a"), (2, "b")]                # maximal 2-type mix -> 1.0
        + [(3, "z")]                          # singleton -> defined 0
    )
    df = spark.createDataFrame(rows, "cell long, etype string")
    got = {r["cell"]: r["simpson_e6"] for r in simpson_cells(df).collect()}
    assert got == {1: 0, 2: 1_000_000, 3: 0}


def test_gini_matches_brute_force_and_extremes(spark):
    import random
    from collections import defaultdict

    from aira_spark.operators.diversity import gini_cells

    rng = random.Random(29)
    rows = [("g", rng.randint(0, 19), rng.randint(1, 500)) for _ in range(200)]
    # perfectly equal group -> gini 0; fully concentrated -> (n-1)/n
    rows += [("eq", c, 100) for c in range(10)]
    rows += [("one", 0, 777)] + [("one", c, 0) for c in range(1, 10)]
    df = spark.createDataFrame(rows, "grp string, cell long, cents long")
    got = {
        r["grp"]: (r["n_cells"], r["total"], r["gini_e6"])
        for r in gini_cells(df).collect()
    }
    per = defaultdict(int)
    for g, c, v in rows:
        per[(g, c)] += v
    xs = sorted(v for (g, _), v in per.items() if g == "g")
    n, tot = len(xs), sum(xs)
    gnum = sum((2 * (i + 1) - n - 1) * x for i, x in enumerate(xs))
    assert got["g"] == (n, tot, (1_000_000 * gnum) // (n * tot))
    assert got["eq"] == (10, 1000, 0)
    assert got["one"] == (10, 777, 900_000)  # (n-1)/n = 0.9


# ---------------------------------------------------------------- kendall


def _brute_kendall(rows):
    """rows = (grp, id, xv, yv); brute-force O(n^2) mirror."""
    import math
    from collections import defaultdict

    by = defaultdict(list)
    for g, i, x, y in rows:
        by[g].append((i, x, y))
    out = {}
    for g, pts in by.items():
        n = len(pts)
        n0 = n * (n - 1) // 2
        c = d = n1 = n2 = n3 = 0
        for i in range(n):
            for j in range(i + 1, n):
                _, xa, ya = pts[i]
                _, xb, yb = pts[j]
                if xa == xb and ya == yb:
                    n1 += 1; n2 += 1; n3 += 1
                elif xa == xb:
                    n1 += 1
                elif ya == yb:
                    n2 += 1
                elif (xa < xb) == (ya < yb):
                    c += 1
                else:
                    d += 1
        den = (n0 - n1) * (n0 - n2)
        tau = (int(math.floor(1_000_000.0 * (c - d) / math.sqrt(float(den))))
               if den > 0 else 0)
        out[g] = (n, n0, n1, n2, n3, c, d, tau)
    return out


def test_kendall_matches_brute_force(spark):
    import random

    from aira_spark.operators.kendall import kendall_tau

    rng = random.Random(31)
    rows = []
    for g in ("mono_up", "mono_dn", "noisy", "tied"):
        for i in range(40):
            if g == "mono_up":
                x, y = i, i * 3 + 1
            elif g == "mono_dn":
                x, y = i, -i
            elif g == "noisy":
                x, y = rng.randint(0, 20), rng.randint(0, 20)
            else:
                x, y = rng.randint(0, 3), rng.randint(0, 3)  # heavy ties
            rows.append((g, i, x, y))
    df = spark.createDataFrame(rows, "grp string, id long, xv long, yv long")
    got = {
        r["grp"]: (r["n"], r["n0"], r["tie_x"], r["tie_y"], r["tie_xy"],
                   r["concordant"], r["discordant"], r["tau_b_e6"])
        for r in kendall_tau(df).collect()
    }
    want = _brute_kendall(rows)
    assert got == want
    assert got["mono_up"][7] == 1_000_000 and got["mono_dn"][7] == -1_000_000


def test_kendall_group_size_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.kendall import kendall_tau

    rows = [("g", i, i, i) for i in range(30)]
    df = spark.createDataFrame(rows, "grp string, id long, xv long, yv long")
    with _pytest.raises(RuntimeError, match="max_group_rows"):
        kendall_tau(df, max_group_rows=10)


# ------------------------------------------------------------ mann_kendall


def _brute_mk(rows):
    """rows = (cell, day, cents); python mirror of mannkendall.mk_trends."""
    import math
    from collections import defaultdict

    daily = defaultdict(int)
    for cell, day, cents in rows:
        daily[(cell, day)] += cents
    by_cell = defaultdict(list)
    for (cell, day), y in daily.items():
        by_cell[cell].append((day, y))
    out = {}
    for cell, pts in by_cell.items():
        pts.sort()
        n = len(pts)
        s = 0
        for i in range(n):
            for j in range(i + 1, n):
                s += (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
        tie = defaultdict(int)
        for _, y in pts:
            tie[y] += 1
        tie18 = sum(t * (t - 1) * (2 * t + 5) for t in tie.values())
        var18 = n * (n - 1) * (2 * n + 5) - tie18
        if var18 > 0 and s > 0:
            z = math.floor(1_000_000.0 * (s - 1) / math.sqrt(var18 / 18.0))
        elif var18 > 0 and s < 0:
            z = math.floor(1_000_000.0 * (s + 1) / math.sqrt(var18 / 18.0))
        else:
            z = 0
        out[cell] = (n, s, var18, int(z))
    return out


def test_mann_kendall_matches_brute_force(spark):
    import random

    from aira_spark.operators.mannkendall import mk_trends

    rng = random.Random(47)
    rows = []
    for cell in range(8):
        for day in range(25):
            # cells 0-1 strictly rise, 2-3 strictly fall, 4-5 constant
            # (all-tied -> var18 = 0), 6-7 noisy with heavy ties
            if cell < 2:
                v = 100 + day * 7
            elif cell < 4:
                v = 900 - day * 3
            elif cell < 6:
                v = 500
            else:
                v = rng.randint(0, 4) * 10
            rows.append((cell, day, v))
    rows.append((99, 0, 123))  # single-day cell: S=0, var18=0, z=0
    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {
        r["cell"]: (r["n_days"], r["s_stat"], r["var18"], r["z_e6"])
        for r in mk_trends(ev).collect()
    }
    want = _brute_mk(rows)
    assert got == want
    n0 = 25 * 24 // 2
    assert got[0][1] == n0 and got[0][3] > 0      # monotone up: S = n0
    assert got[2][1] == -n0 and got[2][3] < 0     # monotone down
    assert got[4] == (25, 0, 0, 0)                # all-tied: degenerate
    assert got[99] == (1, 0, 0, 0)


def test_mann_kendall_split_rows_fold_into_daily(spark):
    """Raw events split across rows must roll up before S — an extra event
    on one day changes y, not the pair count."""
    from aira_spark.operators.mannkendall import mk_trends

    whole = [(1, 0, 10), (1, 1, 20), (1, 2, 30)]
    split = [(1, 0, 4), (1, 0, 6), (1, 1, 20), (1, 2, 15), (1, 2, 15)]
    a = spark.createDataFrame(whole, "cell long, day long, cents long")
    b = spark.createDataFrame(split, "cell long, day long, cents long")
    assert mk_trends(a).collect() == mk_trends(b).collect()


# ---------------------------------------------------------------- hits


def _brute_hits(e, nodes, rounds):
    """Python mirror of graph.hits_fixed's L1-normalized integer rounds."""
    from aira_spark.operators.graph import HITS_SCALE

    h = {n: HITS_SCALE for n in nodes}
    a = {}
    for _ in range(rounds):
        raw = {n: 0 for n in nodes}
        for s, d in e:
            raw[d] += h[s]
        tot = sum(raw.values())
        a = {n: (raw[n] * HITS_SCALE) // tot for n in nodes}
        raw = {n: 0 for n in nodes}
        for s, d in e:
            raw[s] += a[d]
        tot = sum(raw.values())
        h = {n: (raw[n] * HITS_SCALE) // tot for n in nodes}
    return h, a


def test_hits_hand_graph(spark):
    """Star digraph: pure hubs (sources) vs one pure authority (sink) plus
    a ring — scores match the python mirror exactly and the roles split."""
    from aira_spark.operators.graph import hits_fixed

    # 1,2,3 all point at 4 (the authority); 4 points back at 1; 5<->6 ring
    e = [(1, 4), (2, 4), (3, 4), (4, 1), (5, 6), (6, 5)]
    nodes = [1, 2, 3, 4, 5, 6]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {
        r["node"]: (r["hub_micros"], r["auth_micros"])
        for r in hits_fixed(edges, rounds=5).collect()
    }
    h, a = _brute_hits(e, nodes, 5)
    assert got == {n: (h[n], a[n]) for n in nodes}
    assert got[4][1] == max(v[1] for v in got.values())  # 4 = top authority
    assert got[4][1] > got[4][0]                          # more auth than hub
    assert got[1][0] > got[1][1]                          # 1 = hub-dominant
    # L1 normalization: each side's mass is SCALE minus the floor leak
    assert sum(v[0] for v in got.values()) <= 1_000_000
    assert sum(v[0] for v in got.values()) > 1_000_000 - len(nodes)


def test_hits_parallelism_invariant(spark):
    from aira_spark.operators.graph import hits_fixed

    e = [(i, (i + 1) % 15) for i in range(15)] + [
        (i, (i * 3 + 2) % 15) for i in range(15)
    ]
    edges = spark.createDataFrame(e, "src long, dst long")
    a = sorted(map(tuple, hits_fixed(edges, rounds=4).collect()))
    b = sorted(map(tuple, hits_fixed(edges.repartition(13), rounds=4).collect()))
    assert a == b


# ---------------------------------------------------------------- acf


def _brute_acf(rows, max_lag):
    """rows = (cell, day, cents); python mirror of acf.acf_cells."""
    import math
    from collections import defaultdict

    daily = defaultdict(int)
    for cell, day, cents in rows:
        daily[(cell, day)] += cents
    by_cell = defaultdict(dict)
    for (cell, day), y in daily.items():
        by_cell[cell][day] = y
    out = {}
    for cell, series in by_cell.items():
        for lag in range(1, max_lag + 1):
            pairs = [
                (y, series[d + lag])
                for d, y in series.items() if d + lag in series
            ]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(x for x, _ in pairs); sy = sum(y for _, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            cov = n * sxy - sx * sy
            vx = n * sxx - sx * sx
            vy = n * syy - sy * sy
            r = (int(math.floor(1_000_000.0 * cov / math.sqrt(float(vx) * float(vy))))
                 if n >= 2 and vx > 0 and vy > 0 else 0)
            out[(cell, lag)] = (n, cov, r)
    return out


def test_acf_matches_brute_force(spark):
    import random

    from aira_spark.operators.acf import acf_cells

    rng = random.Random(53)
    rows = []
    for cell in range(6):
        for day in range(30):
            if cell == 0:
                v = 100 + (day % 2) * 50       # period 2: r(1)<0, r(2)>0
            elif cell == 1:
                v = 500                         # constant: all r = 0
            elif cell == 2 and day % 3 != 0:
                continue                        # sparse: fewer pairs
            else:
                v = rng.randint(1, 999)
            rows.append((cell, day, v))
    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {
        (r["cell"], r["lag"]): (r["n_pairs"], r["cov_n"], r["r_e6"])
        for r in acf_cells(ev, max_lag=3).collect()
    }
    assert got == _brute_acf(rows, 3)
    assert got[(0, 1)][2] < -900_000 and got[(0, 2)][2] > 900_000
    assert got[(1, 1)] == (29, 0, 0)           # zero variance -> degenerate
    assert (2, 1) not in got                    # day%3 grid has no lag-1 pair
    assert got[(2, 3)][0] == 9                  # but lag-3 pairs exist


def test_acf_overflow_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.acf import acf_cells

    rows = [(1, d, 2_000_000_000) for d in range(3)]
    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    with _pytest.raises(RuntimeError, match="rescale"):
        acf_cells(ev)


# ----------------------------------------------------------- track_raster


def _brute_raster(segs, cell):
    """Python mirror of linerast.track_raster's column-sweep supercover."""
    from collections import defaultdict

    hit = set()
    for seg_id, user_id, axq, ayq, bxq, byq in segs:
        ax, ay, bx, by = (
            (axq, ayq, bxq, byq) if axq <= bxq else (bxq, byq, axq, ayq)
        )
        for ix in range(ax // cell, bx // cell + 1):
            xs = max(ax, ix * cell)
            xe = min(bx, (ix + 1) * cell)
            if bx == ax:
                iys, iye = ay // cell, by // cell
            else:
                dx = bx - ax
                iys = (ay * dx + (by - ay) * (xs - ax)) // (cell * dx)
                iye = (ay * dx + (by - ay) * (xe - ax)) // (cell * dx)
            for iy in range(min(iys, iye), max(iys, iye) + 1):
                hit.add((seg_id, user_id, ix, iy))
    out = defaultdict(lambda: [0, set()])
    for seg_id, user_id, ix, iy in hit:
        out[(ix, iy)][0] += 1
        out[(ix, iy)][1].add(user_id)
    return {k: (v[0], len(v[1])) for k, v in out.items()}


def test_track_raster_hand_cases(spark):
    from aira_spark.operators.linerast import track_raster

    segs = [
        (1, 1, 100, 100, 2600, 100),    # horizontal: cells (0,0)..(2,0)
        (2, 1, 500, 100, 500, 2600),    # vertical: (0,0)..(0,2)
        (3, 2, 0, 0, 3000, 3000),       # diagonal through corners
        (4, 2, 4200, 4200, 4300, 4300), # single cell
    ]
    df = spark.createDataFrame(
        segs, "seg_id long, user_id long, axq long, ayq long, "
              "bxq long, byq long"
    )
    got = {
        (r["gx"], r["gy"]): (r["n_segs"], r["n_users"])
        for r in track_raster(df, cell=1000).collect()
    }
    assert got == _brute_raster(segs, 1000)
    assert got[(0, 0)] == (3, 2)   # horizontal + vertical + diagonal
    assert got[(2, 0)][0] == 1
    # diagonal passes exactly through corner (1000,1000): closed-cell
    # semantics include both straddling columns' boundary cells
    assert (1, 0) in got and (0, 1) in got and (1, 1) in got
    assert got[(4, 4)] == (1, 1)


def test_track_raster_matches_brute_force(spark):
    import random

    from aira_spark.operators.linerast import CELL, track_raster

    rng = random.Random(61)
    segs = [
        (i, i % 7,
         rng.randrange(100000), rng.randrange(100000),
         rng.randrange(100000), rng.randrange(100000))
        for i in range(120)
    ]
    df = spark.createDataFrame(
        segs, "seg_id long, user_id long, axq long, ayq long, "
              "bxq long, byq long"
    )
    got = {
        (r["gx"], r["gy"]): (r["n_segs"], r["n_users"])
        for r in track_raster(df).collect()
    }
    assert got == _brute_raster(segs, CELL)
    # supercover sanity: every segment's endpoints' cells are hit
    for _, _, axq, ayq, bxq, byq in segs:
        assert (axq // CELL, ayq // CELL) in got
        assert (bxq // CELL, byq // CELL) in got


# ------------------------------------------------------------- rle_census


def _np_rle(band2d):
    """Python mirror of rle.rle_census for one 2-D band."""
    q = [int(v) >> 6 for v in band2d.ravel()]
    lens = []
    i = 0
    while i < len(q):
        j = i
        while j < len(q) and q[j] == q[i]:
            j += 1
        lens.append(j - i)
        i = j
    return (
        len(q), len(lens), max(lens),
        sum((ln + 254) // 255 for ln in lens),
        (2_000_000 * sum((ln + 254) // 255 for ln in lens)) // len(q),
    )


def test_rle_census_hand_and_mirror(spark):
    import numpy as np

    from aira_spark.operators.rle import rle_census
    from aira_spark.tiff.encode import write_tiff

    flat = np.full((16, 20), 9, dtype=np.uint8)        # 1 run of 320
    stripes = np.zeros((8, 8), dtype=np.uint8)
    stripes[::2, :] = 255                               # 8 row-runs of 8
    noisy = (np.arange(64, dtype=np.uint8) * 67 % 256).reshape(8, 8)
    cases = {"flat": flat, "stripes": stripes, "noisy": noisy}
    rows = [
        (name, bytearray(write_tiff(a[:, :, None], byteorder="<",
                                    layout=("strips", 4))))
        for name, a in cases.items()
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {
        r["image_id"]: (r["n_px"], r["n_runs"], r["max_run"],
                        r["n_chunks"], r["rle_ppm"])
        for r in rle_census(df).collect()
    }
    assert got == {n: _np_rle(a) for n, a in cases.items()}
    # flat 320-px run needs two 255-capped chunks; ppm = 2e6*2//320
    assert got["flat"] == (320, 1, 320, 2, 12500)
    assert got["stripes"][1] == 8 and got["stripes"][2] == 8


def test_rle_census_matches_decode_mirror(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.functions.udfs import _decode_full
    from aira_spark.operators.rle import rle_census

    images = em._images(spark, sf_dir, modulo=16)
    want = {}
    for rec in images.select("image_id", "bytes").collect():
        _, px = _decode_full(bytes(rec["bytes"]))
        for s in range(px.shape[2]):
            want[(rec["image_id"], s)] = _np_rle(px[:, :, s])
    got = {
        (r["image_id"], r["band"]): (r["n_px"], r["n_runs"], r["max_run"],
                                     r["n_chunks"], r["rle_ppm"])
        for r in rle_census(images).collect()
    }
    assert got == want and got


# ------------------------------------------------------ emerging_hotspots


def _brute_emerging(rows, grid_n):
    """rows = (gx, gy, epoch, val); python mirror of emerging_hotspots."""
    import math
    from collections import defaultdict

    CRIT = 1_959_963
    binned = defaultdict(int)
    for gx, gy, ep, v in rows:
        binned[(gx, gy, ep)] += v
    by_epoch = defaultdict(dict)
    for (gx, gy, ep), v in binned.items():
        by_epoch[ep][(gx, gy)] = v
    z = defaultdict(dict)  # (gx,gy) -> ep -> z_e6
    for ep, cells in by_epoch.items():
        n = len(cells)
        sx = sum(cells.values())
        sx2 = sum(v * v for v in cells.values())
        vfac = n * sx2 - sx * sx
        for (gx, gy) in cells:
            nb = [
                cells[(gx + dx, gy + dy)]
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if 0 <= gx + dx < grid_n and 0 <= gy + dy < grid_n
                and (gx + dx, gy + dy) in cells
            ]
            k_i, s_i = len(nb), sum(nb)
            num = n * s_i - k_i * sx
            kfac = n * k_i - k_i * k_i
            zv = (int(math.floor(
                1_000_000.0 * num * math.sqrt(float(n - 1))
                / math.sqrt(float(vfac) * float(kfac))))
                if vfac > 0 and kfac > 0 else 0)
            z[(gx, gy)][ep] = zv
    out = {}
    for cell, series in z.items():
        eps = sorted(series)
        zs = [series[e] for e in eps]
        n = len(zs)
        s = sum(
            (zs[j] > zs[i]) - (zs[j] < zs[i])
            for i in range(n) for j in range(i + 1, n)
        )
        tie = defaultdict(int)
        for v in zs:
            tie[v] += 1
        var18 = (n * (n - 1) * (2 * n + 5)
                 - sum(t * (t - 1) * (2 * t + 5) for t in tie.values()))
        if var18 > 0 and s > 0:
            mk = math.floor(1_000_000.0 * (s - 1) / math.sqrt(var18 / 18.0))
        elif var18 > 0 and s < 0:
            mk = math.floor(1_000_000.0 * (s + 1) / math.sqrt(var18 / 18.0))
        else:
            mk = 0
        cur = zs[-1]
        if cur >= CRIT and mk >= CRIT:
            k = "intensifying_hot"
        elif cur >= CRIT and mk <= -CRIT:
            k = "diminishing_hot"
        elif cur >= CRIT:
            k = "persistent_hot"
        elif cur <= -CRIT and mk <= -CRIT:
            k = "intensifying_cold"
        elif cur <= -CRIT and mk >= CRIT:
            k = "diminishing_cold"
        elif cur <= -CRIT:
            k = "persistent_cold"
        else:
            k = "ns"
        out[cell] = (n, s, int(mk), cur, k)
    return out


def test_emerging_hotspots_constructed_and_mirror(spark):
    """8x8 grid, 8 epochs: background noise + a spike growing every epoch
    at (6,6) and a shrinking-but-huge cell at (1,1). Gi* is a NEIGHBORHOOD
    statistic, so the hot classes land on the spikes' 3x3 halos: every
    intensifying_hot cell hugs (6,6), the diminishing_hot hugs (1,1).
    Exact match with the python mirror end-to-end."""
    import random

    from aira_spark.operators.emerging import emerging_hotspots

    rng = random.Random(71)
    rows = []
    for ep in range(8):
        for gx in range(8):
            for gy in range(8):
                rows.append((gx, gy, ep, rng.randint(50, 100)))
        rows.append((6, 6, ep, 400 + 1000 * ep))   # growing spike
        rows.append((1, 1, ep, 8000 - 400 * ep))   # shrinking, still huge
    df = spark.createDataFrame(rows, "gx long, gy long, epoch long, val long")
    got = {
        (r["gx"], r["gy"]): (r["n_epochs"], r["s_stat"], r["mk_z_e6"],
                             r["cur_z_e6"], r["klass"])
        for r in emerging_hotspots(df, grid_n=8).collect()
    }
    want = _brute_emerging(rows, 8)
    assert got == want
    inten = [c for c, v in got.items() if v[4] == "intensifying_hot"]
    dimin = [c for c, v in got.items() if v[4] == "diminishing_hot"]
    assert inten and all(
        abs(x - 6) <= 1 and abs(y - 6) <= 1 for x, y in inten
    )
    assert dimin and all(
        abs(x - 1) <= 1 and abs(y - 1) <= 1 for x, y in dimin
    )
    # the growing spike's own series is monotone-rising, max MK S
    assert got[(6, 6)][1] == 28 and got[(1, 1)][1] == -28
    assert sum(1 for v in got.values() if v[4] == "ns") > 40


def test_emerging_hotspots_overflow_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.emerging import emerging_hotspots

    rows = [(x, 0, 0, 2_000_000_000) for x in range(4)]
    df = spark.createDataFrame(rows, "gx long, gy long, epoch long, val long")
    with _pytest.raises(RuntimeError, match="rescale"):
        emerging_hotspots(df, grid_n=8)


# ------------------------------------------------------------- std_ellipse


def _brute_sde(rows):
    """rows = (grp, xq, yq); python mirror of sde.std_ellipse."""
    from collections import defaultdict

    by = defaultdict(list)
    for g, x, y in rows:
        by[g].append((x, y))
    out = {}
    for g, pts in by.items():
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxx = sum(x * x for x, _ in pts); syy = sum(y * y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        cov = n * sxy - sx * sy
        a, b = vx - vy, 2 * cov
        if a == 0 and b == 0:
            o = "isotropic"
        elif a >= 0 and a >= b and a >= -b:
            o = "E-W"
        elif b > 0 and b > a and b > -a:
            o = "NE-SW"
        elif a < 0 and -a >= b and -a >= -b:
            o = "N-S"
        else:
            o = "NW-SE"
        out[g] = (n, (10000 * sx) // n, (10000 * sy) // n, vx, vy, cov, o)
    return out


def test_std_ellipse_hand_and_mirror(spark):
    import random

    from aira_spark.operators.sde import std_ellipse

    rng = random.Random(83)
    rows = []
    for i in range(60):
        t = rng.randint(-100, 100)
        rows.append(("ew", 5000 + t * 4, 3000 + rng.randint(-20, 20)))
        rows.append(("ns", 5000 + rng.randint(-20, 20), 3000 + t * 4))
        rows.append(("diag", 5000 + t, 3000 + t + rng.randint(-5, 5)))
        rows.append(("anti", 5000 + t, 3000 - t + rng.randint(-5, 5)))
    rows.append(("dot", 777, 888))  # single point: all variances zero
    df = spark.createDataFrame(rows, "grp string, xq long, yq long")
    got = {
        r["grp"]: (r["n"], r["cx_e6"], r["cy_e6"], r["vx"], r["vy"],
                   r["cov_n"], r["orient"])
        for r in std_ellipse(df).collect()
    }
    assert got == _brute_sde(rows)
    assert got["ew"][6] == "E-W" and got["ns"][6] == "N-S"
    assert got["diag"][6] == "NE-SW" and got["anti"][6] == "NW-SE"
    assert got["dot"] == (1, 7_770_000, 8_880_000, 0, 0, 0, "isotropic")


def test_std_ellipse_overflow_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.sde import std_ellipse

    rows = [("g", 3_000_000_000, 1) for _ in range(3)]
    df = spark.createDataFrame(rows, "grp string, xq long, yq long")
    with _pytest.raises(RuntimeError, match="rescale"):
        std_ellipse(df)


# ---------------------------------------------------------------- benford


def test_benford_hand_and_law(spark):
    import math
    from collections import Counter

    from aira_spark.operators.benford import BENFORD_E6, benford_census

    # law constants really are floor(1e6*log10(1+1/d))
    assert BENFORD_E6 == [
        math.floor(1e6 * math.log10(1 + 1 / d)) for d in range(1, 10)
    ]
    # a perfectly Benford-ish sample: v = floor(10^(k/100)) spans scales
    ben = [("b", int(10 ** (3 + k / 997 * 3))) for k in range(997)]
    # a degenerate capped sample: everything starts with 4 (fraud smell)
    cap = [("c", 4_000 + i) for i in range(500)]
    zero = [("b", 0), ("c", -7)]  # ignored: no first significant digit
    df = spark.createDataFrame(ben + cap + zero, "grp string, v long")
    got = {
        (r["grp"], r["digit"]): (r["n_d"], r["ppm"], r["benford_e6"],
                                 r["dev"])
        for r in benford_census(df).collect()
    }
    # mirror
    cnt = Counter()
    for g, v in ben + cap:
        if v > 0:
            cnt[(g, int(str(v)[0]))] += 1
    tot = Counter()
    for (g, d), c in cnt.items():
        tot[g] += c
    for g in ("b", "c"):
        for d in range(1, 10):
            n_d = cnt.get((g, d), 0)
            want = (
                n_d, (1_000_000 * n_d) // tot[g], BENFORD_E6[d - 1],
                abs(1_000_000 * n_d - tot[g] * BENFORD_E6[d - 1]),
            )
            assert got[(g, d)] == want, (g, d)
    assert len(got) == 18  # dense spine: every digit row present
    # the log-uniform sample hugs the law; the capped one concentrates on 4
    b_dev = sum(got[("b", d)][3] for d in range(1, 10)) / tot["b"]
    c_dev = sum(got[("c", d)][3] for d in range(1, 10)) / tot["c"]
    assert b_dev < 60_000 and c_dev > 1_000_000
    assert got[("c", 4)][0] == 500 and got[("c", 1)][0] == 0


# ---------------------------------------------------------------- mwu


def _brute_mwu(rows):
    """rows = (grp, v); brute-force doubled-U over raw pairs + factored z."""
    import math
    from collections import Counter, defaultdict

    by = defaultdict(list)
    for g, v in rows:
        by[g].append(v)
    out = {}
    groups = sorted(by)
    for i, ga in enumerate(groups):
        for gb in groups[i + 1:]:
            a, b = by[ga], by[gb]
            na, nb = len(a), len(b)
            u2 = sum(
                2 * (x > y) + (x == y) for x in a for y in b
            )
            n = na + nb
            tsum = sum(
                t ** 3 - t for t in Counter(a + b).values()
            )
            tfac = (n + 1) * n * (n - 1) - tsum
            z = (int(math.floor(
                1_000_000.0 * (u2 - na * nb)
                * math.sqrt(3.0 * n * (n - 1))
                / (math.sqrt(float(na)) * math.sqrt(float(nb))
                   * math.sqrt(float(tfac)))))
                if tfac > 0 else 0)
            out[(ga, gb)] = (na, nb, u2, tfac, z, int(abs(z) > 1_959_963))
    return out


def test_mwu_matches_brute_force(spark):
    import random

    from aira_spark.operators.mwu import mwu_pairs

    rng = random.Random(97)
    rows = (
        [("a", rng.randint(0, 40)) for _ in range(35)]
        + [("b", rng.randint(0, 40)) for _ in range(28)]    # same law
        + [("c", rng.randint(25, 70)) for _ in range(31)]   # shifted up
        + [("d", 7) for _ in range(10)]                     # constant
    )
    df = spark.createDataFrame(rows, "grp string, v long")
    got = {
        (r["grp_a"], r["grp_b"]): (r["n_a"], r["n_b"], r["u2_a"],
                                   r["tfac"], r["z_e6"], r["reject05"])
        for r in mwu_pairs(df).collect()
    }
    want = _brute_mwu(rows)
    assert got == want
    # identity u2_a + u2_b = 2 n_a n_b via the symmetric recompute
    flipped = _brute_mwu([(("zz" if g == "a" else g), v) for g, v in rows])
    assert (got[("a", "c")][2]
            + flipped[("c", "zz")][2] == 2 * got[("a", "c")][0] * got[("a", "c")][1])
    # c is stochastically larger than a: strong negative z for (a, c)
    assert got[("a", "c")][4] < -1_959_963 and got[("a", "c")][5] == 1
    assert got[("a", "b")][5] == 0          # same law: not rejected


def test_mwu_all_tied_degenerate(spark):
    from aira_spark.operators.mwu import mwu_pairs

    rows = [("p", 5)] * 6 + [("q", 5)] * 4
    df = spark.createDataFrame(rows, "grp string, v long")
    r = mwu_pairs(df).collect()[0]
    # every pair tied: u2 = n_a*n_b exactly, tfac = 0, z = 0
    assert (r["u2_a"], r["tfac"], r["z_e6"], r["reject05"]) == (24, 0, 0, 0)


# ------------------------------------------------------------------ lisa


def test_lisa_quadrants_hand_grid(spark):
    """Constructed mosaic: a high plateau (HH core), a low basin (LL), a
    single high cell in the basin (HL outlier) and a low cell on the
    plateau (LH outlier) — the python mirror recomputes every number."""
    import numpy as np

    from aira_spark.operators.autocorr import lisa_clusters
    from aira_spark.tiff.encode import write_tiff

    # one 32x32 image fills fine cells deterministically at res=1,pb=4
    # (nf = 32): left half high (200), right half low (20), with the two
    # planted outliers
    a = np.full((32, 32), 20, dtype=np.uint8)
    a[:, :16] = 200
    a[16, 24] = 200   # HL outlier in the low half
    a[16, 8] = 20     # LH outlier in the high half
    # affine: pixel centers land exactly one per fine cell (fx=c, fy=31-r)
    img = [("img000", bytearray(write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 8),
        geo=((360.0 / 32, 180.0 / 32, 0.0),
             (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))]
    df = spark.createDataFrame(img, "image_id string, bytes binary")
    rows = {
        (r["fx"], r["fy"]): (r["k_i"], r["a_num"], r["b_num"], r["lisa_d"],
                             r["quad"])
        for r in lisa_clusters(df, res=1).collect()
    }
    assert len(rows) == 1024
    # python mirror over the same fine grid
    vals = {}
    for r in range(32):
        for c in range(32):
            vals[(c, 31 - r)] = int(a[r, c])
    n = len(vals)
    sx = sum(vals.values())
    for (fx, fy), v in vals.items():
        nbrs = [
            vals[(fx + dx, fy + dy)]
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (fx + dx, fy + dy) in vals
        ]
        aa = n * v - sx
        bb = n * sum(nbrs) - len(nbrs) * sx
        # trunc-toward-zero division, matching Spark DIV / DuckDB //
        prod = aa * bb
        ld = abs(prod) // (n * n)
        ld = ld if prod >= 0 else -ld
        q = ("HH" if aa > 0 and bb > 0 else "LL" if aa < 0 and bb < 0
             else "HL" if aa > 0 and bb < 0 else "LH" if aa < 0 and bb > 0
             else "ns")
        assert rows[(fx, fy)] == (len(nbrs), aa, bb, ld, q), (fx, fy)
    # planted structure: outliers classified as outliers, cores as cores
    assert rows[(24, 15)][4] == "HL"
    assert rows[(8, 15)][4] == "LH"
    assert rows[(4, 20)][4] == "HH" and rows[(28, 20)][4] == "LL"


# ------------------------------------------------------------------ chi2


def test_chi2_hand_and_mirror(spark):
    import math
    from collections import Counter

    from aira_spark.operators.chi2 import CRIT_E6, chi2_census

    # dependent table: 'x' rows concentrate in 'p'; plus a zero cell
    pairs = (
        [("x", "p")] * 40 + [("x", "q")] * 5
        + [("y", "p")] * 10 + [("y", "q")] * 45
        + [("z", "p")] * 20   # (z, q) is the zero cell
    )
    df = spark.createDataFrame(pairs, "row_cat string, col_cat string")
    got = {
        (r["row_cat"], r["col_cat"]): (r["o"], r["r"], r["c"], r["dev"],
                                       r["contrib_e6"])
        for r in chi2_census(df, df_crit=2).collect()
    }
    cells = Counter(pairs)
    rm = Counter(p[0] for p in pairs)
    cm = Counter(p[1] for p in pairs)
    n = len(pairs)
    tot = 0
    for rc in ("x", "y", "z"):
        for cc in ("p", "q"):
            o = cells.get((rc, cc), 0)
            dev = o * n - rm[rc] * cm[cc]
            contrib = math.floor(
                1_000_000.0 * float(dev) * float(dev)
                / (float(n) * float(rm[rc]) * float(cm[cc]))
            )
            tot += contrib
            assert got[(rc, cc)] == (o, rm[rc], cm[cc], dev, contrib), (rc, cc)
    # fold row: df=2 literal, strongly dependent table -> rejected
    assert got[("__all__", "__all__")] == (
        n, 2, int(tot > CRIT_E6[2]), 0, tot,
    )
    assert got[("__all__", "__all__")][2] == 1
    assert (("z", "q") in got) and got[("z", "q")][0] == 0  # dense spine


def test_chi2_independent_not_rejected(spark):
    from aira_spark.operators.chi2 import chi2_census

    # perfectly proportional table: chi2 = 0 exactly
    pairs = (
        [("a", "p")] * 30 + [("a", "q")] * 10
        + [("b", "p")] * 60 + [("b", "q")] * 20
    )
    df = spark.createDataFrame(pairs, "row_cat string, col_cat string")
    got = {(r["row_cat"], r["col_cat"]): r for r in
           chi2_census(df, df_crit=1).collect()}
    assert got[("__all__", "__all__")]["contrib_e6"] == 0
    assert got[("__all__", "__all__")]["c"] == 0
    assert all(r["dev"] == 0 for k, r in got.items() if k[0] != "__all__")


def test_chi2_unknown_df_raises(spark):
    import pytest as _pytest

    from aira_spark.operators.chi2 import chi2_census

    df = spark.createDataFrame([("a", "b")], "row_cat string, col_cat string")
    with _pytest.raises(ValueError, match="critical literal"):
        chi2_census(df, df_crit=7)


# ---------------------------------------------------------------- flesch


def _brute_flesch(doc):
    import re

    words = re.findall(r"[a-z]+", doc.lower())
    if not words:
        return None
    w = len(words)
    s = max(len(re.findall(r"[.!?]+", doc)), 1)
    y = len(re.findall(r"[aeiouy]+", doc.lower())) + sum(
        1 for x in words if not re.search(r"[aeiouy]", x)
    )
    score = 206_835 - (1015 * w) // s - (84_600 * y) // w
    band = ("very_easy" if score >= 90_000 else
            "standard" if score >= 60_000 else
            "difficult" if score >= 30_000 else "very_confusing")
    return (w, s, y, score, band)


def test_flesch_hand_and_mirror(spark):
    from aira_spark.operators.readability import flesch_census

    docs = [
        (1, "The cat sat. The dog ran! It is fun."),          # easy prose
        (2, "Incomprehensibility characterizes administrative "
            "bureaucratization; organizational interdependencies "
            "necessitate reconceptualization."),               # dense
        (3, "xyz qrst brr."),                                  # vowelless words
        (4, "no terminator here just words flowing along"),    # clamp s=1
        (5, "!!! ... ???"),                                    # zero words: drop
        (6, "Ellipsis... counts once! Right?"),                # [.!?]+ runs
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_words"], r["n_sents"], r["n_syll"],
                      r["flesch_e3"], r["band"])
        for r in flesch_census(df).collect()
    }
    want = {i: _brute_flesch(t) for i, t in docs if _brute_flesch(t)}
    assert got == want
    assert 5 not in got                     # zero-word doc dropped
    assert got[1][4] == "very_easy"
    assert got[2][4] == "very_confusing"
    assert got[3][2] == 3                   # 3 vowelless words = 3 syllables
    assert got[4][1] == 1                   # sentence clamp
    assert got[6][1] == 3                   # '...' is ONE terminator run


# ---------------------------------------------------------------- gyration


def _brute_gyration(rows):
    """rows = (user_id, x, y); python mirror of gyration.gyration."""
    import math
    from collections import defaultdict

    by = defaultdict(list)
    for u, x, y in rows:
        by[u].append((math.floor(x * 10000.0), math.floor(y * 10000.0)))
    out = {}
    for u, pts in by.items():
        n = len(pts)
        sx = sum(p[0] for p in pts); sy = sum(p[1] for p in pts)
        s2 = sum(p[0] ** 2 + p[1] ** 2 for p in pts)
        num = n * s2 - sx * sx - sy * sy
        rg2 = num // (n * n)
        out[u] = (n, sx // n, sy // n, rg2,
                  math.floor(math.sqrt(float(rg2))))
    return out


def test_gyration_matches_brute_force(spark):
    import random

    from aira_spark.operators.gyration import gyration

    rng = random.Random(101)
    rows = []
    for u in range(8):
        cx, cy = rng.uniform(-170, 170), rng.uniform(-80, 80)
        spread = 0.001 if u < 4 else 5.0   # homebodies vs travelers
        for _ in range(rng.randint(2, 30)):
            rows.append((u, cx + rng.uniform(-spread, spread),
                         cy + rng.uniform(-spread, spread)))
    rows.append((99, -50.5, -20.25))       # single ping: rg = 0
    df = spark.createDataFrame(rows, "user_id long, x double, y double")
    got = {
        r["user_id"]: (r["n_pings"], r["cx_e4"], r["cy_e4"], r["rg2_d"],
                       r["rg_e4"])
        for r in gyration(df).collect()
    }
    assert got == _brute_gyration(rows)
    assert got[99] == (1, -505000, -202500, 0, 0)
    # travelers roam orders of magnitude farther than homebodies
    assert min(got[u][4] for u in range(4, 8)) > 100 * max(
        got[u][4] for u in range(4)
    )


def test_gyration_overflow_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.gyration import gyration

    rows = [(1, 179.9, 89.9)] * 2000
    df = spark.createDataFrame(rows, "user_id long, x double, y double")
    with _pytest.raises(RuntimeError, match="rescale"):
        gyration(df)


# ----------------------------------------------------------- focal_majority


def test_focal_majority_hand_grid(spark):
    """Constructed mosaic at res=1,pb=4 (32x32 fine grid): class-0 field
    with a class-3 block and one salt pixel — the salt flips, the block
    core survives, ties break to the smallest class. Full python mirror."""
    from collections import Counter

    import numpy as np

    from aira_spark.operators.focal import focal_majority
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 10, dtype=np.uint8)       # class 0
    a[4:12, 4:12] = 250                              # class 3 block
    a[20, 20] = 250                                  # salt pixel
    a[0, 28:32] = 130                                # class-2 edge strip
    img = [("img000", bytearray(write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 8),
        geo=((360.0 / 32, 180.0 / 32, 0.0),
             (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))]
    df = spark.createDataFrame(img, "image_id string, bytes binary")
    got = {
        (r["fx"], r["fy"]): (r["n_nbrs"], r["center_cls"], r["mode_cls"],
                             r["mode_cnt"], r["changed"])
        for r in focal_majority(df, res=1).collect()
    }
    assert len(got) == 1024
    vals = {}
    for r in range(32):
        for c in range(32):
            vals[(c, 31 - r)] = int(a[r, c]) // 64
    for (fx, fy), ccls in vals.items():
        nb = Counter(
            vals[(fx + dx, fy + dy)]
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (fx + dx, fy + dy) in vals
        )
        key = max(cnt * 4 + (3 - cls) for cls, cnt in nb.items())
        mode_cls, mode_cnt = 3 - key % 4, key // 4
        assert got[(fx, fy)] == (
            sum(nb.values()), ccls, mode_cls, mode_cnt,
            int(mode_cls != ccls),
        ), (fx, fy)
    # the salt pixel flips to the field class; the block core survives
    assert got[(20, 11)][4] == 1 and got[(20, 11)][2] == 0
    assert got[(8, 24)][4] == 0 and got[(8, 24)][2] == 3


# ------------------------------------------------------------------- ccf


def _brute_ccf(rows, max_lag):
    """rows = (grp, day, cents); python mirror of ccf.ccf_pairs."""
    import math
    from collections import defaultdict

    daily = defaultdict(int)
    for g, d, c in rows:
        daily[(g, d)] += c
    series = defaultdict(dict)
    for (g, d), y in daily.items():
        series[g][d] = y
    out = {}
    for ga in series:
        for gb in series:
            if ga == gb:
                continue
            for lag in range(0, max_lag + 1):
                pairs = [
                    (x, series[gb][d + lag])
                    for d, x in series[ga].items()
                    if d + lag in series[gb]
                ]
                if not pairs:
                    continue
                n = len(pairs)
                sx = sum(p[0] for p in pairs); sy = sum(p[1] for p in pairs)
                sxx = sum(p[0] ** 2 for p in pairs)
                syy = sum(p[1] ** 2 for p in pairs)
                sxy = sum(p[0] * p[1] for p in pairs)
                cov = n * sxy - sx * sy
                vx, vy = n * sxx - sx * sx, n * syy - sy * sy
                r = (int(math.floor(
                    1_000_000.0 * cov / math.sqrt(float(vx) * float(vy))))
                    if n >= 2 and vx > 0 and vy > 0 else 0)
                out[(ga, gb, lag)] = (n, cov, r)
    return out


def test_ccf_leader_follower(spark):
    """b copies a shifted by 2 days (plus noise-free scaling): the (a, b)
    lag-2 correlation is exactly +1e6 and dominates every other lag."""
    from aira_spark.operators.ccf import ccf_pairs

    rows = []
    vals = [100, 400, 150, 900, 250, 700, 50, 800, 333, 600]
    for d, v in enumerate(vals):
        rows.append(("a", d, v))
        rows.append(("b", d + 2, v * 3))   # b follows a by 2, scaled
        rows.append(("c", d, 500))         # constant: degenerate
    ev = spark.createDataFrame(rows, "grp string, day long, cents long")
    got = {
        (r["grp_a"], r["grp_b"], r["lag"]): (r["n_pairs"], r["cov_n"],
                                             r["r_e6"])
        for r in ccf_pairs(ev, max_lag=3).collect()
    }
    assert got == _brute_ccf(rows, 3)
    assert got[("a", "b", 2)][2] == 1_000_000   # perfect lead-lag match
    assert all(
        got[("a", "b", k)][2] < 1_000_000 for k in (0, 1, 3)
    )
    assert got[("c", "a", 0)][2] == 0           # zero-variance side


# ----------------------------------------------------------- hull_diameter


def test_hull_diameter_equals_all_pairs(spark):
    """The convexity pin: diameter over hull vertices == diameter over
    ALL points; plus hand clusters (square, collinear line, single)."""
    import math
    import random
    from collections import defaultdict

    from aira_spark.functions.cells import np_cell_pack
    from aira_spark.operators.hull import Q, hull_diameter

    rng = random.Random(103)
    rows = []
    # random clusters in separate coarse cells (res=4 => 22.5 x 11.25 deg)
    for k in range(4):
        cx, cy = -150 + k * 40, 10
        for i in range(30):
            rows.append((k * 100 + i, cx + rng.uniform(-3, 3),
                         cy + rng.uniform(-3, 3)))
    rows += [(900, 100.1, 50.1), (901, 100.2, 50.2), (902, 100.3, 50.3)]
    rows.append((950, 140.0, -50.0))  # singleton cluster
    df = spark.createDataFrame(rows, "point_id long, x double, y double")
    got = {
        r["grp"]: (r["n_hull"], r["diam2"], r["diam_e4"])
        for r in hull_diameter(df, res=4).collect()
    }
    # all-pairs python mirror on the dedup'd quantized set
    by = defaultdict(dict)
    n = 16
    for pid, x, y in rows:
        ix = min(max(math.floor((x + 180.0) / 360.0 * n), 0), n - 1)
        iy = min(max(math.floor((y + 90.0) / 180.0 * n), 0), n - 1)
        grp = int(np_cell_pack(4, ix, iy))
        q = (round(x * Q), round(y * Q))
        by[grp].setdefault(q, pid)
    for grp, pts in by.items():
        ps = list(pts)
        d2 = max(
            ((a[0] - b[0]) ** 2 + (a[1] - b[1]) ** 2
             for i, a in enumerate(ps) for b in ps[i + 1:]),
            default=0,
        )
        assert got[grp][1] == d2, grp
        assert got[grp][2] == math.floor(math.sqrt(float(d2)))
    # collinear cluster: hull keeps only the 2 extremes, diameter spans them
    line_grp = [g for g, p in by.items() if len(p) == 3
                and any(v in (900, 901, 902) for v in p.values())]
    assert got[line_grp[0]][0] == 2
    singleton = [g for g, p in by.items() if len(p) == 1][0]
    assert got[singleton] == (1, 0, 0)


# ----------------------------------------------------------- dist_transform


def test_distance_transform_hand_grid(spark):
    """Constructed 32x32 grid: one bright seed block — chamfer 10/14
    distances match a python Dijkstra-style mirror; far corner is beyond
    6 rounds and ships the -1 sentinel."""
    import heapq

    import numpy as np

    from aira_spark.operators.disttrans import W_OFFS, distance_transform
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 50, dtype=np.uint8)
    a[14:18, 14:18] = 250    # central seed block
    img = [("img000", bytearray(write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 8),
        geo=((360.0 / 32, 180.0 / 32, 0.0),
             (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))]
    df = spark.createDataFrame(img, "image_id string, bytes binary")
    got = {
        (r["fx"], r["fy"]): r["dist10"]
        for r in distance_transform(df, res=1, rounds=6).collect()
    }
    assert len(got) == 1024
    # python mirror: bounded-round chamfer relaxation (NOT full Dijkstra —
    # the operator's semantics are exactly `rounds` synchronous sweeps)
    seeds = {(c, 31 - r) for r in range(32) for c in range(32)
             if a[r, c] >= 192}
    dist = {s: 0 for s in seeds}
    for _ in range(6):
        nxt = dict(dist)
        for (x, y), d in dist.items():
            for dx, dy, w in W_OFFS:
                t = (x + dx, y + dy)
                if 0 <= t[0] < 32 and 0 <= t[1] < 32:
                    if t not in nxt or d + w < nxt[t]:
                        nxt[t] = d + w
        dist = nxt
    for cell in got:
        assert got[cell] == dist.get(cell, -1), cell
    assert got[(15, 15)] == 0                    # inside the seed block
    assert got[(12, 15)] == 20                   # 2 rook steps west
    assert got[(12, 13)] == 24                   # diagonal + rook mix
    assert got[(0, 0)] == -1                     # beyond 6 rounds: sentinel


# ------------------------------------------------------------------ harris


def test_harris_corners_hand_grid(spark):
    """Constructed 32x32 grid with one bright block on a flat background:
    full python mirror of the gradient/tensor/NMS chain, plus the Harris
    signature pins — flat regions r20 = 0, straight edges r20 < 0, block
    corners positive-response peaks."""
    import numpy as np

    from aira_spark.operators.harris import harris_corners
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 40, dtype=np.uint8)
    a[10:20, 12:22] = 230    # bright block: 4 corners, 4 straight edges
    img = [("img000", bytearray(write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 8),
        geo=((360.0 / 32, 180.0 / 32, 0.0),
             (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))]
    df = spark.createDataFrame(img, "image_id string, bytes binary")
    got = {
        (r["fx"], r["fy"]): (r["n_win"], r["sxx"], r["syy"], r["sxy"],
                             r["r20"], r["is_peak"], r["corner"])
        for r in harris_corners(df, res=1).collect()
    }
    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}
    grad = {}
    for (x, y), _ in val.items():
        nb = [(x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)]
        if all(p in val for p in nb):
            grad[(x, y)] = (val[(x + 1, y)] - val[(x - 1, y)],
                            val[(x, y + 1)] - val[(x, y - 1)])
    tensor = {}
    for (x, y) in grad:
        win = [(x + dx, y + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
               if (x + dx, y + dy) in grad]
        sxx = sum(grad[p][0] ** 2 for p in win)
        syy = sum(grad[p][1] ** 2 for p in win)
        sxy = sum(grad[p][0] * grad[p][1] for p in win)
        r20 = 20 * (sxx * syy - sxy * sxy) - (sxx + syy) ** 2
        tensor[(x, y)] = (len(win), sxx, syy, sxy, r20)
    exp = {}
    for (x, y), (n_win, sxx, syy, sxy, r20) in tensor.items():
        nbrs = [tensor[(x + dx, y + dy)][4]
                for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                if (dx, dy) != (0, 0) and (x + dx, y + dy) in tensor]
        peak = (not nbrs) or r20 > max(nbrs)
        exp[(x, y)] = (n_win, sxx, syy, sxy, r20,
                       int(peak), int(peak and r20 > 0))
    assert got == exp
    # flat background far from the block: zero tensor, zero response
    assert got[(5, 5)][1:5] == (0, 0, 0, 0)
    # straight edge midpoints: one dominant gradient direction -> r20 < 0
    assert got[(12, 15)][4] < 0 or got[(11, 15)][4] < 0
    # at least one positive-response corner cell survives NMS per block
    corners = [c for c, v in got.items() if v[6] == 1]
    assert corners, "bright block must yield at least one Harris corner"
    # every surviving corner sits near the block boundary, never in flat
    for (x, y) in corners:
        assert min(abs(x - 12), abs(x - 21)) <= 2 or \
               min(abs(y - 12), abs(y - 21)) <= 2


# ----------------------------------------------------------- patch_entropy


def test_patch_entropy_hand_grid(spark):
    """Constructed 32x32 image = 4 coarse cells at res=1/pb=4: one flat
    quadrant (H exactly 0), one two-value quadrant (H exactly 1 bit), one
    uniform 16-bin quadrant (H exactly 4 bits), one mixed — all mirrored
    in python with the same floor table."""
    import math

    import numpy as np

    from aira_spark.operators.entropy import patch_entropy
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    a[16:, :16] = 7                        # fx 0-15, fy 0-15: flat bin 0
    a[16:, 16:] = np.where(                # fx 16-31, fy 0-15: bins 0/1
        (np.arange(32 * 16).reshape(16, 32)[:, 16:] % 2) == 0, 3, 19)
    for r in range(16):                    # fy 16-31 rows (top half)
        for c in range(16):                # fx 0-15: all 16 bins equally
            a[r, c] = ((r * 16 + c) % 16) * 16
        for c in range(16, 32):            # fx 16-31: mixed 3-bin split
            a[r, c] = [0, 0, 40, 250][(r + c) % 4]
    img = [("img000", bytearray(write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 8),
        geo=((360.0 / 32, 180.0 / 32, 0.0),
             (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))]
    df = spark.createDataFrame(img, "image_id string, bytes binary")
    got = {
        (r["gx"], r["gy"]): (r["n_fine"], r["n_bins"], r["h_e6"], r["flat"])
        for r in patch_entropy(df, res=1).collect()
    }
    assert len(got) == 4
    # python mirror with the identical floor table
    L = [math.floor(math.log2(k) * 1_000_000) for k in range(1, 257)]
    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}
    exp = {}
    from collections import Counter
    for gx in (0, 1):
        for gy in (0, 1):
            cnts = Counter(val[(x, y)] // 16
                           for x in range(gx * 16, gx * 16 + 16)
                           for y in range(gy * 16, gy * 16 + 16))
            n = sum(cnts.values())
            s = sum(c * L[c - 1] for c in cnts.values())
            h = (n * L[n - 1] - s) // n
            exp[(gx, gy)] = (n, len(cnts), h, int(h < 500_000))
    assert got == exp
    assert got[(0, 0)][2] == 0 and got[(0, 0)][3] == 1      # flat: 0 bits
    assert got[(1, 0)][2] == 1_000_000                      # exactly 1 bit
    assert got[(0, 1)][2] == 4_000_000                      # exactly 4 bits
    assert got[(1, 1)][3] == 0                              # mixed: not flat


# -------------------------------------------------------------- kde_quartic


def test_kde_quartic_hand_points(spark):
    """Hand point set on a tiny grid: python mirror of the 29-arm literal
    kernel, weight pins (center 100, rim 1), zero-beyond-bandwidth, and
    additivity of coincident points."""
    from collections import defaultdict

    from aira_spark.operators.kde import KDE_KERNEL, kde_quartic

    # res=5 -> 32x32 world grid; cell (gx, gy) center picked via x/y math:
    # x in [-180 + gx*11.25, ...), y likewise
    def xy(gx, gy):
        return (-180.0 + (gx + 0.5) * 360.0 / 32,
                -90.0 + (gy + 0.5) * 180.0 / 32)

    pts = [xy(10, 10), xy(10, 10), xy(10, 10),   # 3 coincident points
           xy(20, 20),                            # 1 isolated point
           xy(0, 0)]                              # grid-corner clipping
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)],
        "point_id long, x double, y double")
    got = {(r["gx"], r["gy"]): (r["n_src_cells"], r["kde_w"])
           for r in kde_quartic(df, res=5).collect()}
    exp = defaultdict(lambda: [0, 0])
    cnts = defaultdict(int)
    for x, y in pts:
        gx = int((x + 180.0) / 360.0 * 32)
        gy = int((y + 90.0) / 180.0 * 32)
        cnts[(gx, gy)] += 1
    for (gx, gy), c in cnts.items():
        for (dx, dy), w in KDE_KERNEL.items():
            tx, ty = gx + dx, gy + dy
            if 0 <= tx < 32 and 0 <= ty < 32:
                exp[(tx, ty)][0] += 1
                exp[(tx, ty)][1] += c * w
    assert got == {k: tuple(v) for k, v in exp.items()}
    assert got[(10, 10)] == (1, 300)          # center weight 100 x 3 pts
    assert got[(13, 10)] == (1, 3)            # rim cell d2=9: weight 1 x 3
    assert got[(20, 23)] == (1, 1)            # isolated point rim
    assert (17, 17) not in got                # beyond bandwidth: exact zero
    assert (0, 0) in got and (1, 1) in got    # corner clips, still emits
    # kernel sanity: 29 arms, quartic decay values
    assert len(KDE_KERNEL) == 29
    assert KDE_KERNEL[(0, 0)] == 100 and KDE_KERNEL[(2, 2)] == 4


# --------------------------------------------------------------- label_prop


def _brute_lpa(edges, rounds=6):
    """python mirror of graph.label_prop: closed-neighborhood majority,
    ties to smallest label, synchronous rounds."""
    from collections import Counter, defaultdict

    und = defaultdict(set)
    for s, d in edges:
        if s != d:
            und[s].add(d)
            und[d].add(s)
    lbl = {n: n for n in und}
    for _ in range(rounds):
        nxt = {}
        for n in und:
            votes = Counter(lbl[b] for b in und[n])
            votes[lbl[n]] += 1
            best = max(votes.items(), key=lambda kv: (kv[1], -kv[0]))
            nxt[n] = best[0]
        lbl = nxt
    sizes = Counter(lbl.values())
    return {n: (l, sizes[l]) for n, l in lbl.items()}


def test_label_prop_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: each clique converges to
    its smallest member's label; full python-mirror parity on a random
    graph too."""
    import random

    from aira_spark.operators.graph import label_prop

    cliq = [(a, b) for grp in ([10, 11, 12, 13], [20, 21, 22, 23])
            for i, a in enumerate(grp) for b in grp[i + 1:]]
    edges = cliq + [(13, 20)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: (r["label"], r["comm_size"])
           for r in label_prop(df, rounds=6).collect()}
    assert got == _brute_lpa(edges)
    assert all(got[n][0] == 10 for n in (10, 11, 12))
    assert all(got[n][0] == 20 for n in (21, 22, 23))
    # random-graph parity (seeded): mirror must match exactly
    rng = random.Random(7)
    redges = list({(rng.randrange(40), rng.randrange(40))
                   for _ in range(120)})
    redges = [(s, d) for s, d in redges if s != d]
    rdf = spark.createDataFrame(redges, "src long, dst long")
    rgot = {r["node"]: (r["label"], r["comm_size"])
            for r in label_prop(rdf, rounds=6).collect()}
    assert rgot == _brute_lpa(redges)


# --------------------------------------------------------------------- ssim


def test_ssim_bands_constructed(spark):
    """Constructed 3-band image: identical bands -> SSIM exactly 1.0;
    inverted band -> strongly negative structure term; python mirror of
    the factor formulas + the pinned double chain on every pair."""
    import math

    import numpy as np

    from aira_spark.operators.ssim import ssim_bands
    from aira_spark.tiff.encode import write_tiff

    rng = np.random.RandomState(3)
    b0 = rng.randint(0, 256, size=(16, 16)).astype(np.uint8)
    b1 = b0.copy()                 # identical twin -> ssim == 1
    b2 = (255 - b0)               # inverted -> anti-structural
    img = np.stack([b0, b1, b2], axis=2)
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            img, byteorder="<", layout=("strips", 8),
            geo=((360.0 / 16, 180.0 / 16, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["band_x"], r["band_y"]):
           (r["n_px"], r["a_l"], r["b_l"], r["c_l"], r["d_l"],
            r["ssim_e6"], r["similar"])
           for r in ssim_bands(df).collect()}
    assert set(got) == {(0, 1), (0, 2), (1, 2)}

    def mirror(x, y):
        xf = x.astype(np.int64).ravel()
        yf = y.astype(np.int64).ravel()
        n = xf.size
        sx, sy = int(xf.sum()), int(yf.sum())
        sxx, syy = int((xf * xf).sum()), int((yf * yf).sum())
        sxy = int((xf * yf).sum())
        a = 800 * sx * sy + 2601 * n * n
        b = 800 * (n * sxy - sx * sy) + 23409 * n * n
        c = 400 * (sx * sx + sy * sy) + 2601 * n * n
        d = 400 * ((n * sxx - sx * sx) + (n * syy - sy * sy)) \
            + 23409 * n * n
        e6 = math.floor((float(a) * float(b)) / (float(c) * float(d))
                        * 1000000.0)
        return (n, a, b, c, d, e6, int(e6 >= 900_000))

    assert got[(0, 1)] == mirror(b0, b1)
    assert got[(0, 2)] == mirror(b0, b2)
    assert got[(1, 2)] == mirror(b1, b2)
    # identical bands: every factor pair equal -> ssim exactly 1.0
    assert got[(0, 1)][5] == 1_000_000 and got[(0, 1)][6] == 1
    # inverted band: structure term negative -> ssim << 0.9, flag off
    assert got[(0, 2)][5] < 0 and got[(0, 2)][6] == 0


# ---------------------------------------------------------------- pca_top1


def _brute_pca(vecs, rounds=8):
    """python mirror of operators/pca.py: identical quantization, moment
    fold, floor normalization and iteration."""
    def fdiv(a, b):
        return (a - ((a % b) + b) % b) // b

    n, dim = len(vecs), len(vecs[0])
    q = [[round(x * 1024.0) for x in v] for v in vecs]
    s = [sum(q[i][j] for i in range(n)) for j in range(dim)]
    m = [[n * sum(q[i][j] * q[i][k] for i in range(n)) - s[j] * s[k]
          for k in range(dim)] for j in range(dim)]
    mmax = max(abs(x) for row in m for x in row)
    mp = [[0 if mmax == 0 else fdiv(x * 1_000_000, mmax) for x in row]
          for row in m]
    v = [1_000_000] * dim
    for _ in range(rounds):
        w = [sum(mp[j][k] * v[k] for k in range(dim)) for j in range(dim)]
        wmax = max(abs(x) for x in w)
        v = [0 if wmax == 0 else fdiv(x * 1_000_000, wmax) for x in w]
    return {i: sum(q[i][j] * v[j] for j in range(dim)) for i in range(n)}


def test_pca_top1_mirror_and_axis(spark):
    """Seeded vectors with a planted dominant axis: full python-mirror
    parity; projections separate the +axis and -axis populations with
    consistent sign; overflow guard raises loudly."""
    import random

    import pytest as _pytest

    from aira_spark.operators.pca import pca_top1

    rng = random.Random(11)
    dim = 8
    axis = [1.0 if j < 4 else -1.0 for j in range(dim)]
    vecs, labels = [], []
    for i in range(60):
        side = 1 if i % 2 == 0 else -1
        v = [side * a * 0.3 + rng.uniform(-0.05, 0.05) for a in axis]
        vecs.append([round(x * 1024.0) / 1024.0 for x in v])
        labels.append(max(side, 0))
    df = spark.createDataFrame(
        [(i, vecs[i], labels[i]) for i in range(60)],
        "vec_id long, embedding array<double>, label long")
    got = {r["vec_id"]: (r["label"], r["proj"])
           for r in pca_top1(df, dim=dim, rounds=8).collect()}
    exp = _brute_pca(vecs, rounds=8)
    assert {i: p for i, (_, p) in got.items()} == exp
    # the two planted populations land on opposite sides of zero
    pos = [p for i, (lbl, p) in got.items() if lbl == 1]
    neg = [p for i, (lbl, p) in got.items() if lbl == 0]
    assert (all(p > 0 for p in pos) and all(p < 0 for p in neg)) or \
           (all(p < 0 for p in pos) and all(p > 0 for p in neg))
    # loud overflow guard: huge synthetic coords blow the budget
    big = spark.createDataFrame(
        [(i, [2000.0] * 4, 0) for i in range(3000)],
        "vec_id long, embedding array<double>, label long")
    with _pytest.raises(ValueError, match="budget"):
        pca_top1(big, dim=4, rounds=1)


# ---------------------------------------------------------------------- hog


def test_hog_octant_classification(spark):
    """Octant CASE: every representative (gx, gy) direction including all
    boundary rays lands in the documented bin, via a constructed-gradient
    python mirror against the operator on a synthetic ramp image."""
    import numpy as np

    from aira_spark.operators.hog import hog_census
    from aira_spark.tiff.encode import write_tiff

    def py_octant(gx, gy):
        if gx == 0 and gy == 0:
            return -1
        if gy >= 0 and gx > 0 and gx >= gy:
            return 0
        if gy > 0 and gx >= 0 and gy >= gx:
            return 1
        if gy > 0 and gx < 0 and gy >= -gx:
            return 2
        if gy >= 0 and gx < 0 and -gx >= gy:
            return 3
        if gy <= 0 and gx < 0 and -gx >= -gy:
            return 4
        if gy < 0 and gx <= 0 and -gy >= -gx:
            return 5
        if gy < 0 and gx > 0 and -gy >= gx:
            return 6
        return 7

    # boundary-ray pins (counterclockwise from +x, ties resolved by order)
    assert py_octant(1, 0) == 0 and py_octant(1, 1) == 0
    assert py_octant(0, 1) == 1 and py_octant(-1, 1) == 2
    assert py_octant(-1, 0) == 3 and py_octant(-1, -1) == 4
    assert py_octant(0, -1) == 5 and py_octant(1, -1) == 6
    assert py_octant(3, -2) == 7 and py_octant(0, 0) == -1

    # ramp image: val = (2r + 5c) % 201 over the interior keeps gradients
    # varied; mirror the full pipeline per coarse cell
    a = np.zeros((32, 32), dtype=np.uint8)
    for r in range(32):
        for c in range(32):
            a[r, c] = (2 * r + 5 * c) % 201
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["gx"], r["gy"], r["obin"]): (r["cnt"], r["energy"])
           for r in hog_census(df, res=1).collect()}
    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}
    from collections import defaultdict
    exp = defaultdict(lambda: [0, 0])
    for (x, y) in val:
        nb = [(x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)]
        if all(p in val for p in nb):
            gx = val[(x + 1, y)] - val[(x - 1, y)]
            gy = val[(x, y + 1)] - val[(x, y - 1)]
            key = (x // 16, y // 16, py_octant(gx, gy))
            exp[key][0] += 1
            exp[key][1] += gx * gx + gy * gy
    assert got == {k: tuple(v) for k, v in exp.items()}


# ----------------------------------------------------------------- textrank


def _brute_textrank(texts, window=3, min_count=3, rounds=6):
    """python mirror of operators/textrank.py with the pinned division
    order (all operands nonneg: // == DIV)."""
    from collections import defaultdict

    und = defaultdict(int)
    for t in texts:
        ws = t.split(" ")
        for i, w1 in enumerate(ws):
            for k in range(1, window + 1):
                if i + k < len(ws):
                    w2 = ws[i + k]
                    if w1 != w2:
                        und[(min(w1, w2), max(w1, w2))] += 1
    edges = defaultdict(list)
    for (a, b), w in und.items():
        if w >= min_count:
            edges[a].append((b, w))
            edges[b].append((a, w))
    wdeg = {n: sum(w for _, w in nbrs) for n, nbrs in edges.items()}
    rank = {n: 1_000_000 for n in edges}
    for _ in range(rounds):
        inflow = defaultdict(int)
        for a, nbrs in edges.items():
            for b, w in nbrs:
                inflow[b] += rank[a] * w // wdeg[a] * 850_000 // 1_000_000
        rank = {n: 150_000 + inflow[n] for n in edges}
    return {n: (wdeg[n], rank[n]) for n in edges}


def test_textrank_mirror_and_hub(spark):
    """Constructed corpus with one hub word co-occurring with everything:
    full python-mirror parity and the hub outranking every leaf."""
    from aira_spark.operators.textrank import textrank

    texts = []
    for i in range(12):
        texts.append(f"hub leaf{i % 4} hub leaf{(i + 1) % 4} filler{i % 2}")
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    got = {r["word"]: (r["wdeg"], r["rank_micros"])
           for r in textrank(df, window=3, min_count=3, rounds=6).collect()}
    assert got == _brute_textrank(texts)
    hub_rank = got["hub"][1]
    assert all(hub_rank > v[1] for w, v in got.items() if w != "hub")


# ------------------------------------------------------------- mad_outliers


def _brute_mad(rows):
    """rows = (cell, day, cents); mirror of operators/robust.py."""
    from collections import defaultdict

    daily = defaultdict(int)
    for cell, day, cents in rows:
        daily[(cell, day)] += cents
    by = defaultdict(list)
    for (cell, _), y in daily.items():
        by[cell].append(y)

    def ostat2(vals):
        vs = sorted(vals)
        n = len(vs)
        return vs[(n + 1) // 2 - 1] + vs[n // 2]

    out = {}
    for cell, ys in by.items():
        med2 = ostat2(ys)
        devs = [abs(2 * y - med2) for y in ys]
        mad4 = ostat2(devs)
        flags = sum(1 for d in devs if 20000 * d > 44478 * mad4)
        out[cell] = (len(ys), med2, mad4, flags)
    return out


def test_mad_outliers_hand_and_mirror(spark):
    """Hand series with one wild spike (flagged, and NOT inflating its own
    threshold — the anti-moments pin), a constant series (any nonzero dev
    flags), and a seeded random mirror."""
    import random

    from aira_spark.operators.robust import mad_outliers

    rows = []
    # cell 1: tight series 100 +/- 2 with one 10000 spike
    for d, y in enumerate([100, 101, 99, 100, 102, 98, 100, 10000]):
        rows.append((1, d, y))
    # cell 2: constant, then one off-by-one day -> mad 0, dev flags
    for d, y in enumerate([50, 50, 50, 50, 51]):
        rows.append((2, d, y))
    # cell 3: seeded noise
    rng = random.Random(5)
    for d in range(30):
        rows.append((3, d, rng.randrange(0, 1000)))
    df = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: (r["n_days"], r["med_x2"], r["mad_x4"],
                       r["n_outliers"])
           for r in mad_outliers(df).collect()}
    assert got == _brute_mad(rows)
    assert got[1][3] == 1          # exactly the spike day flags
    assert got[2][2] == 0          # constant-to-the-median: MAD exactly 0
    assert got[2][3] == 1          # ... and the off day still flags


# ---------------------------------------------------------------------- lbp


def test_lbp_census_hand_grid(spark):
    """Constructed 32x32 image: full python mirror of ring assembly +
    closed-form pins — flat region -> code 255 (ties set bits), a bright
    isolated pixel -> its own code 0 and eight ring cells each dropping
    exactly one directional bit."""
    import numpy as np

    from aira_spark.operators.lbp import LBP_OFFS, lbp_census
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 80, dtype=np.uint8)
    a[8, 8] = 200      # isolated bright pixel at (fx=8, fy=23)
    for r in range(16, 32):
        for c in range(16, 32):
            a[r, c] = (3 * r + 7 * c) % 251     # textured quadrant
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["gx"], r["gy"], r["code"]): r["cnt"]
           for r in lbp_census(df, res=1).collect()}
    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}
    from collections import defaultdict
    exp = defaultdict(int)
    codes = {}
    for (x, y) in val:
        ring = [(x + dx, y + dy) for dx, dy in LBP_OFFS]
        if all(p in val for p in ring):
            code = sum(1 << k for k, p in enumerate(ring)
                       if val[p] >= val[(x, y)])
            codes[(x, y)] = code
            exp[(x // 16, y // 16, code)] += 1
    assert got == dict(exp)
    assert codes[(8, 23)] == 0                 # bright pixel: all bits off
    assert codes[(4, 4)] == 255                # flat: every tie sets a bit
    # ring cells around the bright pixel keep ALL bits (the bright
    # neighbor is >=, ties elsewhere set bits) — LBP's monotone-
    # illumination invariance shows up as the flat code 255
    for dx, dy in LBP_OFFS:
        assert codes[(8 + dx, 23 + dy)] == 255
    # a DARK pixel dual: dim pixel's ring cells each drop exactly the
    # bit pointing at it
    a2 = np.full((32, 32), 80, dtype=np.uint8)
    a2[8, 8] = 10
    val2 = {(c, 31 - r): int(a2[r, c]) for r in range(32) for c in range(32)}
    for k, (dx, dy) in enumerate(LBP_OFFS):
        rx, ry = 8 + dx, 23 + dy
        ring = [(rx + ox, oy + ry) for ox, oy in LBP_OFFS]
        code = sum(1 << kk for kk, p in enumerate(ring)
                   if val2[p] >= val2[(rx, ry)])
        opp = LBP_OFFS.index((-dx, -dy))
        assert code == 255 - (1 << opp)


# --------------------------------------------------------------- dispersion


def test_quadrat_dispersion_patterns(spark):
    """Constructed patterns on a 32x32 grid (res=5): a one-quadrat pile ->
    clustered, a perfectly regular one-per-quadrat spread -> dispersed,
    plus a python mirror of the exact VMR arithmetic."""
    from aira_spark.operators.dispersion import quadrat_dispersion

    def xy(gx, gy):
        return (-180.0 + (gx + 0.5) * 360.0 / 32,
                -90.0 + (gy + 0.5) * 180.0 / 32)

    rows = []
    pid = 0
    # mark 0: 64 points piled into ONE quadrat
    for _ in range(64):
        x, y = xy(3, 3)
        rows.append((pid, 0, x, y))
        pid += 1
    # mark 1: 64 points, one per quadrat in a regular 8x8 spread
    for gx in range(0, 32, 4):
        for gy in range(0, 32, 4):
            x, y = xy(gx, gy)
            rows.append((pid, 1, x, y))
            pid += 1
    df = spark.createDataFrame(rows, "point_id long, mark long, x double, y double")
    got = {r["mark"]: (r["n_pts"], r["occupied"], r["sum_c2"],
                       r["vmr_e6"], r["disp_class"])
           for r in quadrat_dispersion(df, res=5).collect()}
    q = 32 * 32

    def vmr(n, sum_c2):
        return (q * sum_c2 - n * n) * 1_000_000 // (n * (q - 1))

    # mark 0: one cell with c=64 -> sum_c2 = 4096
    assert got[0] == (64, 1, 4096, vmr(64, 4096), "clustered")
    assert got[0][3] > 1_000_000               # VMR >> 1
    # mark 1: 64 cells with c=1 -> sum_c2 = 64, VMR = (q-n)/(q-1) < 2/3? no:
    # (1024-64)/1023 ~ 0.94 -> 'random' band; squeeze into 'dispersed' by
    # checking the exact value instead of the class for this density
    assert got[1][:4] == (64, 64, 64, vmr(64, 64))
    assert got[1][3] < 1_000_000               # VMR < 1: toward regular
    # a denser regular spread IS classified dispersed: 1 point in each of
    # all 1024 quadrats -> VMR exactly 0
    rows2 = [(i, 0, *xy(i % 32, i // 32)) for i in range(1024)]
    df2 = spark.createDataFrame(rows2, "point_id long, mark long, x double, y double")
    got2 = quadrat_dispersion(df2, res=5).collect()[0]
    assert got2["vmr_e6"] == 0 and got2["disp_class"] == "dispersed"


# -------------------------------------------------------------- adamic_adar


def test_adamic_adar_mirror_and_hub_discount(spark):
    """Hand graph where pair (1,2) shares an exclusive friend and pair
    (8,9) shares only a hub: AA ranks the exclusive pair higher even
    though cn is equal; full python mirror."""
    import math
    from collections import defaultdict

    from aira_spark.operators.linkpred import adamic_adar

    # hub 100 connects to everyone 1..9; node 50 connects only to 1 and 2
    edges = [(100, i) for i in range(1, 10)] + [(50, 1), (50, 2)]
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {(r["u"], r["w"]): (r["cn"], r["aa_e6"], r["n_unscored"])
           for r in adamic_adar(df, min_common=1).collect()}

    und = defaultdict(set)
    for a, b in edges:
        und[a].add(b)
        und[b].add(a)
    L = [math.floor(math.log(d) * 1_000_000) for d in range(1, 1025)]
    exp = {}
    for u in und:
        for w in und:
            if u < w and w not in und[u]:
                common = und[u] & und[w]
                if common:
                    aa = sum(10 ** 12 // L[len(und[v]) - 1] for v in common)
                    exp[(u, w)] = (len(common), aa, 0)
    assert got == exp
    # (1,2): hub + exclusive friend (deg 2); (3,4): hub only (deg 9)
    assert got[(1, 2)][0] == 2 and got[(3, 4)][0] == 1
    assert got[(1, 2)][1] > 2 * got[(3, 4)][1]   # ln-2 friend dominates
    # weight sanity: 1/ln(2) in e6 fixed point
    assert 10 ** 12 // L[1] == 1_442_695


# ------------------------------------------------------------------- tophat


def test_tophat_small_feature_vs_block(spark):
    """Constructed image: a 1-px bright dot vanishes under opening (high
    tophat) while a 6x6 bright block's interior survives (tophat 0);
    full python min/max mirror; anti-extensivity tophat >= 0."""
    import numpy as np

    from aira_spark.operators.tophat import tophat
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 60, dtype=np.uint8)
    a[6, 6] = 220                    # 1-px dot at (fx=6, fy=25)
    a[14:20, 14:20] = 200            # 6x6 block: interior survives opening
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["fx"], r["fy"]): (r["val"], r["opening"], r["tophat"],
                                r["peak"])
           for r in tophat(df, res=1).collect()}
    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}

    def fold(src, f):
        out = {}
        for (x, y) in src:
            win = [(x + dx, y + dy) for dx in (-1, 0, 1)
                   for dy in (-1, 0, 1)]
            if all(p in src for p in win):
                out[(x, y)] = f(src[p] for p in win)
        return out

    opened = fold(fold(val, min), max)
    exp = {p: (val[p], o, val[p] - o, int(val[p] - o >= 32))
           for p, o in opened.items()}
    assert got == exp
    assert all(v[2] >= 0 for v in got.values())      # anti-extensive
    assert got[(6, 25)] == (220, 60, 160, 1)         # dot: removed, peak
    assert got[(17, 14)][2] == 0                     # block interior: kept
    # flat background far from features: opening == val
    assert got[(26, 6)] == (60, 60, 0, 0)


# ------------------------------------------------------------- exact_substr


def test_exact_substr_spans_hand_corpus(spark):
    """Hand corpus with a shared license block: the run spans exactly the
    shared region, unique docs emit nothing, full python mirror with
    k=3 grams."""
    import hashlib
    from collections import defaultdict

    from aira_spark.operators.dupspans import exact_substr_spans
    from aira_spark.functions.textfns import MH_P

    block = "this program is free software you can redistribute it"
    texts = {
        0: "alpha beta gamma " + block + " delta epsilon",
        1: "one two " + block + " three four five six",
        2: "totally unique words nothing shared here at all",
        3: "alpha beta gamma unrelated tail words here now",  # 3-gram hit
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r["doc_id"]: (r["n_grams"], r["n_dup_pos"], r["max_run"],
                         r["run_start"], r["span_tokens"])
           for r in exact_substr_spans(df, k=3, min_df=2).collect()}

    def grams(t, k=3):
        ws = t.split(" ")
        return [" ".join(ws[j:j + k]) for j in range(len(ws) - k + 1)]

    dfc = defaultdict(set)
    for d, t in texts.items():
        for g in set(grams(t)):
            dfc[g].add(d)
    dup = {g for g, ds in dfc.items() if len(ds) >= 2}
    exp = {}
    for d, t in texts.items():
        gs = grams(t)
        pos = [j for j, g in enumerate(gs) if g in dup]
        if not pos:
            continue
        runs = []
        start, prev = pos[0], pos[0]
        for p in pos[1:]:
            if p == prev + 1:
                prev = p
            else:
                runs.append((prev - start + 1, start))
                start = prev = p
        runs.append((prev - start + 1, start))
        best = max(runs, key=lambda r: (r[0], -r[1]))
        exp[d] = (len(gs), len(pos), best[0], best[1], best[0] + 2)
    assert got == exp
    assert 2 not in got                        # unique doc: no row
    # doc 0: the license block is 9 words -> 7 dup 3-gram positions,
    # starting after the 3 leading words (first dup gram at pos 3)
    assert got[0][2] == 7 and got[0][3] == 3 and got[0][4] == 9
    # sanity: python hash formula matches the module's (one probe)
    h = int(hashlib.md5(b"alpha beta gamma").hexdigest()[:15], 16) % MH_P
    assert isinstance(h, int)


# ---------------------------------------------------------------- spearman


def test_spearman_hand_dataset_with_ties(spark):
    """Python mirror (average-rank Pearson, no scipy) on a hand dataset
    with ties in both columns; doubled-rank sum invariant n*(n+1)."""
    import math

    from aira_spark.operators.spearman import spearman_rho

    rows = [
        # grp a: monotone increasing with a tie block in x and one in y
        ("a", 1, 10, 100), ("a", 2, 10, 200), ("a", 3, 30, 300),
        ("a", 4, 40, 300), ("a", 5, 50, 500), ("a", 6, 60, 450),
        # grp b: perfectly reversed -> rho exactly -1
        ("b", 1, 1, 9), ("b", 2, 2, 8), ("b", 3, 3, 7), ("b", 4, 4, 6),
        # grp c: constant x -> zero variance, rho_e6 = 0 by the guard
        ("c", 1, 7, 1), ("c", 2, 7, 2), ("c", 3, 7, 3),
    ]
    df = spark.createDataFrame(
        rows, "grp string, id long, xv long, yv long"
    )
    got = {r["grp"]: r.asDict() for r in spearman_rho(df).collect()}

    def mirror(pts):
        n = len(pts)

        def dranks(vals):
            out = []
            for v in vals:
                less = sum(1 for u in vals if u < v)
                eq = sum(1 for u in vals if u == v)
                out.append(2 * less + eq + 1)
            return out

        dx = dranks([p[0] for p in pts])
        dy = dranks([p[1] for p in pts])
        assert sum(dx) == n * (n + 1) and sum(dy) == n * (n + 1)
        sx, sy = sum(dx), sum(dy)
        sxx = sum(v * v for v in dx)
        syy = sum(v * v for v in dy)
        sxy = sum(a * b for a, b in zip(dx, dy))
        cov = n * sxy - sx * sy
        vx = n * sxx - sx * sx
        vy = n * syy - sy * sy
        rho = (
            int(math.floor(1_000_000.0 * cov / math.sqrt(float(vx) * float(vy))))
            if n >= 2 and vx > 0 and vy > 0 else 0
        )
        return cov, vx, vy, rho

    for g in ("a", "b", "c"):
        pts = [(x, y) for gg, _, x, y in rows if gg == g]
        cov, vx, vy, rho = mirror(pts)
        assert got[g]["cov_n"] == cov and got[g]["var_xn"] == vx
        assert got[g]["var_yn"] == vy and got[g]["rho_e6"] == rho
    assert got["b"]["rho_e6"] == -1_000_000      # exact reversal
    assert got["c"]["rho_e6"] == 0               # degenerate variance
    assert 0 < got["a"]["rho_e6"] < 1_000_000    # ties pull below +1


def test_spearman_group_size_guard(spark):
    from aira_spark.operators.spearman import spearman_rho

    df = spark.range(5).selectExpr(
        "'g' AS grp", "id", "id AS xv", "id AS yv"
    )
    try:
        spearman_rho(df, max_group_rows=3)
        assert False, "expected RuntimeError"
    except RuntimeError as e:
        assert "max_group_rows" in str(e)


# ------------------------------------------------------------------- hough


def test_hough_lines_full_python_mirror(spark):
    """Constructed 32x32 raster with one vertical and one horizontal
    bright line: the full accumulator (bins, votes, peaks, min_votes
    filter) matches a python mirror using the same compile-time table;
    the two line thetas (0 and pi/2) hold the strongest peaks."""
    import numpy as np

    from aira_spark.operators.hough import E6, hough_lines, trig_table
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    a[:, 10] = 255                   # vertical line at fx = 10
    a[6, :] = 255                    # horizontal line at fy = 25
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["theta"], r["rho_bin"]): (r["votes"], r["is_peak"])
           for r in hough_lines(
               df, res=1, n_theta=12, rho_q=4,
               mask_min=192, min_votes=8).collect()}

    nf, off = 32, 2 * 32 * E6
    mask = [(c, 31 - r) for r in range(32) for c in range(32)
            if a[r, c] >= 192]
    acc: dict[tuple[int, int], int] = {}
    for t, cth, sth in trig_table(12):
        for fx, fy in mask:
            rb = (fx * cth + fy * sth + off) // (4 * E6)
            acc[(t, rb)] = acc.get((t, rb), 0) + 1
    peaks = {}
    for (t, rb), v in acc.items():
        k = (v, -rb)
        if t not in peaks or k > peaks[t][1]:
            peaks[t] = (rb, k)
    exp = {}
    for (t, rb), v in acc.items():
        is_pk = 1 if peaks[t][0] == rb else 0
        if v >= 8 or is_pk:
            exp[(t, rb)] = (v, is_pk)
    assert got == exp
    # the two constructed lines dominate their exact-normal thetas:
    # theta 0 (cos=1, sin=0) -> rho = fx = 10 -> bin (10e6+off)//4e6
    vb = (10 * E6 + off) // (4 * E6)
    assert got[(0, vb)][0] >= 32 and got[(0, vb)][1] == 1
    # theta 6 (pi/2: cos=0, sin=1) -> rho = fy = 25
    hb = (25 * E6 + off) // (4 * E6)
    assert got[(6, hb)][0] >= 32 and got[(6, hb)][1] == 1
    # exactly one peak row per theta with votes
    assert sum(pk for _, pk in got.values()) == 12


# -------------------------------------------------------------- modularity


def test_modularity_two_cliques_vs_random(spark):
    """Two 4-cliques joined by one bridge: the clique partition scores
    Q = 2*(6/13 - (13/26)^2) = 11/26 exactly (q_num/(4m^2) with m=13);
    the everyone-in-one-community partition scores exactly 0; full
    python mirror of every census column."""
    from aira_spark.operators.modularity import modularity

    cl = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges = cl + [(a + 4, b + 4) for a, b in cl] + [(3, 4)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    two = spark.createDataFrame(
        [(i, i // 4) for i in range(8)], "node long, label long"
    )
    one = spark.createDataFrame(
        [(i, 0) for i in range(8)], "node long, label long"
    )
    m = len(edges)  # 13 distinct undirected edges

    got = {r["label"]: r.asDict() for r in modularity(edf, two).collect()}
    deg = {i: 3 for i in range(8)}
    deg[3] = deg[4] = 4
    for lab in (0, 1):
        nodes = [i for i in range(8) if i // 4 == lab]
        ds = sum(deg[i] for i in nodes)           # 13 per community
        inn = 6                                    # the clique's edges
        assert got[lab]["comm_size"] == 4
        assert got[lab]["deg_sum"] == ds
        assert got[lab]["in_edges"] == inn
        assert got[lab]["m_edges"] == m
        assert got[lab]["q_num"] == 4 * m * inn - ds * ds
    q = sum(r["q_num"] for r in got.values()) / (4.0 * m * m)
    assert abs(q - 11.0 / 26.0) < 1e-12           # closed-form value

    got1 = modularity(edf, one).collect()
    assert len(got1) == 1 and got1[0]["q_num"] == 0  # 4m*m - (2m)^2


def test_modularity_dedup_orientation_and_isolated(spark):
    """Duplicate/reversed/self-loop edges collapse to one undirected
    edge; a labeled node with no edges emits deg_sum = in_edges = 0."""
    from aira_spark.operators.modularity import modularity

    edf = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 2), (1, 1)], "src long, dst long"
    )
    lab = spark.createDataFrame(
        [(1, 7), (2, 7), (9, 8)], "node long, label long"
    )
    got = {r["label"]: r.asDict() for r in modularity(edf, lab).collect()}
    assert got[7]["in_edges"] == 1 and got[7]["deg_sum"] == 2
    assert got[7]["m_edges"] == 1 and got[7]["q_num"] == 4 * 1 * 1 - 4
    assert got[8]["comm_size"] == 1 and got[8]["deg_sum"] == 0
    assert got[8]["in_edges"] == 0 and got[8]["q_num"] == 0


# -------------------------------------------------------------- clustering


def test_clustering_census_hand_graph(spark):
    """Triangle + pendant + star: python mirror of every census bucket;
    c = 1 nodes land in bucket 10, star center lands in bucket 0,
    fold-row transitivity = 3*tri/wedges exactly."""
    from collections import defaultdict

    from aira_spark.operators.clustering import clustering_census

    # triangle 1-2-3 with pendant 4 on node 3; star 10-(11,12,13)
    edges = [(1, 2), (2, 3), (3, 1), (3, 4),
             (10, 11), (10, 12), (10, 13)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = {r["decile"]: (r["n_nodes"], r["sum_tri"], r["n_wedges"])
           for r in clustering_census(edf).collect()}

    und = set()
    for s, d in edges:
        und.add((min(s, d), max(s, d)))
    deg = defaultdict(int)
    for a, b in und:
        deg[a] += 1
        deg[b] += 1
    tri = defaultdict(int)
    nodes = sorted(deg)
    for i, a in enumerate(nodes):
        for b in nodes[i + 1:]:
            for c in nodes:
                if c > b and (a, b) in und and (b, c) in und \
                        and (a, c) in und:
                    for v in (a, b, c):
                        tri[v] += 1
    exp = defaultdict(lambda: [0, 0, 0])
    tot = [0, 0, 0]
    for v, d in deg.items():
        if d < 2:
            continue
        t, w = tri[v], d * (d - 1) // 2
        dec = (20 * t) // (d * (d - 1))
        for acc in (exp[dec], tot):
            acc[0] += 1
            acc[1] += t
            acc[2] += w
    exp[-1] = tot
    assert got == {k: tuple(v) for k, v in exp.items()}
    # nodes 1, 2 have d=2, t=1 -> c=1 -> bucket 10; star center d=3,
    # t=0 -> bucket 0; node 3 has d=3, t=1 -> 20//6 = bucket 3
    assert got[10][0] == 2 and got[0][0] == 1 and got[3][0] == 1
    # global transitivity: 3 triangles-counted-thrice / wedges
    assert got[-1][1] == 3 and got[-1][2] == 1 + 1 + 3 + 3


# ----------------------------------------------------------------- voronoi


def test_voronoi_census_hand_raster(spark):
    """Constructed 32x32 raster, three seeds: full python mirror of
    assignment (exact d2, smallest-id ties) and census; a far-away seed
    that wins nothing emits the honest zero row."""
    import numpy as np

    from aira_spark.operators.voronoi import voronoi_census
    from aira_spark.tiff.encode import write_tiff

    a = ((np.arange(32)[:, None] * 7 + np.arange(32)[None, :] * 13) % 256
         ).astype(np.uint8)
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    # seeds in degrees; the grid is 32x32 over the globe at res=1,pb=4.
    # seed 5 and 9 sit inside; seed 7 is snapped to the same corner cell
    # as... no: (179.9, 89.9) -> grid (31, 31), still competes but the
    # zero-row case needs a seed that LOSES everywhere — impossible in a
    # complete Voronoi over 2 close seeds, so make it a duplicate
    # position with a LARGER id: same cell as seed 5 -> loses every tie.
    seeds = spark.createDataFrame(
        [(5, -90.0, 0.0), (9, 90.0, 0.0), (7, -90.0, 0.0)],
        "seed_id long, x double, y double",
    )
    got = {r["seed_id"]: (r["n_cells"], r["sum_val"], r["d2_min"],
                          r["d2_max"])
           for r in voronoi_census(df, seeds, res=1)
           .collect()}

    def snap(v, lo, span):
        return min(max(int(np.floor((v - lo) / span * 32)), 0), 31)

    sxy = {5: (snap(-90, -180, 360), snap(0, -90, 180)),
           9: (snap(90, -180, 360), snap(0, -90, 180)),
           7: (snap(-90, -180, 360), snap(0, -90, 180))}
    exp = {s: [0, 0, None, None] for s in sxy}
    for r in range(32):
        for c in range(32):
            fx, fy, val = c, 31 - r, int(a[r, c])
            best = min(
                ((fx - sx) ** 2 + (fy - sy) ** 2, sid)
                for sid, (sx, sy) in sxy.items()
            )
            d2, sid = best
            e = exp[sid]
            e[0] += 1
            e[1] += val
            e[2] = d2 if e[2] is None else min(e[2], d2)
            e[3] = d2 if e[3] is None else max(e[3], d2)
    expt = {s: (v[0], v[1], -1 if v[2] is None else v[2],
                -1 if v[3] is None else v[3]) for s, v in exp.items()}
    assert got == expt
    assert got[7] == (0, 0, -1, -1)          # duplicate-position loser
    assert got[5][0] + got[9][0] == 32 * 32  # complete assignment
    assert got[5][2] == 0                    # seed 5 owns its own cell


def test_voronoi_seed_id_encode_guard(spark):
    import numpy as np

    from aira_spark.operators.voronoi import SEED_ENC, voronoi_census
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((16, 16), dtype=np.uint8)
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 16, 180.0 / 16, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    seeds = spark.createDataFrame(
        [(SEED_ENC + 1, 0.0, 0.0)], "seed_id long, x double, y double"
    )
    try:
        voronoi_census(df, seeds, res=1)
        assert False, "expected RuntimeError"
    except RuntimeError as e:
        assert "seed ids" in str(e)


# --------------------------------------------------------------- runs_test


def test_runs_test_hand_sequences(spark):
    """Three constructed cells: perfectly alternating (max runs ->
    'many'), fully sorted (2 runs -> 'few'), and a short random-ish one
    ('ns'); full python mirror incl. the drop-equals convention."""
    import math

    from aira_spark.operators.runstest import runs_test

    seqs = {
        # 16 days alternating 1, 9 around median -> R = 16, z > 1.96
        1: [1, 9] * 8,
        # 16 days sorted: 8 low then 8 high -> R = 2, z < -1.96
        2: [1] * 8 + [9] * 8,
        # median-equal days must DROP: 5 = med for [1,5,9,5,1,9] ->
        # sides of [1,9,1,9] -> R = 4, n1 = n2 = 2, not significant
        3: [1, 5, 9, 5, 1, 9],
    }
    rows = [(c, d, v) for c, vs in seqs.items() for d, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: r.asDict() for r in runs_test(df).collect()}

    for c, vs in seqs.items():
        sv = sorted(vs)
        n = len(sv)
        med2 = sv[(n + 1) // 2 - 1] + sv[n // 2]
        sides = [1 if 2 * v > med2 else 0 for v in vs if 2 * v != med2]
        n1, n2 = sum(sides), len(sides) - sum(sides)
        nn = n1 + n2
        r = 1 + sum(1 for i in range(1, len(sides))
                    if sides[i] != sides[i - 1])
        num = nn * r - nn - 2 * n1 * n2
        if n1 == 0 or n2 == 0 or nn < 2:
            cls = "ns"
        else:
            var = 2 * n1 * n2 * (2 * n1 * n2 - nn)
            sig = 625 * num * num * (nn - 1) > 2401 * var
            cls = ("few" if num < 0 else "many") if sig else "ns"
        g = got[c]
        assert (g["n_above"], g["n_below"], g["n_runs"], g["num"],
                g["runs_class"]) == (n1, n2, r, num, cls), (c, g)
        # cross-check significance against the float z formula
        if var > 0:
            z = (num / nn) / math.sqrt(var / (nn * nn * (nn - 1)))
            assert (abs(z) > 1.96) == (cls != "ns")
    assert got[1]["runs_class"] == "many"
    assert got[2]["runs_class"] == "few"
    assert got[3]["runs_class"] == "ns"
    assert got[3]["n_above"] == 2 and got[3]["n_runs"] == 4  # equals drop


def test_runs_test_degenerate_one_sided(spark):
    """All days identical -> every day equals the median -> no sides
    survive -> no row; all-above-after-drop -> 'ns'."""
    from aira_spark.operators.runstest import runs_test

    rows = [(1, d, 5) for d in range(6)]          # constant: all drop
    rows += [(2, 0, 1), (2, 1, 9), (2, 2, 9)]     # med=9(x2=18): 1 below
    df = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: r.asDict() for r in runs_test(df).collect()}
    assert 1 not in got
    assert got[2]["runs_class"] == "ns"


# ------------------------------------------------------------------- canny


def test_canny_full_python_mirror(spark):
    """Constructed 32x32 raster (vertical step edge whose contrast decays
    along y): full python mirror of gradient, integer octant, strict NMS,
    double threshold and K-round hysteresis; the strong segment links
    its weak continuation, a detached weak cluster drops."""
    import numpy as np

    from aira_spark.operators.canny import (
        HI2, K_ROUNDS, LO2, TAN_DEN, TAN_NUM, canny_edges,
    )
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    # vertical step at c=16 whose height decays with the row: strong at
    # the top rows, weak further down, sub-threshold at the bottom
    for r in range(32):
        step = max(0, 120 - 4 * r)
        a[r, 16:] = step
    # detached weak blob far away (no strong cell within K rounds)
    a[28, 2:6] = 14
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["fx"], r["fy"]): (r["mag2"], r["direction"], r["edge_class"])
           for r in canny_edges(df, res=1).collect()}

    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}

    grad = {}
    for (x, y), _ in val.items():
        win = [(x + 1, y), (x - 1, y), (x, y + 1), (x, y - 1)]
        if not all(p in val for p in win):
            continue
        gx = val[(x + 1, y)] - val[(x - 1, y)]
        gy = val[(x, y + 1)] - val[(x, y - 1)]
        m2 = gx * gx + gy * gy
        if TAN_DEN * abs(gy) <= TAN_NUM * abs(gx):
            d = 0
        elif TAN_DEN * abs(gx) <= TAN_NUM * abs(gy):
            d = 90
        elif gx * gy > 0:
            d = 45
        else:
            d = 135
        grad[(x, y)] = (m2, d)
    offs = {0: (1, 0), 90: (0, 1), 45: (1, 1), 135: (1, -1)}
    cand = {}
    for (x, y), (m2, d) in grad.items():
        ox, oy = offs[d]
        p, q = (x + ox, y + oy), (x - ox, y - oy)
        if p in grad and q in grad and m2 > grad[p][0] \
                and m2 > grad[q][0] and m2 >= LO2:
            cand[(x, y)] = (m2, d)
    linked = {k for k, (m2, _) in cand.items() if m2 >= HI2}
    weak = {k for k, (m2, _) in cand.items() if m2 < HI2}
    for _ in range(K_ROUNDS):
        reach = {(x + dx, y + dy) for x, y in linked
                 for dx in (-1, 0, 1) for dy in (-1, 0, 1)
                 if not (dx == 0 and dy == 0)}
        linked |= weak & reach
    exp = {}
    for k, (m2, d) in cand.items():
        cls = ("strong" if m2 >= HI2
               else "linked" if k in linked else "dropped")
        exp[k] = (m2, d, cls)
    assert got == exp
    classes = {c for _, _, c in got.values()}
    assert classes == {"strong", "linked", "dropped"}  # all 3 exercised
    # the step edge is vertical -> gradient horizontal -> direction 0
    assert all(d == 0 for (x, y), (_, d, _) in got.items() if x == 16)


# -------------------------------------------------------------- lacunarity


def test_lacunarity_full_grid_and_stripes(spark):
    """Fully occupied grid scores EXACTLY 1e6 at every scale; a
    half-striped occupancy python-mirrors every census column and
    Lambda(1) = N/M (inverse density)."""
    import numpy as np

    from aira_spark.operators.lacunarity import (
        E6, SCALES, lacunarity_census,
    )
    from aira_spark.tiff.encode import write_tiff

    def img(arr):
        return spark.createDataFrame(
            [("img000", bytearray(write_tiff(
                arr[:, :, None], byteorder="<", layout=("strips", 8),
                geo=((360.0 / 32, 180.0 / 32, 0.0),
                     (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
            "image_id string, bytes binary")

    # fully occupied 32x32 -> every box full -> Lambda = 1 exactly
    full = img(np.full((32, 32), 7, dtype=np.uint8))
    got = {r["box_size"]: r.asDict()
           for r in lacunarity_census(full, res=1)
           .collect()}
    for r in SCALES:
        g = got[r]
        nb = (32 // r) ** 2
        assert g["n_boxes"] == nb and g["occ_boxes"] == nb
        assert g["sum_m"] == 1024 and g["sum_m2"] == nb * r ** 4
        assert g["lac_e6"] == E6

    # vertical stripes of width 2 (every other pair of columns): at
    # r=4 each box holds exactly half its cells -> Lambda = 2 exactly;
    # occupancy is decoded presence, so strip the empty columns by
    # windowing: write only the occupied columns as a sparse grid via
    # two images is overkill — instead mirror in python over the same
    # mosaic the operator sees (all 32x32 cells occupied means stripes
    # need a SPARSE fixture; use a half-image instead).
    half = np.full((16, 32), 7, dtype=np.uint8)   # bottom half occupied
    goth = {r["box_size"]: r.asDict()
            for r in lacunarity_census(img(half), res=1)
            .collect()}
    cells = {(c, 31 - rr) for rr in range(16) for c in range(32)}
    for r in SCALES:
        masses = {}
        for (x, y) in cells:
            masses[(x // r, y // r)] = masses.get((x // r, y // r), 0) + 1
        nb = (32 // r) ** 2
        sm = sum(masses.values())
        sm2 = sum(v * v for v in masses.values())
        g = goth[r]
        assert g["n_boxes"] == nb and g["occ_boxes"] == len(masses)
        assert g["sum_m"] == sm and g["sum_m2"] == sm2
        assert g["lac_e6"] == (E6 * nb * sm2) // (sm * sm)
    # half occupancy, full boxes where occupied -> Lambda = exactly 2
    for r in SCALES:
        assert goth[r]["lac_e6"] == 2 * E6
    # Lambda(1) = N/M inverse-density pin
    assert goth[1]["lac_e6"] == E6 * 1024 // 512


# --------------------------------------------------------------------- obb


def test_obb_rotated_rectangle_and_degenerates(spark):
    """A 3-4-5 tilted rectangle of points: the OBB recovers the tilted
    area exactly (strictly below the axis-aligned bbox area); full
    python brute-force mirror over all pair directions; 1- and 2-point
    clusters emit zeros / degenerate boxes."""
    from aira_spark.operators.obb import obb

    # cluster 0: rectangle with sides along (4,3) and (-3,4), corner at
    # origin — side lengths 5 and 10 in raw units -> area 50 exactly.
    # qx = round(x * 1e4) so feed coordinates in units of 1e-4 deg,
    # translated by +5 deg on both axes so the whole cluster sits
    # INSIDE one res-4 cell (x=0 is a cell boundary; OBB is
    # translation-invariant so the mirror stays in local coordinates).
    def pt(qx, qy):
        return ((qx + 50_000) / 10_000.0, (qy + 50_000) / 10_000.0)

    corners = [(0, 0), (40, 30), (-60, 80), (-20, 110)]
    # add edge midpoints (non-vertex hull-boundary points must not
    # change the answer) and one interior point
    extra = [(20, 15), (-40, 95), (-30, 40), (-10, 55), (-5, 50)]
    rows = [(i, *pt(qx, qy)) for i, (qx, qy) in
            enumerate(corners + extra)]
    # cluster in a far-away cell: exactly two points -> degenerate box
    rows += [(100, 100.0, 50.0), (101, 100.0005, 50.0)]
    # and a single point
    rows += [(200, -100.0, -50.0)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double")
    got = {r["grp"]: r.asDict() for r in obb(df, res=4).collect()}

    # python mirror for the rectangle cluster
    qpts = corners + extra
    hull = corners  # the rectangle's vertices (midpoints are collinear)
    best = None
    for i in range(len(hull)):
        for j in range(i + 1, len(hull)):
            ux, uy = hull[i]
            dx, dy = hull[j][0] - ux, hull[j][1] - uy
            d2 = dx * dx + dy * dy
            ts = [dx * (px - ux) + dy * (py - uy) for px, py in hull]
            ns = [dx * (py - uy) - dy * (px - ux) for px, py in hull]
            aq = ((max(ts) - min(ts)) * (max(ns) - min(ns))) // d2
            if best is None or aq < best:
                best = aq
    g0 = [g for g in got.values() if g["n_hull"] == 4][0]
    assert g0["area_q"] == best == 5000   # 50x100 q-units = 5000 q^2
    # axis-aligned bbox would be 100 x 110 = 11000 q^2 — strictly worse
    assert g0["area_q"] < 11_000
    # true side extents: dt_num/sqrt(d2), dn_num/sqrt(d2) = {50, 100}
    import math
    s = sorted([g0["dt_num"] / math.sqrt(g0["d2"]),
                g0["dn_num"] / math.sqrt(g0["d2"])])
    assert abs(s[0] - 50) < 1e-9 and abs(s[1] - 100) < 1e-9

    g2 = [g for g in got.values() if g["n_hull"] == 2][0]
    assert g2["area_q"] == 0 and g2["dn_num"] == 0 and g2["dt_num"] > 0
    g1 = [g for g in got.values() if g["n_hull"] == 1][0]
    assert g1["area_q"] == 0 and g1["d2"] == 0


def test_obb_hull_size_guard(spark):
    from aira_spark.operators.obb import obb

    rows = [(i, i / 10_000.0, (i * i % 97) / 10_000.0) for i in range(30)]
    df = spark.createDataFrame(rows, "point_id long, x double, y double")
    try:
        obb(df, res=4, max_hull=3)
        assert False, "expected RuntimeError"
    except RuntimeError as e:
        assert "max_hull" in str(e)


# ------------------------------------------------------------ perm_entropy


def test_perm_entropy_hand_series(spark):
    """Monotone series -> one pattern, PE exactly 0; alternating zigzag
    -> two patterns 50/50, PE exactly 1 bit; gap in the calendar drops
    the straddling triples; tie convention (earlier = smaller) pinned;
    full python mirror."""
    import math

    from aira_spark.operators.permentropy import MAX_N, perm_entropy

    seqs = {
        1: [(d, 10 + d) for d in range(10)],          # rising: a<=b<=c
        2: [(d, 10 + (d % 2)) for d in range(12)],    # zigzag with TIES
        3: [(0, 5), (1, 7), (2, 6), (4, 9), (5, 1), (6, 2)],  # gap at 3
    }
    rows = [(c, d, v) for c, s in seqs.items() for d, v in s]
    df = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: r.asDict() for r in perm_entropy(df).collect()}

    L = [math.floor(math.log2(k) * 1_000_000) for k in range(1, MAX_N + 1)]

    def mirror(s):
        vals = dict(s)
        pats = {}
        for d, _ in s:
            if d - 1 in vals and d - 2 in vals:
                a, b, c = vals[d - 2], vals[d - 1], vals[d]
                p = 4 * (a <= b) + 2 * (a <= c) + (b <= c)
                pats[p] = pats.get(p, 0) + 1
        n = sum(pats.values())
        top = max(pats.items(), key=lambda kv: (kv[1], -kv[0]))
        s_ = sum(c * L[c - 1] for c in pats.values())
        return n, top[0], top[1], (n * L[n - 1] - s_) // n

    for cl, s in seqs.items():
        n, tp, tc, pe = mirror(s)
        g = got[cl]
        assert (g["n_triples"], g["top_pattern"], g["top_cnt"],
                g["pe_e6"]) == (n, tp, tc, pe), (cl, g)
    assert got[1]["pe_e6"] == 0 and got[1]["top_pattern"] == 7
    # zigzag: two patterns alternate -> exactly 1.000000 bits (10
    # triples -> 5/5 split); ties resolve earlier-smaller
    assert got[2]["pe_e6"] == 1_000_000
    # the day-3 gap kills triples (1,2,3), (2,3,4), (3,4,5): 6 days
    # leave just 2 complete triples
    assert got[3]["n_triples"] == 2


# ----------------------------------------------------------------- cross_k


def test_cross_k_attraction_vs_repulsion(spark):
    """Two co-located classes (every B next to an A) vs a far-away third:
    full python brute-force mirror; K12 high for the attracted pair,
    n_pairs = 0 (zero-safety row) for the separated pairs at all radii."""
    from aira_spark.operators.crossk import cross_k
    from aira_spark.operators.ripley import RADII_E6, _AREA

    rows = []
    pid = 0
    # class 0 and 1 interleaved on a tight line near the origin
    for i in range(6):
        rows.append((pid, 0, 10.0 + i * 0.5e-6, 10.0)); pid += 1
        rows.append((pid, 1, 10.0 + i * 0.5e-6 + 0.2e-6, 10.0)); pid += 1
    # class 2 on the other side of the world
    for i in range(4):
        rows.append((pid, 2, -150.0 + i * 0.5e-6, -40.0)); pid += 1
    df = spark.createDataFrame(rows, "point_id long, mark long, x double, y double")
    got = {(r["mark_a"], r["mark_b"], r["r_e6"]): r.asDict()
           for r in cross_k(df).collect()}

    import math
    pts = [(m, math.floor(x * 1e6), math.floor(y * 1e6))
           for _, m, x, y in rows]
    n = {m: sum(1 for mm, *_ in pts if mm == m) for m in (0, 1, 2)}
    for ma, mb in ((0, 1), (0, 2), (1, 2)):
        for r in RADII_E6:
            np_ = sum(
                1
                for (m1, x1, y1) in pts if m1 == ma
                for (m2, x2, y2) in pts if m2 == mb
                if (x1 - x2) ** 2 + (y1 - y2) ** 2 <= r * r
            )
            g = got[(ma, mb, r)]
            assert g["n_pairs"] == np_ and g["n_a"] == n[ma]
            assert g["k12_e3"] == (_AREA * 1000 * np_) // (n[ma] * n[mb])
    # attraction: every (0,1) pair is within even the smallest radius
    assert got[(0, 1, RADII_E6[0])]["n_pairs"] == 36
    # separation: the zero-safety rows exist with 0 pairs
    assert got[(0, 2, RADII_E6[-1])]["n_pairs"] == 0
    assert got[(1, 2, RADII_E6[0])]["k12_e3"] == 0
    assert len(got) == 3 * len(RADII_E6)


# ---------------------------------------------------------------- skeleton


def test_skeleton_thick_bar_thins_to_line(spark):
    """A 3-px-thick bar thins to its 1-px centerline; a 2x2 square
    erodes COMPLETELY (every corner has B=3, A=1 and passes both
    products — the known Zhang-Suen small-blob property); full python
    mirror of the two-subiteration rule over K rounds."""
    import numpy as np

    from aira_spark.operators.skeleton import (
        K_ROUNDS, P_OFFS, skeleton_census,
    )
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    a[10:13, 4:28] = 255       # 3-px-thick horizontal bar
    a[24:26, 4:6] = 255        # 2x2 square: stable under Zhang-Suen
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["gx"], r["gy"]): (r["n_mask"], r["n_skel"])
           for r in skeleton_census(df, res=1).collect()}

    mask = {(c, 31 - r) for r in range(32) for c in range(32)
            if a[r, c] >= 128}

    def thin_once(m, sub):
        out = set()
        for (x, y) in m:
            p = [1 if (x + dx, y + dy) in m else 0
                 for _, dx, dy in P_OFFS]
            b = sum(p)
            seq = p + [p[0]]
            ap = sum((1 - u) * v for u, v in zip(seq, seq[1:]))
            if sub == 1:
                extra = p[0] * p[2] * p[4] == 0 and p[2] * p[4] * p[6] == 0
            else:
                extra = p[0] * p[2] * p[6] == 0 and p[0] * p[4] * p[6] == 0
            if 2 <= b <= 6 and ap == 1 and extra:
                continue
            out.add((x, y))
        return out

    cur = set(mask)
    for _ in range(K_ROUNDS):
        cur = thin_once(cur, 1)
        cur = thin_once(cur, 2)
    expb, expa = {}, {}
    for (x, y) in mask:
        expb[(x // 16, y // 16)] = expb.get((x // 16, y // 16), 0) + 1
    for (x, y) in cur:
        expa[(x // 16, y // 16)] = expa.get((x // 16, y // 16), 0) + 1
    exp = {k: (v, expa.get(k, 0)) for k, v in expb.items()}
    assert got == exp
    # the bar: 3x24 = 72 px must thin to a (roughly) 1-px line — the
    # python mirror is the truth; sanity: dramatic shrink happened
    bar_before = sum(v for (x, y), (v, _) in got.items() if y == 1)
    bar_after = sum(s for (x, y), (_, s) in got.items() if y == 1)
    assert bar_before == 72 and 20 <= bar_after <= 30
    # the 2x2 square erodes away entirely (still reported via n_mask)
    sq = [v for k, v in got.items() if k[1] == 0 and v[0] == 4]
    assert sq == [(4, 0)]


# -------------------------------------------------------------------- glcm


def test_glcm_flat_checker_gradient(spark):
    """Flat tile -> contrast 0 and maximal homogeneity; a 2-level
    checkerboard -> every pair differs by the full level distance; full
    python mirror over a gradient tile."""
    import numpy as np

    from aira_spark.operators.glcm import HOM_LCM, glcm_census
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    a[0:16, 0:16] = 100                             # flat (g=3)
    xs, ys = np.meshgrid(np.arange(16), np.arange(16))
    a[0:16, 16:32] = np.where((xs + ys) % 2 == 0, 0, 255)  # checker 0/7
    a[16:32, 0:16] = (np.arange(16) * 16)[None, :]  # horizontal gradient
    a[16:32, 16:32] = 77                            # flat filler (g=2)
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["gx"], r["gy"]): r.asDict()
           for r in glcm_census(df, res=1).collect()}

    lv = {(c, 31 - r): int(a[r, c]) // 32
          for r in range(32) for c in range(32)}
    exp = {}
    for (x, y), ga in lv.items():
        if (x + 1, y) not in lv:
            continue
        gb = lv[(x + 1, y)]
        k = (x // 16, y // 16)
        e = exp.setdefault(k, {})
        e[(ga, gb)] = e.get((ga, gb), 0) + 1
    for k, mat in exp.items():
        n = sum(mat.values())
        con = sum(c * (i - j) ** 2 for (i, j), c in mat.items())
        en = sum(c * c for c in mat.values())
        hom = sum(c * (HOM_LCM // (1 + (i - j) ** 2))
                  for (i, j), c in mat.items())
        g = got[k]
        assert (g["n_pairs"], g["contrast_num"], g["energy_num"],
                g["hom_num"]) == (n, con, en, hom), (k, g)
    # the g=3 flat quadrant (0,1) leaks 16 boundary pairs into the
    # checker (center x=15, east x=16): 8 pairs (3,0) + 8 pairs (3,7)
    # -> contrast exactly 8*9 + 8*16 = 200 — the coarse key follows the
    # CENTER pixel, pinned here
    assert got[(0, 1)]["contrast_num"] == 200
    # the flat filler quadrant (1,0) has no east leakage (x=31 has no
    # east neighbor): contrast 0, all homogeneity mass on the diagonal
    fl = got[(1, 0)]
    assert fl["contrast_num"] == 0 and fl["hom_num"] == fl["n_pairs"] * HOM_LCM
    # checker quadrant (1,1): every horizontal pair jumps 0<->7
    ck = got[(1, 1)]
    assert ck["contrast_num"] == ck["n_pairs"] * 49
    assert ck["hom_num"] == ck["n_pairs"] * (HOM_LCM // 50)


# -------------------------------------------------------------- silhouette


def test_silhouette_separated_vs_straddling(spark):
    """Two tight far-apart blobs (k=2): every member 'strong'; a
    straddling vector ends EXACTLY at the 2x boundary (after the floor
    mean, b2 = 4*a2 precisely) and the strict '>' demotes it to
    'medium' — the boundary-determinism pin; b2 >= a2 invariant."""
    from aira_spark.operators.silhouette import silhouette_census

    def emb(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    blob_a = [(i, [0.001 * i, 0.0]) for i in range(4)]          # near 0
    blob_b = [(10 + i, [10.0 + 0.001 * i, 0.0]) for i in range(4)]
    got = {r["cluster"]: r.asDict()
           for r in silhouette_census(
               emb(blob_a + blob_b), k=2, rounds=4).collect()}
    assert sum(g["n"] for g in got.values()) == 8
    for g in got.values():
        assert g["n_strong"] == g["n"]          # far blobs: all strong
        assert g["sum_b2"] > 4 * g["sum_a2"]

    # k=2, seeds at 0 and 10; the straddler at 5.0 ties in round 1
    # (goes to cid 0), pulling c0 to the floor-mean 2560 q: then
    # a2 = 2560^2 and b2 = 5120^2 = EXACTLY 4*a2 — the strict strong
    # test fails and 4*b2 > 9*a2 holds -> 'medium', deterministically
    rows = [(0, [0.0, 0.0]), (1, [10.0, 0.0]), (2, [5.0, 0.0])]
    got2 = silhouette_census(emb(rows), k=2, rounds=1).collect()
    tot = {k: sum(r[k] for r in got2)
           for k in ("n", "n_medium", "n_strong")}
    assert tot["n"] == 3 and tot["n_medium"] == 1 and tot["n_strong"] == 2
    for r in got2:
        assert r["sum_b2"] >= r["sum_a2"]       # argmin invariant


# ------------------------------------------------------------------- euler


def test_euler_islands_minus_lakes(spark):
    """Solid blob chi=1, ring (donut) chi=0, and together with a third
    solid blob the GLOBAL chi = components - holes = 3 - 1 = 2; full
    python mirror of V/E/F per coarse cell."""
    import numpy as np

    from aira_spark.operators.euler import euler_census
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((32, 32), dtype=np.uint8)
    a[2:7, 2:7] = 255            # solid 5x5 blob -> quadrant (0,1)
    a[18:25, 18:25] = 255        # 7x7 ring with a 3x3 hole -> (1,0)
    a[20:23, 20:23] = 0
    a[24:28, 3:8] = 255          # second solid blob -> (0,0)
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["gx"], r["gy"]): (r["v"], r["e"], r["f"], r["chi"])
           for r in euler_census(df, res=1).collect()}

    mask = {(c, 31 - r) for r in range(32) for c in range(32)
            if a[r, c] >= 128}
    exp = {}
    tot = [0, 0, 0]
    for (x, y) in mask:
        v = 1
        e = ((x + 1, y) in mask) + ((x, y + 1) in mask)
        f = int((x + 1, y) in mask and (x, y + 1) in mask
                and (x + 1, y + 1) in mask)
        k = (x // 16, y // 16)
        cur = exp.setdefault(k, [0, 0, 0])
        for i, d in enumerate((v, e, f)):
            cur[i] += d
            tot[i] += d
    expd = {k: (v, e, f, v - e + f) for k, (v, e, f) in exp.items()}
    expd[(-1, -1)] = (tot[0], tot[1], tot[2], tot[0] - tot[1] + tot[2])
    assert got == expd
    # global: 3 components, 1 hole -> chi = 2
    assert got[(-1, -1)][3] == 2
    # each shape sits alone in its quadrant: solid blobs chi 1, the
    # ring (one component, one hole) chi exactly 0
    assert got[(0, 1)][3] == 1 and got[(0, 0)][3] == 1
    assert got[(1, 0)][3] == 0


# -------------------------------------------------------------- dow_season


def test_dow_seasonality_rhythm_vs_uniform(spark):
    """A cell with all mass on one weekday flags 'weekly'; a perfectly
    uniform week has chi2_num exactly 0; python mirror of the statistic,
    argmax and the 12.592 critical compare."""
    from aira_spark.operators.dowseason import dow_seasonality

    rows = []
    rows += [(1, d, 1) for d in range(0, 70, 7)]      # cell 1: Mondays only
    rows += [(2, d, 1) for d in range(70)]            # cell 2: uniform
    rows += [(3, 0, 1), (3, 1, 1), (3, 8, 1)]         # cell 3: mild skew
    df = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: r.asDict() for r in dow_seasonality(df).collect()}

    from collections import Counter
    for cell in (1, 2, 3):
        days = [d for c, d, _ in rows if c == cell]
        cnt = Counter(d % 7 for d in days)
        n = len(days)
        s2 = sum(v * v for v in cnt.values())
        chi2_num = 7 * s2 - n * n
        top = max(cnt.items(), key=lambda kv: (kv[1], -kv[0]))
        g = got[cell]
        assert g["n"] == n and g["chi2_num"] == chi2_num
        assert (g["top_dow"], g["top_cnt"]) == top
        assert g["weekly"] == int(1000 * chi2_num > 12592 * n)
    assert got[1]["weekly"] == 1 and got[1]["chi2_num"] == 600
    assert got[2]["chi2_num"] == 0 and got[2]["weekly"] == 0
    # cell 3: dow counts {0: 1, 1: 2}: ties impossible; top is Tuesday
    assert got[3]["top_dow"] == 1 and got[3]["weekly"] == 0


# --------------------------------------------------------------- prop_test


def test_prop_test_significant_and_degenerate(spark):
    """Hand cohorts: a 60%-vs-20% split at n=100 is decisively
    significant both directions; a tiny 2-vs-1 sample is 'ns'; all-zero
    and all-one pools are degenerate 'ns'; python z mirror cross-checks
    the integer verdicts."""
    import math

    from aira_spark.operators.proptest import prop_test

    cohorts = {"A": (100, 60), "B": (100, 20), "C": (3, 2),
               "D": (5, 0), "E": (4, 4)}
    rows = []
    for s, (n, c) in cohorts.items():
        rows += [(s, 1)] * c + [(s, 0)] * (n - c)
    df = spark.createDataFrame(rows, "segment string, converted int")
    got = {(r["seg_a"], r["seg_b"]): r.asDict()
           for r in prop_test(df).collect()}
    assert len(got) == 10

    for (sa, sb), g in got.items():
        n1, c1 = cohorts[sa]
        n2, c2 = cohorts[sb]
        assert (g["n1"], g["c1"], g["n2"], g["c2"]) == (n1, c1, n2, c2)
        assert g["diff_num"] == c1 * n2 - c2 * n1
        C, N = c1 + c2, n1 + n2
        if C == 0 or C == N:
            assert g["verdict"] == "ns"
            continue
        p = C / N
        z = (c1 / n1 - c2 / n2) / math.sqrt(
            p * (1 - p) * (1 / n1 + 1 / n2))
        exp = ("higher" if z > 0 else "lower") if abs(z) > 1.96 else "ns"
        assert g["verdict"] == exp, ((sa, sb), g, z)
    assert got[("A", "B")]["verdict"] == "higher"
    assert ("B", "A") not in got                   # unordered pairs only
    assert got[("B", "C")]["verdict"] == "ns"      # tiny sample
    # D (0/5) vs E (4/4): pooled C = 4, N = 9 — NOT degenerate, and the
    # split is extreme enough to flag
    assert got[("D", "E")]["verdict"] == "lower"


# ------------------------------------------------------------ nearest_edge


def test_nearest_edge_clamp_cases_and_mirror(spark):
    """Hand points against two segments exercising all three cases
    (perpendicular foot, clamp-to-a, clamp-to-b); smallest-edge-key tie
    break on an equidistant point; full python mirror."""
    from aira_spark.operators.nearedge import Q, nearest_edge

    # edges in degrees; quantized endpoints are exact integers
    edges = spark.createDataFrame(
        [
            (0, 0, 0.0, 0.0, 1.0, 0.0),    # horizontal unit segment
            (0, 1, 0.0, 2.0, 1.0, 2.0),    # parallel copy 2 deg north
            (5, 0, 10.0, 10.0, 10.0, 11.0),  # far vertical segment
        ],
        "pkey long, et long, ax double, ay double, bx double, by double",
    )
    pts = spark.createDataFrame(
        [
            (1, 0.5, 0.3),     # foot on edge (0,0): d = 0.3 deg
            (2, -0.2, 0.0),    # left of a: clamp to a, d = 0.2
            (3, 1.4, 0.1),     # right of b: clamp, d2 = .4^2+.1^2
            (4, 0.5, 1.0),     # EQUIDISTANT between edges (0,0)/(0,1)
            (5, 10.0, 10.5),   # on the far segment: d = 0
        ],
        "point_id long, x double, y double",
    )
    got = {r["point_id"]: (r["poly_key"], r["edge_t"], r["d2q"])
           for r in nearest_edge(pts, edges).collect()}

    e = [(0, 0, 0, 0, Q, 0), (0, 1, 0, 2 * Q, Q, 2 * Q),
         (5, 0, 10 * Q, 10 * Q, 10 * Q, 11 * Q)]
    p = [(1, Q // 2, 3 * Q // 10), (2, -Q // 5, 0),
         (3, 14 * Q // 10, Q // 10), (4, Q // 2, Q), (5, 10 * Q, 10 * Q + Q // 2)]

    def d2(px, py, ax, ay, bx, by):
        dot = (bx - ax) * (px - ax) + (by - ay) * (py - ay)
        e2 = (bx - ax) ** 2 + (by - ay) ** 2
        if dot <= 0 or e2 == 0:
            return (px - ax) ** 2 + (py - ay) ** 2
        if dot >= e2:
            return (px - bx) ** 2 + (py - by) ** 2
        crs = (bx - ax) * (py - ay) - (by - ay) * (px - ax)
        return (crs * crs) // e2
    exp = {}
    for pid, px, py in p:
        best = min((d2(px, py, *ed[2:]), ed[0] * 8 + ed[1]) for ed in e)
        exp[pid] = (best[1] // 8, best[1] % 8, best[0])
    assert got == exp
    assert got[1][2] == (3 * Q // 10) ** 2          # perpendicular foot
    assert got[2][2] == (Q // 5) ** 2               # clamp to a
    assert got[4] == (0, 0, Q * Q)                  # tie -> smaller ekey
    assert got[5][2] == 0                           # on-segment


# ------------------------------------------------------------------- kappa


def test_kappa_flat_vs_gradient_mirror(spark):
    """Flat tile: pointwise == focal-mean everywhere -> kappa exactly 1
    (num == den, single class row); a steep class-boundary stripe makes
    the smoothed map disagree near the seam; full python mirror of the
    confusion matrix and the N^2-scaled kappa fold."""
    import numpy as np

    from aira_spark.operators.kappa import agreement_census
    from aira_spark.tiff.encode import write_tiff

    def img(arr):
        return spark.createDataFrame(
            [("img000", bytearray(write_tiff(
                arr[:, :, None], byteorder="<", layout=("strips", 8),
                geo=((360.0 / 32, 180.0 / 32, 0.0),
                     (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
            "image_id string, bytes binary")

    flat = np.full((32, 32), 100, dtype=np.uint8)
    got = {(r["class_a"], r["class_b"]): r.asDict()
           for r in agreement_census(img(flat), res=1)
           .collect()}
    fold = got[(-1, -1)]
    assert fold["cnt"] == 30 * 30                  # complete windows
    assert got[(1, 1)]["cnt"] == 900               # one diagonal class
    # single class: pe == N^2 -> kappa 0/0 (undefined, shipped raw)
    assert fold["kappa_num"] == fold["kappa_den"] == 0

    stripe = np.full((32, 32), 32, dtype=np.uint8)   # class 0
    stripe[:, 16:] = 224                             # class 3
    got2 = {(r["class_a"], r["class_b"]): r.asDict()
            for r in agreement_census(img(stripe), res=1)
            .collect()}
    val = {(c, 31 - r): int(stripe[r, c])
           for r in range(32) for c in range(32)}
    conf = {}
    for (x, y), cv in val.items():
        win = [(x + dx, y + dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
        if not all(p in val for p in win):
            continue
        s9 = sum(val[p] for p in win)
        key = (cv // 64, (s9 // 9) // 64)
        conf[key] = conf.get(key, 0) + 1
    n = sum(conf.values())
    diag = sum(v for (a, b), v in conf.items() if a == b)
    rows = {}
    cols = {}
    for (a, b), v in conf.items():
        rows[a] = rows.get(a, 0) + v
        cols[b] = cols.get(b, 0) + v
    pe = sum(rows[k] * cols.get(k, 0) for k in rows)
    for key, v in conf.items():
        assert got2[key]["cnt"] == v
    f2 = got2[(-1, -1)]
    assert f2["cnt"] == n
    assert f2["kappa_num"] == n * diag - pe
    assert f2["kappa_den"] == n * n - pe
    # the seam mixes classes: off-diagonal rows exist but agreement
    # still dominates -> 0 < kappa < 1 strictly
    assert any(a != b for (a, b) in conf)
    assert 0 < f2["kappa_num"] < f2["kappa_den"]


# --------------------------------------------------------------- bilateral


def test_bilateral_preserves_edges_smooths_noise(spark):
    """A step edge survives (smoothed stays on its own side) while an
    isolated noisy pixel is pulled toward its flat neighborhood; flat
    regions are fixed points; full python mirror of the weighted fold."""
    import math

    import numpy as np

    from aira_spark.operators.bilateral import (
        _SPATIAL, bilateral, range_table,
    )
    from aira_spark.tiff.encode import write_tiff

    a = np.full((32, 32), 40, dtype=np.uint8)
    a[:, 16:] = 200                 # hard step edge
    a[8, 8] = 70                    # mild speckle on the flat side
    df = spark.createDataFrame(
        [("img000", bytearray(write_tiff(
            a[:, :, None], byteorder="<", layout=("strips", 8),
            geo=((360.0 / 32, 180.0 / 32, 0.0),
                 (0.0, 0.0, 0.0, -180.0, 90.0, 0.0)))))],
        "image_id string, bytes binary")
    got = {(r["fx"], r["fy"]): (r["val"], r["smoothed"])
           for r in bilateral(df, res=1).collect()}

    val = {(c, 31 - r): int(a[r, c]) for r in range(32) for c in range(32)}
    rt = range_table()
    exp = {}
    for (x, y), cv in val.items():
        win = {(dx, dy): (x + dx, y + dy) for dx, dy in _SPATIAL}
        if not all(p in val for p in win.values()):
            continue
        num = den = 0
        for (dx, dy), p in win.items():
            w = _SPATIAL[(dx, dy)] * rt[abs(val[p] - cv)]
            num += w * val[p]
            den += w
        exp[(x, y)] = (cv, num // den)
    assert got == exp
    # flat interior: exact fixed point
    assert got[(4, 20)] == (40, 40)
    # cells adjacent to the step stay on their own side (edge preserved:
    # the 160-gap range weight is ~0) — strictly closer to own value
    lo, _ = got[(15, 10)]
    assert lo == 40 and abs(got[(15, 10)][1] - 40) <= 2
    hi, sm = got[(16, 10)]
    assert hi == 200 and abs(sm - 200) <= 2
    # the speckle is pulled DOWN toward its flat neighborhood
    v, s = got[(8, 23)]
    assert v == 70 and s < 70 and s >= 40
    # range table sanity: exp(0) -> 1024, monotone decreasing
    assert rt[0] == 1024 and rt[30] < rt[10] < rt[0]
    assert math.isclose(rt[50] / 1024, math.exp(-0.5), rel_tol=0.01)
