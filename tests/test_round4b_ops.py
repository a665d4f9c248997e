"""Round-4 late additions: pyramid (overview build), contours, Moran's I,
OD flows — brute-force python mirrors + plan shapes."""

import pytest


def _fine_grid(spark, sf_dir, modulo=8):
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.functions.cells import np_cell_ix, np_cell_iy
    from aira_spark.operators.mosaic import mosaic_cell_values

    images = em._images(spark, sf_dir, modulo=modulo)
    vals = mosaic_cell_values(images, em.CELL_RES).collect()
    filled = {}
    for r in vals:
        fx = int(np_cell_ix(np.int64(r["cell"]))) * 16 + r["pc"]
        fy = int(np_cell_iy(np.int64(r["cell"]))) * 16 + r["pr"]
        filled[(fx, fy)] = r["val"]
    return filled


# ---------------------------------------------------------------- pyramid


def test_pyramid_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.pyramid import pyramid_levels

    filled = _fine_grid(spark, sf_dir)
    got = {
        (r["level"], r["px"], r["py"]): (r["n_src"], r["sum_val"], r["mean_e6"])
        for r in pyramid_levels(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES, levels=3
        ).collect()
    }
    want = {}
    for (fx, fy), v in filled.items():
        for k in range(4):
            key = (k, fx >> k, fy >> k)
            n, s = want.get(key, (0, 0))
            want[key] = (n + 1, s + v)
    assert set(got) == set(want)
    for key, (n, s) in want.items():
        assert got[key] == (n, s, (s * 1_000_000) // n), key


def test_pyramid_level_zero_is_fine_grid(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.pyramid import pyramid_levels

    filled = _fine_grid(spark, sf_dir)
    lvl0 = [
        r
        for r in pyramid_levels(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES, levels=1
        ).collect()
        if r["level"] == 0
    ]
    assert len(lvl0) == len(filled)
    for r in lvl0:
        assert r["n_src"] == 1
        assert filled[(r["px"], r["py"])] == r["sum_val"]


# ---------------------------------------------------------------- contours


def test_contours_match_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.contours import (
        CORNER_BITS,
        DEFAULT_THRESHOLDS,
        contour_cases,
    )

    filled = _fine_grid(spark, sf_dir)
    got = {
        (r["threshold"], r["case_id"]): (r["n_cells"], r["n_segments"])
        for r in contour_cases(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    want = {}
    anchors = {(fx - dx, fy - dy) for fx, fy in filled
               for dx, dy, _ in CORNER_BITS}
    for ax, ay in anchors:
        corners = {(dx, dy): filled.get((ax + dx, ay + dy))
                   for dx, dy, _ in CORNER_BITS}
        if any(v is None for v in corners.values()):
            continue
        for t in DEFAULT_THRESHOLDS:
            case = sum(bit for dx, dy, bit in CORNER_BITS
                       if corners[(dx, dy)] >= t)
            n, s = want.get((t, case), (0, 0))
            segs = 0 if case in (0, 15) else 2 if case in (5, 10) else 1
            want[(t, case)] = (n + 1, s + segs)
    assert got == want


def test_contours_saddle_and_empty_cases(spark, sf_dir):
    """Sanity on the case->segment lookup itself across all 16 cases."""
    from aira_spark.operators.contours import SEGS_CASE_SQL

    segs = {c: (0 if c in (0, 15) else 2 if c in (5, 10) else 1)
            for c in range(16)}
    rows = spark.range(16).selectExpr(
        "id AS case_id", f"{SEGS_CASE_SQL.format(c='id')} AS segs"
    ).collect()
    assert {r["case_id"]: r["segs"] for r in rows} == segs


# ---------------------------------------------------------------- autocorr


def test_autocorr_matches_brute_force(spark, sf_dir):
    """Float brute force over the reconstructed grid: integer sufficient
    statistics must match exactly, I and C micros within 1 ulp of round."""
    import __spark_entry__ as em
    from aira_spark.operators.autocorr import spatial_autocorr

    filled = _fine_grid(spark, sf_dir)
    r = spatial_autocorr(
        em._images(spark, sf_dir, modulo=8), em.CELL_RES
    ).collect()[0]
    n = len(filled)
    vs = list(filled.values())
    s_v, s_v2 = sum(vs), sum(v * v for v in vs)
    pairs = [
        (v, filled[(fx + dx, fy + dy)])
        for (fx, fy), v in filled.items()
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        if (fx + dx, fy + dy) in filled
    ]
    w = len(pairs)
    assert (r["n"], r["s_v"], r["s_v2"], r["w_pairs"]) == (n, s_v, s_v2, w)
    assert r["s_wvv"] == sum(a * b for a, b in pairs)
    assert r["s_wvp"] == sum(a + b for a, b in pairs)
    assert r["s_wd2"] == sum((a - b) ** 2 for a, b in pairs)
    m = s_v / n
    den = sum((v - m) ** 2 for v in vs)
    moran = (n / w) * sum((a - m) * (b - m) for a, b in pairs) / den
    geary = ((n - 1) / (2 * w)) * sum((a - b) ** 2 for a, b in pairs) / den
    assert abs(r["moran_e6"] - moran * 1e6) < 2, (r["moran_e6"], moran)
    assert abs(r["geary_e6"] - geary * 1e6) < 2, (r["geary_e6"], geary)
    # the grid mosaics real pixel data — it must read as positively
    # autocorrelated (I > 0, C < 1), else the statistic is miswired
    assert r["moran_e6"] > 0 and r["geary_e6"] < 1_000_000


def test_autocorr_no_join_scatter_agg(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.autocorr import spatial_autocorr
    from tests.test_plans import count_in_plan, plan_string, shuffle_count

    df = spatial_autocorr(em._images(spark, sf_dir, modulo=8), em.CELL_RES)
    s = plan_string(df)
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert shuffle_count(df) <= 3, s  # mosaic + cell agg + single-row agg
    assert count_in_plan(df, "ArrowEvalPython") <= 1, s
    assert "BatchEvalPython" not in s, s


# ---------------------------------------------------------------- od flows


def test_od_flows_hand_trajectories(spark):
    """Three users, hand-written cell sequences: exact trip/user/move
    counts, LAG ties broken by event_id."""
    from aira_spark.operators.trajectory import od_flows

    rows = [
        # user 1: a -> b -> b -> a   (ties: two events at ts=2)
        (1, 1, 10, "a"), (1, 2, 11, "b"), (1, 2, 12, "b"), (1, 3, 13, "a"),
        # user 2: a -> b
        (2, 1, 20, "a"), (2, 2, 21, "b"),
        # user 3: single event — no transitions
        (3, 1, 30, "c"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_id long, cell string")
    got = {
        (r["from_cell"], r["to_cell"]): (r["n_trips"], r["n_users"], r["n_moves"])
        for r in od_flows(ev).collect()
    }
    assert got == {
        ("a", "b"): (2, 2, 2),
        ("b", "b"): (1, 1, 0),
        ("b", "a"): (1, 1, 1),
    }


def test_od_flows_conserves_transitions(spark, sf_dir):
    """Sum of n_trips == total events minus one per user with >= 1 event."""
    import __spark_entry__ as em

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    total = (
        em.q_od_flows(spark, sf_dir)
        .agg({"n_trips": "sum"})
        .collect()[0][0]
    )
    assert total == n_events - n_users


# ---------------------------------------------------------------- pmi


def test_pmi_hand_corpus(spark):
    """Tiny corpus with known window pairs: exact counts + PMI formula."""
    import math

    from aira_spark.operators.cooccur import pmi_pairs

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    # window=2 ordered pairs: doc1 -> ab,aa,ba,bb,ab ; doc2 -> ab,ac,bc
    got = {
        (r["w1"], r["w2"]): (r["c_xy"], r["c_x"], r["c_y"], r["pmi_micros"])
        for r in pmi_pairs(docs, window=2, min_count=2).collect()
    }
    n_pairs, n_uni = 8, 7
    c = {"a": 3, "b": 3, "c": 1}
    assert set(got) == {("a", "b")}
    cxy, cx, cy, micros = got[("a", "b")]
    assert (cxy, cx, cy) == (3, 3, 3)
    want = math.log((3 * n_uni * n_uni) / (n_pairs * c["a"] * c["b"]))
    assert abs(micros - round(want * 1e6)) <= 1


def test_pmi_pair_generator_no_self_join(spark, sf_dir):
    """The pair generator is projection-side (Generate), never a self-join
    of the exploded corpus; unigram joins broadcast."""
    from aira_spark.operators.cooccur import pmi_pairs
    from tests.test_plans import plan_string

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    s = plan_string(pmi_pairs(docs))
    assert "SortMergeJoin" not in s, s
    assert "BroadcastHashJoin" in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


# ---------------------------------------------------------------- pq ann


def test_pq_codes_and_adc_match_numpy(spark, sf_dir):
    """Rebuild codebooks/codes/ADC in numpy from the same seeded
    construction; every (query, vec) distance and rank must match."""
    import numpy as np

    from aira_spark.operators.pq import pq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = [
        (r["query_id"], r["vec_id"], r["adc_dist"], r["rnk"])
        for r in pq_topk(emb, "vec_id < 4", m_sub=4, k_codes=8, topk=5)
        .orderBy("query_id", "rnk").collect()
    ]
    rows = emb.orderBy("vec_id").collect()
    v = {
        r["vec_id"]: np.round(
            np.asarray(r["embedding"], dtype=np.float64) * 1024.0
        ).astype(np.int64)
        for r in rows
    }
    ids = sorted(v)
    d = len(v[ids[0]])
    sub = d // 4
    cbs = [
        [v[j][m * sub : (m + 1) * sub] for j in ids[:8]] for m in range(4)
    ]
    codes = {
        i: [
            min(
                range(8),
                key=lambda j: (
                    int(((v[i][m * sub:(m + 1) * sub] - cbs[m][j]) ** 2).sum()),
                    j,
                ),
            )
            for m in range(4)
        ]
        for i in ids
    }
    want = []
    for qid in [i for i in ids if i < 4]:
        adc = {
            i: sum(
                int(((v[qid][m * sub:(m + 1) * sub] - cbs[m][codes[i][m]]) ** 2).sum())
                for m in range(4)
            )
            for i in ids
        }
        ranked = sorted(ids, key=lambda i: (adc[i], i))[:5]
        want += [(qid, i, adc[i], r + 1) for r, i in enumerate(ranked)]
    assert sorted(got) == sorted(want)


def test_pq_single_shuffle_topk_only(spark, sf_dir):
    """Encode + ADC scoring are pure projections over a broadcast LUT; the
    only exchange in the plan is the per-query top-k window."""
    from aira_spark.operators.pq import pq_topk
    from tests.test_plans import plan_string, shuffle_count

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = pq_topk(emb, "vec_id < 4", m_sub=4, k_codes=8, topk=5)
    s = plan_string(df)
    assert shuffle_count(df) == 1, s  # the top-k window
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


# ---------------------------------------------------------------- terrain


def test_aspect_octants_match_atan2(spark):
    """The integer CASE must agree with float atan2 sector assignment on a
    dense sweep of gradient vectors (boundaries land counter-clockwise)."""
    import math

    from aira_spark.operators.terrain import ASPECT_CASE

    rows = [
        (gx, gy) for gx in range(-5, 6) for gy in range(-5, 6)
    ]
    df = spark.createDataFrame(rows, "gx long, gy long")
    got = {
        (r["gx"], r["gy"]): r["aspect"]
        for r in df.selectExpr("gx", "gy", f"{ASPECT_CASE} AS aspect").collect()
    }
    names = ["E", "NE", "N", "NW", "W", "SW", "S", "SE"]
    for gx, gy in rows:
        if gx == 0 and gy == 0:
            assert got[(gx, gy)] == "flat"
            continue
        ang = math.degrees(math.atan2(gy, gx)) % 360.0
        want = names[int(ang // 45) % 8]
        assert got[(gx, gy)] == want, (gx, gy, ang, got[(gx, gy)], want)


def test_terrain_census_totals(spark, sf_dir):
    """Census cell count == focal_gradient row count; sum_grad2 conserved."""
    import __spark_entry__ as em
    from aira_spark.operators.focal import focal_gradient
    from aira_spark.operators.terrain import terrain_census

    imgs = em._images(spark, sf_dir, modulo=8)
    g = focal_gradient(imgs, em.CELL_RES).collect()
    rows = terrain_census(imgs, em.CELL_RES).collect()
    assert sum(r["n_cells"] for r in rows) == len(g)
    assert sum(r["sum_grad2"] for r in rows) == sum(r["grad2"] for r in g)


# ---------------------------------------------------------------- funnel


def test_funnel_hand_users(spark):
    """Greedy semantics: strict-after ordering, ties non-qualifying,
    out-of-order steps don't convert."""
    import datetime as dt

    from aira_spark.operators.funnel import funnel_counts

    t = lambda s: dt.datetime(2026, 1, 1, 0, 0, s)
    rows = [
        # u1 full funnel in order
        (1, t(1), "view"), (1, t(2), "click"), (1, t(3), "purchase"),
        # u2: click BEFORE view -> stops after view
        (2, t(5), "view"), (2, t(4), "click"),
        # u3: view+click simultaneous -> tie does NOT qualify
        (3, t(1), "view"), (3, t(1), "click"),
        # u4: view then two clicks; purchase before the first click -> stops
        (4, t(1), "view"), (4, t(2), "click"), (4, t(9), "click"),
        (4, t(1), "purchase"),
        # u5: never views
        (5, t(1), "click"), (5, t(2), "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {r["step"]: r["n_users"] for r in funnel_counts(ev).collect()}
    assert got == {"view": 4, "click": 2, "purchase": 1}


def test_funnel_monotone_on_events(spark, sf_dir):
    import __spark_entry__ as em

    rows = sorted(
        em.q_funnel(spark, sf_dir).collect(), key=lambda r: r["step_idx"]
    )
    ns = [r["n_users"] for r in rows]
    assert ns == sorted(ns, reverse=True) and ns[0] > 0


# ---------------------------------------------------------------- vocab


def test_vocab_census_hand_corpus(spark):
    from aira_spark.operators.vocab import vocab_census

    docs = spark.createDataFrame(
        [("a a a b b c",), ("a b x y",)], "text string"
    )
    rows = vocab_census(docs, top_n=2).collect()
    top = {r["k"]: (r["a"], r["b"]) for r in rows if r["kind"] == "top"}
    fof = {r["k"]: (r["a"], r["b"]) for r in rows if r["kind"] == "fof"}
    stat = {r["k"]: r["a"] for r in rows if r["kind"] == "stat"}
    assert top == {"a": (1, 4), "b": (2, 3)}
    # freqs: a=4 (cls 2), b=3 (cls 1), c=1, x=1, y=1 (cls 0)
    assert fof == {"0": (3, 3), "1": (1, 3), "2": (1, 4)}
    assert stat == {"n_tokens": 10, "n_types": 5}


def test_vocab_fof_conserves_tokens(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.q_vocab_census(spark, sf_dir).collect()
    stat = {r["k"]: r["a"] for r in rows if r["kind"] == "stat"}
    fof_terms = sum(r["a"] for r in rows if r["kind"] == "fof")
    fof_tokens = sum(r["b"] for r in rows if r["kind"] == "fof")
    assert fof_terms == stat["n_types"]
    assert fof_tokens == stat["n_tokens"]


# ---------------------------------------------------------------- upsample


def test_upsample_matches_numpy_bilinear(spark, sf_dir):
    """Brute-force: for each emitted target, recompute the 4-source
    bilinear sum from the reconstructed grid; coverage = exactly the
    targets whose 4 sources are all filled."""
    import __spark_entry__ as em
    from aira_spark.operators.resample import upsample_bilinear

    filled = _fine_grid(spark, sf_dir)
    got = {
        (r["tx"], r["ty"]): (r["val_x16"], r["val"])
        for r in upsample_bilinear(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }

    def sources(t):
        # target center (t + .5)/2 -> source pair (s0, s1) with weights 1,3
        if t % 2 == 0:
            return [(t // 2 - 1, 1), (t // 2, 3)]
        return [(t // 2, 3), (t // 2 + 1, 1)]

    want = {}
    for (tx, ty) in {
        (2 * fx + ox, 2 * fy + oy)
        for fx, fy in filled for ox in (-1, 0, 1, 2) for oy in (-1, 0, 1, 2)
    }:
        srcs = [
            (filled.get((sx, sy)), wx * wy)
            for sx, wx in sources(tx) for sy, wy in sources(ty)
        ]
        if any(v is None for v, _ in srcs):
            continue
        x16 = sum(v * w for v, w in srcs)
        want[(tx, ty)] = (x16, x16 // 16)
    assert got == want


def test_upsample_roundtrips_constant_region(spark):
    """On a constant grid the interpolation is the identity — checked via
    the oracle arms: weights sum to 16 per target."""
    from aira_spark.operators.resample import AXIS_ARMS

    assert sum(w for _, w in AXIS_ARMS) == 8  # 8*8/4 = 16 in 2D /16
    assert sorted(
        wx * wy for _, wx in AXIS_ARMS for _, wy in AXIS_ARMS
    )[-1] == 9


def test_pyramid_single_extra_agg_no_join(spark, sf_dir):
    """The whole L-level stack is ONE scatter (Generate) + ONE hash agg on
    top of the mosaic's: 2 exchanges total, no join, no Python past the
    decode UDF."""
    import __spark_entry__ as em
    from aira_spark.operators.pyramid import pyramid_levels
    from tests.test_plans import count_in_plan, plan_string, shuffle_count

    df = pyramid_levels(em._images(spark, sf_dir, modulo=8), em.CELL_RES, 3)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # mosaic agg + pyramid agg
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert "Generate" in s, s  # the level explode
    assert count_in_plan(df, "ArrowEvalPython") <= 1, s
    assert "BatchEvalPython" not in s, s


# ---------------------------------------------------------------- tfidf


def test_tfidf_hand_corpus(spark):
    """3-doc corpus, min_df=2 max_df=0.99: 'a' in all 3 docs survives only
    if 3 <= 0.99*3 fails -> excluded; 'b' df=2 survives."""
    import math

    from aira_spark.operators.tfidf import tfidf_weights

    docs = spark.createDataFrame(
        [(1, "a b b"), (2, "a b"), (3, "a c")], "doc_id long, text string"
    )
    rows = tfidf_weights(docs, min_df=2, max_df_frac="0.67").collect()
    got = {(r["doc_id"], r["term"]): r for r in rows}
    # 'a' df=3 > 0.67*3=2.01 -> out; 'c' df=1 < 2 -> out; 'b' df=2 stays
    assert set(got) == {(1, "b"), (2, "b")}
    r = got[(1, "b")]
    assert (r["tf"], r["df"], r["n_docs"]) == (2, 2, 3)
    want = round(2 * (math.log((3 + 1) / (2 + 1)) + 1) * 1_000_000)
    assert r["tfidf_micros"] == want
    assert got[(2, "b")]["tf"] == 1


def test_tfidf_vocab_broadcast_text_never_shuffles(spark, sf_dir):
    """Plan: the document-frequency band joins back BROADCAST; the only
    exchanges carry (doc_id, term, tf) rows, never `text`."""
    import __spark_entry__ as em
    from tests.test_plans import plan_string

    df = em.q_tfidf(spark, sf_dir)
    s = plan_string(df)
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s, s
    assert "SortMergeJoin" not in s, s
    for frag in s.split("Exchange")[1:]:
        head = frag.split("\n")[0]
        assert "text" not in head, head


# ---------------------------------------------------------------- equalize


def test_equalize_lut_matches_numpy(spark):
    """Hand image through the real decode path: LUT equals the classic
    integer cdf remap computed by numpy."""
    import numpy as np

    from aira_spark.operators.equalize import equalize_lut
    from aira_spark.tiff.encode import write_tiff

    rng = np.random.RandomState(7)
    a = rng.randint(0, 40, size=(9, 7), dtype=np.uint8) * 5
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 4))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    got = {r["value"]: r for r in equalize_lut(df).collect()}

    vals, cnts = np.unique(a, return_counts=True)
    cdf = np.cumsum(cnts)
    n, cmin = int(cdf[-1]), int(cdf[0])
    assert set(got) == set(int(v) for v in vals)
    for v, c, cd in zip(vals, cnts, cdf):
        r = got[int(v)]
        assert (r["cnt"], r["cdf"]) == (int(c), int(cd))
        assert r["eq_val"] == (int(cd) - cmin) * 255 // (n - cmin)
    # endpoints of the classic remap
    assert got[int(vals[0])]["eq_val"] == 0
    assert got[int(vals[-1])]["eq_val"] == 255


def test_equalize_flat_image_maps_to_zero(spark):
    import numpy as np

    from aira_spark.operators.equalize import equalize_lut
    from aira_spark.tiff.encode import write_tiff

    a = np.full((4, 4), 99, dtype=np.uint8)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 4))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    rows = equalize_lut(df).collect()
    assert len(rows) == 1 and rows[0]["eq_val"] == 0 and rows[0]["cnt"] == 16


def test_equalize_one_bounded_exchange_no_join(spark, sf_dir):
    """Plan: one Arrow decode pass, ONE exchange (the histogram window),
    no join — pixels never shuffle, only <=256-row-per-band histograms."""
    import __spark_entry__ as em
    from tests.test_plans import count_in_plan, plan_string, shuffle_count

    df = em.q_equalize(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 1, s
    assert "Join" not in s, s
    assert count_in_plan(df, "ArrowEvalPython") == 0, s  # mapInPandas only
    assert "BatchEvalPython" not in s, s


# ---------------------------------------------------------------- bfs_hops


def test_bfs_hops_cycle_two_seeds(spark):
    from aira_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (6, 1)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,), (4,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds, 2).collect()}
    assert got == {1: 0, 4: 0, 2: 1, 5: 1, 3: 2, 6: 2}


def test_bfs_hops_early_stop_on_exhaustion(spark):
    from aira_spark.operators.graph import bfs_hops

    edges = spark.createDataFrame([(1, 2), (9, 8)], "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds, 50).collect()}
    assert got == {1: 0, 2: 1}  # frontier empties after hop 1; 9/8 unreachable


def test_bfs_hops_min_hop_wins_on_reconvergence(spark):
    from aira_spark.operators.graph import bfs_hops

    # two paths 1->4: direct and via 2,3 — settled-set anti-join keeps hop 1
    edges = spark.createDataFrame(
        [(1, 4), (1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["hop"] for r in bfs_hops(edges, seeds, 4).collect()}
    assert got == {1: 0, 4: 1, 2: 1, 3: 2}


# ---------------------------------------------------------------- retention


def test_retention_hand_events(spark):
    """3 users across 3 Mondays: u1 active wk0+wk1, u2 wk0 only, u3 joins
    wk1 and returns wk2."""
    from datetime import datetime

    from aira_spark.operators.retention import retention_cohorts

    W0, W1, W2 = (
        datetime(2024, 1, 1, 9),   # Mon
        datetime(2024, 1, 10, 9),  # Wed of wk1
        datetime(2024, 1, 15, 9),  # Mon of wk2
    )
    ev = spark.createDataFrame(
        [(1, W0), (1, W1), (2, W0), (3, W1), (3, W2)],
        "user_id long, ts timestamp",
    )
    rows = retention_cohorts(ev).collect()
    got = {
        (r["cohort_week"], r["week_no"]): (r["n_active"], r["cohort_size"])
        for r in rows
    }
    assert got == {
        ("2024-01-01", 0): (2, 2),  # u1+u2 in cohort wk0
        ("2024-01-01", 1): (1, 2),  # only u1 returns
        ("2024-01-08", 0): (1, 1),  # u3's own cohort
        ("2024-01-08", 1): (1, 1),  # u3 returns
    }
    weeks = {r["cohort_week"]: r["week"] for r in rows if r["week_no"] == 0}
    assert weeks == {"2024-01-01": "2024-01-01", "2024-01-08": "2024-01-08"}


def test_retention_sizes_broadcast(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string

    s = plan_string(em.q_retention(spark, sf_dir))
    assert "BroadcastHashJoin" in s, s


# ------------------------------------------------------------ focal_median


def test_focal_median_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.focal import focal_median

    filled = _fine_grid(spark, sf_dir)
    got = {
        (r["fx"], r["fy"]): (r["n_nbrs"], r["med_lo"], r["med_hi"], r["med_x2"])
        for r in focal_median(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert set(got) == set(filled)
    for (fx, fy), _ in filled.items():
        vs = sorted(
            filled[(fx + dx, fy + dy)]
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (fx + dx, fy + dy) in filled
        )
        n = len(vs)
        lo, hi = vs[(n + 1) // 2 - 1], vs[n // 2]
        assert got[(fx, fy)] == (n, lo, hi, lo + hi), (fx, fy)


def test_focal_median_same_plan_as_mean(spark, sf_dir):
    """Scatter + ONE ObjectHashAggregate, no join, bounded lists."""
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_focal_median(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # mosaic agg + focal agg
    assert "Join" not in s, s
    assert "Generate" in s, s


# ---------------------------------------------------------------- wht


def test_wht_known_block(spark):
    """Hand 8x8 image: C(0,0) = block sum; a pure vertical step edge
    excites only the u-axis (v=0) coefficients."""
    import numpy as np

    from aira_spark.operators.wht import H8, wht_block_features
    from aira_spark.tiff.encode import write_tiff

    a = np.zeros((8, 8), dtype=np.uint8)
    a[4:, :] = 10  # horizontal edge: varies along r only
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 8))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    got = {(r["u"], r["v"]): r["coef"]
           for r in wht_block_features(df, max_uv=8).collect()}
    want = H8 @ a.astype(np.int64) @ H8.T
    assert got[(0, 0)] == int(a.sum()) == 320
    for (u, v), c in got.items():
        assert c == int(want[u, v]), (u, v)
    assert all(c == 0 for (u, v), c in got.items() if v != 0)


def test_wht_clips_partial_blocks(spark):
    import numpy as np

    from aira_spark.operators.wht import wht_block_features
    from aira_spark.tiff.encode import write_tiff

    a = np.arange(10 * 13, dtype=np.uint8).reshape(10, 13) % 251
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 8))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    rows = wht_block_features(df, max_uv=2).collect()
    # 10x13 -> exactly one full 8x8 block
    assert {(r["bx"], r["by"]) for r in rows} == {(0, 0)}
    got = {(r["u"], r["v"]): r["coef"] for r in rows}
    assert got[(0, 0)] == int(a[:8, :8].astype(np.int64).sum())


def test_wht_zero_exchanges(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_wht(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 0, s
    assert "Join" not in s, s


# ---------------------------------------------------------------- fuzzy


def test_fuzzy_join_hand_cases(spark):
    from aira_spark.operators.fuzzy import fuzzy_join

    dirty = spark.createDataFrame(
        [(1, "smal ring"),   # 'small ring' minus one l -> dist 1
         (2, "red widget"),  # exact -> dist 0
         (3, "zzz nothing")],  # no block partner within budget
        "rec_id long, dirty_name string",
    )
    reg = spark.createDataFrame(
        [("small ring",), ("red widget",), ("red gadget",)],
        "match_name string",
    )
    got = {r["rec_id"]: (r["match_name"], r["dist"])
           for r in fuzzy_join(dirty, reg, max_dist=1).collect()}
    assert got == {1: ("small ring", 1), 2: ("red widget", 0)}


def test_fuzzy_join_tie_breaks_lexicographically(spark):
    from aira_spark.operators.fuzzy import fuzzy_join

    dirty = spark.createDataFrame([(1, "cat")], "rec_id long, dirty_name string")
    reg = spark.createDataFrame(
        [("cab",), ("car",), ("cut",)], "match_name string"
    )
    rows = fuzzy_join(dirty, reg, max_dist=1).collect()
    assert len(rows) == 1 and rows[0]["match_name"] == "cab"


def test_fuzzy_join_recall_and_broadcast(spark, sf_dir):
    """Every corrupted part name recovers a match (recall 1.0 under the
    single-deletion model), and the registry side broadcasts."""
    import __spark_entry__ as em
    from tests.test_plans import plan_string

    df = em.q_fuzzy_join(spark, sf_dir)
    assert df.count() == spark.read.parquet(f"{sf_dir}/part.parquet").count()
    s = plan_string(df)
    assert "BroadcastHashJoin" in s, s
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s, s


# ------------------------------------------------------------ change_census


def test_change_census_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em

    fa = _fine_grid(spark, sf_dir, modulo=16)
    import numpy as np

    from aira_spark.functions.cells import np_cell_ix, np_cell_iy
    from aira_spark.operators.mosaic import mosaic_cell_values

    imgs = em._images(spark, sf_dir)
    from pyspark.sql import functions as F

    kmod = F.expr("CAST(substr(image_id, 4) AS BIGINT) % 16")
    fb = {}
    for r in mosaic_cell_values(imgs.filter(kmod == 8), em.CELL_RES).collect():
        fx = int(np_cell_ix(np.int64(r["cell"]))) * 16 + r["pc"]
        fy = int(np_cell_iy(np.int64(r["cell"]))) * 16 + r["pr"]
        fb[(fx, fy)] = r["val"]

    want = {}
    for pos in set(fa) | set(fb):
        cx, cy = pos[0] // 16, pos[1] // 16
        a, b = fa.get(pos), fb.get(pos)
        ap, go = int(a is None), int(b is None)
        ch = int(a is not None and b is not None and a != b)
        sm = int(a is not None and b is not None and a == b)
        ad = abs(b - a) if (a is not None and b is not None) else 0
        w = want.setdefault((cx, cy), [0, 0, 0, 0, 0])
        for i, inc in enumerate((ap, go, ch, sm, ad)):
            w[i] += inc

    got = {
        (r["cx"], r["cy"]): [r["n_appeared"], r["n_gone"], r["n_changed"],
                             r["n_same"], r["sum_abs_delta"]]
        for r in em.q_change_census(spark, sf_dir).collect()
    }
    assert got == want


def test_change_census_no_join(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string

    s = plan_string(em.q_change_census(spark, sf_dir))
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert "Union" in s, s


# ------------------------------------------------------------- transitions


def test_transitions_hand_stream(spark):
    from datetime import datetime

    from aira_spark.operators.transitions import event_transitions

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    ev = spark.createDataFrame(
        [
            (1, 10, t(1), "view"), (1, 11, t(2), "click"),
            (1, 12, t(3), "view"),
            (2, 20, t(1), "view"), (2, 21, t(2), "click"),
            # equal-ts tie inside user 3: event_id orders them
            (3, 31, t(5), "a"), (3, 30, t(5), "b"),
        ],
        "user_id long, event_id long, ts timestamp, event_type string",
    )
    got = {
        (r["src_type"], r["dst_type"]): (r["n_transitions"], r["n_users"])
        for r in event_transitions(ev).collect()
    }
    assert got == {
        ("view", "click"): (2, 2),
        ("click", "view"): (1, 1),
        ("b", "a"): (1, 1),  # id 30 before 31 at equal ts
    }


# ---------------------------------------------------------------- flow_dir


def test_flow_dir_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.terrain import flow_direction

    filled = _fine_grid(spark, sf_dir)
    got = {
        (r["fx"], r["fy"]): (r["val"], r["flow_dir"], r["drop_val"])
        for r in flow_direction(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert set(got) == set(filled)
    for (fx, fy), v in filled.items():
        # code = the neighbor's position in the CENTER's 3x3 window
        nbrs = sorted(
            (filled[(fx + dx, fy + dy)], (dy + 1) * 3 + (dx + 1))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (fx + dx, fy + dy) in filled
        )
        if nbrs and nbrs[0][0] < v:
            want = (v, nbrs[0][1], v - nbrs[0][0])
        else:
            want = (v, -1, 0)
        assert got[(fx, fy)] == want, (fx, fy)


def test_flow_dir_no_join_two_aggs(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_flow_dir(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # mosaic agg + flow agg
    assert "Join" not in s, s


# ---------------------------------------------------------------- skyline


def _brute_skyline(pts):
    from collections import Counter

    c = Counter(pts)
    out = {}
    for (x, y), n in c.items():
        if not any(
            (qx <= x and qy <= y and (qx < x or qy < y)) for qx, qy in c
        ):
            out[(x, y)] = n
    return out


def test_skyline_hand_points(spark):
    from aira_spark.operators.skyline import skyline

    pts = [(1, 9), (2, 7), (2, 7), (3, 8), (5, 4), (6, 4), (7, 1), (7, 2)]
    df = spark.createDataFrame(pts, "x long, y long")
    got = {(r["x"], r["y"]): r["n_pts"] for r in skyline(df, 4).collect()}
    assert got == {(1, 9): 1, (2, 7): 2, (5, 4): 1, (7, 1): 1}
    assert got == _brute_skyline(pts)


def test_skyline_random_matches_brute_force(spark):
    import random

    from aira_spark.operators.skyline import skyline

    rng = random.Random(42)
    pts = [(rng.randrange(0, 200), rng.randrange(0, 200)) for _ in range(600)]
    df = spark.createDataFrame(pts, "x long, y long").repartition(16)
    got = {(r["x"], r["y"]): r["n_pts"] for r in skyline(df, 8).collect()}
    assert got == _brute_skyline(pts)


def test_skyline_degenerate_single_x(spark):
    from aira_spark.operators.skyline import skyline

    df = spark.createDataFrame([(5, 3), (5, 1), (5, 2)], "x long, y long")
    got = [(r["x"], r["y"]) for r in skyline(df, 64).collect()]
    assert got == [(5, 1)]


# ------------------------------------------------------------ coverage_gaps


def test_coverage_gaps_hand_case(spark):
    """One unit-square polygon, cover containing half its raster cells."""
    from aira_spark.operators.gaps import coverage_gaps
    from aira_spark.operators.rasterize import rasterize_to_cells

    ring = [
        {"x": 0.0, "y": 0.0}, {"x": 3.0, "y": 0.0}, {"x": 3.0, "y": 3.0},
        {"x": 0.0, "y": 3.0}, {"x": 0.0, "y": 0.0},
    ]
    polys = spark.createDataFrame(
        [("p0", ring)],
        "poly_id string, ring array<struct<x double, y double>>",
    )
    res = 8
    ras = rasterize_to_cells(polys, res).collect()
    cells = [r["cell"] for r in ras]
    assert len(cells) >= 4
    half = cells[: len(cells) // 2]
    cov = spark.createDataFrame(
        [("img", c) for c in half], "image_id string, cell long"
    )
    got = coverage_gaps(polys, cov, res).collect()[0]
    assert got["n_cells"] == len(cells)
    assert got["n_covered"] == len(half)
    assert got["n_gap"] == len(cells) - len(half)


def test_coverage_gaps_totals_consistent(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.q_coverage_gaps(spark, sf_dir).collect()
    assert len(rows) == 25
    for r in rows:
        assert r["n_covered"] + r["n_gap"] == r["n_cells"]
        assert r["n_cells"] > 0


# --------------------------------------------------- CC local vs distributed


def test_cc_local_and_distributed_paths_agree(spark):
    """The driver-local union-find fast path and the pointer-jumping
    DataFrame loop produce identical (cluster_id, cluster_size) labels —
    on a long path graph (jump regime) plus a clique (early-converge
    regime) plus an isolated pair."""
    from aira_spark.operators.dedup import duplicate_clusters

    pairs = (
        [(i, i + 1) for i in range(30)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(200, 201)]
    )
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    loc = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
           for r in duplicate_clusters(df).collect()}
    dist = {r["doc_id"]: (r["cluster_id"], r["cluster_size"])
            for r in duplicate_clusters(df, jump_after=3, local_threshold=0).collect()}
    want = (
        {i: (0, 31) for i in range(31)}
        | {i: (100, 3) for i in (100, 101, 102)}
        | {i: (200, 2) for i in (200, 201)}
    )
    assert loc == want
    assert dist == want


# ------------------------------------------------------------- containment


def test_containment_catches_inclusion_jaccard_misses(spark):
    """Short doc fully quoted inside a long doc: containment 1.0, while the
    symmetric Jaccard is diluted below 0.5."""
    from aira_spark.operators.dedup import containment_pairs

    short = "alpha beta gamma delta epsilon"
    long = short + " " + " ".join(f"filler{i}" for i in range(20))
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated words here")],
        "doc_id long, text string",
    )
    rows = containment_pairs(docs, k=3, threshold_ppm=900_000).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["cont_ppm"] == 1_000_000  # every gram of the short doc matches
    assert r["n_shared"] == r["n_a"] == 3
    # jaccard = 3 / (3 + 23 - 3) ~ 0.13 — the symmetric metric misses it
    assert r["n_shared"] * 2 < r["n_b"]


def test_containment_hot_gram_guard(spark):
    import pytest as pt

    from aira_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(i, "the same boiler plate line") for i in range(8)],
        "doc_id long, text string",
    )
    with pt.raises(RuntimeError, match="max_gram_df"):
        containment_pairs(docs, k=3, max_gram_df=4).collect()


def test_containment_finds_injected_tail_dups(spark, sf_dir):
    """Every +2000000 injected 'appended tail' doc must pair with its
    original at containment 1.0."""
    import __spark_entry__ as em

    rows = em.q_containment(spark, sf_dir).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r["cont_ppm"] for r in rows}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_words = {r["doc_id"]: len(r["text"].split(" "))
               for r in docs.select("doc_id", "text").collect()}
    for d in n_words:
        if d % 11 == 0 and n_words[d] >= 3:
            assert pairs.get((d, d + 2_000_000)) == 1_000_000, d


# ------------------------------------------------------------- cell_trends


def test_cell_trends_hand_series(spark):
    from aira_spark.operators.trend import cell_trends

    # cell 1: y = 100x + 50 exactly; cell 2: one day (den 0); cell 3:
    # negative slope with a remainder -> floor semantics
    rows = (
        [(1, x, 100 * x + 50) for x in range(5)]
        + [(2, 3, 700)]
        + [(3, 0, 10), (3, 1, 3)]
    )
    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {r["cell"]: r for r in cell_trends(ev).collect()}
    assert got[1]["slope_e6"] == 100 * 1_000_000
    assert (got[1]["n_days"], got[1]["sx"]) == (5, 10)
    assert got[2]["slope_e6"] == 0 and got[2]["n_days"] == 1
    # slope = -7 exactly? n=2 sx=1 sy=13 sxy=3 sxx=1: num=2*3-13=-7, den=2*1-1=1
    assert got[3]["slope_e6"] == -7 * 1_000_000


def test_cell_trends_splits_daily_duplicates(spark):
    """Two events in the same (cell, day) fold into one daily y."""
    from aira_spark.operators.trend import cell_trends

    ev = spark.createDataFrame(
        [(1, 0, 5), (1, 0, 7), (1, 1, 20)], "cell long, day long, cents long"
    )
    r = cell_trends(ev).collect()[0]
    # days (0,12),(1,20): num=2*20-1*32=8, den=2*1-1=1 -> slope 8e6
    assert (r["n_days"], r["sy"], r["slope_e6"]) == (2, 32, 8_000_000)


def test_cell_trends_floor_division_negative(spark):
    from aira_spark.operators.trend import cell_trends

    # num = -1, den = 2 -> floor(-0.5e6) = -500000
    ev = spark.createDataFrame(
        [(1, 0, 1), (1, 1, 1), (1, 2, 0)], "cell long, day long, cents long"
    )
    r = cell_trends(ev).collect()[0]
    # n=3 sx=3 sy=2 sxy=1 sxx=5: num=3*1-3*2=-3, den=3*5-9=6 -> -0.5 -> -500000
    assert r["slope_e6"] == -500_000


# --------------------------------------------------------- exact_quantiles


def test_exact_quantiles_matches_sorted_list(spark):
    import random

    from aira_spark.operators.quantiles import DEFAULT_QS, exact_quantiles

    rng = random.Random(7)
    vals = [rng.randrange(-10_000, 10_000_000) for _ in range(5000)]
    vals += [vals[0]] * 50  # heavy duplicate
    df = spark.createDataFrame([(v,) for v in vals], "v long").repartition(8)
    got = {(r["q_num"], r["q_den"]): (r["rank"], r["value"])
           for r in exact_quantiles(df).collect()}
    s = sorted(vals)
    n = len(s)
    for num, den in DEFAULT_QS:
        rank = -((-num * n) // den)
        assert got[(num, den)] == (rank, s[rank - 1]), (num, den)


def test_exact_quantiles_tiny_and_constant(spark):
    from aira_spark.operators.quantiles import exact_quantiles

    df = spark.createDataFrame([(42,)] * 9, "v long")
    rows = exact_quantiles(df, qs=((1, 2),)).collect()
    assert rows[0]["value"] == 42 and rows[0]["rank"] == 5

    one = spark.createDataFrame([(7,)], "v long")
    rows = exact_quantiles(one, qs=((9, 10),)).collect()
    assert rows[0]["value"] == 7 and rows[0]["rank"] == 1


# ----------------------------------------------------------- cell_anomalies


def test_cell_anomalies_hand_series(spark):
    from aira_spark.operators.trend import cell_anomalies

    # cell 1: nine quiet days at 10 plus one 1000-cent spike -> only the
    # spike flags at k=2; cell 2: constant -> zero variance, nothing flags
    rows = [(1, d, 10) for d in range(9)] + [(1, 9, 1000)]
    rows += [(2, d, 50) for d in range(5)]
    ev = spark.createDataFrame(rows, "cell long, day long, cents long")
    got = {(r["cell"], r["day"]): r for r in cell_anomalies(ev, k=2).collect()}
    flagged = {k for k, r in got.items() if r["is_anomaly"] == 1}
    assert flagged == {(1, 9)}
    n, sy, syy = 10, 9 * 10 + 1000, 9 * 100 + 1000 * 1000
    r = got[(1, 9)]
    assert r["dev2"] == (n * 1000 - sy) ** 2
    assert r["thr"] == 4 * (n * syy - sy * sy)
    assert all(got[(2, d)]["thr"] == 0 for d in range(5))


def test_cell_anomalies_matches_float_zscore(spark, sf_dir):
    """Reconstruct per-cell daily series from the output and verify every
    flag against a plain float z-score (strict |z| > k)."""
    from collections import defaultdict

    import __spark_entry__ as em

    rows = em.q_cell_anomalies(spark, sf_dir).collect()
    assert rows
    series = defaultdict(list)
    for r in rows:
        series[r["cell"]].append(r)
    n_flagged = 0
    for cell, rs in series.items():
        ys = [r["y"] for r in rs]
        n = len(ys)
        assert all(r["n_days"] == n for r in rs)
        mean = sum(ys) / n
        var = sum((y - mean) ** 2 for y in ys) / n
        for r in rs:
            want = var > 0 and (r["y"] - mean) ** 2 > 4 * var
            assert bool(r["is_anomaly"]) == want, (cell, r["day"])
            n_flagged += r["is_anomaly"]
    assert n_flagged > 0  # real data must produce some spikes at k=2


# ------------------------------------------------------------- gram_matrix


def test_gram_matrix_matches_numpy(spark, sf_dir):
    import numpy as np

    import __spark_entry__ as em

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    x = np.stack([r["embedding"] for r in emb.collect()]).astype(np.float64)
    v = x * 1024.0
    q = (np.floor(np.abs(v) + 0.5) * np.sign(v)).astype(np.int64)
    want = q.T @ q
    got = {(r["i"], r["j"]): r["gram"]
           for r in em.q_gram_matrix(spark, sf_dir).collect()}
    d = q.shape[1]
    assert len(got) == d * (d + 1) // 2
    for (i, j), g in got.items():
        assert g == int(want[i, j]), (i, j)


def test_gram_matrix_partition_invariant_no_shuffle_of_vectors(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.gram import gram_matrix
    from tests.test_plans import plan_string, shuffle_count

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = {(r["i"], r["j"]): r["gram"] for r in gram_matrix(emb).collect()}
    b = {(r["i"], r["j"]): r["gram"]
         for r in gram_matrix(emb.repartition(13)).collect()}
    assert a == b
    df = em.q_gram_matrix(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 1, s  # only d^2-row partials cross the wire
    assert "Join" not in s, s


# --------------------------------------------------------------- transcode


def test_transcode_roundtrip_hand_image(spark):
    """A hand 5x7x2 (gray+alpha) TIFF through decode->PNG->decode: stats
    equal the direct numpy computation on the ORIGINAL array."""
    import numpy as np

    from aira_spark.operators.multimodal import transcode_stats
    from aira_spark.tiff.encode import write_tiff

    rng = np.random.RandomState(3)
    a = rng.randint(0, 256, size=(5, 7, 2), dtype=np.uint8)
    buf = write_tiff(a, byteorder=">", layout=("strips", 2))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    r = transcode_stats(df).collect()[0]
    w = np.arange(1, a.size + 1, dtype=np.int64)
    assert (r["out_ch"], r["out_w"], r["out_h"]) == (2, 7, 5)
    assert r["sum_px"] == int(a.sum())
    assert r["wsum"] == int((w * a.astype(np.int64).ravel()).sum() % (1 << 61))


def test_transcode_zero_shuffles(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_transcode(spark, sf_dir)
    assert shuffle_count(df) == 0, plan_string(df)


# ------------------------------------------------------------ knn_classify


def test_knn_classify_hand_clusters(spark):
    """Two tight label clusters on the 2-sphere directions: each query
    predicts its own cluster's label, leave-one-out."""
    from aira_spark.operators.similarity import knn_classify

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 62

    rows = (
        [(i, v(1.0, 0.01 * i), 7) for i in range(4)]
        + [(10 + i, v(0.01 * i, 1.0), 3) for i in range(4)]
    )
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label long"
    )
    queries = emb.selectExpr(
        "vec_id AS query_id", "embedding AS qvec", "label AS true_label"
    )
    got = {r["query_id"]: r for r in knn_classify(emb, queries, k=3).collect()}
    assert len(got) == 8
    for qid, r in got.items():
        assert r["correct"] == 1, qid
        assert r["pred_label"] == (7 if qid < 10 else 3)
        assert r["n_votes"] == 3  # all 3 nearest are same-cluster


def test_knn_classify_tie_breaks_min_label(spark):
    from aira_spark.operators.similarity import knn_classify

    def v(x, y):
        return [float(x), float(y)] + [0.0] * 62

    # query at 45 degrees, one neighbor of each label equidistant, k=2
    emb = spark.createDataFrame(
        [
            (1, v(1.0, 0.0), 9),
            (2, v(0.0, 1.0), 4),
            (3, v(0.7071, 0.7071), 0),
        ],
        "vec_id long, embedding array<double>, label long",
    )
    q = spark.createDataFrame(
        [(3, v(0.7071, 0.7071), 0)],
        "query_id long, qvec array<double>, true_label long",
    )
    r = knn_classify(emb, q, k=2).collect()[0]
    assert r["pred_label"] == 4 and r["n_votes"] == 1  # 1-1 tie -> min label


# ------------------------------------------------------- trajectory_lengths


def test_trajectory_lengths_hand_path(spark):
    import math

    from aira_spark.operators.trajectory import trajectory_lengths

    # user 1 walks a 3-4-5 right triangle (binary-exact coords so the 1e-4
    # quantization is exact: 0.75 and 1.0 are dyadic):
    # (0,0) -> (0.75,0) -> (0.75,1.0) -> back to (0,0)
    pts = [(0.0, 0.0), (0.75, 0.0), (0.75, 1.0), (0.0, 0.0)]
    rows = [(1, i, i, x, y) for i, (x, y) in enumerate(pts)]
    rows += [(2, 0, 10, 1.0, 1.0)]  # single event: zero everything
    ev = spark.createDataFrame(
        rows, "user_id long, ts long, event_id long, x double, y double"
    )
    got = {r["user_id"]: r for r in trajectory_lengths(ev).collect()}
    r1 = got[1]
    assert r1["n_hops"] == 3
    assert r1["path_e4"] == 7500 + 10000 + 12500
    assert r1["max_hop_e4"] == 12500
    assert r1["net_e4"] == 0  # closed loop
    r2 = got[2]
    assert (r2["n_hops"], r2["path_e4"], r2["max_hop_e4"], r2["net_e4"]) == (
        0, 0, 0, 0,
    )
    assert math.isqrt(3 * 3 + 4 * 4) == 5  # the device the op relies on


def test_trajectory_lengths_net_le_path(spark, sf_dir):
    """Triangle inequality must hold row-by-row on real data (quantized
    floor can only shrink each hop, never the net below-zero)."""
    import __spark_entry__ as em

    rows = em.q_trajectory_lengths(spark, sf_dir).collect()
    n_users = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id").distinct().count()
    )
    assert len(rows) == n_users
    for r in rows:
        assert r["net_e4"] <= r["path_e4"] + r["n_hops"]  # +1 floor slack/hop
        assert r["max_hop_e4"] <= r["path_e4"]


# ------------------------------------------------------------------ basins


def test_basins_match_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.terrain import BASIN_K, drainage_basins

    filled = _fine_grid(spark, sf_dir)

    def parent(pos):
        fx, fy = pos
        nbrs = sorted(
            (filled[(fx + dx, fy + dy)], (dy + 1) * 3 + (dx + 1), (fx + dx, fy + dy))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (fx + dx, fy + dy) in filled
        )
        if nbrs and nbrs[0][0] < filled[pos]:
            return nbrs[0][2]
        return pos

    want = {}
    sizes = {}
    for pos in filled:
        cur = pos
        while True:
            nxt = parent(cur)
            if nxt == cur:
                break
            cur = nxt
        want[pos] = cur[0] * BASIN_K + cur[1]
        sizes[want[pos]] = sizes.get(want[pos], 0) + 1

    got = {
        (r["fx"], r["fy"]): (r["basin"], r["basin_size"])
        for r in drainage_basins(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert set(got) == set(filled)
    for pos, basin in want.items():
        assert got[pos] == (basin, sizes[basin]), pos


def test_basins_pits_label_themselves(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.terrain import BASIN_K, flow_direction

    pits = {
        (r["fx"], r["fy"])
        for r in flow_direction(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
        if r["flow_dir"] == -1
    }
    rows = em.q_basins(spark, sf_dir).collect()
    basin_ids = {r["basin"] for r in rows}
    assert basin_ids == {fx * BASIN_K + fy for fx, fy in pits}
    assert sum(r["basin_size"] for r in rows if (r["fx"], r["fy"]) in pits) == len(rows)


# ------------------------------------------------------------- co_location


def test_co_location_hand_meetings(spark):
    from aira_spark.operators.trajectory import co_location_pairs

    rows = [
        # users 1,2 meet twice (cells a@h1, b@h2); user 3 meets 1 once
        (1, "a", "h1"), (2, "a", "h1"),
        (1, "b", "h2"), (2, "b", "h2"),
        (1, "c", "h3"), (3, "c", "h3"),
        # duplicate presence rows must dedup before pairing
        (2, "a", "h1"), (2, "a", "h1"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, cell string, hour string")
    got = {
        (r["user_a"], r["user_b"]): (r["n_meetings"], r["n_places"])
        for r in co_location_pairs(ev, min_meetings=1).collect()
    }
    assert got == {(1, 2): (2, 2), (1, 3): (1, 1)}
    two = co_location_pairs(ev, min_meetings=2).collect()
    assert [(r["user_a"], r["user_b"]) for r in two] == [(1, 2)]


def test_co_location_hot_bucket_guard(spark):
    import pytest as pt

    from aira_spark.operators.trajectory import co_location_pairs

    ev = spark.createDataFrame(
        [(i, "hot", "h") for i in range(50)],
        "user_id long, cell string, hour string",
    )
    with pt.raises(RuntimeError, match="max_group"):
        co_location_pairs(ev, max_group=10).collect()


# ------------------------------------------------------------ jsonl_ingest


def test_jsonl_ingest_quarantines_exactly_the_corrupted_lines(spark, sf_dir, tmp_path):
    from aira_spark.sources.jsonl import (
        jsonl_ingest_summary,
        read_events_jsonl,
        write_events_jsonl,
    )

    out = str(tmp_path / "jl")
    write_events_jsonl(spark, sf_dir, out)
    df = read_events_jsonl(spark, out)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    n_total = ev.count()
    n_bad = ev.where("event_id % 97 = 0").count()
    assert df.count() == n_total  # no line silently dropped
    got = {r["event_type"]: (r["n_rows"], r["value_cents"])
           for r in jsonl_ingest_summary(df).collect()}
    assert got["_dead_letter_"] == (n_bad, 0)
    assert sum(n for n, _ in got.values()) == n_total
    # parsed rows carry real values; quarantined lines keep their raw text
    # (select a parsed column alongside — Spark disallows corrupt-only queries)
    bad = df.where("_corrupt IS NOT NULL").select("event_id", "_corrupt").limit(1).collect()
    assert bad and bad[0]["_corrupt"].startswith('{"event_id"')


def test_jsonl_ingest_roundtrip_values_exact(spark, sf_dir, tmp_path):
    """Every well-formed line parses back to its source row (ids and
    cents), not approximately."""
    from aira_spark.sources.jsonl import read_events_jsonl, write_events_jsonl

    out = str(tmp_path / "jl2")
    write_events_jsonl(spark, sf_dir, out)
    parsed = (
        read_events_jsonl(spark, out)
        .where("_corrupt IS NULL")
        .selectExpr("event_id", "CAST(FLOOR(value * 100.0) AS BIGINT) AS cents")
    )
    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .where("event_id % 97 != 0")
        .selectExpr("event_id", "CAST(FLOOR(value * 100.0) AS BIGINT) AS cents")
    )
    assert parsed.exceptAll(src).count() == 0
    assert src.exceptAll(parsed).count() == 0


# --------------------------------------------------------- mixture_weights


def test_mixture_weights_hand_sources(spark):
    from aira_spark.operators.mixture import mixture_weights

    docs = spark.createDataFrame(
        [
            ("web", "a b c d e f"),      # 6 tokens
            ("web", "a b c d e f"),      # 12 total
            ("books", "x y z"),          # 3 tokens (smallest)
            ("code", "p q r s"),         # 4 tokens
        ],
        "source string, text string",
    )
    got = {r["source"]: r for r in mixture_weights(docs).collect()}
    assert got["books"]["sample_ppm"] == 1_000_000  # keeps everything
    assert got["books"]["tokens_after"] == 3
    assert got["web"]["sample_ppm"] == 250_000  # 3/12
    assert got["web"]["tokens_after"] == 3
    assert got["code"]["sample_ppm"] == 750_000  # floor(3e6/4)
    assert got["code"]["tokens_after"] == 3
    assert got["web"]["n_docs"] == 2 and got["web"]["n_tokens"] == 12


def test_mixture_weights_budget_never_exceeds_min(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.q_mixture_weights(spark, sf_dir).collect()
    mn = min(r["n_tokens"] for r in rows)
    for r in rows:
        assert r["tokens_after"] <= mn
        assert mn - r["tokens_after"] <= r["n_tokens"] // 1_000_000 + 1


# --------------------------------------------------------- quality_deciles


def test_quality_deciles_partition_and_order(spark, sf_dir):
    """Deciles cover all docs, are non-overlapping in logit ranges, and
    roughly balanced (exact-boundary rule, ties to the lower decile)."""
    import __spark_entry__ as em

    rows = sorted(
        em.q_quality_deciles(spark, sf_dir).collect(),
        key=lambda r: r["decile"],
    )
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert [r["decile"] for r in rows] == list(range(1, 11))
    assert sum(r["n_docs"] for r in rows) == n_docs
    for a, b in zip(rows, rows[1:]):
        assert a["max_logit"] <= b["min_logit"]
    # boundary rule keeps deciles within ±1 of each other barring ties
    sizes = [r["n_docs"] for r in rows]
    assert max(sizes) - min(sizes) <= max(3, n_docs // 20)


# ------------------------------------------------------------ cms_join_size


def test_cms_join_size_guarantee_and_tightness(spark, sf_dir):
    """One-sided: est >= true join size on every row; tight on the real
    (low-collision) key distribution."""
    import __spark_entry__ as em

    rows = {r["row"]: r["inner_prod"]
            for r in em.q_cms_join_size(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    a = li.selectExpr("l_partkey AS k")
    b = li.where("l_quantity > 25").selectExpr("l_partkey AS k")
    true_size = a.join(b, "k").count()
    est = rows[-1]
    assert est == min(rows[i] for i in range(4))
    for i in range(4):
        assert rows[i] >= true_size
    assert est <= true_size * 1.2  # 4x1024 sketch on ~2k keys stays tight


def test_cms_join_size_exact_on_disjoint(spark):
    from aira_spark.operators.sketch import cms_join_size

    a = spark.createDataFrame([(f"a{i}",) for i in range(50)], "v string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(50)], "v string")
    rows = {r["row"]: r["inner_prod"] for r in cms_join_size(a, b).collect()}
    # disjoint keys: the only inner-product mass is hash collisions —
    # bounded, and usually zero on 100 keys over 4096 buckets
    assert rows[-1] <= 5


# --------------------------------------------------------------- triangles


def test_triangle_counts_hand_graphs(spark):
    from aira_spark.operators.graph import triangle_counts

    # K4 (4 triangles, 3 per node) + a square with one diagonal (2
    # triangles) + a triangle-free path
    k4 = [(i, j) for i in range(4) for j in range(i + 1, 4)]
    sq = [(10, 11), (11, 12), (12, 13), (13, 10), (10, 12)]
    path = [(20, 21), (21, 22)]
    df = spark.createDataFrame(k4 + sq + path, "doc_a long, doc_b long")
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got[-1] == 4 + 2
    for n in range(4):
        assert got[n] == 3
    assert got[10] == 2 and got[12] == 2 and got[11] == 1 and got[13] == 1
    assert 20 not in got and 22 not in got


def test_triangle_counts_duplicate_and_reversed_edges_collapse(spark):
    from aira_spark.operators.graph import triangle_counts

    df = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (1, 2)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["n_tri"] for r in triangle_counts(df).collect()}
    assert got == {-1: 1, 1: 1, 2: 1, 3: 1}


# -------------------------------------------------------------- bloom_probe


def test_bloom_no_false_negatives_and_sane_fp(spark):
    from aira_spark.operators.sketch import bloom_probe

    build = spark.createDataFrame([(f"k{i}",) for i in range(100)], "v string")
    probe = spark.createDataFrame(
        [(f"k{i}",) for i in range(100)] + [(f"x{i}",) for i in range(400)],
        "v string",
    )
    r = bloom_probe(build, probe).collect()[0]
    assert r["n_probed"] == 500 and r["n_true"] == 100
    # one-sided: every true member hits
    assert r["n_hits"] - r["n_false_pos"] == 100
    # 400 bits over 4096, k=4: fp rate ~ (400/4096)^4 ~ 1e-4 — a handful max
    assert r["n_false_pos"] <= 3
    assert r["n_bits_set"] <= 400


def test_bloom_membership_census_matches_exact(spark, sf_dir):
    import __spark_entry__ as em

    r = em.q_bloom_probe(spark, sf_dir).collect()[0]
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    true = (
        part.selectExpr("p_partkey AS k")
        .join(
            li.where("l_quantity > 45").selectExpr("l_partkey AS k").distinct(),
            "k", "left_semi",
        )
        .count()
    )
    assert r["n_true"] == true
    assert r["n_hits"] >= r["n_true"]  # no false negatives
    assert r["n_false_pos"] == r["n_hits"] - r["n_true"]


# -------------------------------------------------------------------- scd2


def test_scd2_hand_history(spark):
    from datetime import datetime

    from aira_spark.operators.scd import scd2_build

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    ev = spark.createDataFrame(
        [
            (1, 10, t(1), "bronze"), (1, 11, t(2), "bronze"),  # dup collapses
            (1, 12, t(3), "gold"), (1, 13, t(4), "bronze"),   # back again
            (2, 20, t(5), "silver"),
        ],
        "user_id long, event_id long, ts timestamp, attr string",
    )
    rows = sorted(
        scd2_build(ev).collect(), key=lambda r: (r["user_id"], r["version"])
    )
    hist = [(r["user_id"], r["attr"], r["version"], r["is_current"]) for r in rows]
    assert hist == [
        (1, "bronze", 1, 0), (1, "gold", 2, 0), (1, "bronze", 3, 1),
        (2, "silver", 1, 1),
    ]
    # intervals chain: each valid_to equals the next valid_from
    u1 = [r for r in rows if r["user_id"] == 1]
    assert u1[0]["valid_to"] == u1[1]["valid_from"]
    assert u1[1]["valid_to"] == u1[2]["valid_from"]
    assert u1[2]["valid_to"] is None


def test_scd2_intervals_cover_and_chain(spark, sf_dir):
    import __spark_entry__ as em
    from collections import defaultdict

    rows = em.q_scd2(spark, sf_dir).collect()
    by_user = defaultdict(list)
    for r in rows:
        by_user[r["user_id"]].append(r)
    for u, rs in by_user.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r["is_current"] for r in rs) == 1 and rs[-1]["is_current"] == 1
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["attr"] != b["attr"]  # consecutive dups collapsed


# ------------------------------------------------------------ morton_ranges


def test_morton_decomposition_exact_coverage():
    from aira_spark.operators.mortonq import _interleave, morton_ranges

    res = 5
    for rect in [(0, 0, 31, 31), (3, 5, 17, 29), (7, 7, 7, 7), (0, 30, 31, 31)]:
        ranges = morton_ranges(*rect, res)
        # disjoint + sorted
        for (l1, h1), (l2, h2) in zip(ranges, ranges[1:]):
            assert h1 < l2 or h1 <= l2
        covered = set()
        for lo, hi in ranges:
            covered.update(range(lo, hi))
        ix0, iy0, ix1, iy1 = rect
        want = {
            _interleave(x, y, res)
            for x in range(ix0, ix1 + 1) for y in range(iy0, iy1 + 1)
        }
        assert covered == want, rect


def test_morton_audit_counts_agree(spark, sf_dir):
    import __spark_entry__ as em

    r = em.q_morton_ranges(spark, sf_dir).collect()[0]
    assert r["n_pts_ranges"] == r["n_pts_bbox"]
    assert r["n_pts_bbox"] > 0
    assert 1 <= r["n_ranges"] <= 4 * (1 << em.CELL_RES)  # perimeter bound


# ----------------------------------------------------------- occupancy/gini


def test_occupancy_hand_sessions(spark):
    from datetime import datetime

    from aira_spark.operators.occupancy import session_occupancy

    def t(h, m):
        return datetime(2024, 1, 1, h, m)

    ev = spark.createDataFrame(
        [
            # user 1: one session 00:10 -> 02:05 (gaps < 30m) -> hours 0,1,2
            (1, 1, t(0, 10)), (1, 2, t(0, 35)), (1, 3, t(1, 0)),
            (1, 4, t(1, 25)), (1, 5, t(1, 50)), (1, 6, t(2, 5)),
            # user 1: second session after a 3h gap -> hour 5
            (1, 7, t(5, 15)),
            # user 2: session overlapping hour 1 only
            (2, 8, t(1, 40)), (2, 9, t(1, 55)),
        ],
        "user_id long, event_id long, ts timestamp",
    )
    got = {r["hour"][:13]: (r["n_sessions"], r["n_users"])
           for r in session_occupancy(ev, 30).collect()}
    assert got == {
        "2024-01-01 00": (1, 1),
        "2024-01-01 01": (2, 2),
        "2024-01-01 02": (1, 1),
        "2024-01-01 05": (1, 1),
    }


def test_texture_gini_extremes(spark):
    import numpy as np

    from aira_spark.operators.equalize import texture_stats
    from aira_spark.tiff.encode import write_tiff

    flat = np.full((8, 8), 7, dtype=np.uint8)
    distinct = np.arange(64, dtype=np.uint8).reshape(8, 8)
    rows = []
    for name, a in (("flat", flat), ("uniq", distinct)):
        rows.append((name, bytearray(write_tiff(a[:, :, None]))))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in texture_stats(df).collect()}
    assert got["flat"]["gini_e6"] == 0
    assert got["flat"]["n_distinct"] == 1 and got["flat"]["max_cnt"] == 64
    # 64 distinct values of 64 px: gini = 1 - 64/64^2 = 63/64
    assert got["uniq"]["gini_e6"] == (63 * 1_000_000) // 64
    assert got["uniq"]["n_distinct"] == 64 and got["uniq"]["max_cnt"] == 1


# ------------------------------------------------------------- basket_pairs


def test_basket_pairs_hand_orders(spark):
    from aira_spark.operators.basket import basket_pairs

    rows = [
        (1, 10), (1, 20), (1, 30),
        (2, 10), (2, 20),
        (3, 10), (3, 20), (3, 20),  # dup item collapses
        (4, 99),
    ]
    items = spark.createDataFrame(rows, "order_id long, item long")
    got = {(r["item_a"], r["item_b"]): r["n_orders"]
           for r in basket_pairs(items, min_support=2).collect()}
    assert got == {(10, 20): 3}
    all_pairs = {(r["item_a"], r["item_b"]): r["n_orders"]
                 for r in basket_pairs(items, min_support=1).collect()}
    assert all_pairs == {(10, 20): 3, (10, 30): 1, (20, 30): 1}


def test_basket_pairs_guard(spark):
    import pytest as pt

    from aira_spark.operators.basket import basket_pairs

    items = spark.createDataFrame(
        [(1, i) for i in range(100)], "order_id long, item long"
    )
    with pt.raises(RuntimeError, match="max_basket"):
        basket_pairs(items, max_basket=50).collect()


# ----------------------------------------------------------------- profile


def test_profile_hand_table(spark):
    from aira_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (None, "b")],
        "k long, s string",
    )
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    assert got["k"]["n_rows"] == 4
    assert got["k"]["n_nulls"] == 1 and got["k"]["n_distinct"] == 3
    assert (got["k"]["min_s"], got["k"]["max_s"]) == ("1", "3")
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    assert (got["s"]["min_s"], got["s"]["max_s"]) == ("a", "b")


def test_profile_one_scan(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string

    import re

    s = plan_string(em.q_profile(spark, sf_dir))
    # every column profiled in ONE pass over the file (the formatted plan
    # names each scan node once in the tree and once in the detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", s)) == 1, s


# ------------------------------------------------------------- rank_fusion


def test_rrf_fusion_hand_arms(spark):
    from aira_spark.operators.rank import rrf_fusion

    # arm A ranks docs 1,2,3; arm B ranks 3,2,9 (doc 9 in one arm only)
    a = spark.createDataFrame(
        [(0, 1, 1), (0, 2, 2), (0, 3, 3)], "query_id long, doc_id long, rank long"
    )
    b = spark.createDataFrame(
        [(0, 3, 1), (0, 2, 2), (0, 9, 3)], "query_id long, doc_id long, rank long"
    )
    rows = {r["doc_id"]: r for r in rrf_fusion(a, b, k=60, topn=10).collect()}
    c = lambda r: 1_000_000 // (60 + r)
    assert rows[3]["rrf_micros"] == c(3) + c(1) and rows[3]["n_arms"] == 2
    assert rows[2]["rrf_micros"] == c(2) + c(2)
    assert rows[1]["rrf_micros"] == c(1) and rows[1]["n_arms"] == 1
    assert rows[9]["rrf_micros"] == c(3)
    # fused order: 3 (c(1)+c(3)=32266) > 2 (2x c(2)=32258) > 1 > 9
    order = sorted(rows.values(), key=lambda r: r["fused_rank"])
    assert [r["doc_id"] for r in order] == [3, 2, 1, 9]


def test_rank_fusion_bounded_and_consistent(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.q_rank_fusion(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2}
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["fused_rank"])
        assert [r["fused_rank"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 10
        vals = [r["rrf_micros"] for r in rs]
        assert vals == sorted(vals, reverse=True)
        assert all(1 <= r["n_arms"] <= 2 for r in rs)


# -------------------------------------------------------- streaming_enrich


def test_streaming_enrich_equals_batch(spark, sf_dir):
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    got = {
        (r["mktsegment"], r["hour"]): (r["n_events"], r["value_cents"])
        for r in em.q_streaming_enrich(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = spark.read.parquet(f"{sf_dir}/customer.parquet").selectExpr(
        "c_custkey AS user_id", "c_mktsegment AS mktsegment"
    )
    want = {
        (r["mktsegment"], r["hour"]): (r["n_events"], r["value_cents"])
        for r in (
            ev.join(dim, "user_id")
            .groupBy(
                "mktsegment",
                F.expr("CAST(date_trunc('hour', ts) AS STRING)").alias("hour"),
            )
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum(F.expr("CAST(FLOOR(value * 100.0) AS BIGINT)"))
                .cast("long").alias("value_cents"),
            )
            .collect()
        )
    }
    assert got == want


# ------------------------------------------------------ sorted_neighborhood


def test_sorted_neighborhood_hand_records(spark):
    from aira_spark.operators.fuzzy import sorted_neighborhood_pairs

    recs = spark.createDataFrame(
        [
            (1, "apple pie"), (2, "apple pi"),   # adjacent after sort, dist 1
            (3, "apple tart"),                    # within window of 2? sorted:
            (4, "zebra"),                          # isolated
        ],
        "rec_id long, name string",
    )
    got = {(r["rec_a"], r["rec_b"]): r["dist"]
           for r in sorted_neighborhood_pairs(recs, window=3, max_dist=1).collect()}
    # sort order: 'apple pi' < 'apple pie' < 'apple tart' < (z-block) 'zebra'
    assert got == {(1, 2): 1}


def test_sorted_neighborhood_finds_injected_variants(spark, sf_dir):
    """Every corrupted name must pair with at least one same-name record
    (its clean source sorts adjacently unless an identical name intervenes,
    in which case that identical neighbor pairs at dist 0)."""
    import __spark_entry__ as em

    rows = em.q_sorted_neighborhood(spark, sf_dir).collect()
    assert rows
    paired = set()
    for r in rows:
        assert 0 <= r["dist"] <= 1 and r["rec_a"] < r["rec_b"]
        paired.add(r["rec_a"])
        paired.add(r["rec_b"])
    n_parts = spark.read.parquet(f"{sf_dir}/part.parquet").count()
    # with 64 distinct names over thousands of records, sort-adjacency
    # pairs nearly everything; require broad (not total) coverage
    assert len(paired) > n_parts


# ---------------------------------------------------------- conversion_lag


def test_conversion_lag_hand_events(spark):
    from datetime import datetime

    from aira_spark.operators.conversion import conversion_lags

    def t(s):
        return datetime(2024, 1, 1, 0, 0, s)

    ev = spark.createDataFrame(
        [
            # user 1: purchase BEFORE first view must not count; lag = 30
            (1, t(5), "purchase"), (1, t(10), "view"), (1, t(40), "purchase"),
            # user 2: converts instantly (same second)
            (2, t(7), "view"), (2, t(7), "purchase"),
            # user 3: views but never purchases -> absent
            (3, t(1), "view"),
            # user 4: purchases but never views -> absent
            (4, t(2), "purchase"),
        ],
        "user_id long, ts timestamp, event_type string",
    )
    got = {r["user_id"]: r["lag_s"] for r in conversion_lags(ev).collect()}
    assert got == {1: 30, 2: 0}


def test_conversion_lag_nonnegative_real(spark, sf_dir):
    import __spark_entry__ as em

    rows = em.q_conversion_lag(spark, sf_dir).collect()
    assert rows and all(r["lag_s"] >= 0 for r in rows)


# --------------------------------------------------------------------- rfm


def test_rfm_scores_consistent(spark, sf_dir):
    """Scores in 1..3; recency inverted (fresher -> higher); segment is the
    positional composite; tertiles roughly balance."""
    import __spark_entry__ as em
    from collections import Counter

    rows = em.q_rfm(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_custkey").distinct().count()
    assert len(rows) == n
    for r in rows:
        for s in ("r_score", "f_score", "m_score"):
            assert 1 <= r[s] <= 3
        assert r["segment"] == r["r_score"] * 100 + r["f_score"] * 10 + r["m_score"]
    # monotonicity: sort by rec_days — r_score must be non-increasing
    by_rec = sorted(rows, key=lambda r: r["rec_days"])
    scores = [r["r_score"] for r in by_rec]
    assert all(a >= b for a, b in zip(scores, scores[1:]))
    by_cents = sorted(rows, key=lambda r: r["cents"])
    mscores = [r["m_score"] for r in by_cents]
    assert all(a <= b for a, b in zip(mscores, mscores[1:]))
    c = Counter(r["m_score"] for r in rows)
    assert min(c.values()) * 2 >= max(c.values()) - 5  # rough tertile balance


# ----------------------------------------------------------------- wht_sig


def test_wht_sig_groups_contain_injected_copies(spark, sf_dir):
    """Every injected 'x' copy must share a signature group with its
    source; keeper is the lexicographic min of the group."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    rows = em.q_wht_sig(spark, sf_dir).collect()
    assert rows
    imgs = em._images(spark, sf_dir, modulo=16)
    copies = [
        r["image_id"]
        for r in imgs.filter(
            F.expr("CAST(substr(image_id, 4) AS BIGINT) % 32 = 0")
        ).select("image_id").collect()
    ]
    assert copies
    total_grouped = sum(r["n_images"] for r in rows)
    assert total_grouped >= 2 * len(copies)
    for r in rows:
        assert r["n_images"] >= 2
        # keeper sorts before any x-prefixed copy
        assert not r["keeper_id"].startswith("x")
