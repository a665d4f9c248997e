"""Round-4g additions: link prediction, ordered dithering, geohash,
feathered mosaic blend — brute-force python mirrors + shape pins."""

import pytest


# --------------------------------------------------------------- link_pred


def _toy_edges(spark):
    # path 1-2-3-4 plus star around 10: non-edges (1,3),(2,4),(1,4) etc.
    rows = [
        (1, 2), (2, 3), (3, 4),
        (10, 11), (10, 12), (10, 13), (11, 12),
        (2, 10), (3, 10),
    ]
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_link_pred_matches_brute_force(spark):
    from aira_spark.operators.linkpred import link_prediction

    edges = _toy_edges(spark)
    und = set()
    for a, b in edges.collect():
        und.add((a, b))
        und.add((b, a))
    nodes = sorted({a for a, _ in und})
    nbr = {n: {b for a, b in und if a == n} for n in nodes}
    want = {}
    for i, u in enumerate(nodes):
        for w in nodes[i + 1:]:
            if (u, w) in und:
                continue
            cn = len(nbr[u] & nbr[w])
            if cn < 2:
                continue
            du, dw = len(nbr[u]), len(nbr[w])
            want[(u, w)] = (
                cn, du, dw, cn * 1_000_000 // (du + dw - cn), du * dw
            )
    got = {
        (r["u"], r["w"]): (
            r["cn"], r["deg_u"], r["deg_w"], r["jaccard_e6"], r["pref_attach"]
        )
        for r in link_prediction(edges, min_common=2).collect()
    }
    assert got == want


def test_link_pred_excludes_existing_edges(spark):
    from aira_spark.operators.linkpred import link_prediction

    edges = _toy_edges(spark)
    und = set()
    for a, b in edges.collect():
        und.add((a, b))
        und.add((b, a))
    for r in link_prediction(edges, min_common=1).collect():
        assert (r["u"], r["w"]) not in und
        assert r["u"] < r["w"]


# ------------------------------------------------------------------ dither


def test_dither_matches_formula_mirror(spark, sf_dir):
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.operators.dither import BAYER4, CHECK_MOD, dither_census

    got = {
        r["image_id"]: (r["n_px"], r["n_on"], r["checksum"])
        for r in dither_census(_sf_images(spark, sf_dir)).collect()
    }
    S = em._S
    assert got
    for image_id, (n_px, n_on, chk) in got.items():
        k = int(image_id[3:])
        w, h = (16 + (k % 7) * 8) * S, (16 + (k % 5) * 8) * S
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        v = (r * 7 + c * 13 + k) % 256
        on = v >= BAYER4[r % 4, c % 4] * 16 + 8
        assert n_px == h * w
        assert n_on == int(on.sum())
        ri, ci = np.nonzero(on)
        assert chk == int(((ri.astype(np.int64) * w + ci) % CHECK_MOD).sum())


def test_dither_preserves_flat_intensity():
    # a constant-v tile lights up exactly #(BAYER4*16+8 <= v) of every 16
    import numpy as np

    from aira_spark.operators.dither import BAYER4

    for v in (0, 7, 8, 100, 247, 248, 255):
        a = np.full((4, 4), v, dtype=np.int64)
        on = a >= BAYER4 * 16 + 8
        assert int(on.sum()) == int((BAYER4 * 16 + 8 <= v).sum())
        # mid-rise rule: v=255 lights all 16, v=0 lights none
    assert (np.full((4, 4), 255) >= BAYER4 * 16 + 8).all()
    assert not (np.full((4, 4), 0) >= BAYER4 * 16 + 8).any()


def _sf_images(spark, sf_dir):
    import __spark_entry__ as em

    return em._images(spark, sf_dir, modulo=8)


# ----------------------------------------------------------------- geohash


def _ref_geohash(lon, lat, n_chars):
    """Textbook interval-halving geohash encoder (Wikipedia algorithm)."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lo_x, hi_x, lo_y, hi_y = -180.0, 180.0, -90.0, 90.0
    bits, out, even = 0, [], True
    digit = 0
    for i in range(n_chars * 5):
        if even:
            mid = (lo_x + hi_x) / 2
            bit = 1 if lon >= mid else 0
            lo_x, hi_x = (mid, hi_x) if bit else (lo_x, mid)
        else:
            mid = (lo_y + hi_y) / 2
            bit = 1 if lat >= mid else 0
            lo_y, hi_y = (mid, hi_y) if bit else (lo_y, mid)
        even = not even
        digit = (digit << 1) | bit
        bits += 1
        if bits == 5:
            out.append(alphabet[digit])
            bits, digit = 0, 0
    return "".join(out)


def test_geohash_matches_textbook_encoder(spark):
    from aira_spark.operators.geohash import geohash_col

    # the canonical worked example plus a grid of sign/zero cases
    pts = [
        (0, 10.40744, 57.64911),   # -> u4pruy (Wikipedia's u4pruyd at 7)
        (1, -0.0001, 51.5),
        (2, 0.0, 0.0),
        (3, -179.9, -89.9),
        (4, 179.9, 89.9),
        (5, -77.009, 38.889),
    ]
    df = spark.createDataFrame(pts, "point_id long, x double, y double")
    got = {
        r["point_id"]: r["gh"]
        for r in df.select(
            "point_id", geohash_col("x", "y", 6).alias("gh")
        ).collect()
    }
    assert got[0] == "u4pruy"
    for pid, lon, lat in pts:
        assert got[pid] == _ref_geohash(lon, lat, 6), (pid, got[pid])


# ------------------------------------------------------------ mosaic_blend


def test_mosaic_blend_order_independent_and_bounded(spark, sf_dir):
    from aira_spark.operators.mosaic import mosaic_blend_values

    import __spark_entry__ as em

    imgs = _sf_images(spark, sf_dir)
    out = mosaic_blend_values(imgs, em.CELL_RES)
    rows = out.collect()
    assert rows
    for r in rows:
        assert 0 <= r["val"] <= 255          # weighted mean of 0..255
        assert r["w_tot"] >= 1
        assert 0 <= r["pr"] < 16 and 0 <= r["pc"] < 16
    # partition-count independence (the order/associativity property):
    # same result when partials arrive through a different partitioning
    again = {
        (r["cell"], r["pr"], r["pc"]): (r["val"], r["w_tot"])
        for r in mosaic_blend_values(
            imgs.repartition(7), em.CELL_RES
        ).collect()
    }
    assert {
        (r["cell"], r["pr"], r["pc"]): (r["val"], r["w_tot"]) for r in rows
    } == again


def test_mosaic_blend_weights_feather_edges():
    # the weight field itself: corners weight 1, center maximal
    import numpy as np

    h, w = 8, 12
    ri = np.arange(h)[:, None]
    ci = np.arange(w)[None, :]
    wt = 1 + np.minimum(np.minimum(ri, h - 1 - ri), np.minimum(ci, w - 1 - ci))
    assert wt[0, 0] == wt[0, -1] == wt[-1, 0] == wt[-1, -1] == 1
    assert wt.max() == 1 + (min(h, w) - 1) // 2
    assert (wt[0, :] == 1).all() and (wt[:, 0] == 1).all()


# ---------------------------------------------------------------- gap_fill


def test_gap_fill_locf_hand_case(spark):
    from datetime import datetime

    from aira_spark.operators.gapfill import gap_fill_hourly

    rows = [
        # user 1: events at hours 0, 3 (two in-bucket, later wins), gap 1-2
        (0, datetime(2024, 1, 1, 0, 15), 1, "view", 1.00, ""),
        (1, datetime(2024, 1, 1, 3, 5), 1, "view", 2.00, ""),
        (2, datetime(2024, 1, 1, 3, 45), 1, "view", 3.50, ""),
        # user 2: single event -> single bucket, nothing filled
        (3, datetime(2024, 1, 2, 7, 0), 2, "click", 9.99, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        (r["user_id"], r["hour"]): (r["v_cents"], r["filled"])
        for r in gap_fill_hourly(df).collect()
    }
    assert got == {
        (1, "2024-01-01 00:00:00"): (100, 0),
        (1, "2024-01-01 01:00:00"): (100, 1),
        (1, "2024-01-01 02:00:00"): (100, 1),
        (1, "2024-01-01 03:00:00"): (350, 0),  # last event in bucket wins
        (2, "2024-01-02 07:00:00"): (999, 0),
    }


def test_gap_fill_never_null_and_dense(spark, sf_dir):
    from aira_spark.operators.gapfill import gap_fill_hourly

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = gap_fill_hourly(ev)
    assert out.where("v_cents IS NULL").count() == 0
    # dense: per-user row count == span hours + 1
    import pyspark.sql.functions as F

    spans = ev.groupBy("user_id").agg(
        (
            (
                F.unix_timestamp(F.date_trunc("hour", F.max("ts")))
                - F.unix_timestamp(F.date_trunc("hour", F.min("ts")))
            )
            / 3600
            + 1
        ).cast("long").alias("want")
    )
    cnt = out.groupBy("user_id").agg(F.count("*").alias("got"))
    bad = spans.join(cnt, "user_id").where("want != got").count()
    assert bad == 0


# --------------------------------------------------------------- pii_scrub


def test_pii_scrub_hand_cases(spark):
    from aira_spark.operators.pii import pii_scrub

    rows = [
        # doc_id 1: no injection (1 % 5,7,11 != 0), organic email + ip
        (1, "mail a.b-c_d@foo-bar.org and 192.168.1.1 now"),
        # doc_id 5: email injected
        (5, "plain"),
        # doc_id 7: phone injected
        (7, "plain"),
        # doc_id 11: ip injected
        (11, "plain"),
        # doc_id 35: %5 wins over %7 (CASE order)
        (35, "plain"),
        # doc_id 13: nothing
        (13, "nothing here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            r["n_email"], r["n_phone"], r["n_ip"],
            r["masked_len"] - r["raw_len"],
        )
        for r in pii_scrub(df).collect()
    }
    assert got[1][:3] == (1, 0, 1)
    # masked delta: '<EMAIL>'(7) - len('a.b-c_d@foo-bar.org')(19) and
    # '<IP>'(4) - len('192.168.1.1')(11) = -12 - 7 = -19
    assert got[1][3] == (7 - 19) + (4 - 11)
    assert got[5][:3] == (1, 0, 0)
    assert got[7][:3] == (0, 1, 0)
    assert got[11][:3] == (0, 0, 1)
    assert got[35][:3] == (1, 0, 0)   # CASE order: email branch first
    assert got[13] == (0, 0, 0, 0)


def test_pii_scrub_masks_all_occurrences(spark):
    from aira_spark.operators.pii import pii_scrub

    df = spark.createDataFrame(
        [(1, "a@b.co x a@b.co y 1.2.3.4 z 5.6.7.8")],
        "doc_id long, text string",
    )
    r = pii_scrub(df).collect()[0]
    assert r["n_email"] == 2 and r["n_ip"] == 2
    # every occurrence replaced: 2*(7-6) + 2*(4-7)
    assert r["masked_len"] - r["raw_len"] == 2 * (7 - 6) + 2 * (4 - 7)


# ------------------------------------------------------------ heavy_hitters


def test_heavy_hitters_exact_and_partition_invariant(spark):
    from collections import Counter

    from aira_spark.operators.heavyhitters import heavy_hitters

    # 3 heavy keys + long tail; n = 1000
    vals = [7] * 300 + [13] * 120 + [99] * 80 + list(range(1000, 1500))
    n, k = len(vals), 10
    truth = {
        (v, c, n) for v, c in Counter(vals).items() if c * k > n
    }
    df = spark.createDataFrame([(v,) for v in vals], "item long")
    for parts in (1, 13):
        got = {
            (r["item"], r["cnt"], r["n_total"])
            for r in heavy_hitters(df.repartition(parts), k=k).collect()
        }
        assert got == truth, parts


def test_heavy_hitters_threshold_is_strict(spark):
    from aira_spark.operators.heavyhitters import heavy_hitters

    # item at exactly n/k must NOT emit (strict >)
    vals = [1] * 10 + list(range(100, 190))  # n=100, k=10 -> need cnt > 10
    df = spark.createDataFrame([(v,) for v in vals], "item long")
    assert heavy_hitters(df, k=10).count() == 0
    vals.append(1)  # cnt=11 > 10.1? n=101 -> 11*10=110 > 101 ✓
    df2 = spark.createDataFrame([(v,) for v in vals], "item long")
    rows = heavy_hitters(df2, k=10).collect()
    assert [(r["item"], r["cnt"]) for r in rows] == [(1, 11)]


# --------------------------------------------------------------------- twa


def test_twa_hand_case(spark):
    from datetime import datetime

    from aira_spark.operators.gapfill import twa_locf

    rows = [
        # user 1: 1.00 for 2h, then 3.00 for 1h -> twa = (100*2 + 300*1)/3
        (0, datetime(2024, 1, 1, 0, 0), 1, "a", 1.00, ""),
        (1, datetime(2024, 1, 1, 2, 0), 1, "a", 3.00, ""),
        (2, datetime(2024, 1, 1, 3, 0), 1, "a", 9.99, ""),  # closes span
        # user 2: duplicate ts -> (ts, event_id)-last (4.00) wins
        (3, datetime(2024, 1, 2, 0, 0), 2, "a", 2.00, ""),
        (4, datetime(2024, 1, 2, 0, 0), 2, "a", 4.00, ""),
        (5, datetime(2024, 1, 2, 1, 0), 2, "a", 8.00, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = {
        r["user_id"]: (r["n_segs"], r["span_us"], r["twa_cents"])
        for r in twa_locf(df).collect()
    }
    h = 3_600_000_000
    assert got[1] == (2, 3 * h, (100 * 2 * h + 300 * h) // (3 * h))
    assert got[1][2] == 166
    assert got[2] == (1, h, 400)


def test_twa_partition_invariant(spark, sf_dir):
    from aira_spark.operators.gapfill import twa_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = {tuple(r) for r in twa_locf(ev).collect()}
    b = {tuple(r) for r in twa_locf(ev.repartition(13)).collect()}
    assert a == b and a


# ---------------------------------------------------------------- rgb_luma


def test_rgb_luma_matches_formula_mirror(spark, sf_dir):
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.operators.luma import CHECK_MOD, WB, WG, WR, luma_census

    imgs = em._images(spark, sf_dir).filter(
        "CAST(substr(image_id, 4) AS BIGINT) % 12 IN (1, 2, 4, 10)"
    )
    got = {
        r["image_id"]: (r["n_px"], r["sum_y"], r["min_y"], r["max_y"],
                        r["checksum"])
        for r in luma_census(imgs).collect()
    }
    assert got
    S = em._S
    planar_seen = False
    for image_id, vals in got.items():
        k = int(image_id[3:])
        planar_seen = planar_seen or (k % 12 == 10)
        w, h = (16 + (k % 7) * 8) * S, (16 + (k % 5) * 8) * S
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        bands = [(r * 7 + c * 13 + s * 29 + k) % 256 for s in range(3)]
        y = (WR * bands[0] + WG * bands[1] + WB * bands[2]) // 1000
        ri, ci = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        chk = int((y * ((ri * w + ci) % CHECK_MOD)).sum())
        assert vals == (h * w, int(y.sum()), int(y.min()), int(y.max()), chk)
    assert planar_seen  # the planar 3-plane variant is exercised too


def test_rgb_luma_range():
    # weights sum to 1000 -> Y in [0, 255] for any byte RGB
    from aira_spark.operators.luma import WB, WG, WR

    assert WR + WG + WB == 1000
    assert (WR * 255 + WG * 255 + WB * 255) // 1000 == 255


# --------------------------------------------------------- allpairs_cosine


def test_allpairs_prefix_filter_is_lossless(spark):
    """Spark prefix-filtered output == brute-force python over a corpus
    engineered with near-identical and disjoint sets."""
    import itertools
    import math

    from aira_spark.operators.allpairs import TAU_DEN, TAU_NUM, allpairs_cosine

    docs = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),            # exact dup of 1
        (3, "a b c d e f g h i k"),            # 9/10 overlap
        (4, "z y x w v u t s r q"),            # disjoint
        (5, "a b c"),                          # small subset
        (6, "a b c d e f g h i j k l m n o p"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {d: set(t.split(" ")) for d, t in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        t = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if t * t * 1_000_000 // (na * nb) >= (
            TAU_NUM * TAU_NUM * 1_000_000
        ) // (TAU_DEN * TAU_DEN):
            want.add((a, b, t, na, nb))
            assert t / math.sqrt(na * nb) >= TAU_NUM / TAU_DEN - 1e-9
    got = {
        (r["doc_a"], r["doc_b"], r["overlap"], r["na"], r["nb"])
        for r in allpairs_cosine(df).collect()
    }
    assert got == want
    assert (1, 2, 10, 10, 10) in got            # the exact dup survives


def test_allpairs_randomized_vs_brute_force(spark):
    """Randomized corpus: prefix filtering must lose NOTHING vs the
    direct quadratic scan (the lemma, empirically)."""
    import itertools
    import random

    from aira_spark.operators.allpairs import TAU2_E6, allpairs_cosine

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for d in range(60):
        base = rng.sample(vocab, rng.randint(4, 12))
        docs.append((d, " ".join(base)))
        if d % 3 == 0:  # planted near-dup: drop/keep one term
            mut = base[:-1] if len(base) > 4 else base
            docs.append((d + 1000, " ".join(mut)))
    df = spark.createDataFrame(docs, "doc_id long, text string")
    sets = {d: set(t.split(" ")) for d, t in docs}
    want = set()
    for a, b in itertools.combinations(sorted(sets), 2):
        t = len(sets[a] & sets[b])
        na, nb = len(sets[a]), len(sets[b])
        if t * t * 1_000_000 // (na * nb) >= TAU2_E6:
            want.add((a, b))
    got = {(r["doc_a"], r["doc_b"]) for r in allpairs_cosine(df).collect()}
    assert got == want and want  # non-trivial and lossless


# ------------------------------------------------------------------- cusum


def test_cusum_matches_recursive_form(spark):
    """The window formulation S_i - min(S_0..S_i) must equal the textbook
    recursion D_i = max(0, D_{i-1} + x_i) on a hand stream with resets."""
    from datetime import datetime, timedelta

    from aira_spark.operators.cusum import cusum_alarms

    vals = [20.00, 20.00, 5.00, 5.00, 5.00, 30.00, 30.00, 30.00]
    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(hours=i), 1, "a", v, "") for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    K, H = 1500, 1400
    d, want_alarms, max_d, first = 0, 0, 0, None
    for i, v in enumerate(vals):
        d = max(0, d + int(v * 100) - K)
        max_d = max(max_d, d)
        if d >= H:
            want_alarms += 1
            first = i if first is None else first
    got = cusum_alarms(df, ref_cents=K, threshold_cents=H).collect()[0]
    assert (got["n_events"], got["max_dev"], got["n_alarms"],
            got["first_alarm_event"]) == (len(vals), max_d, want_alarms, first)
    assert want_alarms > 0  # the hand stream does alarm after the reset


def test_cusum_no_alarm_below_reference(spark):
    from datetime import datetime, timedelta

    from aira_spark.operators.cusum import cusum_alarms

    t0 = datetime(2024, 1, 1)
    rows = [
        (i, t0 + timedelta(hours=i), 1, "a", 10.00, "") for i in range(5)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    got = cusum_alarms(df, ref_cents=1500, threshold_cents=1).collect()[0]
    # stream sits below the reference: statistic pinned at 0, no alarms
    assert got["max_dev"] == 0 and got["n_alarms"] == 0
    assert got["first_alarm_event"] is None


# --------------------------------------------------------------- itemsets3


def test_frequent_triples_matches_brute_force(spark):
    import itertools
    from collections import Counter

    from aira_spark.operators.itemsets import frequent_triples

    baskets = [
        (1, [1, 2, 3, 4]),
        (2, [1, 2, 3]),
        (3, [1, 2, 3, 9]),
        (4, [2, 3, 4]),
        (5, [1, 2, 4]),
        (6, [1, 3, 4]),
        (7, [5, 6, 7]),       # isolated triple, support 1
        (8, [1, 2, 3]),
    ]
    rows = [(b, i) for b, items in baskets for i in items]
    df = spark.createDataFrame(rows, "order_id long, item long")
    cnt = Counter()
    for _, items in baskets:
        for tri in itertools.combinations(sorted(set(items)), 3):
            cnt[tri] += 1
    for ms in (2, 3, 4):
        want = {(a, b, c, s) for (a, b, c), s in cnt.items() if s >= ms}
        got = {
            (r["item_a"], r["item_b"], r["item_c"], r["support"])
            for r in frequent_triples(df, floor_abs=ms).collect()
        }
        assert got == want, ms
    assert (1, 2, 3, 4) in {
        (r["item_a"], r["item_b"], r["item_c"], r["support"])
        for r in frequent_triples(df, floor_abs=2).collect()
    }


def test_frequent_triples_duplicate_rows_ignored(spark):
    # support counts DISTINCT (basket, item): duplicated lineitems of the
    # same item class must not inflate support
    from aira_spark.operators.itemsets import frequent_triples

    rows = [(1, 1), (1, 1), (1, 2), (1, 3), (2, 1), (2, 2), (2, 3)]
    df = spark.createDataFrame(rows, "order_id long, item long")
    got = frequent_triples(df, floor_abs=2).collect()
    assert [(r["item_a"], r["item_b"], r["item_c"], r["support"])
            for r in got] == [(1, 2, 3, 2)]


# ----------------------------------------------------------- template_match


def test_template_match_brute_force_mirror(spark, sf_dir):
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.operators.template import TH, TW, template_4x4, template_match

    got = {
        r["image_id"]: (r["n_off"], r["min_ssd"], r["best_r"], r["best_c"],
                        r["sum_ssd"])
        for r in template_match(em._images(spark, sf_dir, modulo=16)).collect()
    }
    assert got
    T = template_4x4()
    S = em._S
    for image_id, vals in got.items():
        k = int(image_id[3:])
        w, h = (16 + (k % 7) * 8) * S, (16 + (k % 5) * 8) * S
        r = np.arange(h, dtype=np.int64)[:, None]
        c = np.arange(w, dtype=np.int64)[None, :]
        a = (r * 7 + c * 13 + k) % 256
        oh, ow = h - TH + 1, w - TW + 1
        ssd = np.zeros((oh, ow), dtype=np.int64)
        for u in range(TH):
            for v in range(TW):
                d = a[u:u + oh, v:v + ow] - T[u, v]
                ssd += d * d
        best = int(ssd.min())
        ri, ci = np.nonzero(ssd == best)
        kk = np.lexsort((ci, ri))[0]
        assert vals == (oh * ow, best, int(ri[kk]), int(ci[kk]),
                        int(ssd.sum()))


def test_template_match_finds_planted_exact_match():
    # an image that CONTAINS the template at (2, 3) must score SSD 0 there
    import numpy as np

    from aira_spark.operators.template import TH, TW, template_4x4

    T = template_4x4()
    a = np.full((10, 12), 255, dtype=np.int64)
    a[2:2 + TH, 3:3 + TW] = T
    oh, ow = a.shape[0] - TH + 1, a.shape[1] - TW + 1
    ssd = np.zeros((oh, ow), dtype=np.int64)
    for u in range(TH):
        for v in range(TW):
            d = a[u:u + oh, v:v + ow] - T[u, v]
            ssd += d * d
    assert ssd[2, 3] == 0 and int(ssd.min()) == 0
    ri, ci = np.nonzero(ssd == 0)
    assert (ri[0], ci[0]) == (2, 3)
