"""Round-4 final additions: flow accumulation, Gi* hotspots, integral-image
box filter, k-core — brute-force python mirrors + plan/round shapes."""

import pytest

from tests.test_round4b_ops import _fine_grid


# --------------------------------------------------------------- flow_acc


def _brute_flow_parent(filled):
    """pos -> parent pos under D8 steepest descent (pits self-map)."""
    parent = {}
    for (fx, fy), v in filled.items():
        nbrs = sorted(
            (filled[(fx + dx, fy + dy)], (dy + 1) * 3 + (dx + 1),
             (fx + dx, fy + dy))
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (dx, dy) != (0, 0) and (fx + dx, fy + dy) in filled
        )
        if nbrs and nbrs[0][0] < v:
            parent[(fx, fy)] = nbrs[0][2]
        else:
            parent[(fx, fy)] = (fx, fy)
    return parent


def test_flow_acc_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.terrain import flow_accumulation

    filled = _fine_grid(spark, sf_dir)
    parent = _brute_flow_parent(filled)
    want = {pos: 0 for pos in filled}
    for pos in filled:
        cur = pos
        while True:
            want[cur] += 1
            nxt = parent[cur]
            if nxt == cur:
                break
            cur = nxt
    got = {
        (r["fx"], r["fy"]): r["acc"]
        for r in flow_accumulation(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert got == want


def test_flow_acc_hand_chain(spark):
    """A strictly descending 1-D chain: acc = position from the top.
    Exercises the Jacobi iteration over height(n) rounds directly."""
    from pyspark.sql import functions as F

    from aira_spark.operators.terrain import BASIN_K

    # build the parent iteration inputs by hand through the same loop the
    # operator runs, seeded from a literal parent table (chain 0->1->2->3)
    p = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 3)], "node long, parent long"
    )
    edges = p.where("parent != node").selectExpr("node AS child", "parent")
    nodes = p.select("node")
    acc = nodes.withColumn("acc", F.lit(1).cast("long"))
    prev = -1
    for _ in range(8):
        inflow = (
            edges.join(acc, edges.child == acc.node)
            .groupBy("parent").agg(F.sum("acc").alias("s"))
        )
        acc = nodes.join(inflow, nodes.node == inflow.parent, "left").select(
            "node",
            (F.lit(1) + F.coalesce(F.col("s"), F.lit(0))).cast("long")
            .alias("acc"),
        ).localCheckpoint(eager=True)
        total = acc.agg(F.sum("acc")).collect()[0][0]
        if total == prev:
            break
        prev = total
    got = {r["node"]: r["acc"] for r in acc.collect()}
    assert got == {0: 1, 1: 2, 2: 3, 3: 4}
    assert BASIN_K == 1 << 30


def test_flow_acc_conservation(spark, sf_dir):
    """Sum of acc == sum over cells of path length (cells counted once per
    path cell) and every pit's acc equals its basin size."""
    import __spark_entry__ as em
    from aira_spark.operators.terrain import (
        BASIN_K, drainage_basins, flow_accumulation, flow_direction,
    )

    images = em._images(spark, sf_dir, modulo=8)
    acc = {
        (r["fx"], r["fy"]): r["acc"]
        for r in flow_accumulation(images, em.CELL_RES).collect()
    }
    pits = {
        (r["fx"], r["fy"])
        for r in flow_direction(images, em.CELL_RES).collect()
        if r["flow_dir"] == -1
    }
    basin_sizes = {
        r["basin"]: r["basin_size"]
        for r in drainage_basins(images, em.CELL_RES).collect()
    }
    for (fx, fy) in pits:
        assert acc[(fx, fy)] == basin_sizes[fx * BASIN_K + fy]
    # non-pit cells always accumulate strictly less than their pit
    assert all(v >= 1 for v in acc.values())


# --------------------------------------------------------------- hotspots


def test_hotspots_match_exact_integer_mirror(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.autocorr import (
        GI_T95_DEN, GI_T95_NUM, GI_T99_DEN, GI_T99_NUM, gi_hotspots,
    )

    filled = _fine_grid(spark, sf_dir)
    n = len(filled)
    sx = sum(filled.values())
    sx2 = sum(v * v for v in filled.values())
    g_var = n * sx2 - sx * sx

    def classify(pos):
        fx, fy = pos
        nb = [
            filled[(fx + dx, fy + dy)]
            for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if (fx + dx, fy + dy) in filled
        ]
        k_i, s_i = len(nb), sum(nb)
        num = n * s_i - k_i * sx
        kvar = n * k_i - k_i * k_i
        if g_var == 0 or kvar == 0:
            return k_i, s_i, num, "ns"
        lhs = num * num * (n - 1)
        rhs = g_var * kvar
        if num > 0 and GI_T99_DEN * lhs > GI_T99_NUM * rhs:
            c = "hot99"
        elif num > 0 and GI_T95_DEN * lhs > GI_T95_NUM * rhs:
            c = "hot95"
        elif num < 0 and GI_T99_DEN * lhs > GI_T99_NUM * rhs:
            c = "cold99"
        elif num < 0 and GI_T95_DEN * lhs > GI_T95_NUM * rhs:
            c = "cold95"
        else:
            c = "ns"
        return k_i, s_i, num, c

    got = {
        (r["fx"], r["fy"]): (r["k_i"], r["s_i"], r["num"], r["gi_class"])
        for r in gi_hotspots(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert set(got) == set(filled)
    for pos in filled:
        assert got[pos] == classify(pos), pos
    # the classification is non-degenerate on the bench grid
    assert len({c for (_, _, _, c) in got.values()}) >= 2


def test_hotspots_class_case_hand_values(spark):
    """Significance boundary pinned by hand: n=100, sx=100, sx2=200
    (g_var=10000), k_i=9 (kvar=819). z^2 = num^2*99/(10000*819); the 95%
    cutoff num^2 > 2401*8190000/(625*99) ~ 317,789 -> |num| > 563.7."""
    from aira_spark.operators.autocorr import _gi_class_case

    case = _gi_class_case("CAST({x} AS DECIMAL(38,0))")
    df = spark.createDataFrame(
        [(100, 100, 200, 9, 563), (100, 100, 200, 9, 564),
         (100, 100, 200, 9, -564), (100, 100, 200, 9, -1000)],
        "n long, sx long, sx2 long, k_i long, num long",
    ).selectExpr("*", "n * sx2 - sx * sx AS g_var")
    got = [r[0] for r in df.selectExpr(f"{case} AS c").collect()]
    # |num|=563: z^2 below 1.96^2 cutoff; 564: above (hot/cold95);
    # -1000: z ~ -3.46 -> cold99
    assert got == ["ns", "hot95", "cold95", "cold99"]


# ------------------------------------------------------------- box_filter


def test_box_filter_matches_numpy_brute_force(spark):
    import numpy as np

    from aira_spark.operators.boxfilter import CHECK_MOD, box_filter_census
    from aira_spark.tiff.encode import write_tiff

    rng_a = (np.arange(12 * 15, dtype=np.int64).reshape(12, 15) * 37) % 256
    a = rng_a.astype(np.uint8)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 8))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    R = 3
    h, w = a.shape
    boxes = {}
    for r in range(R, h - R):
        for c in range(R, w - R):
            boxes[(r, c)] = int(
                a[r - R:r + R + 1, c - R:c + R + 1].astype(np.int64).sum()
            )
    rows = box_filter_census(df, radius=R).collect()
    assert len(rows) == 1
    got = rows[0]
    assert got["n_int"] == len(boxes) == (h - 2 * R) * (w - 2 * R)
    assert got["sum_box"] == sum(boxes.values())
    assert got["min_box"] == min(boxes.values())
    assert got["max_box"] == max(boxes.values())
    assert got["checksum"] == sum(
        v * ((r * w + c) % CHECK_MOD) for (r, c), v in boxes.items()
    )


def test_box_filter_skips_undersized_images(spark):
    import numpy as np

    from aira_spark.operators.boxfilter import box_filter_census
    from aira_spark.tiff.encode import write_tiff

    small = np.ones((4, 4), dtype=np.uint8)
    buf = write_tiff(small[:, :, None], byteorder="<", layout=("strips", 4))
    df = spark.createDataFrame(
        [("tiny", bytearray(buf))], "image_id string, bytes binary"
    )
    assert box_filter_census(df, radius=3).count() == 0


def test_box_filter_zero_exchanges(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_box_filter(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 0, s
    assert "Join" not in s, s


# ----------------------------------------------------------------- k_core


def _kc_edges(spark, pairs):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in pairs], "src long, dst long"
    )


def test_k_core_clique_survives_tail_peels(spark):
    """5-clique (every node degree 4) + a pendant path hanging off node 0:
    the 4-core is exactly the clique, every survivor at core_deg 4, and
    the path peels off within two rounds."""
    import itertools

    from aira_spark.operators.graph import k_core

    clique = list(itertools.combinations(range(5), 2))
    tail = [(0, 10), (10, 11), (11, 12)]
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(_kc_edges(spark, clique + tail), k=4, rounds=8).collect()
    }
    assert got == {n: 4 for n in range(5)}


def test_k_core_cascade_needs_multiple_rounds(spark):
    """A chain where each removal drops the next node below k=2: a path
    0-1-2-3 attached to a triangle (3,4,5). Peeling must cascade 0, then
    1, then 2 over successive rounds, leaving only the triangle."""
    from aira_spark.operators.graph import k_core

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 3)]
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(_kc_edges(spark, edges), k=2, rounds=8).collect()
    }
    assert got == {3: 2, 4: 2, 5: 2}


def test_k_core_fixpoint_stable_beyond_convergence(spark):
    """Extra rounds past the fixpoint are no-ops: rounds=4 and rounds=9
    give identical output on the cascade graph (convergence depth 3)."""
    from aira_spark.operators.graph import k_core

    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 3)]
    a = sorted(map(tuple, k_core(_kc_edges(spark, edges), k=2, rounds=4).collect()))
    b = sorted(map(tuple, k_core(_kc_edges(spark, edges), k=2, rounds=9).collect()))
    assert a == b


def test_k_core_empty_when_k_exceeds_degeneracy(spark):
    """k above the graph's degeneracy empties the core entirely."""
    from aira_spark.operators.graph import k_core

    edges = [(0, 1), (1, 2), (2, 0)]
    assert k_core(_kc_edges(spark, edges), k=3, rounds=6).count() == 0


def test_k_core_undirected_and_dedup(spark):
    """Duplicate and reversed edge listings collapse: (a,b) listed twice
    plus (b,a) counts as ONE undirected edge for degrees."""
    from aira_spark.operators.graph import k_core

    edges = [(0, 1), (0, 1), (1, 0), (1, 2), (2, 0)]
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(_kc_edges(spark, edges), k=2, rounds=6).collect()
    }
    assert got == {0: 2, 1: 2, 2: 2}


def test_k_core_symmetric_contract_parity(spark):
    """symmetric=True on an undirected-complete, irreflexive, dup-free edge
    list (the self-radius-join contract) equals the default normalizing
    path on the directed half — on a graph where peeling cascades AND the
    early-exit fires before the round cap."""
    import itertools

    from aira_spark.operators.graph import k_core

    clique = list(itertools.combinations(range(5), 2))
    directed = clique + [(0, 10), (10, 11), (11, 12)]
    both_dirs = directed + [(b, a) for a, b in directed]
    want = {
        r["node"]: r["core_deg"]
        for r in k_core(_kc_edges(spark, directed), k=2, rounds=9).collect()
    }
    got = {
        r["node"]: r["core_deg"]
        for r in k_core(
            _kc_edges(spark, both_dirs), k=2, rounds=9, symmetric=True
        ).collect()
    }
    assert got == want and 12 not in got and got[0] == 4


# -------------------------------------------------------------- proximity


def test_chamfer_closed_form_is_shortest_path():
    """The closed form 3*max+min equals Dijkstra over 3-cost orthogonal +
    4-cost diagonal moves for every offset inside the cap."""
    import heapq

    from aira_spark.operators.proximity import chamfer_offsets

    cap = 12
    # Dijkstra from (0,0) on an unbounded grid, clipped to a safe box
    box = cap  # no shortest path within cap leaves |d| <= cap
    dist = {(0, 0): 0}
    pq = [(0, 0, 0)]
    moves = [
        (dx, dy, 4 if dx and dy else 3)
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)
    ]
    while pq:
        d, x, y = heapq.heappop(pq)
        if d > dist.get((x, y), 1 << 30) or d > cap:
            continue
        for dx, dy, w in moves:
            nx, ny = x + dx, y + dy
            if abs(nx) > box or abs(ny) > box:
                continue
            nd = d + w
            if nd < dist.get((nx, ny), 1 << 30):
                dist[(nx, ny)] = nd
                heapq.heappush(pq, (nd, nx, ny))
    want = {(dx, dy): w for dx, dy, w in chamfer_offsets(cap)}
    got = {k: v for k, v in dist.items() if v <= cap}
    assert got == want


def test_proximity_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.proximity import proximity_raster

    filled = _fine_grid(spark, sf_dir)
    nf = 1 << (em.CELL_RES + 4)
    feats = [(fx, fy) for (fx, fy), v in filled.items() if v >= 200]
    want = {}
    for fx, fy in feats:
        for dx in range(-4, 5):
            for dy in range(-4, 5):
                w = 3 * max(abs(dx), abs(dy)) + min(abs(dx), abs(dy))
                tx, ty = fx + dx, fy + dy
                if w <= 12 and 0 <= tx < nf and 0 <= ty < nf:
                    want[(tx, ty)] = min(want.get((tx, ty), 99), w)
    got = {
        (r["fx"], r["fy"]): r["dist34"]
        for r in proximity_raster(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert got == want
    assert 0 in got.values() and 12 in got.values()


def test_proximity_no_join_two_aggs(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_proximity(spark, sf_dir)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # mosaic agg + min agg
    assert "Join" not in s, s


# -------------------------------------------------------------- hillshade


def test_hillshade_bands_match_float_cosine():
    """The integer cross-multiplied banding agrees with the float cosine
    thresholds (0, 1/2, sqrt(3)/2) away from exact boundaries."""
    import math

    from aira_spark.operators.terrain import HS_L2, HS_NZ

    for gx in range(-40, 41, 3):
        for gy in range(-40, 41, 7):
            num = gx - gy + HS_NZ * 2  # -LX=1, -LY=-1, NZ*LZ=16
            grad2 = gx * gx + gy * gy
            n2l2 = (grad2 + HS_NZ * HS_NZ) * HS_L2
            if num <= 0:
                band = "shadow"
            elif 4 * num * num < n2l2:
                band = "dim"
            elif 4 * num * num < 3 * n2l2:
                band = "lit"
            else:
                band = "bright"
            cos = num / math.sqrt(n2l2)
            if num <= 0:
                want = "shadow"
            elif cos < 0.5 - 1e-9:
                want = "dim"
            elif cos < math.sqrt(3) / 2 - 1e-9:
                want = "lit"
            else:
                want = "bright"
            assert band == want, (gx, gy, cos, band, want)


def test_hillshade_census_matches_brute_force(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.terrain import HS_L2, HS_NZ, hillshade_census

    filled = _fine_grid(spark, sf_dir)
    want = {}
    for (fx, fy), v in filled.items():
        nb = {
            (dx, dy): filled.get((fx + dx, fy + dy))
            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))
        }
        if any(x is None for x in nb.values()):
            continue
        gx = nb[(1, 0)] - nb[(-1, 0)]
        gy = nb[(0, 1)] - nb[(0, -1)]
        num = gx - gy + HS_NZ * 2
        n2l2 = (gx * gx + gy * gy + HS_NZ * HS_NZ) * HS_L2
        if num <= 0:
            band = "shadow"
        elif 4 * num * num < n2l2:
            band = "dim"
        elif 4 * num * num < 3 * n2l2:
            band = "lit"
        else:
            band = "bright"
        n, s = want.get(band, (0, 0))
        want[band] = (n + 1, s + num)
    got = {
        r["shade_band"]: (r["n_cells"], r["sum_num"])
        for r in hillshade_census(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert got == want


def test_hillshade_no_join(spark, sf_dir):
    import __spark_entry__ as em
    from tests.test_plans import plan_string, shuffle_count

    df = em.q_hillshade(spark, sf_dir)
    s = plan_string(df)
    # mosaic agg + gradient agg + the <=4-key census agg (map-side combined)
    assert shuffle_count(df) == 3, s
    assert "Join" not in s, s


# ------------------------------------------------------------ dsir_scores


def _dsir_py(rows, buckets=4096):
    """Pure-python mirror of the DSIR integer scoring for (doc_id, text,
    lang) rows with target lang='en'."""
    import hashlib

    def bucket(w1, w2):
        h = hashlib.md5(f"{w1} {w2}".encode()).hexdigest()[:15]
        return int(h, 16) % buckets

    occ = []  # (doc_id, lang, b)
    for doc_id, text, lang in rows:
        ws = text.split(" ")
        for a, b in zip(ws, ws[1:]):
            if a and b:
                occ.append((doc_id, lang, bucket(a, b)))
    cnt_t, cnt_s = {}, {}
    for _, lang, b in occ:
        d = cnt_t if lang == "en" else cnt_s
        d[b] = d.get(b, 0) + 1
    tot_t, tot_s = sum(cnt_t.values()), sum(cnt_s.values())
    w = {
        b: 10**6 * cnt_t.get(b, 0) // tot_t - 10**6 * cnt_s.get(b, 0) // tot_s
        for b in set(cnt_t) | set(cnt_s)
    }
    out = {doc_id: (0, 0) for doc_id, _, _ in rows}
    for doc_id, _, b in occ:
        n, s = out[doc_id]
        out[doc_id] = (n + 1, s + w[b])
    return out


def test_dsir_matches_python_mirror(spark):
    from aira_spark.operators.dsir import dsir_scores

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the dog sat on the rug", "en"),
        (3, "le chat est sur le tapis", "fr"),
        (4, "der hund sitzt auf dem teppich", "de"),
        (5, "the cat sat", "zh"),  # target bigrams, source lang
        (6, "oneword", "en"),  # no bigram -> (0, 0)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: (r["n_feats"], r["score"])
        for r in dsir_scores(df).collect()
    }
    assert got == _dsir_py(rows)


def test_dsir_separates_target_from_source(spark):
    """Disjoint vocabularies: target-looking docs must outrank
    source-looking docs, and a doc made of target bigrams scores positive
    even under a source lang label."""
    from aira_spark.operators.dsir import dsir_scores

    rows = (
        [(i, "alpha beta gamma delta alpha beta", "en") for i in range(10)]
        + [(100 + i, "uno dos tres cuatro uno dos", "es") for i in range(10)]
        + [(200, "alpha beta gamma", "zh"), (201, "uno dos tres", "en")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {r["doc_id"]: r["score"] for r in dsir_scores(df).collect()}
    assert got[200] > 0 > got[100]
    assert got[0] > 0
    # doc 201 is en-labelled but made of source bigrams: the TARGET corpus
    # itself contains it, so its bigrams carry both target and source mass
    assert got[200] > got[201]


def test_dsir_weight_model_bounded_and_broadcast(spark):
    import __spark_entry__ as em
    from aira_spark.operators.dsir import importance_weights
    from tests.test_plans import plan_string

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet").select(
        "doc_id", "text", "lang"
    )
    wt = importance_weights(docs)
    assert wt.count() <= 4096
    s = plan_string(em.q_dsir_scores(spark, "/root/testdata/sf0.01"))
    assert "BroadcastHashJoin" in s or "BroadcastNestedLoopJoin" in s, s


# ---------------------------------------------------- stream_stream_join


def test_stream_stream_join_equals_batch(spark, sf_dir):
    from pyspark.sql import functions as F

    from aira_spark.streaming.events import run_stream_stream_join

    got = {tuple(r) for r in run_stream_stream_join(spark, sf_dir).collect()}
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    v = ev.where("event_type = 'view'").selectExpr(
        "user_id AS v_user", "event_id AS v_id", "ts AS v_ts"
    )
    p = ev.where("event_type = 'purchase'").selectExpr(
        "user_id AS p_user", "event_id AS p_id", "ts AS p_ts",
        "CAST(FLOOR(value * 100.0) AS BIGINT) AS p_cents",
    )
    want = {
        tuple(r)
        for r in v.join(
            p,
            F.expr(
                "v_user = p_user AND p_ts >= v_ts "
                "AND p_ts <= v_ts + interval 4 hours"
            ),
        ).selectExpr(
            "CAST(v_user AS BIGINT) AS user_id",
            "CAST(v_id AS BIGINT) AS v_id",
            "CAST(p_id AS BIGINT) AS p_id",
            "unix_micros(v_ts) AS v_us",
            "unix_micros(p_ts) AS p_us",
            "CAST(p_cents AS BIGINT) AS p_cents",
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_stream_stream_join_pairs_cross_microbatch_boundaries(spark, tmp_path):
    """A pair straddling two time-sliced microbatch files MUST still be
    emitted — the case that requires join STATE retained across triggers
    (a within-batch-only join would pass the equality test on lucky
    data; this constructs the hard case explicitly). Synthetic span 40h
    over 4 slices (~10h each): view at 9.5h / purchase at 10.5h land in
    DIFFERENT files, 1h apart (inside the 4h window)."""
    import datetime

    from aira_spark.streaming.events import run_stream_stream_join

    t0 = datetime.datetime(2024, 3, 1)

    def at(hours):
        return t0 + datetime.timedelta(hours=hours)

    rows = [
        (1, at(0.0), 7, "view", 1.0, ""),        # anchors span start
        (2, at(9.5), 7, "view", 1.0, ""),        # slice 0
        (3, at(10.5), 7, "purchase", 2.5, ""),   # slice 1 <- crosser
        (4, at(12.0), 7, "purchase", 3.0, ""),   # slice 1, 2.5h after view 2
        (5, at(20.0), 9, "view", 1.0, ""),       # slice 2, no purchase
        (6, at(39.0), 7, "purchase", 4.0, ""),   # slice 3, outside any window
        (7, at(40.0), 9, "click", 1.0, ""),      # anchors span end
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    sf = str(tmp_path / "sf")
    df.coalesce(1).write.parquet(f"{sf}/events.parquet")
    got = {
        (r["v_id"], r["p_id"])
        for r in run_stream_stream_join(spark, sf).collect()
    }
    # view 2 matches purchases 3 (cross-slice) and 4; nothing else pairs
    assert got == {(2, 3), (2, 4)}


# ---------------------------------------------------------------- map_match


def _segs_df(spark, rows):
    return spark.createDataFrame(
        rows, "seg_id long, axq long, ayq long, bxq long, byq long"
    )


def _pts_df(spark, rows):
    return spark.createDataFrame(rows, "point_id long, pxq long, pyq long")


def test_map_match_hand_cases(spark):
    """Interior projection beats endpoint case; exact dq2 values; the
    off-network ping is absent."""
    from aira_spark.operators.segments import map_match

    segs = _segs_df(spark, [
        (1, 0, 0, 100, 0),     # horizontal through origin
        (2, 0, 50, 100, 50),   # horizontal at y=50
    ])
    pts = _pts_df(spark, [
        (10, 50, 10),    # 10 below seg2, 10 above seg1 -> tie on dq2=100
        (11, 50, 40),    # interior: 40 from seg1, 10 from seg2
        (12, 150, 0),    # beyond B of seg1: endpoint distance 50^2
        (13, 5000, 5000),  # off-network (d=200)
    ])
    got = {
        r["point_id"]: (r["seg_id"], r["dq2"])
        for r in map_match(segs, pts, d=200).collect()
    }
    assert got == {
        10: (1, 100),   # tie on dq2 -> lower seg_id wins
        11: (2, 100),
        12: (1, 2500),
    }


def test_map_match_matches_python_brute_force(spark):
    """Randomized mirror: floored rational distance + (dq2, seg_id)
    argmin reproduced in pure python."""
    import random

    from aira_spark.operators.segments import map_match

    rng = random.Random(42)
    segs = [
        (i, rng.randrange(1000), rng.randrange(1000),
         rng.randrange(1000), rng.randrange(1000))
        for i in range(40)
    ]
    pts = [
        (100 + i, rng.randrange(1000), rng.randrange(1000))
        for i in range(60)
    ]
    d = 150

    def dq2(ax, ay, bx, by, px, py):
        dx, dy = bx - ax, by - ay
        apx, apy = px - ax, py - ay
        den = dx * dx + dy * dy
        t = apx * dx + apy * dy
        if den == 0 or t <= 0:
            return apx * apx + apy * apy
        if t >= den:
            bpx, bpy = px - bx, py - by
            return bpx * bpx + bpy * bpy
        cr = dx * apy - dy * apx
        return (cr * cr) // den

    def within(ax, ay, bx, by, px, py):
        dx, dy = bx - ax, by - ay
        apx, apy = px - ax, py - ay
        den = dx * dx + dy * dy
        t = apx * dx + apy * dy
        if den == 0 or t <= 0:
            return apx * apx + apy * apy <= d * d
        if t >= den:
            bpx, bpy = px - bx, py - by
            return bpx * bpx + bpy * bpy <= d * d
        cr = dx * apy - dy * apx
        return cr * cr <= d * d * den

    want = {}
    for pid, px, py in pts:
        best = None
        for sid, ax, ay, bx, by in segs:
            if within(ax, ay, bx, by, px, py):
                key = (dq2(ax, ay, bx, by, px, py), sid)
                if best is None or key < best:
                    best = key
        if best is not None:
            want[pid] = (best[1], best[0])
    got = {
        r["point_id"]: (r["seg_id"], r["dq2"])
        for r in map_match(_segs_df(spark, segs), _pts_df(spark, pts), d=d).collect()
    }
    assert got == want
    assert len(got) > 10  # non-degenerate


def test_map_match_no_window_one_argmin_agg(spark):
    """The argmin is a struct-MIN hash agg, never a ranking window (the
    full query plan does contain ONE window, but it belongs to the
    trajectory-segment source's lead(), not to the snap)."""
    from aira_spark.operators.segments import map_match
    from tests.test_plans import plan_string

    segs = _segs_df(spark, [(1, 0, 0, 100, 0)])
    pts = _pts_df(spark, [(10, 50, 10)])
    s = plan_string(map_match(segs, pts, d=200))
    assert "Window" not in s, s
    # struct-MIN compiles to SortAggregate (min over struct is not
    # hash-aggregable) — still a partial/final agg pair, map-side combined
    assert "SortAggregate" in s or "HashAggregate" in s, s
    assert "partial_min" in s, s


# --------------------------------------------------------------- hist_match


def test_hist_match_identity_on_single_image_corpus(spark):
    """With a one-image corpus the pooled reference IS the image, so
    quantile matching must be the identity on present values."""
    import numpy as np

    from aira_spark.operators.equalize import match_lut
    from aira_spark.tiff.encode import write_tiff

    a = ((np.arange(64).reshape(8, 8) * 37) % 256).astype(np.uint8)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 4))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    rows = match_lut(df).collect()
    assert rows and all(r["match_val"] == r["value"] for r in rows)


def test_hist_match_matches_python_mirror(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.equalize import match_lut
    from aira_spark.operators.zonal import band_histogram

    images = em._images(spark, sf_dir, modulo=4)
    hist = {}
    for r in band_histogram(images).collect():
        hist[(r["image_id"], r["band"], r["value"])] = r["cnt"]
    # per-image cdf + pooled reference cdf
    imgs = sorted({(i, b) for (i, b, _) in hist})
    ref_cnt = {}
    for (i, b, v), c in hist.items():
        ref_cnt[(b, v)] = ref_cnt.get((b, v), 0) + c
    want = {}
    for i, b in imgs:
        vals = sorted(v for (ii, bb, v) in hist if (ii, bb) == (i, b))
        n = sum(hist[(i, b, v)] for v in vals)
        rvals = sorted(v for (bb, v) in ref_cnt if bb == b)
        n_ref = sum(ref_cnt[(b, v)] for v in rvals)
        cdf = 0
        for v in vals:
            cdf += hist[(i, b, v)]
            cr = 0
            m = None
            for r in rvals:
                cr += ref_cnt[(b, r)]
                if cr * n >= cdf * n_ref:
                    m = r
                    break
            want[(i, b, v)] = (hist[(i, b, v)], m)
    got = {
        (r["image_id"], r["band"], r["value"]): (r["cnt"], r["match_val"])
        for r in match_lut(images).collect()
    }
    assert got == want


def test_hist_match_shifted_pair_hand_case(spark):
    """Two single-band images with disjoint value ranges: the darker
    image's values map UP toward the pooled middle, the brighter one's
    map DOWN — and every match_val is a value PRESENT in the reference."""
    import numpy as np

    from aira_spark.operators.equalize import match_lut
    from aira_spark.tiff.encode import write_tiff

    dark = np.full((4, 4), 10, dtype=np.uint8)
    dark[0, 0] = 20
    bright = np.full((4, 4), 200, dtype=np.uint8)
    bright[0, 0] = 210
    rows = []
    for name, a in (("dark", dark), ("bright", bright)):
        buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 4))
        rows.append((name, bytearray(buf)))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {
        (r["image_id"], r["value"]): r["match_val"]
        for r in match_lut(df).collect()
    }
    # pooled hist: 10:15, 20:1, 200:15, 210:1 (n_ref=32). dark cdf(10)=15/16
    # -> smallest r with cdf_ref*16 >= 15*32: cdf_ref >= 30 -> r=200.
    # dark cdf(20)=16/16 -> cdf_ref >= 32 -> r=210.
    # bright cdf(200)=15/16 -> r=200; bright cdf(210)=16/16 -> r=210.
    assert got == {
        ("dark", 10): 200, ("dark", 20): 210,
        ("bright", 200): 200, ("bright", 210): 210,
    }


# --------------------------------------------------------------------- otsu


def test_otsu_trimodal_hand_case_and_flat_band(spark):
    """Hand-checkable 3-value histogram picks the max-separation split;
    a flat (single-value) band emits NO row (no valid split exists)."""
    import numpy as np

    from aira_spark.operators.equalize import otsu_threshold
    from aira_spark.tiff.encode import write_tiff

    # 16 px: six 0s, four 100s, six 255s. Candidates: thr=0 -> d=-11580,
    # b=60; thr=100 -> d=-12900, b=60 -> argmax d^2/b is thr=100.
    a = np.array([0] * 6 + [100] * 4 + [255] * 6, dtype=np.uint8)
    tri = a.reshape(4, 4)
    flat = np.full((4, 4), 7, dtype=np.uint8)
    rows = []
    for name, arr in (("tri", tri), ("flat", flat)):
        buf = write_tiff(arr[:, :, None], byteorder="<", layout=("strips", 4))
        rows.append((name, bytearray(buf)))
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in otsu_threshold(df).collect()}
    assert set(got) == {"tri"}
    r = got["tri"]
    assert (r["thr"], r["n_bg"], r["n_fg"], r["d"]) == (100, 10, 6, -12900)


def test_otsu_tie_breaks_to_smallest_threshold(spark):
    """Symmetric histogram {0:1, 100:2, 200:1}: thr=0 and thr=100 give the
    identical objective (d=-400, b=3) -> the smallest threshold wins."""
    import numpy as np

    from aira_spark.operators.equalize import otsu_threshold
    from aira_spark.tiff.encode import write_tiff

    a = np.array([[0, 100], [100, 200]], dtype=np.uint8)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 2))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    rows = otsu_threshold(df).collect()
    assert len(rows) == 1 and rows[0]["thr"] == 0 and rows[0]["d"] == -400


def test_otsu_matches_fraction_mirror(spark, sf_dir):
    """Brute-force python mirror with exact Fractions over the corpus."""
    from fractions import Fraction

    import __spark_entry__ as em
    from aira_spark.operators.equalize import otsu_threshold
    from aira_spark.operators.zonal import band_histogram

    images = em._images(spark, sf_dir, modulo=4)
    hists: dict = {}
    for r in band_histogram(images).collect():
        hists.setdefault((r["image_id"], r["band"]), {})[r["value"]] = r["cnt"]
    want = {}
    for (i, b), h in hists.items():
        vals = sorted(h)
        n = sum(h.values())
        stot = sum(v * c for v, c in h.items())
        best = None
        cdf = s0 = 0
        for v in vals:
            cdf += h[v]
            s0 += v * h[v]
            if cdf == n:
                continue
            d = s0 * (n - cdf) - (stot - s0) * cdf
            obj = Fraction(d * d, cdf * (n - cdf))
            if best is None or obj > best[0]:
                best = (obj, v, cdf, n - cdf, d)
        if best is not None:
            want[(i, b)] = best[1:]
    got = {
        (r["image_id"], r["band"]): (r["thr"], r["n_bg"], r["n_fg"], r["d"])
        for r in otsu_threshold(images).collect()
    }
    assert got == want


# ----------------------------------------------------------------- viewshed


def test_viewshed_matches_brute_force(spark, sf_dir):
    """Full python mirror of the 8-ray LOS scan over the mosaic fine grid:
    same lattice, same cross-multiplied grazing-blocks convention, same
    holes-are-transparent rule."""
    import __spark_entry__ as em
    from aira_spark.operators.terrain import VS_DIRS, viewshed

    radius, lattice = 6, 4
    nf = 1 << (em.CELL_RES + 4)
    filled = _fine_grid(spark, sf_dir)
    want = {}
    for (ox, oy), zo in filled.items():
        if ox % lattice or oy % lattice:
            continue
        cands = []
        for dx, dy in VS_DIRS:
            for k in range(1, radius + 1):
                tx, ty = ox + dx * k, oy + dy * k
                if not (0 <= tx < nf and 0 <= ty < nf):
                    continue
                z = filled.get((tx, ty))
                if z is not None:
                    cands.append((dx, dy, k, z))
        if not cands:
            continue
        n_vis = sum(
            1
            for dx, dy, k, z in cands
            if not any(
                (dx2, dy2) == (dx, dy)
                and k2 < k
                and (z2 - zo) * k >= (z - zo) * k2
                for dx2, dy2, k2, z2 in cands
            )
        )
        want[(ox, oy)] = (zo, len(cands), n_vis)
    rows = viewshed(
        em._images(spark, sf_dir, modulo=8), em.CELL_RES
    ).collect()
    got = {
        (r["ox"], r["oy"]): (r["z_obs"], r["n_tgt"], r["n_vis"])
        for r in rows
    }
    assert got == want
    # structural invariants: observers sit on the lattice, the nearest
    # present cell per ray is always visible -> 1 <= n_vis <= n_tgt
    assert rows
    for r in rows:
        assert r["ox"] % lattice == 0 and r["oy"] % lattice == 0
        assert 1 <= r["n_vis"] <= r["n_tgt"]


# ---------------------------------------------------------------- hausdorff


def test_hausdorff_hand_pair_and_banding(spark):
    """Two co-located trajectories give the hand-computed directed
    distances; a third user in a far cell pairs with nobody."""
    from aira_spark.operators.trajectory import hausdorff_join

    rows = [
        (1, 0, 0), (1, 10, 0),        # A
        (2, 0, 5),                    # B
        (3, 50_000_000, 50_000_000),  # C: different coarse cell
    ]
    df = spark.createDataFrame(rows, "user_id long, ix long, iy long")
    got = hausdorff_join(df).collect()
    assert len(got) == 1
    r = got[0]
    # h_ab: a=(0,0)->25, a=(10,0)->125 -> max 125; h_ba: b=(0,5)->25
    assert (r["user_a"], r["user_b"]) == (1, 2)
    assert (r["n_a"], r["n_b"]) == (2, 1)
    assert (r["h_ab"], r["h_ba"], r["h2"]) == (125, 25, 125)


def test_hausdorff_hot_cell_guard_raises(spark):
    from aira_spark.operators.trajectory import hausdorff_join

    df = spark.createDataFrame(
        [(u, 0, 0) for u in range(5)], "user_id long, ix long, iy long"
    )
    with pytest.raises(RuntimeError, match="max_cell_users"):
        hausdorff_join(df, max_cell_users=3).collect()


def test_hausdorff_matches_brute_force(spark, sf_dir):
    """Full python mirror at sf0.001: same dedup, same shared-cell pair
    banding, same exact integer squared Hausdorff. Uses a coarser grid
    (shift=24) than the roster default so the tiny 15-user slice still
    produces candidate pairs."""
    from aira_spark.operators.trajectory import hausdorff_join

    shift = 24
    rows = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "event_id"
    ).collect()
    pts: dict = {}
    for r in rows:
        e = r["event_id"]
        pts.setdefault(r["user_id"], set()).add(
            ((e * 2654435761) % 350000000, (e * 1013904223) % 170000000)
        )
    cells = {
        u: {(x >> shift, y >> shift) for x, y in p} for u, p in pts.items()
    }
    users = sorted(pts)
    want = {}
    for i, ua in enumerate(users):
        for ub in users[i + 1:]:
            if not (cells[ua] & cells[ub]):
                continue
            a, b = pts[ua], pts[ub]
            h_ab = max(
                min((ax - bx) ** 2 + (ay - by) ** 2 for bx, by in b)
                for ax, ay in a
            )
            h_ba = max(
                min((ax - bx) ** 2 + (ay - by) ** 2 for ax, ay in a)
                for bx, by in b
            )
            want[(ua, ub)] = (
                len(a), len(b), h_ab, h_ba, max(h_ab, h_ba)
            )
    pings = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id",
        "CAST((event_id * 2654435761) % 350000000 AS BIGINT) AS ix",
        "CAST((event_id * 1013904223) % 170000000 AS BIGINT) AS iy",
    )
    got = {
        (r["user_a"], r["user_b"]): (
            r["n_a"], r["n_b"], r["h_ab"], r["h_ba"], r["h2"]
        )
        for r in hausdorff_join(pings, shift=shift).collect()
    }
    assert got == want and got


# ------------------------------------------------------------------ moments


def _np_moments(a):
    """Exact integer moment mirror for a single 2-D uint band."""
    import numpy as np

    v = a.astype(object)
    h, w = a.shape
    r = np.arange(h, dtype=object)[:, None]
    c = np.arange(w, dtype=object)[None, :]
    m00 = int((v).sum()); m10 = int((v * c).sum()); m01 = int((v * r).sum())
    m20 = int((v * c * c).sum()); m02 = int((v * r * r).sum())
    m11 = int((v * r * c).sum())
    n20 = m20 * m00 - m10 * m10
    n02 = m02 * m00 - m01 * m01
    n11 = m11 * m00 - m10 * m01

    def trunc_div(x, y):
        q = abs(x) // y
        return q if x >= 0 else -q

    a_, b_ = n20 - n02, 2 * n11
    if a_ == 0 and b_ == 0:
        orient = "isotropic"
    elif a_ >= 0 and a_ >= b_ and a_ >= -b_:
        orient = "E-W"
    elif b_ > 0 and b_ > a_ and b_ > -a_:
        orient = "NE-SW"
    elif a_ < 0 and -a_ >= b_ and -a_ >= -b_:
        orient = "N-S"
    else:
        orient = "NW-SE"
    if m00 == 0:
        return (0, 0, 0, 0, 0, 0, "isotropic")
    return (m00, m10, m01, trunc_div(n20, m00), trunc_div(n02, m00),
            trunc_div(n11, m00), orient)


def test_moments_orientation_hand_cases(spark):
    """A horizontal bar is E-W, a vertical bar N-S, the main diagonal has
    positive mu11 (the 'NE-SW' class in the r-down convention), the
    anti-diagonal negative mu11; a uniform square is isotropic."""
    import numpy as np

    from aira_spark.operators.moments import image_moments
    from aira_spark.tiff.encode import write_tiff

    cases = {}
    z = np.zeros((8, 8), dtype=np.uint8)
    bar = z.copy(); bar[4, 1:7] = 200; cases["ew"] = (bar, "E-W")
    vbar = z.copy(); vbar[1:7, 4] = 200; cases["ns"] = (vbar, "N-S")
    diag = z.copy(); np.fill_diagonal(diag, 200); cases["d1"] = (diag, "NE-SW")
    adiag = np.fliplr(diag).copy(); cases["d2"] = (adiag, "NW-SE")
    flat = np.full((8, 8), 9, dtype=np.uint8); cases["iso"] = (flat, "isotropic")
    rows = [
        (name, bytearray(write_tiff(a[:, :, None], byteorder="<",
                                    layout=("strips", 4))))
        for name, (a, _) in cases.items()
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in image_moments(df).collect()}
    for name, (a, want_orient) in cases.items():
        r = got[name]
        want = _np_moments(a)
        assert (r["m00"], r["m10"], r["m01"], r["mu20_d"], r["mu02_d"],
                r["mu11_d"], r["orient"]) == want, name
        assert r["orient"] == want_orient, name


def test_moments_match_python_mirror(spark, sf_dir):
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.functions.udfs import _decode_full
    from aira_spark.operators.moments import image_moments

    images = em._images(spark, sf_dir, modulo=4)
    want = {}
    for rec in images.select("image_id", "bytes").collect():
        m, px = _decode_full(bytes(rec["bytes"]))
        for s in range(px.shape[2]):
            want[(rec["image_id"], s)] = _np_moments(px[:, :, s])
    got = {
        (r["image_id"], r["band"]): (
            r["m00"], r["m10"], r["m01"], r["mu20_d"], r["mu02_d"],
            r["mu11_d"], r["orient"],
        )
        for r in image_moments(images).collect()
    }
    assert got == want and got


# -------------------------------------------------------------- stay_points


def test_stay_points_hand_runs(spark):
    """Constructed stream: 3 near pings, a far jump, 2 near pings (below
    min), a far jump, 3 near pings -> exactly two stays with the
    hand-computed centroids and durations."""
    import datetime as dt

    from aira_spark.operators.trajectory import stay_points

    t0 = dt.datetime(2026, 1, 1)
    seq = [
        (0, 0), (3, 4), (6, 0),            # stay 1 (hops 5, ~7)
        (1000, 1000),                      # jump
        (1003, 1000),                      # 2-run: dropped (< min_pings)
        (5000, 5000),                      # jump
        (5001, 5001), (5002, 5002), (5000, 5000),  # stay 3
    ]
    rows = [
        (7, t0 + dt.timedelta(seconds=10 * i), i, x, y)
        for i, (x, y) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, ix long, iy long"
    )
    got = {
        r["stay_id"]: (r["n_pings"], r["dur_s"], r["cx_d"], r["cy_d"])
        for r in stay_points(df, d2_max=100, min_pings=3).collect()
    }
    # run ids: opens at i=0,3,5 (and i=4? hop (1000,1000)->(1003,1000) d2=9
    # <=100 keeps run 2 open; i=8 hop (5002,5002)->(5000,5000) d2=8 stays)
    assert got == {
        1: (3, 20, 3, 1),      # cx = (0+3+6)//3 = 3, cy = (0+4+0)//3 = 1
        3: (4, 30, 5000, 5000)  # (5000+5001+5002+5000)//4 = 5000
    }


def test_stay_points_matches_python_mirror(spark, sf_dir):
    import __spark_entry__ as em

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_timestamp(ts) AS tse", "event_id"
    ).collect()
    d2max, minp = 2_500_000_000_000_000, 3
    byu: dict = {}
    for r in rows:
        e = r["event_id"]
        byu.setdefault(r["user_id"], []).append(
            (r["tse"], e, (e * 2654435761) % 350000000,
             (e * 1013904223) % 170000000)
        )
    want = {}
    for u, evs in byu.items():
        evs.sort()
        sid, start = 0, 0
        runs = []
        for i, (ts, e, x, y) in enumerate(evs):
            if i == 0:
                sid += 1
                runs.append([])
            else:
                dx, dy = x - evs[i - 1][2], y - evs[i - 1][3]
                if dx * dx + dy * dy > d2max:
                    sid += 1
                    runs.append([])
            runs[-1].append((ts, x, y))
        for k, run in enumerate(runs, start=1):
            if len(run) < minp:
                continue
            n = len(run)
            want[(u, k)] = (
                n,
                max(t for t, _, _ in run) - min(t for t, _, _ in run),
                sum(x for _, x, _ in run) // n,
                sum(y for _, _, y in run) // n,
            )
    got = {
        (r["user_id"], r["stay_id"]): (
            r["n_pings"], r["dur_s"], r["cx_d"], r["cy_d"]
        )
        for r in em.q_stay_points(spark, sf_dir).collect()
    }
    assert got == want and got


# -------------------------------------------------------------- areal_interp


def test_areal_interp_hand_squares(spark):
    """Cell-aligned squares at res 3 (45x22.5-deg cells): source covers 4
    cells with value 1000, target A overlaps 2 of them (est 500000*2),
    target B overlaps none -> absent."""
    from aira_spark.operators.areal import areal_interpolate

    def ring(x0, y0, x1, y1):
        return [
            {"x": float(x0), "y": float(y0)}, {"x": float(x1), "y": float(y0)},
            {"x": float(x1), "y": float(y1)}, {"x": float(x0), "y": float(y1)},
            {"x": float(x0), "y": float(y0)},
        ]

    schema = (
        "poly_id string, ring array<struct<x double, y double>>"
    )
    # res 3: 8x8 grid, cell 45 x 22.5 deg; centers at -157.5+45k, -78.75+22.5k
    src = spark.createDataFrame(
        [("s0", ring(-180, -90, -90, -45))], schema  # 2x2 cells = 4 centers
    )
    tgt = spark.createDataFrame(
        [("t0", ring(-180, -90, -90, -67.5)),  # bottom half: 2 shared cells
         ("t1", ring(0, 0, 90, 45))],          # disjoint
        schema,
    )
    vals = spark.createDataFrame([("s0", 1000)], "poly_id string, val long")
    rows = areal_interpolate(src, tgt, vals, res=3).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["tpoly_id"] == "t0"
    assert (r["n_src"], r["shared_cells"]) == (1, 2)
    # 1000 * 2 * 1e6 DIV 4 = 500_000_000
    assert r["est_e6"] == 500_000_000


def test_areal_interp_matches_python_mirror(spark, sf_dir):
    """Recompute the transfer from the two rasterizations directly."""
    import __spark_entry__ as em
    from aira_spark.operators.rasterize import rasterize_to_cells
    from aira_spark.sources.vectors import polygons_table

    res = em.CELL_RES + 2
    src = polygons_table(spark, sf_dir)
    tgt = polygons_table(spark, sf_dir, table="supplier", key="s_suppkey")
    sc: dict = {}
    for r in rasterize_to_cells(src, res).collect():
        sc.setdefault(r["poly_id"], set()).add(r["cell"])
    tc: dict = {}
    for r in rasterize_to_cells(tgt, res).collect():
        tc.setdefault(r["poly_id"], set()).add(r["cell"])
    vals = {
        f"poly{r['n_nationkey']}": r["n_nationkey"] * 37 % 1000 + 100
        for r in spark.read.parquet(f"{sf_dir}/nation.parquet").collect()
    }
    want: dict = {}
    for a, acells in sc.items():
        for b, bcells in tc.items():
            shared = len(acells & bcells)
            if not shared:
                continue
            ns, sh, est = want.get(b, (0, 0, 0))
            want[b] = (
                ns + 1, sh + shared,
                est + vals[a] * shared * 1_000_000 // len(acells),
            )
    got = {
        r["tpoly_id"]: (r["n_src"], r["shared_cells"], r["est_e6"])
        for r in em.q_areal_interp(spark, sf_dir).collect()
    }
    assert got == want and got


# ------------------------------------------------------------- plan shapes


def test_round4e_plan_shapes(spark, sf_dir):
    """Pin the scale-critical plan properties of the round-4e batch:
    bounded exchange payloads, broadcast prefilters, no nested-loop
    joins, single-exchange folds."""
    import __spark_entry__ as em
    from aira_spark.plans.inspect import (
        count_in_plan, has_broadcast_join, plan_string, shuffle_count,
    )

    # moments / stay_points: ONE exchange (the bounded-rows hash agg /
    # the entity-local window)
    assert shuffle_count(em.q_moments(spark, sf_dir)) == 1
    assert shuffle_count(em.q_stay_points(spark, sf_dir)) == 1
    # hist_match: pooled reference BROADCASTS into the per-LUT-row min
    assert has_broadcast_join(em.q_hist_match(spark, sf_dir))
    # otsu: the exact argmax anti-join stays an equi-keyed hash/sort-merge
    # join — never a nested-loop product
    otsu_plan = plan_string(em.q_otsu(spark, sf_dir), "simple")
    assert "BroadcastNestedLoopJoin" not in otsu_plan
    assert "CartesianProduct" not in otsu_plan
    # hausdorff: candidate pair table broadcasts into the ping joins
    assert has_broadcast_join(em.q_hausdorff(spark, sf_dir))
    # areal_interp: polygon cover broadcasts; transfer join is equi on cell
    ai = em.q_areal_interp(spark, sf_dir)
    assert has_broadcast_join(ai)
    assert "CartesianProduct" not in plan_string(ai, "simple")
    # viewshed: no Python UDF above the mosaic decode (blocking test and
    # census are pure JVM)
    vs_plan = plan_string(em.q_viewshed(spark, sf_dir), "simple")
    assert "BatchEvalPython" not in vs_plan


# ---------------------------------------------------------------- xyz_tiles


def test_xyz_tiles_matches_mercator_reference(spark, sf_dir):
    """The baked-boundary comparison count reproduces the standard
    floating Mercator tile formula (gdal2tiles/OSM) for every image, and
    the quadkey is the standard Bing bit interleave."""
    import math

    import __spark_entry__ as em
    from aira_spark.operators.mercator import DEFAULT_ZOOM, xyz_tiles

    n = 1 << DEFAULT_ZOOM
    rows = xyz_tiles(em._images(spark, sf_dir)).collect()
    assert rows
    # recompute centers from the closed-form source params
    for r in rows:
        k = int(r["image_id"][3:])
        w = 16 + (k % 7) * 8
        h = 16 + (k % 5) * 8
        sx = (0.002 + (k % 17) * 0.001)
        sy = (0.002 + (k % 13) * 0.001)
        cx = ((k * 2654435761) % 350000000) / 1000000.0 - 178.0
        cy = ((k * 1013904223) % 170000000) / 1000000.0 - 86.0
        lon, lat = cx + w * sx / 2.0, cy + h * sy / 2.0
        x_ref = min(max(int(math.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
        m = math.log(math.tan(math.pi / 4 + math.radians(lat) / 2))
        # standard clamp to the valid tile range (lat beyond +-85.0511
        # projects outside the square; the count form clamps inherently)
        y_ref = min(max(int(math.floor((1 - m / math.pi) / 2 * n)), 0), n - 1)
        assert r["x_tile"] == x_ref, (r, x_ref)
        assert r["y_tile"] == y_ref, (r, y_ref)
        qk = "".join(
            str(((r["x_tile"] >> (i - 1)) & 1) + 2 * ((r["y_tile"] >> (i - 1)) & 1))
            for i in range(DEFAULT_ZOOM, 0, -1)
        )
        assert r["quadkey"] == qk


def test_xyz_tiles_quadkey_prefix_property(spark, sf_dir):
    """Bing quadkeys: tiles sharing a parent share the quadkey prefix —
    verified by recomputing the parent tile at zoom-1 from x/y."""
    import __spark_entry__ as em
    from aira_spark.operators.mercator import xyz_tiles

    rows = xyz_tiles(em._images(spark, sf_dir)).collect()
    parents = {}
    for r in rows:
        key = (r["x_tile"] >> 1, r["y_tile"] >> 1)
        parents.setdefault(key, set()).add(r["quadkey"][:-1])
    for key, prefixes in parents.items():
        assert len(prefixes) == 1, (key, prefixes)


# ------------------------------------------------------------ zonal_majority


def test_zonal_majority_hand_tie_and_mirror(spark, sf_dir):
    """Majority per cell matches a python recount of zonal_quantiles'
    histogram device; ties go to the smallest value (exercised by
    constructing a two-value tie image)."""
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.operators.zonal import zonal_majority
    from aira_spark.tiff.encode import write_tiff

    # tie image: equal counts of 30 and 200 -> mode must be 30
    # (needs a geotransform — zonal ops group pixels by world cell)
    a = np.array([[30, 200]] * 4, dtype=np.uint8)
    buf = write_tiff(
        a[:, :, None], byteorder="<", layout=("strips", 2),
        geo=((0.01, 0.01, 0.0), (0.0, 0.0, 0.0, 10.0, 20.0, 0.0)),
    )
    tie_df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    rows = zonal_majority(tie_df).collect()
    assert rows and all(r["mode_val"] == 30 and r["mode_cnt"] ==
                        r["n_px"] // 2 for r in rows)

    # corpus mirror via the sibling quantiles histogram recount
    from collections import Counter

    from aira_spark.functions.udfs import _decode_full, pixel_cell_groups
    from aira_spark.tiff.meta import TiffError

    images = em._images(spark, sf_dir, modulo=8)
    hist: dict = {}
    for rec in images.select("bytes").collect():
        try:
            m, px = _decode_full(bytes(rec["bytes"]), max_bands=1)
        except TiffError:
            continue
        groups = pixel_cell_groups(m, px, em.CELL_RES)
        if groups is None:
            continue
        import numpy as np

        order, uniq, starts, ends = groups
        vals = px[:, :, 0].astype(np.int64).ravel()[order]
        for cell, s0, e0 in zip(uniq, starts, ends):
            c = hist.setdefault(int(cell), Counter())
            c.update(vals[s0:e0].tolist())
    want = {}
    for cell, c in hist.items():
        mode_val = min(c, key=lambda v: (-c[v], v))
        want[cell] = (
            sum(c.values()), len(c), mode_val, c[mode_val]
        )
    got = {
        r["cell"]: (r["n_px"], r["n_distinct"], r["mode_val"], r["mode_cnt"])
        for r in em.q_zonal_majority(spark, sf_dir).collect()
    }
    assert got == want and got


# -------------------------------------------------------------- dp_simplify


def _dp_mirror(points, eps, rounds):
    """Depth-limited recursive Douglas-Peucker — the breadth-first rounds'
    recursion-tree equivalent. Returns kept indices."""
    kept = {0, len(points) - 1}

    def rec(a, f, depth):
        if depth >= rounds or f - a < 2:
            return
        ax, ay = points[a]
        fx, fy = points[f]
        best = None
        for i in range(a + 1, f):
            px, py = points[i]
            ac = abs((fx - ax) * (py - ay) - (fy - ay) * (px - ax))
            if best is None or ac > best[0]:
                best = (ac, i)
        ac, s = best
        ab2 = (fx - ax) ** 2 + (fy - ay) ** 2
        if ac * ac > eps * eps * ab2:
            kept.add(s)
            rec(a, s, depth + 1)
            rec(s, f, depth + 1)

    rec(0, len(points) - 1, 0)
    return kept


def test_dp_simplify_hand_cases(spark):
    """A sharp spike is kept, a collinear run collapses to endpoints, and
    an over-tolerance wiggle is dropped."""
    import datetime as dt

    from aira_spark.operators.simplify import dp_simplify

    t0 = dt.datetime(2026, 1, 1)

    def rows(uid, pts):
        return [
            (uid, t0 + dt.timedelta(seconds=i), uid * 1000 + i, x, y)
            for i, (x, y) in enumerate(pts)
        ]

    data = (
        rows(1, [(0, 0), (50, 4000), (100, 0)])      # spike: keep middle
        + rows(2, [(0, 0), (50, 50), (100, 100)])    # collinear: drop
        + rows(3, [(0, 0), (50, 3), (100, 0)])       # tiny wiggle: drop
    )
    df = spark.createDataFrame(
        data, "user_id long, ts timestamp, event_id long, ix long, iy long"
    )
    got = {
        (r["user_id"], r["idx"]) for r in dp_simplify(df, eps=100).collect()
    }
    assert got == {(1, 0), (1, 1), (1, 2), (2, 0), (2, 2), (3, 0), (3, 2)}


def test_dp_simplify_matches_recursive_mirror(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.simplify import (
        DEFAULT_EPS, DEFAULT_ROUNDS, dp_simplify,
    )

    rows = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_timestamp(ts) AS tse", "event_id"
    ).collect()
    byu: dict = {}
    for r in rows:
        e = r["event_id"]
        byu.setdefault(r["user_id"], []).append(
            (r["tse"], e,
             (e * 2654435761) % 350000000, (e * 1013904223) % 170000000)
        )
    want = set()
    for u, evs in byu.items():
        evs.sort()
        pts = [(x, y) for _, _, x, y in evs]
        for i in _dp_mirror(pts, DEFAULT_EPS, DEFAULT_ROUNDS):
            want.add((u, i, pts[i][0], pts[i][1]))
    got = {
        (r["user_id"], r["idx"], r["ix"], r["iy"])
        for r in em.q_dp_simplify(spark, sf_dir).collect()
    }
    assert got == want and got


# ---------------------------------------------------------------- band_corr


def test_band_corr_hand_cases(spark):
    """A duplicated band classifies dup_band, an INVERTED band classifies
    dup_band with negative cov_n (the r² test is sign-blind), a constant
    band is degenerate."""
    import numpy as np

    from aira_spark.operators.bandcorr import band_correlation
    from aira_spark.tiff.encode import write_tiff

    base = ((np.arange(48).reshape(6, 8) * 37) % 256).astype(np.uint8)
    dup = np.stack([base, base], axis=2)
    inv = np.stack([base, 255 - base], axis=2)
    flat = np.stack([base, np.full_like(base, 9)], axis=2)
    rows = [
        (name, bytearray(write_tiff(a, byteorder="<", layout=("strips", 4))))
        for name, a in (("dup", dup), ("inv", inv), ("flat", flat))
    ]
    df = spark.createDataFrame(rows, "image_id string, bytes binary")
    got = {r["image_id"]: r for r in band_correlation(df).collect()}
    assert got["dup"]["corr_class"] == "dup_band" and got["dup"]["cov_n"] > 0
    assert got["inv"]["corr_class"] == "dup_band" and got["inv"]["cov_n"] < 0
    assert got["flat"]["corr_class"] == "degenerate"
    # exact: duplicated band has cov_n == var_xn == var_yn
    assert got["dup"]["cov_n"] == got["dup"]["var_xn"] == got["dup"]["var_yn"]


def test_band_corr_matches_python_mirror(spark, sf_dir):
    from fractions import Fraction

    import numpy as np

    import __spark_entry__ as em
    from aira_spark.functions.udfs import _decode_full
    from aira_spark.operators.bandcorr import (
        T_COR_DEN, T_COR_NUM, T_DUP_DEN, T_DUP_NUM, band_correlation,
    )

    images = em._images(spark, sf_dir, modulo=4)
    want = {}
    for rec in images.select("image_id", "bytes").collect():
        m, px = _decode_full(bytes(rec["bytes"]))
        spp = px.shape[2]
        for a in range(spp):
            for b in range(a + 1, spp):
                x = px[:, :, a].astype(np.int64).ravel()
                y = px[:, :, b].astype(np.int64).ravel()
                n = x.size
                cov = int(n * (x * y).sum() - x.sum() * y.sum())
                vx = int(n * (x * x).sum() - x.sum() ** 2)
                vy = int(n * (y * y).sum() - y.sum() ** 2)
                if vx == 0 or vy == 0:
                    cls = "degenerate"
                else:
                    r2 = Fraction(cov * cov, vx * vy)
                    if r2 >= Fraction(T_DUP_NUM, T_DUP_DEN):
                        cls = "dup_band"
                    elif r2 >= Fraction(T_COR_NUM, T_COR_DEN):
                        cls = "correlated"
                    else:
                        cls = "independent"
                want[(rec["image_id"], a, b)] = (n, cov, vx, vy, cls)
    got = {
        (r["image_id"], r["band_x"], r["band_y"]): (
            r["n_px"], r["cov_n"], r["var_xn"], r["var_yn"], r["corr_class"]
        )
        for r in band_correlation(images).collect()
    }
    assert got == want and got


# ------------------------------------------------------------ heading_census


def test_heading_census_hand_and_mirror(spark, sf_dir):
    """Constructed hops hit the expected octants; the corpus census
    matches a python recount through the same octant convention."""
    import datetime as dt

    import __spark_entry__ as em
    from aira_spark.operators.trajectory import heading_census

    t0 = dt.datetime(2026, 1, 1)
    # hops: E (10,0), N (0,10), NW (-10, 9 -> -gx >= gy? 10 >= 9 yes -> NW),
    # flat (0,0)
    seq = [(0, 0), (10, 0), (10, 10), (0, 19), (0, 19)]
    rows = [
        (5, t0 + dt.timedelta(seconds=i), i, x, y)
        for i, (x, y) in enumerate(seq)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, ix long, iy long"
    )
    got = {
        (r["heading"], r["hop_class"]): r["n_hops"]
        for r in heading_census(df).collect()
    }
    assert got == {("E", "short"): 1, ("N", "short"): 1,
                   ("NW", "short"): 1, ("flat", "short"): 1}

    # corpus mirror
    def octant(gx, gy):
        if gx == 0 and gy == 0:
            return "flat"
        if gy >= 0 and gx > 0 and gx > gy:
            return "E"
        if gx > 0 and gy > 0 and gy >= gx:
            return "NE"
        if gx <= 0 and gy > 0 and -gx < gy:
            return "N"
        if gx < 0 and gy > 0 and -gx >= gy:
            return "NW"
        if gy <= 0 and gx < 0 and -gx > -gy:
            return "W"
        if gx < 0 and gy < 0 and -gy >= -gx:
            return "SW"
        if gx >= 0 and gy < 0 and gx < -gy:
            return "S"
        return "SE"

    evs = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "user_id", "unix_timestamp(ts) AS tse", "event_id"
    ).collect()
    byu: dict = {}
    for r in evs:
        e = r["event_id"]
        byu.setdefault(r["user_id"], []).append(
            (r["tse"], e,
             (e * 2654435761) % 350000000, (e * 1013904223) % 170000000)
        )
    want: dict = {}
    for u, rows_u in byu.items():
        rows_u.sort()
        for (_, _, x0, y0), (_, _, x1, y1) in zip(rows_u, rows_u[1:]):
            gx, gy = x1 - x0, y1 - y0
            d2 = gx * gx + gy * gy
            cls = ("short" if d2 < 10**14
                   else "medium" if d2 < 36 * 10**14 else "long")
            k = (u, octant(gx, gy), cls)
            n, s = want.get(k, (0, 0))
            want[k] = (n + 1, s + d2)
    got2 = {
        (r["user_id"], r["heading"], r["hop_class"]): (r["n_hops"], r["sum_d2"])
        for r in em.q_heading_census(spark, sf_dir).collect()
    }
    assert got2 == want and got2


# ------------------------------------------------------------- ngram_novelty


def test_ngram_novelty_hand_and_duplicate_suppression(spark):
    """Injected exact duplicates share every 3-gram -> novelty 0; a doc
    with a unique tail keeps exactly its unique grams novel."""
    from aira_spark.operators.text import ngram_novelty

    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),          # exact dup of 1
        (3, "alpha beta gamma zeta omega theta"),       # shares 1 gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_e6"])
        for r in ngram_novelty(df, k=3).collect()
    }
    # doc1/doc2: 3 grams each, all df>=2 -> novelty 0
    assert got[1] == (3, 0, 0) and got[2] == (3, 0, 0)
    # doc3: 4 grams; 'alpha beta gamma' is shared (df=3), other 3 unique
    assert got[3] == (4, 3, 750000)


def test_ngram_novelty_matches_python_mirror(spark, sf_dir):
    import hashlib

    import __spark_entry__ as em
    from aira_spark.functions.textfns import MH_P

    def gram_hashes_py(text, k):
        ws = text.split(" ")
        return {
            int(hashlib.md5(" ".join(ws[j:j + k]).encode()).hexdigest()[:15],
                16) % MH_P
            for j in range(max(len(ws) - k + 1, 0))
        }

    docs = em._docs_with_dups(spark, sf_dir).select("doc_id", "text").collect()
    per_doc = {
        r["doc_id"]: gram_hashes_py(r["text"], 3) for r in docs
    }
    from collections import Counter

    df = Counter(g for ghs in per_doc.values() for g in ghs)
    want = {}
    for d, ghs in per_doc.items():
        if not ghs:
            continue
        novel = sum(1 for g in ghs if df[g] == 1)
        want[d] = (len(ghs), novel, novel * 1_000_000 // len(ghs))
    got = {
        r["doc_id"]: (r["n_grams"], r["n_novel"], r["novelty_e6"])
        for r in em.q_ngram_novelty(spark, sf_dir).collect()
    }
    assert got == want and got


# ---------------------------------------------------------------- ann_recall


def test_ann_recall_bounds_and_identity(spark, sf_dir):
    """recall_e6 in [0, 1e6] with n_exact == 5 everywhere; the LSH hits
    are a subset of the exact set BY CONSTRUCTION (the join), and a panel
    re-scored against ITSELF gives recall 1.0."""
    import __spark_entry__ as em

    rows = em.q_ann_recall(spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hit"] <= 5
        assert r["recall_e6"] == r["n_hit"] * 1_000_000 // 5
    # the LSH index must beat the random baseline (5/(n-1) ~ 1% at the
    # sf0.001 fixture) by an order of magnitude; absolute recall at this
    # tiny corpus/6-plane config is ~0.15 (sf0.01 driver slice: higher)
    mean_recall = sum(r["n_hit"] for r in rows) / (5 * len(rows))
    assert mean_recall > 0.05, mean_recall


def test_ann_recall_matches_direct_join(spark, sf_dir):
    """Recompute hits by collecting the two operators' outputs."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from aira_spark.operators.similarity import cosine_topk, lsh_ann_topk_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.expr(em._QUANT)
    )
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    exact: dict = {}
    for r in cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    approx: dict = {}
    for r in lsh_ann_topk_sql(emb, k=5).collect():
        if r["query_id"] < 50:
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    want = {
        q: len(e & approx.get(q, set())) for q, e in exact.items()
    }
    got = {
        r["query_id"]: r["n_hit"]
        for r in em.q_ann_recall(spark, sf_dir).collect()
    }
    assert got == want and got


# ------------------------------------------------------------------ stretch


def test_stretch_lut_hand_case_and_mirror(spark, sf_dir):
    """Hand case: values spread 0..250 with 1% tails clip to [p2, p98];
    corpus mirror recounts the rank predicate + clamped remap."""
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.operators.equalize import stretch_lut
    from aira_spark.operators.zonal import band_histogram
    from aira_spark.tiff.encode import write_tiff

    # 100 px: one 0, one 250, 98 copies of 10..107 -> p2=10's region
    vals = [0] + list(range(10, 108)) + [250]
    a = np.array(vals, dtype=np.uint8).reshape(10, 10)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 4))
    df = spark.createDataFrame(
        [("im0", bytearray(buf))], "image_id string, bytes binary"
    )
    got = {r["value"]: r["out_val"] for r in stretch_lut(df).collect()}
    # lo = smallest v with cdf*100 >= 100*2 -> cdf >= 2 -> v=10;
    # hi: cdf >= 98 -> v=106. Range 96.
    assert got[0] == 0                      # clamps below lo
    assert got[10] == 0
    assert got[106] == 255
    assert got[250] == 255                  # clamps above hi
    assert got[58] == (58 - 10) * 255 // 96

    # corpus mirror
    images = em._images(spark, sf_dir, modulo=4)
    hist: dict = {}
    for r in band_histogram(images).collect():
        hist.setdefault((r["image_id"], r["band"]), {})[r["value"]] = r["cnt"]
    want = {}
    for (i, b), h in hist.items():
        vals_s = sorted(h)
        n = sum(h.values())
        cdf = 0
        lo = hi = None
        for v in vals_s:
            cdf += h[v]
            if lo is None and cdf * 100 >= n * 2:
                lo = v
            if hi is None and cdf * 100 >= n * 98:
                hi = v
        for v in vals_s:
            if hi == lo:
                out = 0
            else:
                out = min(max((v - lo) * 255 // (hi - lo), 0), 255)
            want[(i, b, v)] = (h[v], out)
    got2 = {
        (r["image_id"], r["band"], r["value"]): (r["cnt"], r["out_val"])
        for r in em.q_stretch(spark, sf_dir).collect()
    }
    assert got2 == want and got2


# ----------------------------------------------------------------- strahler


def test_strahler_matches_recursive_mirror(spark, sf_dir):
    """Recursive bottom-up Strahler over the brute-force D8 parent map —
    the operator's Jacobi fixpoint must equal the textbook recursion, and
    the distribution must be non-degenerate (some order >= 2)."""
    import sys

    import __spark_entry__ as em
    from aira_spark.operators.terrain import strahler_order

    filled = _fine_grid(spark, sf_dir)
    parent = _brute_flow_parent(filled)
    kids: dict = {}
    for c, p in parent.items():
        if p != c:
            kids.setdefault(p, []).append(c)
    sys.setrecursionlimit(100000)

    def strahler(v):
        if v not in kids:
            return 1
        os_ = sorted((strahler(c) for c in kids[v]), reverse=True)
        return os_[0] + 1 if len(os_) > 1 and os_[1] == os_[0] else os_[0]

    want = {v: strahler(v) for v in filled}
    got = {
        (r["fx"], r["fy"]): r["strahler"]
        for r in strahler_order(
            em._images(spark, sf_dir, modulo=8), em.CELL_RES
        ).collect()
    }
    assert got == want
    assert max(got.values()) >= 2


def test_strahler_hand_confluence(spark):
    """Two order-1 tributaries meeting make order 2; a pass-through node
    keeps its single child's order — driven through the same Jacobi loop
    the operator runs, seeded from a literal parent table."""
    from pyspark.sql import functions as F

    # tree: leaves 1,2 -> 3 (confluence, order 2) -> 4 (pass-through, 2);
    # leaf 5 -> 4 (order-1 side inflow does not bump 4's order)
    p = spark.createDataFrame(
        [(1, 3), (2, 3), (3, 4), (5, 4), (4, 4)], "node long, parent long"
    )
    edges = p.where("parent != node").selectExpr("node AS child", "parent")
    nodes = p.select("node")
    ordd = nodes.withColumn("o", F.lit(1).cast("long"))
    for _ in range(4):
        oc = (
            edges.join(ordd, edges.child == ordd.node)
            .groupBy("parent", "o").agg(F.count("*").alias("c"))
        )
        top = oc.groupBy("parent").agg(
            F.max(F.struct(F.col("o").alias("o"), F.col("c").alias("c")))
            .alias("t")
        )
        ordd = nodes.join(top, nodes.node == top.parent, "left").selectExpr(
            "node",
            "CAST(CASE WHEN t IS NULL THEN 1 "
            "WHEN t.c >= 2 THEN t.o + 1 ELSE t.o END AS BIGINT) AS o",
        ).localCheckpoint(eager=True)
    got = {r["node"]: r["o"] for r in ordd.collect()}
    assert got == {1: 1, 2: 1, 5: 1, 3: 2, 4: 2}


# --------------------------------------------------------------- mrl_recall


def test_mrl_recall_bounds_and_degenerate_full_prefix(spark, sf_dir):
    """recall_e6 bounds hold; and the 'prefix' at the FULL dim trivially
    reproduces the exact top-5 (recall 1.0 everywhere) — pinning that the
    recall harness itself cannot lose rows."""
    from pyspark.sql import functions as F

    import __spark_entry__ as em
    from aira_spark.operators.similarity import cosine_topk

    rows = em.q_mrl_recall(spark, sf_dir).collect()
    assert len(rows) == 50
    for r in rows:
        assert r["n_exact"] == 5 and 0 <= r["n_hit"] <= 5
        assert r["recall_e6"] == r["n_hit"] * 1_000_000 // 5

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").withColumn(
        "embedding", F.expr(em._QUANT)
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    a = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    # identical input on both arms -> identical set
    b = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    assert a == b and len(a) == 50
