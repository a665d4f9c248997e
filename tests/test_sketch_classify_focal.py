"""Round-3 additions: HLL distinct sketch, hashed linear classifier,
focal (stencil) raster mean."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------------ HLL


def _hll_python(values):
    """Reference HLL mirroring functions/sketchfns.py exactly."""
    from aira_spark.functions import sketchfns as sk

    regs = [0] * sk.M_REG
    for v in values:
        h = int(hashlib.md5(str(v).encode()).hexdigest()[:15], 16)
        j = h % sk.M_REG
        w = h // sk.M_REG
        rho = sk.K_SCALE if w == 0 else sk.K_SCALE - w.bit_length()
        regs[j] = max(regs[j], rho)
    s = sum(1 << (sk.K_SCALE - r) for r in regs)
    v_empty = regs.count(0)
    raw = sk.RAW_NUM / s
    if raw <= sk.LC_THRESHOLD and v_empty > 0:
        return round(sk.M_REG * math.log(sk.M_REG / v_empty), 4), s
    return round(raw, 4), s


def test_hll_matches_python_reference_both_branches(spark):
    from aira_spark.operators.sketch import hll_distinct

    # small group -> linear counting; large group -> raw estimator
    small = [f"w{i}" for i in range(40)] * 3
    large = [f"x{i}" for i in range(5000)]
    rows = [("s", v) for v in small] + [("l", v) for v in large]
    pairs = spark.createDataFrame(rows, "grp string, v string")
    got = {r["grp"]: r for r in hll_distinct(pairs).collect()}
    for grp, vals in (("s", small), ("l", large)):
        est, s = _hll_python(vals)
        assert got[grp]["register_sum"] == s
        assert got[grp]["est_distinct"] == pytest.approx(est, abs=1e-9)
    # the two groups really exercise different branches
    assert got["s"]["zero_registers"] > 0
    assert got["l"]["est_distinct"] > 2.5 * 256


def test_hll_accuracy_within_theoretical_error(spark):
    # m=256 -> relative standard error ~1.04/sqrt(256) = 6.5%; assert 4 sigma
    from aira_spark.operators.sketch import hll_distinct

    n = 20000
    pairs = spark.range(n).selectExpr("'g' AS grp", "CAST(id AS STRING) AS v")
    est = hll_distinct(pairs).collect()[0]["est_distinct"]
    assert abs(est - n) / n < 0.26


def test_hll_duplicates_and_nulls_ignored(spark):
    from aira_spark.operators.sketch import hll_distinct

    a = spark.createDataFrame(
        [("g", "a"), ("g", "b"), ("g", None)], "grp string, v string"
    )
    b = spark.createDataFrame(
        [("g", "a"), ("g", "a"), ("g", "b"), ("g", "b")], "grp string, v string"
    )
    ra = hll_distinct(a).collect()[0]
    rb = hll_distinct(b).collect()[0]
    assert ra["register_sum"] == rb["register_sum"]
    assert ra["est_distinct"] == rb["est_distinct"]
    assert ra["n_values"] == 2 and rb["n_values"] == 4


def test_hll_registers_merge_losslessly(spark):
    # computing registers on two halves and max-merging equals one pass —
    # the property that lets persisted sketches combine across runs/engines
    from aira_spark.functions.sketchfns import hll_projection
    from aira_spark.operators.sketch import hll_distinct

    vals = [f"v{i}" for i in range(1000)]
    whole = spark.createDataFrame(
        [("g", v) for v in vals], "grp string, v string"
    )
    bucket, rho = hll_projection("v", "spark")

    def regs(df):
        return {
            (r["b"], ): r["m"]
            for r in df.selectExpr(f"{bucket} AS b", f"{rho} AS r")
            .groupBy("b").agg(F.max("r").alias("m")).collect()
        }

    half1 = whole.where("substring(v, 2) % 2 = 0")
    half2 = whole.where("substring(v, 2) % 2 = 1")
    merged = {}
    for d in (regs(half1), regs(half2)):
        for k, v in d.items():
            merged[k] = max(merged.get(k, 0), v)
    assert merged == regs(whole)
    assert hll_distinct(whole).collect()[0]["n_values"] == 1000


# ----------------------------------------------------------- classifier


def test_classifier_udf_matches_sql(spark, sf_dir):
    from aira_spark.operators.classify import classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, classifier_scores(docs, use_arrow=True).collect()))
    b = sorted(map(tuple, classifier_scores(docs, use_arrow=False).collect()))
    assert a == b


def test_classifier_hand_computed_logit(spark):
    from aira_spark.functions import classifyfns as cf
    from aira_spark.operators.classify import classifier_scores

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha"), (3, None), (4, "")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in classifier_scores(docs).collect()}
    expect1 = cf.BIAS_MICROS + cf.weight_micros(
        cf.feat_of("alpha beta")
    ) + cf.weight_micros(cf.feat_of("beta gamma"))
    assert got[1]["logit_micros"] == expect1
    assert got[1]["n_feats"] == 2
    # single word / NULL / empty all score bias-only
    for d in (2, 3):
        assert got[d]["logit_micros"] == cf.BIAS_MICROS
        assert got[d]["n_feats"] == 0
    assert got[4]["logit_micros"] == cf.BIAS_MICROS  # "" -> one word, 0 grams
    sig = round(1.0 / (1.0 + math.exp(-expect1 / 1e6)), 6)
    assert got[1]["score"] == pytest.approx(sig, abs=1e-9)
    assert got[1]["label"] == ("keep" if expect1 > 0 else "drop")


def test_classifier_scores_every_doc(spark, sf_dir):
    from aira_spark.operators.classify import classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert classifier_scores(docs).count() == docs.count()


# ---------------------------------------------------------------- focal


def test_focal_mean_matches_numpy_dense_grid(spark, sf_dir):
    """Brute-force check: rebuild the fine grid from the Spark mosaic rows
    and convolve with numpy; every focal row must match."""
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.functions.cells import np_cell_ix, np_cell_iy
    from aira_spark.operators.focal import focal_mean
    from aira_spark.operators.mosaic import mosaic_cell_values

    images = em._images(spark, sf_dir, modulo=4)
    vals = mosaic_cell_values(images, em.CELL_RES).collect()
    nf = 1 << (em.CELL_RES + 4)
    filled: dict[tuple[int, int], int] = {}
    for r in vals:
        fx = int(np_cell_ix(np.int64(r["cell"]))) * 16 + r["pc"]
        fy = int(np_cell_iy(np.int64(r["cell"]))) * 16 + r["pr"]
        filled[(fx, fy)] = r["val"]
    got = {
        (r["fx"], r["fy"]): (r["n_nbrs"], r["sum_val"], r["focal_mean"])
        for r in focal_mean(images, em.CELL_RES).collect()
    }
    assert set(got) == set(filled)
    for (fx, fy) in filled:
        nbrs = [
            filled[(fx + dx, fy + dy)]
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
            if 0 <= fx + dx < nf and 0 <= fy + dy < nf
            and (fx + dx, fy + dy) in filled
        ]
        assert got[(fx, fy)][0] == len(nbrs)
        assert got[(fx, fy)][1] == sum(nbrs)
        assert got[(fx, fy)][2] == pytest.approx(
            round(sum(nbrs) / len(nbrs), 6), abs=1e-9
        )


def test_focal_mean_isolated_and_adjacent_cells(spark):
    """Hand case via a synthetic fine frame run through the scatter-agg
    (bypassing decode): two adjacent subcells + one isolated."""
    from aira_spark.operators import focal as fo

    fine = spark.createDataFrame(
        [(10, 10, 100), (11, 10, 50), (500, 500, 7)],
        "fx long, fy long, val long",
    )
    # reuse the operator's scatter stage by monkey-building the same plan
    offs = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy})" for dx, dy in fo.OFFSETS
    )
    nf = 2048
    out = (
        fine.select("fx", "fy", "val", F.expr(f"explode(array({offs}))").alias("o"))
        .select(
            (F.col("fx") + F.col("o.dx")).alias("tx"),
            (F.col("fy") + F.col("o.dy")).alias("ty"),
            "val",
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("is_center"),
        )
        .where(f"tx >= 0 AND tx < {nf} AND ty >= 0 AND ty < {nf}")
        .groupBy("tx", "ty")
        .agg(
            F.count("*").alias("n"),
            F.sum("val").alias("s"),
            F.max("is_center").alias("c"),
        )
        .where("c")
        .collect()
    )
    got = {(r["tx"], r["ty"]): (r["n"], r["s"]) for r in out}
    assert got == {
        (10, 10): (2, 150),
        (11, 10): (2, 150),
        (500, 500): (1, 7),
    }


def test_streaming_hll_equals_batch(spark, sf_dir):
    """Registers accumulated across 4 microbatches fold to exactly the
    batch sketch — the merge-lossless property under streaming state."""
    from aira_spark.operators.sketch import distinct_words_by_source
    from aira_spark.streaming.events import run_streaming_hll

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, run_streaming_hll(spark, docs).collect()))
    b = sorted(map(tuple, distinct_words_by_source(docs).collect()))
    assert a == b and len(a) > 0


# --------------------------------------------------------------- augment


def test_augment_oracle_index_mappings_match_numpy():
    """The DuckDB position formulas must equal numpy's transform semantics
    for every op on an asymmetric matrix — checked by evaluating both
    weighted checksums in pure Python."""
    import numpy as np

    from aira_spark.operators.augment import (
        AUG_OPS, AUG_ORACLE_DIMS, AUG_ORACLE_POS)

    h, w = 3, 5
    a = np.arange(h * w, dtype=np.int64).reshape(h, w) * 7 % 256
    for op, f in AUG_OPS.items():
        out = np.ascontiguousarray(f(a))
        weights = np.arange(1, out.size + 1, dtype=np.int64)
        np_wsum = int((weights * out.ravel()).sum())
        pos = AUG_ORACLE_POS[op]
        sql_wsum = sum(
            (eval(pos, {}, {"r": r, "c": c, "w": w, "h": h}) + 1) * int(a[r, c])
            for r in range(h) for c in range(w)
        )
        assert np_wsum == sql_wsum, op
        ow, oh = AUG_ORACLE_DIMS[op]
        dims = {"w": w, "h": h}
        assert (out.shape[1], out.shape[0]) == (dims[ow], dims[oh]), op


def test_augment_stats_roundtrip_known_image(spark):
    """A hand-built 2x3 TIFF through the full decode->transform->encode->
    decode pipeline: checksums equal the direct numpy computation."""
    import numpy as np

    from aira_spark.operators.augment import AUG_OPS, augment_stats
    from aira_spark.tiff.encode import write_tiff

    a = np.array([[10, 20, 30], [40, 50, 60]], dtype=np.uint8)
    buf = write_tiff(a[:, :, None], byteorder="<", layout=("strips", 8))
    df = spark.createDataFrame([("im0", bytearray(buf))], "image_id string, bytes binary")
    got = {r["op"]: r for r in augment_stats(df).collect()}
    assert len(got) == len(AUG_OPS)
    for op, f in AUG_OPS.items():
        out = np.ascontiguousarray(f(a)).astype(np.int64)
        weights = np.arange(1, out.size + 1, dtype=np.int64)
        r = got[op]
        assert (r["out_w"], r["out_h"]) == (out.shape[1], out.shape[0]), op
        assert r["sum_px"] == int(out.sum()), op
        assert r["wsum"] == int((weights * out.ravel()).sum()), op


# ------------------------------------------------------------- count-min


def test_cms_estimate_at_least_true_and_exact_on_sparse(spark):
    from aira_spark.operators.sketch import cms_point_estimates

    # 3 terms with known counts + heavy noise vocabulary
    rows = (
        [("g", "apple")] * 50 + [("g", "pear")] * 7 + [("g", "kiwi")] * 1
        + [("g", f"noise{i}") for i in range(2000)]
    )
    pairs = spark.createDataFrame(rows, "grp string, v string")
    wl = spark.createDataFrame(
        [("apple",), ("pear",), ("kiwi",), ("absent",)], "term string"
    )
    got = {r["term"]: r for r in cms_point_estimates(pairs, wl).collect()}
    truth = {"apple": 50, "pear": 7, "kiwi": 1, "absent": 0}
    for t, n in truth.items():
        assert got[t]["true_count"] == n
        assert got[t]["est_count"] >= n  # the one-sided CMS guarantee
        # d=4, w=1024 on ~2058 increments: expected overestimate per row
        # ~2 and the min over 4 rows is almost surely tight-ish
        assert got[t]["est_count"] <= n + 40


def test_cms_counters_merge_by_addition(spark):
    # counters built on two halves sum to the whole — the mergeability that
    # lets per-day sketches combine without reprocessing
    from pyspark.sql import functions as F

    from aira_spark.operators.sketch import cms_counters

    rows = [("g", f"t{i % 37}") for i in range(500)]
    whole = spark.createDataFrame(rows, "grp string, v string")
    h1 = spark.createDataFrame(rows[:250], "grp string, v string")
    h2 = spark.createDataFrame(rows[250:], "grp string, v string")

    def cmap(df):
        return {
            (r["row"], r["bucket"]): r["cnt"] for r in cms_counters(df).collect()
        }

    merged: dict = {}
    for d in (cmap(h1), cmap(h2)):
        for k, v in d.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == cmap(whole)


def test_focal_gradient_matches_numpy(spark, sf_dir):
    """Brute-force: central differences over the reconstructed fine grid;
    only positions with center + all 4 cardinal neighbors emit."""
    import numpy as np

    import __spark_entry__ as em
    from aira_spark.functions.cells import np_cell_ix, np_cell_iy
    from aira_spark.operators.focal import focal_gradient
    from aira_spark.operators.mosaic import mosaic_cell_values

    images = em._images(spark, sf_dir, modulo=4)
    vals = mosaic_cell_values(images, em.CELL_RES).collect()
    nf = 1 << (em.CELL_RES + 4)
    filled: dict[tuple[int, int], int] = {}
    for r in vals:
        fx = int(np_cell_ix(np.int64(r["cell"]))) * 16 + r["pc"]
        fy = int(np_cell_iy(np.int64(r["cell"]))) * 16 + r["pr"]
        filled[(fx, fy)] = r["val"]
    got = {
        (r["fx"], r["fy"]): (r["gx"], r["gy"], r["grad2"])
        for r in focal_gradient(images, em.CELL_RES).collect()
    }
    expect = {}
    for (fx, fy) in filled:
        nbrs = [(fx + 1, fy), (fx - 1, fy), (fx, fy + 1), (fx, fy - 1)]
        if all(n in filled and 0 <= n[0] < nf and 0 <= n[1] < nf for n in nbrs):
            gx = filled[(fx + 1, fy)] - filled[(fx - 1, fy)]
            gy = filled[(fx, fy + 1)] - filled[(fx, fy - 1)]
            expect[(fx, fy)] = (gx, gy, gx * gx + gy * gy)
    assert got == expect
    assert len(got) > 0  # the fixture really exercises interior pixels


def test_focal_gradient_hand_plus(spark):
    """A plus-shaped arrangement: only the middle qualifies."""
    from pyspark.sql import functions as F

    from aira_spark.operators import focal as fo

    vals = {(10, 10): 5, (11, 10): 9, (9, 10): 1, (10, 11): 20, (10, 9): 4}
    spark_df = spark.createDataFrame(
        [(x, y, v) for (x, y), v in vals.items()], "fx long, fy long, val long"
    )
    arms = ", ".join(
        f"named_struct('dx', {dx}, 'dy', {dy}, 'wx', {-wx}, 'wy', {-wy})"
        for (dx, dy), (wx, wy) in fo.GRAD_OFFSETS.items()
    )
    out = (
        spark_df.select("fx", "fy", "val",
                        F.expr(f"explode(array({arms}))").alias("o"))
        .select(
            (F.col("fx") + F.col("o.dx")).alias("tx"),
            (F.col("fy") + F.col("o.dy")).alias("ty"),
            (F.col("o.wx").cast("long") * F.col("val")).alias("cx"),
            (F.col("o.wy").cast("long") * F.col("val")).alias("cy"),
            ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("is_center"),
        )
        .groupBy("tx", "ty")
        .agg(F.count("*").alias("n"), F.sum("cx").alias("gx"),
             F.sum("cy").alias("gy"), F.max("is_center").alias("c"))
        .where("c AND n = 5")
        .collect()
    )
    assert len(out) == 1
    r = out[0]
    assert (r["tx"], r["ty"]) == (10, 10)
    assert r["gx"] == 9 - 1 and r["gy"] == 20 - 4


# -------------------------------------------------------- inverted index


def test_inverted_index_hand_counts(spark):
    from aira_spark.operators.rank import inverted_index

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "b c"), (3, "b")], "doc_id long, text string"
    )
    got = {r["term"]: r for r in inverted_index(docs).collect()}
    assert got["a"]["df"] == 1 and got["a"]["total_tf"] == 2
    assert got["a"]["postings"] == [1]
    assert got["b"]["df"] == 3 and got["b"]["total_tf"] == 3
    assert got["b"]["postings"] == [1, 2, 3]
    assert got["c"]["postings"] == [2]


def test_inverted_index_truncation_keeps_df_honest(spark):
    """max_postings bounds hot-term posting rows by tf (tie: low doc_id),
    but df/total_tf still count every document — df > size(postings) marks
    the truncation."""
    from aira_spark.operators.rank import inverted_index

    docs = spark.createDataFrame(
        [(1, "x x x"), (2, "x x"), (3, "x"), (4, "y")],
        "doc_id long, text string",
    )
    got = {
        r["term"]: r
        for r in inverted_index(docs, max_postings=2).collect()
    }
    assert got["x"]["df"] == 3 and got["x"]["total_tf"] == 6
    assert got["x"]["postings"] == [1, 2]  # top-2 by tf
    assert got["y"]["postings"] == [4]


# ----------------------------------------------------------- cross-modal


def test_cross_modal_verdicts(spark):
    from aira_spark.operators.dedup import cross_modal_dup_pairs

    rows = [
        ("a1", 0, "same cap"),              # pair with a2: ham 0 + caption
        ("a2", 0, "same cap"),              # -> both
        ("b1", 0xFF00FF, "cap b"),
        ("b2", 0xFF00FF, "cap b DIFFERENT"),  # ham 0, caption differs -> image_only
        ("c1", 0xF0F0F0F0, "cap c"),
        ("c2", 0x0F0F0F0F, "cap c"),        # ham 32 > 2, same caption -> caption_only
    ]
    imgs = spark.createDataFrame(rows, "image_id string, phash long, caption string")
    got = {(r["img_a"], r["img_b"]): r for r in cross_modal_dup_pairs(imgs).collect()}
    assert got[("a1", "a2")]["verdict"] == "both"
    assert got[("a1", "a2")]["hamming"] == 0
    assert got[("b1", "b2")]["verdict"] == "image_only"
    assert got[("b1", "b2")]["same_caption"] is False
    assert got[("c1", "c2")]["verdict"] == "caption_only"
    assert got[("c1", "c2")]["hamming"] is None
    assert len(got) == 3


def test_cross_modal_caption_group_guard(spark):
    import pytest as _pytest

    from aira_spark.operators.dedup import cross_modal_dup_pairs

    imgs = spark.createDataFrame(
        [(f"i{n}", n, "boilerplate") for n in range(20)],
        "image_id string, phash long, caption string",
    )
    with _pytest.raises(ValueError, match="max_caption_group"):
        cross_modal_dup_pairs(imgs, max_caption_group=10).collect()


# ------------------------------------------------------------------- IDW


def test_idw_matches_python_bruteforce(spark, sf_dir):
    import __spark_entry__ as em
    from aira_spark.operators.spatial import idw_interpolate
    from aira_spark.sources.vectors import points_table

    queries = spark.read.parquet(f"{sf_dir}/supplier.parquet").selectExpr(
        "s_suppkey AS query_id", f"{em._KNN_QX} AS x", f"{em._KNN_QY} AS y"
    )
    pts = points_table(spark, sf_dir)
    vals = pts.selectExpr(
        "point_id", "CAST((point_id * 7919) % 1000 AS DOUBLE) AS val"
    )
    got = {
        r["query_id"]: (r["n_nbrs"], r["est"])
        for r in idw_interpolate(queries, pts, vals, k=5, res=em.CELL_RES).collect()
    }
    P = [(r["point_id"], r["x"], r["y"]) for r in pts.collect()]
    V = {pid: (pid * 7919) % 1000 for pid, _, _ in P}
    for q in queries.collect():
        ds = sorted(
            (((px - q["x"]) ** 2 + (py - q["y"]) ** 2) ** 0.5, pid)
            for pid, px, py in P
        )[:5]
        num = den = 0.0
        for d, pid in ds:
            dr = round(d, 6)
            num += V[pid] / (dr * dr)
            den += 1.0 / (dr * dr)
        est = round(num / den, 6)
        assert got[q["query_id"]][0] == 5
        assert got[q["query_id"]][1] == pytest.approx(est, abs=2e-6)


def test_idw_exact_hit_returns_observation(spark):
    from aira_spark.operators.spatial import idw_interpolate

    pts = spark.createDataFrame(
        [(1, 10.0, 10.0), (2, 11.0, 10.0), (3, 10.0, 11.0)],
        "point_id long, x double, y double",
    )
    vals = spark.createDataFrame(
        [(1, 42.0), (2, 7.0), (3, 9.0)], "point_id long, val double"
    )
    q = spark.createDataFrame([(100, 10.0, 10.0)], "query_id long, x double, y double")
    got = idw_interpolate(q, pts, vals, k=3).collect()[0]
    assert got["est"] == 42.0  # d = 0 -> the observation itself, exactly


def test_streaming_cms_equals_batch(spark, sf_dir):
    """Counters accumulated across 4 microbatches equal the one-pass batch
    counters — additivity under streaming state."""
    from aira_spark.operators.sketch import cms_counters
    from aira_spark.streaming.events import run_streaming_cms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, run_streaming_cms(spark, docs).collect()))
    pairs = docs.selectExpr(
        "source AS grp", "explode(split(text, ' ')) AS v"
    ).where("length(v) > 0")
    b = sorted(map(tuple, cms_counters(pairs).collect()))
    assert a == b and len(a) > 0


# -------------------------------------------------------------- pagerank


def test_pagerank_hand_graph(spark):
    """4-node ring with one hub: integer ranks match a python mirror, the
    hub outranks ring members, and total mass is conserved minus the
    documented floor-division leak."""
    from aira_spark.operators import graph as G

    # every node needs exactly 2 out-edges
    e = [
        (1, 2), (1, 4), (2, 3), (2, 4), (3, 1), (3, 4), (4, 1), (4, 2),
    ]
    edges = spark.createDataFrame(e, "src long, dst long")
    got = {
        r["node"]: r["rank_micros"]
        for r in G.pagerank_fixed(edges, out_degree=2, rounds=10).collect()
    }
    ranks = {n: G.INIT_MICROS for n in (1, 2, 3, 4)}
    for _ in range(10):
        nxt = {n: G.TELEPORT for n in ranks}
        for s, d in e:
            nxt[d] += (G.DAMP_NUM * ranks[s]) // (G.DAMP_DEN * 2)
        ranks = nxt
    assert got == ranks
    assert got[4] == max(got.values())  # the hub (3 in-edges)
    # floor leak bound: each of the 8 contributions loses < 1 micro/round
    assert sum(got.values()) <= 4 * G.INIT_MICROS
    assert sum(got.values()) > 4 * G.INIT_MICROS - 10 * 8 - 4


def test_pagerank_parallelism_invariant(spark):
    """Identical ranks at different shuffle partitioning — the integer fold
    is order-independent by construction."""
    from aira_spark.operators.graph import pagerank_fixed

    e = [(i, (i + 1) % 20) for i in range(20)] + [(i, (i + 7) % 20) for i in range(20)]
    edges = spark.createDataFrame(e, "src long, dst long")
    a = sorted(map(tuple, pagerank_fixed(edges, 2, rounds=6).collect()))
    b = sorted(
        map(tuple, pagerank_fixed(edges.repartition(17), 2, rounds=6).collect())
    )
    assert a == b


# ------------------------------------------------------- point density


def test_point_density_hand_case(spark):
    """Two points in one cell + one neighbor point: hand-fold the 4/2/1
    kernel. Grid res=4 keeps coordinates readable."""
    from aira_spark.operators.focal import point_density

    # cell size at res=4: 360/16 = 22.5 x 180/16 = 11.25; put points at
    # cell centers: cell (8, 8) spans x [0, 22.5), y [0, 11.25)
    pts = spark.createDataFrame(
        [(1, 5.0, 5.0), (2, 6.0, 6.0), (3, 30.0, 5.0)],
        "point_id long, x double, y double",
    )
    got = {
        (r["gx"], r["gy"]): (r["n_src_cells"], r["density_16"])
        for r in point_density(pts, res=4).collect()
    }
    # occupied: (8,8) cnt=2 and (9,8) cnt=1 (x=30 -> ix=floor(210/22.5)=9)
    # target (8,8): own 2*4 + neighbor-edge 1*2 = 10; sources 2
    assert got[(8, 8)] == (2, 10)
    # target (9,8): own 1*4 + neighbor 2*2 = 8
    assert got[(9, 8)] == (2, 8)
    # corner-diagonal target (7,7): only (8,8) contributes 2*1
    assert got[(7, 7)] == (1, 2)
    # between-the-two target (8,7): (8,8) corner? no — (8,7) is edge-below
    # of (8,8): 2*2; and diagonal of (9,8): 1*1 -> 5
    assert got[(8, 7)] == (2, 5)
    # total mass check: sum of density_16 == 16 * n_points (away from edges)
    assert sum(v for _, v in got.values()) == 16 * 3


def test_point_density_grid_edge_clips(spark):
    from aira_spark.operators.focal import point_density

    # point in the corner cell (0, 0): scatter targets outside clip away
    pts = spark.createDataFrame(
        [(1, -179.0, -89.0)], "point_id long, x double, y double"
    )
    got = {
        (r["gx"], r["gy"]): r["density_16"]
        for r in point_density(pts, res=4).collect()
    }
    assert set(got) == {(0, 0), (0, 1), (1, 0), (1, 1)}
    assert got[(0, 0)] == 4 and got[(1, 1)] == 1


def test_scatter_clips_targets_at_all_four_grid_edges(spark):
    """scatter keeps exactly the in-grid targets of a corner source: the
    3x3 window of each corner of an 8 x 8 grid has 4 cells inside it. The
    oracle rasters never reach the world edge, so this pins both bounds
    of the [0, n) clip."""
    from aira_spark.operators.focal import WINDOW_ARMS, scatter

    n = 8
    corners = [(0, 0), (n - 1, 0), (0, n - 1), (n - 1, n - 1)]
    df = spark.createDataFrame(corners, "fx long, fy long")
    got: dict[tuple[int, int], set[tuple[int, int]]] = {}
    for r in scatter(df, WINDOW_ARMS, n).collect():
        got.setdefault((r["fx"], r["fy"]), set()).add((r["tx"], r["ty"]))
    for cx, cy in corners:
        near_x = {cx, 1 if cx == 0 else n - 2}
        near_y = {cy, 1 if cy == 0 else n - 2}
        assert got[(cx, cy)] == {(x, y) for x in near_x for y in near_y}


# ------------------------------------------------------- HLL set algebra


def test_hll_setops_identical_and_disjoint(spark):
    """Two identical vocabularies: union == each single, intersection ==
    single. Two disjoint ones: union == combined sketch, intersection
    estimate stays within the sketch's error band around 0."""
    from aira_spark.operators.sketch import hll_distinct, hll_set_estimates

    words_a = [f"w{i}" for i in range(400)]
    words_c = [f"z{i}" for i in range(300)]
    rows = (
        [("a", w) for w in words_a]
        + [("b", w) for w in words_a]      # b identical to a
        + [("c", w) for w in words_c]      # c disjoint from both
    )
    pairs = spark.createDataFrame(rows, "grp string, v string")
    got = {
        (r["grp_a"], r["grp_b"]): r
        for r in hll_set_estimates(pairs).collect()
    }
    singles = {r["grp"]: r["est_e4"] for r in hll_distinct(pairs).collect()}
    ab = got[("a", "b")]
    assert ab["est_union_e4"] == singles["a"] == singles["b"]
    assert ab["est_inter_e4"] == singles["a"]
    ac = got[("a", "c")]
    # disjoint: inclusion-exclusion intersection ~ 0 within sketch error
    # (256 registers -> ~6.5% relative error; bound loosely at 25% of |A|)
    assert abs(ac["est_inter_e4"]) < 0.25 * singles["a"]
    # union of disjoint sets >= the larger single (max-merge monotonicity)
    assert ac["est_union_e4"] >= max(singles["a"], singles["c"]) - 1


def test_hll_setops_union_matches_concatenated_group(spark):
    """The pair union sketch must equal the sketch of the CONCATENATED
    group bit-for-bit (register max-merge is lossless)."""
    from aira_spark.operators.sketch import hll_distinct, hll_set_estimates

    rows = [("a", f"w{i % 37}") for i in range(200)] + [
        ("b", f"v{i % 23}") for i in range(150)
    ]
    pairs = spark.createDataFrame(rows, "grp string, v string")
    both = spark.createDataFrame(
        [("ab", v) for _, v in rows], "grp string, v string"
    )
    u = hll_set_estimates(pairs).collect()[0]["est_union_e4"]
    e = hll_distinct(both).collect()[0]["est_e4"]
    assert u == e


def test_streaming_density_equals_batch(spark):
    from aira_spark.operators.focal import point_density
    from aira_spark.streaming.events import run_streaming_density

    pts = spark.createDataFrame(
        [(i, float((i * 37) % 300 - 150), float((i * 53) % 140 - 70))
         for i in range(200)],
        "point_id long, x double, y double",
    )
    batch = sorted(map(tuple, point_density(pts, res=6).collect()))
    stream = sorted(map(tuple, run_streaming_density(spark, pts, 6).collect()))
    assert stream == batch
