"""Physical plan shape assertions (100 TB scale contract).

These tests pin the *plan*, not just the result: broadcast of the polygon /
dimension side, predicate pushdown into the parquet scan, whole-stage codegen
around the chunk arithmetic, and bounded shuffle counts.
"""

from __future__ import annotations

import ast
import pathlib

from pyspark.sql import functions as F

from aira_spark.plans.inspect import (
    count_in_plan,
    has_broadcast_join,
    plan_string,
    pushed_filters,
    shuffle_count,
)


def test_pip_broadcasts_polygon_side(spark, sf_dir):
    from aira_spark.operators.spatial import point_in_polygon_join
    from aira_spark.sources.vectors import points_table, polygons_table

    df = point_in_polygon_join(points_table(spark, sf_dir), polygons_table(spark, sf_dir))
    assert has_broadcast_join(df)
    # the big (points) side must not shuffle at all for the prefilter join
    assert shuffle_count(df) == 0


def test_pushdown_reaches_parquet_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
    )
    pf = pushed_filters(df)
    assert "l_quantity" in pf, pf
    # column pruning: scan schema only carries the 2 projected columns
    s = plan_string(df)
    assert "l_extendedprice" not in s


def test_chunk_enumeration_is_codegen(spark, sf_dir):
    """Tile/chunk arithmetic must be pure JVM expressions (explode + project),
    with no Python evaluation nodes after the decode UDF."""
    import __spark_entry__ as em

    df = em.q_tile_assign(spark, sf_dir)
    # exactly one Arrow UDF evaluation (the metadata decode — guarded against
    # Catalyst project-collapse duplication); everything downstream is
    # Generate/Project inside codegen
    assert count_in_plan(df, "ArrowEvalPython") == 1, plan_string(df, "simple")
    s = plan_string(df)
    assert "Generate" in s
    # no per-row Python anywhere (input_hint mandate): BatchEvalPython is the
    # row-at-a-time UDF node; only Arrow nodes may appear
    assert "BatchEvalPython" not in s
    assert shuffle_count(df) == 0


def test_q1_partial_aggregation(spark, sf_dir):
    import __spark_entry__ as em

    df = em.q_q1_pricing(spark, sf_dir)
    s = plan_string(df)
    # map-side combine: partial + final hash aggregate around one shuffle
    assert s.count("HashAggregate") >= 2
    assert shuffle_count(df) == 1


def test_topk_broadcasts_dimension(spark, sf_dir):
    import __spark_entry__ as em

    df = em.q_top_customers(spark, sf_dir)
    assert has_broadcast_join(df)


def test_zonal_single_shuffle(spark, sf_dir):
    """Zonal stats: pixels are pre-aggregated per (image, cell) inside the
    Arrow UDF; the plan shuffles only the compact cell partials once."""
    import __spark_entry__ as em

    df = em.q_zonal_stats(spark, sf_dir)
    assert shuffle_count(df) == 1
    # the cached synth relation prints its own MapInPandas (x2 under AQE);
    # the zonal path itself contributes exactly one more
    assert count_in_plan(df, "MapInPandas") >= 1


def test_fingerprints_single_arrow_udf(spark, sf_dir):
    """Winnowing runs as ONE Arrow UDF evaluation (nondeterministic marker
    guards project-collapse duplication); no per-row Python."""
    import __spark_entry__ as em

    df = em.q_fingerprints(spark, sf_dir)
    s = plan_string(df)
    assert "BatchEvalPython" not in s
    assert count_in_plan(df, "ArrowEvalPython") == 1, plan_string(df, "simple")


def test_minhash_band_join_shuffles_ids_only(spark, sf_dir):
    """The LSH candidate join must not carry shingle arrays through the
    band-bucket shuffle — only (band, bucket, doc_id)."""
    import re

    import __spark_entry__ as em

    df = em.q_dedup_minhash(spark, sf_dir)
    s = plan_string(df, "formatted")
    # every hashpartitioning(band, bucket) exchange must not ship shingles
    for m in re.finditer(r"Arguments: hashpartitioning\(band[^\n]*", s):
        assert "shingles" not in m.group(0), m.group(0)


def test_rasterize_tiles_prefilter_equijoin(spark, sf_dir):
    """rasterize_to_tiles must candidate-generate via the chunk-center-cell
    equi-join (BroadcastHashJoin), never the old all-pairs crossJoin
    (BroadcastNestedLoopJoin), and never shuffle the chunk side."""
    from aira_spark.operators.chunks import chunks_df, with_meta
    from aira_spark.operators.rasterize import rasterize_to_tiles
    from aira_spark.sources.images import images_table
    from aira_spark.sources.vectors import polygons_table

    ch = chunks_df(with_meta(images_table(spark, sf_dir, limit=200)))
    df = rasterize_to_tiles(polygons_table(spark, sf_dir), ch)
    s = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in s, s
    assert has_broadcast_join(df)
    assert shuffle_count(df) == 0


def test_repetition_two_level_agg(spark, sf_dir):
    """repetition_stats: explode -> per-gram agg -> per-doc agg, one exchange
    per aggregation level per arm (4 total), never a quadratic in-array form."""
    from aira_spark.operators.text import repetition_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    df = repetition_stats(docs)
    assert shuffle_count(df) <= 4
    s = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in s
    # partial (map-side) aggregation at the per-gram level
    assert "partial_count" in s or "HashAggregate" in s


def test_corpus_clean_no_cartesian(spark, sf_dir):
    """corpus_clean: all three gate arms join on doc_id — no cartesian or
    nested-loop joins anywhere, bounded shuffles, nothing collected."""
    from aira_spark.operators.text import corpus_clean

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    df = corpus_clean(docs)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert shuffle_count(df) <= 6


def test_lsh_ann_sql_equijoin(spark, sf_dir):
    """SQL-exact LSH ANN: candidates come from the (table, bucket) equi-join
    of pure-projection signatures — never an all-pairs join."""
    from aira_spark.operators.similarity import lsh_ann_topk_sql

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df = lsh_ann_topk_sql(emb, k=5)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on image_id join WITHOUT exchanges: co-location
    is decided at write time — the 100 TB lever for repeated joins."""
    from aira_spark.sources.images import images_table, write_images_bucketed

    imgs = images_table(spark, sf_dir, limit=200).select("image_id", "w", "h")
    caps = images_table(spark, sf_dir, limit=200).select("image_id", "caption")
    write_images_bucketed(spark, imgs, "bk_meta", buckets=4)
    write_images_bucketed(spark, caps, "bk_caps", buckets=4)
    # disable auto-broadcast: with it on, small tables take BroadcastHashJoin
    # (zero shuffles for the wrong reason — bucketing disabled by the
    # planner) and the assertion would be vacuous
    old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bk_meta").join(spark.table("bk_caps"), "image_id")
        s = plan_string(joined)
        assert "Bucketed: true" in s, s
        assert shuffle_count(joined) == 0, s
        assert joined.count() == 200
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
        spark.sql("DROP TABLE IF EXISTS bk_meta")
        spark.sql("DROP TABLE IF EXISTS bk_caps")


def test_simhash_band_join_shuffles_ids_only(spark, sf_dir):
    """simhash_dup_pairs candidates come from the (band, bval) equi-join and
    the band shuffle carries only (band, bval, id, hash) — never text — and
    never a cartesian/nested-loop join."""
    import re

    from aira_spark.operators.dedup import simhash_dup_pairs, with_duplicates

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    df = simhash_dup_pairs(with_duplicates(docs), 64, 3)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    fs = plan_string(df, "formatted")
    for m in re.finditer(r"Arguments: hashpartitioning\(band[^\n]*", fs):
        assert "text" not in m.group(0), m.group(0)


def test_phash_band_join_never_ships_bytes(spark, sf_dir):
    """phash_dup_pairs over the full images table: the banding join plans as
    an equi-join whose shuffles carry only (band, bval, image_id, phash) —
    the image BYTES column must not appear anywhere in the plan (pixels
    never move for image dedup)."""
    from aira_spark.operators.dedup import phash_dup_pairs
    from aira_spark.sources.images import images_table

    import re

    df = phash_dup_pairs(images_table(spark, sf_dir, limit=300), max_hamming=2)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    # bytes/caption exist only at the synth generator's output (a parquet
    # scan would prune them at the source); no EXCHANGE may ever ship them
    fs = plan_string(df, "formatted")
    for m in re.finditer(r"Arguments: hashpartitioning\([^\n]*", fs):
        assert "bytes" not in m.group(0), m.group(0)
        assert "caption" not in m.group(0), m.group(0)


def test_streaming_dedup_state_plan(spark, sf_dir):
    """streaming_dedup executes as a stateful FlatMapGroupsInPandasWithState
    keyed on the content hash, with state-store exchanges on text_hash only
    and no per-row Python nodes — pinned from the query's executed plan."""
    import __spark_entry__ as em
    from aira_spark.streaming import events as ev

    out = em.q_streaming_dedup(spark, sf_dir)
    assert out.count() > 0
    plan = ev.LAST_PLANS.get("sdedup", "")
    assert "FlatMapGroupsInPandasWithState" in plan, plan[:1500]
    assert "BatchEvalPython" not in plan
    # the stateful exchange partitions on the group key (text_hash)
    assert "hashpartitioning(text_hash" in plan, plan[:1500]


def test_asof_join_single_shuffle_no_explosion(spark, sf_dir):
    """asof_join plans as ONE hash shuffle on the key (union + running
    window), never a range join: no cartesian/nested-loop node, and the
    event_type filters push into the parquet scans."""
    import __spark_entry__ as em

    df = em.q_asof_join(spark, sf_dir)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "SortMergeJoin" not in s and "BroadcastHashJoin" not in s
    assert shuffle_count(df) == 1, plan_string(df, "simple")
    assert "event_type" in pushed_filters(df)


def test_footprint_overlap_blocked_equijoin(spark, sf_dir):
    """footprint_overlap_join candidates come from the padded cell-cover
    equi-join of the footprint table with itself — never a cross join — and
    the exact rect refine stays a JVM filter (no Python nodes after the
    metadata decode)."""
    import __spark_entry__ as em
    from aira_spark.operators.chunks import with_meta
    from aira_spark.operators.spatial import footprint_overlap_join

    wm = with_meta(em._images(spark, sf_dir))
    df = footprint_overlap_join(wm, pad=4.0)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s
    assert "BatchEvalPython" not in s


def test_decontaminate_broadcasts_bench_side(spark, sf_dir):
    """The eval/benchmark gram table must broadcast: the training-corpus side
    is the 10^12-row side and must reach the contamination join without an
    exchange of its own (map-side probe; its only shuffle is the final
    per-doc agg AFTER the join has filtered to hits)."""
    from aira_spark.operators.text import decontaminate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 17 == 0)
    df = decontaminate(docs.filter(F.col("doc_id") % 17 != 0), bench, k=13)
    assert has_broadcast_join(df)
    s = plan_string(df)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s


def test_pack_sequences_single_shuffle(spark, sf_dir):
    """Packing is ONE hash shuffle on the deterministic shard key (the
    window sort is within partitions); no join, no second exchange."""
    from aira_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    df = pack_sequences(docs, budget=512, n_shards=8)
    assert shuffle_count(df) == 1, plan_string(df)


def test_semantic_dedup_no_pre_join_embedding_shuffle(spark, sf_dir):
    """Cluster assignment is a pure Arrow map: the plan up to the candidate
    self-join must not exchange the embedding column; candidate pairs and
    the final re-attach are (broadcastable at this scale) equi-joins, never
    a cartesian product."""
    from aira_spark.operators.similarity import semantic_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    df = semantic_dup_pairs(emb, n_centroids=4, threshold=0.9)
    s = plan_string(df)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    assert "ArrowEvalPython" in s or "BatchEvalPython" not in s  # vectorized, never per-row


def test_corpus_sample_zero_shuffle(spark, sf_dir):
    """Stratified sampling must be a pure projection + filter above the
    scan — zero exchanges, no RNG nodes, nothing Python."""
    from aira_spark.operators.curation import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "source"
    )
    df = stratified_sample(docs, {"src0": 500_000}, default_ppm=100_000)
    assert shuffle_count(df) == 0, plan_string(df)
    s = plan_string(df)
    assert "rand" not in s.lower().replace("operand", "")  # no RNG sampling


def test_bm25_broadcasts_everything_but_hits(spark, sf_dir):
    """Query terms, document frequencies, and corpus stats all broadcast;
    the corpus-sized exchanges are only the hit-row agg and the final
    (query, doc) agg — never text, never a cartesian product."""
    from aira_spark.operators.rank import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    qdf = spark.createDataFrame(
        [(0, "join"), (0, "scan"), (1, "data")], "query_id long, term string"
    )
    df = bm25_scores(docs, qdf)
    assert has_broadcast_join(df)
    s = plan_string(df)
    assert "CartesianProduct" not in s
    # hits are checkpointed, so the visible exchanges are hit-row-sized
    # (df distinct-agg, final (query,doc) agg) plus the 1-row stats agg
    assert shuffle_count(df) <= 5, s
    # exactly ONE remaining corpus scan (the avgdl/N stats pass over the
    # text column); the hits subtree is materialized, not recomputed
    assert count_in_plan(df, "FileScan parquet") <= 1, s


def test_hll_two_agg_no_join(spark, sf_dir):
    """HLL sketch must be a projection feeding two hash aggregations —
    no join (the register state replaces the distinct-value shuffle),
    no Python nodes."""
    from aira_spark.operators.sketch import distinct_words_by_source

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = distinct_words_by_source(docs)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # register agg + group fold
    assert "Join" not in s, s
    assert "Python" not in s, s  # pure JVM expressions end to end


def test_classifier_zero_shuffle_projection(spark, sf_dir):
    """Classifier scoring is a single map pass: zero exchanges, one Arrow
    UDF (the logit), no join, no explode surviving the plan."""
    from aira_spark.operators.classify import classifier_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = classifier_scores(docs, use_arrow=True)
    s = plan_string(df)
    assert shuffle_count(df) == 0, s
    assert count_in_plan(df, "ArrowEvalPython") == 1, s
    assert "BatchEvalPython" not in s
    assert "Join" not in s and "Generate" not in s, s


def test_focal_scatter_single_extra_agg(spark, sf_dir):
    """Focal mean adds exactly ONE aggregation exchange on top of the
    mosaic's: the 9-offset scatter is a Generate (projection-side), the
    halo exchange is the agg's partial combine — no join, no cartesian,
    no Python past the decode."""
    import __spark_entry__ as em
    from aira_spark.operators.focal import focal_mean

    df = focal_mean(em._images(spark, sf_dir, modulo=8), em.CELL_RES)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s  # mosaic agg + focal agg
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert "Generate" in s, s  # the offset explode
    assert count_in_plan(df, "ArrowEvalPython") <= 1, s  # decode only
    assert "BatchEvalPython" not in s


def test_augment_zero_shuffle_map_only(spark, sf_dir):
    """Augmentation is one Arrow map pass over the bytes — zero exchanges,
    no join; the only Python node is the decode/transform/encode UDF."""
    import __spark_entry__ as em
    from aira_spark.operators.augment import augment_stats

    df = augment_stats(em._images(spark, sf_dir, modulo=16))
    s = plan_string(df)
    assert shuffle_count(df) == 0, s
    assert "Join" not in s, s
    assert "BatchEvalPython" not in s


def test_inverted_index_two_level_agg_no_text_shuffle(spark, sf_dir):
    """Explode -> (term, doc) agg -> term agg; shuffles carry hit rows and
    term partials — never the text column."""
    from aira_spark.operators.rank import inverted_index

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = inverted_index(docs)
    s = plan_string(df)
    assert shuffle_count(df) == 2, s
    assert "Python" not in s, s
    # the text column must be pruned before any exchange: it appears only
    # in the scan/generate, not in shuffle output attribute lists
    import re
    for m in re.finditer(r"Exchange[^\n]*\n(?:[^\n]*\n){0,3}", s):
        assert "text#" not in m.group(0), m.group(0)


def test_cross_modal_no_cartesian_no_bytes(spark, sf_dir):
    """Both gate arms are equi-joins; image bytes never enter an exchange."""
    import __spark_entry__ as em

    df = em.q_cross_modal_dedup(spark, sf_dir)
    s = plan_string(df)
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s, s
    import re
    for m in re.finditer(r"Exchange[^\n]*\n(?:[^\n]*\n){0,3}", s):
        assert "bytes#" not in m.group(0), m.group(0)


def test_dissolve_no_cartesian_id_only_compaction(spark, sf_dir):
    """Rasterize arm broadcasts; compaction levels are id-only aggs (the
    localCheckpoint per level truncates them out of the final plan)."""
    import __spark_entry__ as em

    df = em.q_dissolve(spark, sf_dir)
    s = plan_string(df)
    assert "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s


def test_idw_rides_knn_no_cross_join(spark, sf_dir):
    import __spark_entry__ as em

    df = em.q_idw(spark, sf_dir)
    s = plan_string(df)
    # the kNN prefilter path may fall back to a broadcast re-rank for
    # sparse queries, but a plain CartesianProduct must never appear
    assert "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s


def test_pagerank_round_shape(spark):
    """One PageRank round = one equi-join + one hash agg; no cartesian, no
    Python nodes; ranks and edges are narrow integer rows."""
    from aira_spark.operators.graph import pagerank_fixed

    e = [(i, (i + 1) % 30) for i in range(30)] + [(i, (i + 11) % 30) for i in range(30)]
    edges = spark.createDataFrame(e, "src long, dst long")
    df = pagerank_fixed(edges, 2, rounds=1)  # single uncheckpointed round
    s = plan_string(df)
    assert "CartesianProduct" not in s, s
    # no Python EVALUATION nodes (the fixture's createDataFrame scan line
    # mentions applySchemaToPythonRDD — that's ingestion, not evaluation)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert count_in_plan(df, "HashAggregate") >= 2, s  # partial+final inflow


def test_kmeans_assignment_zero_shuffle_no_python(spark, sf_dir):
    """The k-means assignment is a literal-baked projection: no join, no
    Python nodes, zero exchanges — the per-round (cluster, dim) agg is the
    ONLY shuffle in the whole iteration and it's partial-combined."""
    from aira_spark.operators.kmeans import kmeans_fixed

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    assigned, _ = kmeans_fixed(emb, k=4, rounds=1)
    s = plan_string(assigned)
    assert shuffle_count(assigned) == 0, s
    assert "Join" not in s and "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s


def test_lm_score_broadcasts_lm_table(spark, sf_dir):
    """LM scoring joins the documents' bigrams against the LM table via
    BROADCAST (the corpus side never shuffles for the join); no Python
    nodes anywhere — bigrams are arrays_zip JVM expressions."""
    from aira_spark.operators.lm import lm_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    df = lm_scores(docs)
    s = plan_string(df)
    assert has_broadcast_join(df), s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert "CartesianProduct" not in s, s


def test_morph_exchanges_carry_cell_ids_only(spark):
    """Dilation = Generate + distinct agg; erosion adds the witness agg +
    an equi-join of two cell-id sets. No cartesian, no Python, and no wide
    payload columns in any exchange."""
    from aira_spark.functions.cells import np_cell_pack
    from aira_spark.operators.morph import erode_cover

    cover = spark.createDataFrame(
        [(int(np_cell_pack(7, 10 + i % 5, 20 + i // 5)),) for i in range(25)],
        "cell long",
    )
    df = erode_cover(cover, 1, 7)
    s = plan_string(df)
    assert "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert "Generate" in s, s  # the k-ring explode
    # every Exchange row schema is just the cell id (+ count): no wide cols
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "bytes" not in line and "text" not in line, line


def test_bpe_encode_is_single_arrow_map(spark, sf_dir):
    """BPE encoding with a trained merge list is one Arrow UDF map pass:
    zero exchanges, no join."""
    from aira_spark.operators.bpe import encode_token_counts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    df = encode_token_counts(docs, [("e", "r", 3), ("t", "h", 2)])
    s = plan_string(df)
    assert shuffle_count(df) == 0, s
    assert "Join" not in s, s
    assert "BatchEvalPython" not in s, s


def test_dither_and_luma_zero_preagg_exchanges(spark, sf_dir):
    """Pointwise image censuses: one Arrow decode map, NO exchange at all
    (per-image rows are final — no agg after the UDF)."""
    import __spark_entry__ as em
    from aira_spark.operators.dither import dither_census
    from aira_spark.operators.luma import luma_census

    imgs = em._images(spark, sf_dir, modulo=8)
    for df in (dither_census(imgs), luma_census(imgs)):
        s = plan_string(df)
        assert shuffle_count(df) == 0, s
        assert "Join" not in s, s


def test_geohash_is_codegen_projection_plus_one_agg(spark, sf_dir):
    """Encode is pure JVM expressions (no Python anywhere); census is one
    hash agg = one exchange."""
    from aira_spark.operators.geohash import geohash_census
    from aira_spark.sources.vectors import points_table

    df = geohash_census(points_table(spark, sf_dir))
    s = plan_string(df)
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert shuffle_count(df) == 1, s


def test_heavy_hitters_recount_is_broadcast(spark, sf_dir):
    """The exact recount joins the candidate set via BROADCAST — the tail
    never shuffles for the join (only candidate counts aggregate)."""
    import __spark_entry__ as em

    df = em.q_heavy_hitters(spark, sf_dir)
    s = plan_string(df)
    assert has_broadcast_join(df), s
    assert "CartesianProduct" not in s or "BroadcastNestedLoopJoin" in s, s


def test_allpairs_candidate_join_carries_ids_only(spark, sf_dir):
    """No text column in any exchange: candidates and verification carry
    (doc_id, term/ids) rows only; no cartesian product, no Python."""
    import __spark_entry__ as em
    from aira_spark.operators.allpairs import allpairs_cosine

    df = allpairs_cosine(
        em._docs_with_dups(spark, sf_dir).select("doc_id", "text")
    )
    s = plan_string(df)
    assert "CartesianProduct" not in s, s
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    for line in s.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line, line


def test_gap_fill_and_twa_single_entity_exchange_class(spark, sf_dir):
    """Entity-keyed windows only: no broadcast of the big side needed, no
    Python, no cartesian; the dense grid comes from Generate (sequence
    explode), never a join against a generated calendar table."""
    from aira_spark.operators.gapfill import gap_fill_hourly, twa_locf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    for df in (gap_fill_hourly(ev), twa_locf(ev)):
        s = plan_string(df)
        assert "CartesianProduct" not in s, s
        assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s, s
    assert "Generate" in plan_string(gap_fill_hourly(ev))


def _py4j_calls(spark, build) -> int:
    """py4j commands sent while `build()` runs, not counting the
    memory-release commands Python's garbage collector interleaves."""
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    n = 0

    def counting(command, *args, **kwargs):
        nonlocal n
        n += not command.startswith("m\nd\n")
        return send(command, *args, **kwargs)

    client.send_command = counting
    try:
        build()
    finally:
        del client.send_command
    return n


def test_spatial_join_plans_build_in_few_py4j_calls(spark, sf_dir):
    """Building the spatial-join plans (q_knn includes its internal count)
    stays within a py4j budget: the geometry builders are SQL text behind one
    F.expr each, and the session turns off PySpark's per-call origin capture
    (~10 round trips per Column call). Bounds are the counts at the time of
    writing plus ~20%; per-node Column building costs thousands."""
    import __spark_entry__ as em

    budgets = {"q_pip": 435, "q_knn": 1090, "q_within_distance": 440}
    for q, budget in budgets.items():
        n = _py4j_calls(spark, lambda: getattr(em, q)(spark, sf_dir))
        assert n <= budget, f"{q}: {n} py4j calls > {budget}"


def test_decode_path_plans_build_in_few_py4j_calls(spark, sf_dir):
    """Building the decode-path plans stays within a py4j budget: chunk_rect,
    the window's per-axis chunk selection and the footprint are SQL text
    behind one where and one selectExpr per builder, not chains of
    withColumn calls that each re-analyse a plan carrying the meta struct.
    Bounds are the counts at the time of writing plus ~20%."""
    import __spark_entry__ as em
    from aira_spark.operators.chunks import cell_cover, chunks_df, with_meta
    from aira_spark.operators.window_read import window_read

    images = em._images(spark, sf_dir)
    budgets = {
        "window_read": (lambda: window_read(with_meta(images), *em._WIN), 90),
        "chunks_df": (lambda: chunks_df(with_meta(images)), 50),
        "cell_cover": (lambda: cell_cover(with_meta(images)), 48),
    }
    for name, (build, budget) in budgets.items():
        build()
        n = _py4j_calls(spark, build)
        assert n <= budget, f"{name}: {n} py4j calls > {budget}"


def _column_chain_calls(source: str) -> list[tuple[int, str]]:
    """(line, what) of every withColumn call and every Column-API
    F.filter / F.sequence call in `source`."""
    hits = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            name, owner = node.func.attr, getattr(node.func.value, "id", None)
            if name.startswith("withColumn") or (owner == "F" and name in ("filter", "sequence")):
                hits.append((node.lineno, name))
    return hits


def test_column_chain_guard_sees_each_spelling():
    src = (
        "df.withColumn('a', x)\n"
        "df.withColumns({'a': x})\n"
        "F.filter(F.sequence(F.lit(0), n), hit)\n"
        "df.selectExpr('filter(sequence(0, n), wr_c -> wr_c > 0)').where('a')\n"
    )
    assert _column_chain_calls(src) == [
        (1, "withColumn"), (2, "withColumns"), (3, "filter"), (3, "sequence")
    ]


def test_decode_path_builders_are_sql_text():
    """The decode-path builders (chunk enumeration, footprint, cell cover and
    the window's chunk selection) build their plans as SQL text: no
    withColumn chain and no Column-API lambda over a chunk sequence."""
    root = pathlib.Path(__file__).resolve().parent.parent / "aira_spark" / "operators"
    hits = {
        name: _column_chain_calls((root / name).read_text())
        for name in ("chunks.py", "window_read.py")
    }
    assert hits == {"chunks.py": [], "window_read.py": []}, hits


def test_spatial_joins_run_within_job_and_task_budget(spark, sf_dir, count_work):
    """A warm q_pip / q_knn / q_within_distance launches no schema-inference
    job (each table file's schema is inferred once per session), and the
    session lets AQE coalesce the shuffle output of kNN's persisted frames
    (without it every cached partition is a task). Bounds are the counts at
    the time of writing plus ~20%."""
    import __spark_entry__ as em

    budgets = {"q_pip": (2, 22), "q_knn": (15, 68), "q_within_distance": (3, 43)}
    for q, (max_jobs, max_tasks) in budgets.items():
        run = lambda: getattr(em, q)(spark, sf_dir).collect()  # noqa: E731
        run()
        jobs, tasks = count_work(run)
        assert jobs <= max_jobs, f"{q}: {jobs} jobs > {max_jobs}"
        assert tasks <= max_tasks, f"{q}: {tasks} tasks > {max_tasks}"


def test_round_loops_read_their_stop_value_inside_the_checkpoint_job(
    spark, sf_dir, count_work
):
    """A warm call of each early-stopping round loop runs no probe job of
    its own: the stop value (basins' changed count, flow_acc's and
    strahler's sparse totals, k_core's dropped count, dedup's edge count)
    is observed inside the eager checkpoint each round already runs. The
    bounds are the counts at the time of writing, with no slack: one
    probe job per round coming back exceeds them."""
    import __spark_entry__ as em

    budgets = {
        "q_basins": 17, "q_flow_acc": 28, "q_strahler": 21,
        "q_k_core": 10, "q_dedup_clusters": 13,
    }
    for q, max_jobs in budgets.items():
        run = lambda: getattr(em, q)(spark, sf_dir).collect()  # noqa: E731
        run()
        jobs, _ = count_work(run)
        assert jobs <= max_jobs, f"{q}: {jobs} jobs > {max_jobs}"
