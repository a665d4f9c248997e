"""Deduplication operators over the documents table (training-data pipeline).

Exact (hash groupBy), MinHash+LSH (shingle -> minhash -> band bucket ->
bucket self-join -> exact-Jaccard verify), SimHash, and n-gram Jaccard.
All expression logic comes from functions/textfns.py snippets so the DuckDB
oracle evaluates the identical formulas.

Scale shape: LSH candidate generation is an equi-join on band buckets (hash
shuffle on a ~uniform 60-bit key — no skew), verification touches only
candidate pairs; nothing is ever pairwise over the full corpus.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as Ty
from pyspark.sql.pandas.functions import pandas_udf

from ..functions import textfns as tf
from .fixpoint import checkpoint_probe, fixpoint
from .skew import key_bound

ENG = "spark"


def with_duplicates(docs: DataFrame) -> DataFrame:
    """Deterministic near/exact duplicate injection (the driver corpus has no
    dups): every doc_id % 7 == 0 gains an exact copy (id + 1_000_000) and every
    doc_id % 11 == 0 a near-copy with a few words appended (id + 2_000_000)."""
    exact = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000))
    )
    near = (
        docs.filter(F.col("doc_id") % 11 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(2_000_000))
        .withColumn("text", F.concat(F.col("text"), F.lit(" appended near dup tail")))
    )
    return docs.unionByName(exact).unionByName(near)


def exact_dedup(docs: DataFrame) -> DataFrame:
    """(text_hash, n_dups, keeper_id): exact content dedup via hash groupBy."""
    return (
        docs.selectExpr("doc_id", "md5(text) AS text_hash")
        .groupBy("text_hash")
        .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keeper_id"))
    )


def minhash_signatures(docs: DataFrame, k: int = 3, n_hash: int = 8) -> DataFrame:
    """(doc_id, shingles, mh0..mh{n-1}): word k-gram shingles + affine
    MinHash family, evaluated in an Arrow UDF computing the EXACT integer
    formulas of textfns (h64 = first 15 md5 hex digits; minhash_i = min of
    (a_i * (h64 mod p) + b_i) mod p). The SQL expression form survives as
    the DuckDB oracle; values are bit-identical (pinned by the
    dedup_minhash/dedup_clusters oracles and the SQL-vs-UDF pytest). The
    interpreted transform(md5->conv->substr) chain per shingle was the
    dominant cost of the LSH pipeline (~2x at bench scale)."""
    names = ["shingles"] + [f"mh{i}" for i in range(n_hash)]
    schema = Ty.StructType(
        [Ty.StructField("shingles", Ty.ArrayType(Ty.StringType()))]
        + [Ty.StructField(f"mh{i}", Ty.LongType()) for i in range(n_hash)]
    )
    P = tf.MH_P
    AB = [
        (tf.MH_A[i % len(tf.MH_A)], tf.MH_B[i % len(tf.MH_B)])
        for i in range(n_hash)
    ]

    @pandas_udf(schema)
    def sig(texts: pd.Series) -> pd.DataFrame:
        rows = []
        empty = ([],) + (None,) * n_hash
        null_row = (None,) * (n_hash + 1)
        for t in texts:
            if t is None:
                # SQL form: size(NULL) is NULL -> if() takes the else branch
                # -> transform over a NULL sequence -> NULL shingles (NOT
                # array()); minhash over NULL -> NULL
                rows.append(null_row)
                continue
            ws = t.split(" ")  # matches SQL split(text, ' ') incl. empties
            if len(ws) < k:
                rows.append(empty)  # SQL: if(size(ws) < k, array(), ...)
                continue
            sh = [" ".join(ws[j : j + k]) for j in range(len(ws) - k + 1)]
            hs = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16) % P
                    for s in sh
                ),
                dtype=np.int64,
                count=len(sh),
            )
            # a < 1024 keeps a * h < 2^63: the affine pass stays in int64
            rows.append((sh, *(int(((a * hs + b) % P).min()) for a, b in AB)))
        return pd.DataFrame(rows, columns=names)

    # nondeterministic marker blocks project-collapse re-evaluation; the
    # struct is materialized once, then its fields are plain projections
    sig_nd = sig.asNondeterministic()
    t = docs.select("doc_id", sig_nd(F.col("text")).alias("s"))
    return t.select("doc_id", *[F.col(f"s.{n}").alias(n) for n in names])


def minhash_lsh_pairs(
    docs: DataFrame, k: int = 3, n_hash: int = 8, band_size: int = 2,
    threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs (doc_a < doc_b, jaccard >= threshold).

    Bands of band_size minhashes hash to a bucket; docs sharing any band
    bucket become candidates; candidates are verified with exact Jaccard over
    distinct shingle sets.
    """
    # persist: the signature chain feeds the band explode + two verify-join
    # scans; recomputing the md5 minhashes each time is the dominant cost.
    # CACHE LIFECYCLE: like Spark's own .cache(), the caller owns the
    # handle's lifetime (the returned frame is lazy, so unpersisting here
    # would defeat the multi-consumer reuse) — one-shot jobs let the app
    # teardown release it; a long-lived service should spark.catalog
    # .clearCache() between corpus generations (the knn_join cleanup
    # lesson: an eager checkpoint-then-release default measured ~60%
    # slower on repeated invocations)
    sigs = minhash_signatures(docs, k, n_hash).filter(F.size("shingles") > 0).persist()
    n_bands = n_hash // band_size

    # candidate generation shuffles ONLY (band, bucket, doc_id) — never the
    # shingle arrays. One posexplode row per band instead of an n_bands-way
    # union, so the signature table is scanned once.
    buckets = [
        F.expr(
            tf.h64(
                " || '_' || ".join(
                    f"CAST(mh{b * band_size + j} AS STRING)" for j in range(band_size)
                ),
                ENG,
            )
        )
        for b in range(n_bands)
    ]
    banded = sigs.select(
        "doc_id", F.posexplode(F.array(*buckets)).alias("band", "bucket")
    )
    cand = (
        banded.alias("a")
        .join(banded.alias("b"), ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    # verify: re-attach shingles per side (shuffle keyed on doc_id carries each
    # array once per candidate side, not once per band per join side)
    sh = sigs.select("doc_id", "shingles")
    cand = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")), "doc_b")
    )
    jac = F.expr(tf.jaccard_words("sh_a", "sh_b", ENG))
    return (
        cand.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _clusters_local(edges: DataFrame) -> DataFrame:
    """Driver-local union-find over a bounded (a, b) edge frame — identical
    (doc_id, cluster_id = min member, cluster_size) labels to the
    distributed loop, in one collect + one createDataFrame."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    members: dict = {}
    for node in parent:
        members.setdefault(find(node), []).append(node)
    rows = [
        (node, min(group), len(group))
        for group in members.values()
        for node in group
    ]
    id_type = edges.schema["a"].dataType.simpleString()
    return edges.sparkSession.createDataFrame(
        rows, f"doc_id {id_type}, cluster_id {id_type}, cluster_size long"
    ).localCheckpoint()


def duplicate_clusters(
    pairs: DataFrame,
    max_iters: int = 50,
    jump_after: int = 6,
    local_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over duplicate pairs -> (doc_id, cluster_id,
    cluster_size); cluster_id = the minimum doc_id reachable (the keeper).

    Two paths, same labels either way:

    - **small graphs** (<= `local_threshold` directed edge rows after the
      dedup — known for free from the eager checkpoint): driver-local
      union-find. A 2M-row collect is the bounded-sample device the IVF
      centroid trainer already uses (similarity.py); a synchronous
      DataFrame round costs ~0.5-2s of pure scheduling on ANY cluster, so
      a 28-round loop over an 8k-edge graph spends 40s computing what
      union-find finishes in milliseconds. The cutoff is an executor/driver
      memory bound, not a semantics switch.
    - **large graphs**: iterative minimum-label propagation with ADAPTIVE
      POINTER JUMPING, entirely in DataFrames: each round every node takes
      the min of (its own label, its neighbors' labels) — and, once the
      graph has survived `jump_after` hop-only rounds without converging,
      additionally the CURRENT round's label of its label (jumping through
      the fresh generation doubles the propagated distance per round; the
      stale generation only adds it). Total rounds O(jump_after +
      log diameter); near-clique LSH duplicate graphs (diameter 2-3)
      converge before the jump ever runs and never pay its extra join.
      Each round shuffles (node, label) pairs only; at 10^12 scale this is
      the standard large-graph CC pattern (no driver-side graph). The
      rounds run on `fixpoint`, with `max_iters` its loud bound.
    """
    # localCheckpoint (not persist): edges appear in EVERY round's plan copy,
    # and the label plan doubles per round (labels joined twice) — truncating
    # the upstream lineage (the whole LSH pipeline) here keeps each copy tiny
    edges, n_edges = checkpoint_probe(
        pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
        .unionByName(pairs.select(F.col("doc_b").alias("a"), F.col("doc_a").alias("b")))
        .distinct(),
        "count(*)",
    )
    if n_edges <= local_threshold:
        return _clusters_local(edges)

    def propagate(labels: DataFrame, rnd: int) -> DataFrame:
        neighbor_min = (
            edges.join(labels, edges["b"] == labels["node"])
            .groupBy(F.col("a").alias("node2"))
            .agg(F.min("label").alias("nmin"))
        )
        hop = (
            labels.join(neighbor_min, labels["node"] == neighbor_min["node2"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias(
                    "l1"
                ),
            )
        )
        if rnd < jump_after:
            return hop.select("node", F.col("l1").alias("label"))
        # pointer jump THROUGH THE FRESH GENERATION: l1 is always a node
        # id in the same component (labels start as self and only take
        # mins of component node ids), so l1-of-l1 is defined for every
        # row, and because l1 already encodes this round's propagation,
        # min(l1, l1[l1]) DOUBLES the distance per round (jumping via
        # the previous generation — labels — only adds it; measured 28
        # rounds vs ~12 on the sf0.1 grid-snake graph). Left join for
        # the self-label rows (l1(l1) == l1 — coalesce is a no-op).
        # localCheckpoint, NOT persist: new_labels references hop TWICE
        # and hop references labels twice — without truncation the plan
        # tree grows 4x per jump round and the optimizer stalls long
        # before the every-5-rounds cadence fires.
        hop = hop.localCheckpoint(eager=True)
        jump = hop.select(
            F.col("node").alias("jnode"), F.col("l1").alias("jlabel")
        )
        return hop.join(jump, hop["l1"] == jump["jnode"], "left").select(
            "node",
            F.least(F.col("l1"), F.coalesce(F.col("jlabel"), F.col("l1"))).alias(
                "label"
            ),
        )

    # Convergence: min-label propagation is MONOTONE (a node's label never
    # increases), so it has converged exactly when the label total repeats;
    # DECIMAL(38,0) keeps the total exact far past any real graph. Cadence:
    # persist() does not truncate the label plan, which doubles per hop
    # round and triples per jump round (a few untruncated rounds grow a tree
    # whose AQE explain string alone OOMs the driver), so every 5th round is
    # checkpointed (<= 3^5 copies of a truncated leaf; 5 measured cheaper
    # than 3). Checkpointing every round is slower: each round's run time
    # doubles from about round 18 on a 3,000-node path graph.
    labels = fixpoint(
        edges.select(F.col("a").alias("node")).distinct()
        .withColumn("label", F.col("node")),
        propagate, "sum(CAST(label AS DECIMAL(38,0)))",
        max_rounds=max_iters, name="duplicate_clusters", bound="max_iters",
        until="repeat", checkpoint_every=5,
    )
    sizes = labels.groupBy("label").agg(F.count("*").alias("cluster_size"))
    out = labels.join(sizes, "label").select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        "cluster_size",
    # localCheckpoint materializes the result so the loop's persisted label
    # generations can be released before returning. Note: unpersist() only
    # frees persist()-ed frames; checkpoint blocks (edges + every 5th label
    # generation) are owned by their RDDs and reclaimed by the ContextCleaner
    # once those go out of scope — bounded at ~|nodes| x (1 + rounds/5) rows.
    ).localCheckpoint()
    labels.unpersist()
    return out


def simhash_table(docs: DataFrame, n_bits: int = 16) -> DataFrame:
    """(doc_id, simhash): n_bits-wide SimHash over word tokens.

    Evaluates the EXACT integer recurrence of textfns.simhash (bit b set iff
    the sign-sum over md5-prefix word hashes is positive) in an Arrow UDF:
    one (n_words x n_bits) reduction per doc instead of n_bits interpreted
    aggregate() passes in Spark's expression tree (~6x at n_bits=64 — the
    round-2 bench's slowest query). The DuckDB oracle keeps the SQL form;
    bit-equality is pinned by the driver's simhash/simhash_pairs hash checks
    and by the Spark-SQL-vs-UDF pytest."""
    bit_idx = np.arange(n_bits, dtype=np.uint64)

    @pandas_udf(Ty.LongType())
    def sh(texts: pd.Series) -> pd.Series:
        out: list[int | None] = [None] * len(texts)
        for i, t in enumerate(texts):
            if t is None:
                # the SQL form yields 0 for NULL text (every per-bit CASE
                # falls to ELSE 0 when the aggregate over NULL is NULL) —
                # match it exactly rather than crash or emit NULL
                out[i] = 0
                continue
            ws = t.split(" ")  # matches SQL split(text, ' ') incl. empties
            hs = np.fromiter(
                (
                    int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                    for w in ws
                ),
                dtype=np.uint64,
                count=len(ws),
            )
            sums = (2 * ((hs[:, None] >> bit_idx) & 1).astype(np.int64) - 1).sum(
                axis=0
            )
            val = int(((np.uint64(1) << bit_idx)[sums > 0]).sum())
            out[i] = val - (1 << 64) if val >= (1 << 63) else val
        return pd.Series(out, dtype="object").astype("Int64")

    return docs.select("doc_id", sh(F.col("text")).alias("simhash"))


def hamming_dup_pairs(
    t: DataFrame, id_col: str, hash_col: str, n_bits: int, max_hamming: int,
) -> DataFrame:
    """ALL (id_a < id_b) pairs whose int64 fingerprints are within
    max_hamming Hamming distance — recall 1.0, over ANY hash column
    (SimHash text fingerprints, perceptual image hashes, ...).

    Pigeonhole multi-band blocking (Manku et al., WWW'07 fingerprint dedup):
    the hash splits into max_hamming + 1 disjoint bit bands, so a pair within
    the Hamming budget has all its differing bits confined to at most
    max_hamming bands and must agree EXACTLY on at least one band. Candidate
    generation is one posexplode + equi-join on (band, band_value) — the same
    shape as the MinHash band join above, never all-pairs — and the exact
    popcount verify runs on candidates only.

    Scale note: candidate volume within a band bucket is ~n^2 / 2^band_bits;
    at 10^9+ rows use n_bits=64 (21-bit bands), exactly as Manku et al. run
    64-bit fingerprints; same plan, pinned by pytest.

    Output columns: (id_a, id_b, hamming) named after id_col.
    """
    n_bands = max_hamming + 1
    bounds = [round(i * n_bits / n_bands) for i in range(n_bands + 1)]
    # a full-width band (max_hamming=0 with n_bits=64) needs the all-ones
    # mask, which does not fit a positive long literal — two's-complement -1
    # is the same 64-bit pattern and keeps the literal LongType
    bands = F.array(
        *[
            F.shiftrightunsigned(F.col(hash_col), lo).bitwiseAND(
                F.lit(((1 << (hi - lo)) - 1) if hi - lo < 64 else -1).cast("long")
            )
            for lo, hi in zip(bounds, bounds[1:])
        ]
    )
    banded = t.select(
        F.col(id_col).alias("_id"),
        F.col(hash_col).alias("_h"),
        F.posexplode(bands).alias("band", "bval"),
    )
    ia, ib = f"{id_col}_a", f"{id_col}_b"
    a = banded.select("band", "bval", F.col("_id").alias(ia), F.col("_h").alias("sh_a"))
    b = banded.select("band", "bval", F.col("_id").alias(ib), F.col("_h").alias("sh_b"))
    return (
        a.join(b, ["band", "bval"])
        .filter(F.col(ia) < F.col(ib))
        .select(ia, ib, "sh_a", "sh_b")
        .dropDuplicates([ia, ib])
        .withColumn("hamming", F.expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(ia, ib, "hamming")
    )


def simhash_dup_pairs(docs: DataFrame, n_bits: int = 16, max_hamming: int = 2) -> DataFrame:
    """ALL doc pairs whose SimHash Hamming distance <= max_hamming — the
    pigeonhole-band blocking of hamming_dup_pairs over simhash_table.

    The 16-bit default (5-6 bit bands) is for oracle-scale corpora only —
    at scale run n_bits=64 as the driver query does."""
    t = simhash_table(docs, n_bits)
    pairs = hamming_dup_pairs(t, "doc_id", "simhash", n_bits, max_hamming)
    return pairs.select(
        F.col("doc_id_a").alias("doc_a"), F.col("doc_id_b").alias("doc_b"), "hamming"
    )


def phash_dup_pairs(images: DataFrame, max_hamming: int = 2) -> DataFrame:
    """Image-level near-duplicate pairs on the mandated `phash` column
    (BASELINE.json input_hint: phash int64 per image): all image-id pairs
    whose perceptual fingerprints are within max_hamming bits — the core
    image-dedup op of a multimodal training-data pipeline, as the same
    pigeonhole band join (64-bit fingerprints, recall 1.0; pixels/bytes
    never shuffle — only (band, bval, image_id))."""
    t = images.select("image_id", "phash")
    pairs = hamming_dup_pairs(t, "image_id", "phash", 64, max_hamming)
    return pairs.select(
        F.col("image_id_a").alias("img_a"), F.col("image_id_b").alias("img_b"), "hamming"
    )


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.3,
    max_block: int = 100_000,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within (lang, source) blocks — the
    non-probabilistic baseline the LSH path approximates.

    Within-block comparison is inherently quadratic, so blocks are guarded:
    if any (lang, source) block exceeds max_block rows the operator raises
    loudly instead of silently launching an O(n^2) join (at corpus scale a
    single (en, web) block is most of the table). Route oversized corpora
    through minhash_lsh_pairs and keep this as the exact verifier.
    """
    sh = tf.shingles("text", k, ENG)
    d = docs.selectExpr("doc_id", "lang", "source", f"{sh} AS sh")
    # NULL-keyed rows never join (equi-join drops NULL keys), so an
    # oversized NULL block is harmless — exclude it from the guard or the
    # operator refuses an input it would process cheaply
    key_bound(
        docs.where("lang IS NOT NULL AND source IS NOT NULL"),
        ["lang", "source"], max_block, "ngram_jaccard_pairs", "max_block",
        "all-pairs within it would be quadratic — use minhash_lsh_pairs "
        "for candidate generation instead",
    )
    a = d.select("lang", "source", F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = d.select("lang", "source", F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.expr(tf.jaccard_words("sh_a", "sh_b", ENG))
    return (
        a.join(b, ["lang", "source"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def cross_modal_dup_pairs(
    images: DataFrame, max_hamming: int = 2, max_caption_group: int = 10_000
) -> DataFrame:
    """(img_a, img_b, hamming, same_caption, verdict): joint image+text
    duplicate detection over the mandated (bytes, caption, phash) rows — the
    multimodal curation gate. A pair is flagged when its IMAGES are
    near-identical (phash Hamming <= max_hamming via the pigeonhole band
    join), when its CAPTIONS are byte-equal (md5 equi-join), or both;
    `verdict` says which signals fired ('both' | 'image_only' |
    'caption_only'), the decision a text-image pipeline needs to separate
    re-captioned crawl copies from coincidental caption collisions.

    Scale shape: both arms are equi-joins (band buckets / caption hash);
    bytes and pixels never shuffle. Caption groups are guarded like
    ngram_jaccard blocks: a group larger than max_caption_group raises
    loudly instead of going quadratic (at web scale boilerplate captions —
    'stock photo' — must be routed to a frequency filter first)."""
    img_pairs = phash_dup_pairs(images, max_hamming)
    cap = images.selectExpr("image_id", "md5(caption) AS ch")
    key_bound(
        cap, ["ch"], max_caption_group, "cross_modal_dup_pairs",
        "max_caption_group",
        "frequency-filter boilerplate captions before pairwise comparison",
    )
    a, b = cap.alias("a"), cap.alias("b")
    cap_pairs = (
        a.join(b, "ch")
        .filter(F.col("a.image_id") < F.col("b.image_id"))
        .select(
            F.col("a.image_id").alias("img_a"),
            F.col("b.image_id").alias("img_b"),
            F.lit(True).alias("same_caption"),
        )
    )
    joined = img_pairs.join(cap_pairs, ["img_a", "img_b"], "full")
    return joined.select(
        "img_a", "img_b",
        F.col("hamming").cast("long").alias("hamming"),
        F.coalesce("same_caption", F.lit(False)).alias("same_caption"),
        F.expr(
            "CASE WHEN hamming IS NOT NULL AND same_caption THEN 'both' "
            "WHEN hamming IS NOT NULL THEN 'image_only' "
            "ELSE 'caption_only' END"
        ).alias("verdict"),
    )


def containment_pairs(
    docs: DataFrame, k: int = 3, threshold_ppm: int = 800_000,
    max_gram_df: int = 10_000,
) -> DataFrame:
    """(doc_a, doc_b, n_shared, n_a, n_b, cont_ppm): ASYMMETRIC near-dup —
    containment of the smaller k-gram set in the larger, |A∩B| / min(|A|,
    |B|) in exact ppm. Catches quote-inclusion / appended-boilerplate dups
    whose symmetric Jaccard is diluted by the longer side (the classic
    "document plus a tail" case that ngram_jaccard_pairs under-scores).

    Scale shape: the INVERTED gram join — distinct (doc, gram) rows
    self-join on gram, so candidate work is Σ_g df(g)², concentrated
    exactly where text actually repeats, instead of the block-quadratic
    all-pairs. Hot grams (stopword shingles, boilerplate) are the skew
    risk: any gram with df > max_gram_df raises loudly BEFORE the join is
    scheduled (the ngram_jaccard guard device) — at corpus scale those
    grams should be stoplisted upstream, and silently dropping them here
    would corrupt the exact counts. Only (doc_id, gram-hash-sized strings)
    cross the exchanges; text never shuffles past the shingle projection."""
    sh = tf.shingles("text", k, ENG)
    g = (
        docs.selectExpr("doc_id", f"explode({sh}) AS gram")
        .distinct()
        .localCheckpoint(eager=True)  # reused 3x below (join x2 + counts)
    )
    key_bound(
        g, ["gram"], max_gram_df, "containment_pairs", "max_gram_df",
        "the gram join would be quadratic in its df — stoplist boilerplate "
        "grams upstream or raise the guard for bounded inputs",
    )
    n = g.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_grams"))
    shared = (
        g.select(F.col("doc_id").alias("doc_a"), "gram")
        .join(g.select(F.col("doc_id").alias("doc_b"), "gram"), "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        shared.join(n.selectExpr("doc_id AS doc_a", "n_grams AS n_a"), "doc_a")
        .join(n.selectExpr("doc_id AS doc_b", "n_grams AS n_b"), "doc_b")
        .withColumn(
            "cont_ppm",
            F.expr("(n_shared * 1000000) DIV least(n_a, n_b)").cast("long"),
        )
        .filter(F.col("cont_ppm") >= threshold_ppm)
        .select("doc_a", "doc_b", "n_shared", "n_a", "n_b", "cont_ppm")
    )


def oracle_containment_sql(
    docs_cte: str, k: int = 3, threshold_ppm: int = 800_000
) -> str:
    """DuckDB mirror over a CTE `docs(doc_id, text)`."""
    sh = tf.shingles("text", k, "duck")
    return f"""
WITH {docs_cte},
g AS (SELECT DISTINCT doc_id, unnest({sh}) AS gram FROM docs),
n AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g GROUP BY 1),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(COUNT(*) AS BIGINT) AS n_shared
  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT s.doc_a, s.doc_b, s.n_shared,
       na.n_grams AS n_a, nb.n_grams AS n_b,
       CAST((s.n_shared * 1000000) // LEAST(na.n_grams, nb.n_grams) AS BIGINT) AS cont_ppm
FROM shared s
JOIN n na ON na.doc_id = s.doc_a
JOIN n nb ON nb.doc_id = s.doc_b
WHERE (s.n_shared * 1000000) // LEAST(na.n_grams, nb.n_grams) >= {threshold_ppm}
"""
