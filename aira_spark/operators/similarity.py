"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline (JVM-side zip_with/aggregate —
no Python), and an LSH-bucketed approximate path for scale: random-hyperplane
signatures computed in a vectorized Arrow UDF, candidates restricted to
matching buckets, exact re-rank inside buckets only.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as Ty


QUANT_SCALE = 1024  # matches functions/lshfns.py and the driver's _QUANT


def _qint(a):
    """Quantized int64 embedding: round(x * 1024) — idempotent over the
    1/1024-quantized inputs the driver queries use (n/1024 is exact in
    binary, so round is exact; Spark HALF_UP vs numpy HALF_EVEN can only
    differ on non-quantized inputs)."""
    return F.transform(a, lambda x: F.round(x.cast("double") * QUANT_SCALE).cast("long"))


def _doti(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine(a, b):
    """Cosine as EXACT integer dot products over quantized embeddings, then
    three IEEE-correctly-rounded double ops in a pinned order:
    dab / sqrt(daa) / sqrt(dbb). The integer sums are order-independent
    (unlike a float fold), so the numpy form (cos_arrow) and the DuckDB
    oracle form produce BIT-IDENTICAL doubles — parity by arithmetic, not by
    matching expression text. |q| <= ~2^15 and dim 64 keep every sum far
    inside int64/2^53 exactness.

    Degenerate inputs are NULL BY DEFINITION across all three forms (here,
    cos_arrow, _duck_cos): a zero-norm side would otherwise be 0/0 = NaN,
    which Spark ranks FIRST under cos-desc while Arrow/DuckDB surface it as
    NULL (ranked last) — so the family pins NULL, which sorts last in every
    engine. Mismatched lengths already propagate NULL through zip_with."""
    qa, qb = _qint(a), _qint(b)
    dab, daa, dbb = _doti(qa, qb), _doti(qa, qa), _doti(qb, qb)
    return F.when(
        (daa > 0) & (dbb > 0),
        dab.cast("double") / F.sqrt(daa.cast("double")) / F.sqrt(dbb.cast("double")),
    )


@F.pandas_udf(Ty.DoubleType())
def cos_arrow(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized cosine computing the EXACT value of cosine() above (same
    integer dots, same double-op order) — used on the pair-wise re-rank hot
    paths where the interpreted higher-order-function form costs ~10x.

    Like cosine(), QUANTIZATION IS PART OF THE DEFINITION: inputs are snapped
    to the 1/1024 grid (a no-op for the already-quantized driver tables;
    callers with raw floats get the quantized cosine, within ~dim/2048/|v| of
    the raw value). Degenerate inputs are NULL by definition, matching
    cosine() and the DuckDB NULLIF form: NULL operands, a pair with
    mismatched lengths, or a zero-norm side all yield NULL (zero-norm NaN
    crosses Arrow as null) — NULL sorts last under the family's cos-desc
    rank windows in both engines.
    """
    av, bv = a.to_numpy(), b.to_numpy()
    n = len(av)
    la = np.fromiter(
        (len(x) if x is not None else -1 for x in av), dtype=np.int64, count=n
    )
    lb = np.fromiter(
        (len(x) if x is not None else -1 for x in bv), dtype=np.int64, count=n
    )
    valid = (la >= 0) & (la == lb)
    out = np.full(n, np.nan)
    # rows are grouped by dimension so np.stack never sees ragged input
    for d in np.unique(la[valid]):
        m = valid & (la == d)
        A = np.stack(av[m]).astype(np.float64)
        B = np.stack(bv[m]).astype(np.float64)
        # a NULL/NaN ELEMENT inside a vector must yield NULL like cosine()
        # and the oracle — np.rint(NaN).astype(int64) is INT64_MIN, whose
        # squares wrap to int64 garbage that produced a FINITE wrong cosine
        finite = np.isfinite(A).all(axis=1) & np.isfinite(B).all(axis=1)
        Q = np.rint(np.where(finite[:, None], A, 0.0) * QUANT_SCALE).astype(np.int64)
        R = np.rint(np.where(finite[:, None], B, 0.0) * QUANT_SCALE).astype(np.int64)
        dab = (Q * R).sum(axis=1)
        daa = (Q * Q).sum(axis=1)
        dbb = (R * R).sum(axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            res = dab.astype(np.float64) / np.sqrt(
                daa.astype(np.float64)
            ) / np.sqrt(dbb.astype(np.float64))
        res[~finite] = np.nan
        out[m] = res
    # NaN -> null through Arrow, so degenerate-in gives NULL-out like cosine()
    return pd.Series(out)


def cosine_topk(embeddings: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Exact top-k by cosine: (query_id, neighbor_id, rank, cos).

    queries: (query_id, qvec) — small, broadcast; embeddings never shuffle.
    Deterministic tie-break on (cos desc, neighbor_id).
    """
    e = embeddings.select(F.col("vec_id").alias("neighbor_id"),
                          F.col("embedding").alias("vec"))
    q = F.broadcast(queries.select("query_id", "qvec"))
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        e.crossJoin(q)
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", F.round(cos_arrow(F.col("vec"), F.col("qvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


SIG_SCHEMA = Ty.StructType(
    [
        Ty.StructField("vec_id", Ty.LongType()),
        Ty.StructField("table", Ty.IntegerType()),
        Ty.StructField("bucket", Ty.LongType()),
    ]
)


def _planes(n_planes: int, dim: int, table: int = 0) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (seeded per table; no Date/now)."""
    rng = np.random.default_rng(20240816 + table * 7919)
    return rng.standard_normal((n_planes, dim))


def lsh_signatures(
    embeddings: DataFrame, n_planes: int = 12, dim: int = 64, n_tables: int = 1
) -> DataFrame:
    """(vec_id, table, bucket): random-hyperplane signatures, one bucket per
    hash table. L independent tables OR-amplify recall: a candidate pair is
    joined if the signs agree in ANY table (standard LSH; collision prob
    1 - (1 - (1 - theta/pi)^m)^L). Vectorized: one matmul per Arrow batch."""
    all_planes = np.stack([_planes(n_planes, dim, t) for t in range(n_tables)])
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) > 0:
                # NULL / wrong-dim / non-finite vectors have no buckets
                # (dead-letter, like the NULL-cosine convention) — one such
                # row previously killed the whole job inside np.vstack
                emb = pdf["embedding"].to_numpy()
                ok = np.fromiter(
                    (x is not None and len(x) == dim for x in emb),
                    dtype=bool, count=len(emb),
                )
                pdf = pdf[ok]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=SIG_SCHEMA.fieldNames())
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            fin = np.isfinite(mat).all(axis=1)
            if not fin.all():
                pdf, mat = pdf[fin], mat[fin]
                if len(pdf) == 0:
                    yield pd.DataFrame(columns=SIG_SCHEMA.fieldNames())
                    continue
            frames = []
            for t in range(n_tables):
                bits = (mat @ all_planes[t].T) > 0
                buckets = bits.astype(np.int64) @ weights
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf["vec_id"].astype("int64"),
                            "table": np.int32(t),
                            "bucket": buckets,
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return embeddings.select("vec_id", "embedding").mapInPandas(fn, schema=SIG_SCHEMA)


def lsh_ann_topk(
    embeddings: DataFrame, k: int = 10, n_planes: int = 8, n_tables: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate all-pairs top-k: candidates share any (table, bucket); exact
    cosine re-rank over the deduped candidate set. The bucket join is an
    equi-join shuffle on a near-uniform key — the 10^12-scale path (vs brute
    force O(n^2)); n_tables trades shuffle volume for recall."""
    sigs = lsh_signatures(embeddings, n_planes, dim=dim, n_tables=n_tables)
    a = sigs.select("table", "bucket", F.col("vec_id").alias("query_id"))
    b = sigs.select("table", "bucket", F.col("vec_id").alias("neighbor_id"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    e = embeddings.select("vec_id", "embedding")
    cand = (
        cand.join(e.withColumnRenamed("vec_id", "query_id")
                   .withColumnRenamed("embedding", "qvec"), "query_id")
        .join(e.withColumnRenamed("vec_id", "neighbor_id")
               .withColumnRenamed("embedding", "vec"), "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("vec"), F.col("qvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def embedding_near_dup_pairs(embeddings: DataFrame, threshold: float = 0.95,
                             n_planes: int = 6, n_tables: int = 4,
                             dim: int = 64) -> DataFrame:
    """Near-duplicate embedding pairs (cos >= threshold) via LSH blocking.
    High-cosine pairs collide with probability ~(1 - theta/pi)^m per table;
    at threshold 0.95 (theta ~ 18deg) a 6-plane table catches ~53%, 4 tables
    ~95% — verification is exact so precision is 1.0 regardless."""
    sigs = lsh_signatures(embeddings, n_planes, dim=dim, n_tables=n_tables)
    a = sigs.select("table", "bucket", F.col("vec_id").alias("vec_a"))
    b = sigs.select("table", "bucket", F.col("vec_id").alias("vec_b"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    e = embeddings.select("vec_id", "embedding")
    cand = (
        cand.join(e.withColumnRenamed("vec_id", "vec_a")
                   .withColumnRenamed("embedding", "ea"), "vec_a")
        .join(e.withColumnRenamed("vec_id", "vec_b")
               .withColumnRenamed("embedding", "eb"), "vec_b")
    )
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


# ------------------------------------------------ SQL-exact LSH variants
#
# Same bucketed plan as the numpy paths above, but the signatures are computed
# as JVM column expressions over integer-quantized embeddings with closed-form
# integer plane weights (functions/lshfns.py) — exactly reproducible by the
# DuckDB oracle, and Python-free (whole-stage codegen instead of Arrow
# transfer), which is the preferable physical form anyway.


def lsh_signatures_sql(
    embeddings: DataFrame, n_planes: int = 6, dim: int = 64, n_tables: int = 4
) -> DataFrame:
    """(vec_id, table, bucket) via exact integer sign-hash signatures."""
    from ..functions import lshfns as lf

    qe = lf.qemb("embedding", "spark")
    buckets = ", ".join(
        lf.bucket("qe", t, n_planes, dim, "spark") for t in range(n_tables)
    )
    return (
        embeddings.selectExpr("vec_id", f"{qe} AS qe")
        .selectExpr("vec_id", f"posexplode(array({buckets})) AS (table, bucket)")
    )


def lsh_ann_topk_sql(
    embeddings: DataFrame, k: int = 10, n_planes: int = 6, n_tables: int = 4,
    dim: int = 64,
) -> DataFrame:
    """lsh_ann_topk with SQL-exact signatures (oracle-backed): candidates
    share any (table, bucket); exact cosine re-rank over the deduped set."""
    sigs = lsh_signatures_sql(embeddings, n_planes, dim, n_tables)
    a = sigs.select("table", "bucket", F.col("vec_id").alias("query_id"))
    b = sigs.select("table", "bucket", F.col("vec_id").alias("neighbor_id"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    e = embeddings.select("vec_id", "embedding")
    cand = (
        cand.join(e.withColumnRenamed("vec_id", "query_id")
                   .withColumnRenamed("embedding", "qvec"), "query_id")
        .join(e.withColumnRenamed("vec_id", "neighbor_id")
               .withColumnRenamed("embedding", "vec"), "neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("vec"), F.col("qvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def embedding_near_dup_pairs_sql(
    embeddings: DataFrame, threshold: float = 0.95,
    n_planes: int = 6, n_tables: int = 4, dim: int = 64,
) -> DataFrame:
    """embedding_near_dup_pairs with SQL-exact signatures (oracle-backed)."""
    sigs = lsh_signatures_sql(embeddings, n_planes, dim, n_tables)
    a = sigs.select("table", "bucket", F.col("vec_id").alias("vec_a"))
    b = sigs.select("table", "bucket", F.col("vec_id").alias("vec_b"))
    cand = (
        a.join(b, ["table", "bucket"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .dropDuplicates(["vec_a", "vec_b"])
    )
    e = embeddings.select("vec_id", "embedding")
    cand = (
        cand.join(e.withColumnRenamed("vec_id", "vec_a")
                   .withColumnRenamed("embedding", "ea"), "vec_a")
        .join(e.withColumnRenamed("vec_id", "vec_b")
               .withColumnRenamed("embedding", "eb"), "vec_b")
    )
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


# ---------------------------------------------------------------- IVF ANN

IVF_ASSIGN_SCHEMA = Ty.StructType(
    [
        Ty.StructField("vec_id", Ty.LongType()),
        Ty.StructField("centroid_id", Ty.IntegerType()),
    ]
)


def ivf_train_centroids(
    embeddings: DataFrame, n_centroids: int = 16, iters: int = 5,
    sample_rows: int = 4096, dim: int = 64,
) -> np.ndarray:
    """Deterministic driver-side k-means over a bounded sample.

    Scale shape: centroid training reads O(sample_rows) no matter the table
    size (at 10^12 rows the sample is a tiny scan + limit); the expensive
    part — assignment — stays distributed."""
    sample = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(sample_rows)
        .toPandas()
    )
    vv = sample["embedding"].to_numpy()
    ok = np.fromiter(
        (x is not None and len(x) == dim for x in vv), dtype=bool, count=len(vv)
    )
    if not ok.any():
        raise ValueError(
            f"ivf_train_centroids: none of the {len(vv)} sampled embeddings is a "
            f"non-NULL {dim}-dim vector; cannot train centroids"
        )
    sample = sample[ok]  # a NULL/wrong-dim sample row would crash vstack
    mat = np.vstack(sample["embedding"].to_numpy()).astype(np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(20240817)
    cents = mat[rng.choice(len(mat), size=min(n_centroids, len(mat)), replace=False)]
    for _ in range(iters):
        sims = mat @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = mat[assign == c]
            if len(members):
                m = members.mean(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents


def ivf_assign(embeddings: DataFrame, centroids: np.ndarray) -> DataFrame:
    """(vec_id, centroid_id): nearest-centroid assignment, one matmul per
    Arrow batch (the centroid matrix ships in the task closure)."""
    cents = centroids.copy()

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dim = cents.shape[1]
        for pdf in batches:
            if len(pdf) > 0:
                # NULL/wrong-dim vectors get no assignment (dead-letter,
                # like lsh_signatures) instead of crashing np.vstack
                vv = pdf["embedding"].to_numpy()
                ok = np.fromiter(
                    (x is not None and len(x) == dim for x in vv),
                    dtype=bool, count=len(vv),
                )
                pdf = pdf[ok]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=IVF_ASSIGN_SCHEMA.fieldNames())
                continue
            mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].astype("int64"),
                    "centroid_id": (mat @ cents.T).argmax(axis=1).astype("int32"),
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        fn, schema=IVF_ASSIGN_SCHEMA
    )


def seeded_centroid_rows(
    embeddings: DataFrame, n_centroids: int
) -> list[tuple[int, list[float]]]:
    """Deterministic seed centroids: the n_centroids lowest vec_ids, indexed
    in vec_id order — a metadata-sized collect (the DuckDB-expressible
    alternative to Lloyd training, shared by IVF ANN and semantic dedup)."""
    seeds = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(n_centroids)
        .collect()
    )
    return [
        (c, [float(v) for v in r.embedding])
        for c, r in enumerate(sorted(seeds, key=lambda r: r.vec_id))
    ]


def seeded_assign_udf(cent_rows: list[tuple[int, list[float]]]):
    """Vectorized nearest-centroid assignment UDF over literal centroids.

    A PURE MAP: one Arrow pass computes every centroid cosine per vector
    (int64 quantized matmul — bit-identical doubles to cosine()/_duck_cos)
    and the argmax with lowest-index tie-break; the embedding table is never
    shuffled. Rounding to 6dp replicates Spark/DuckDB ROUND exactly:
    BigDecimal-on-shortest-repr HALF_UP == Decimal(repr(x)) HALF_UP, and the
    exact-Decimal arbitration runs only on near-ties (<= 2e-6 gap), so
    ranking equals the oracle's ROUND-then-rank to the bit. NULL,
    wrong-length, or zero-norm vectors get NULL assignments (dropped by any
    downstream equi-join), matching the oracle's NULLIF cosine; zero-norm
    CENTROIDS score -inf (the oracle's NULL never wins list_max)."""
    from decimal import ROUND_HALF_UP, Decimal

    qc_mat = np.array(
        [[round(v * QUANT_SCALE) for v in vec] for _, vec in cent_rows],
        dtype=np.int64,
    )
    sqrt_dcc = np.sqrt((qc_mat * qc_mat).sum(axis=1).astype(np.float64))
    q6 = Decimal("0.000001")

    @F.pandas_udf(Ty.IntegerType())
    def assign_udf(vecs: pd.Series) -> pd.Series:
        vv = vecs.to_numpy()
        dim = qc_mat.shape[1]
        valid = np.fromiter(
            (x is not None and len(x) == dim for x in vv),
            dtype=bool, count=len(vv),
        )
        res = np.full(len(vv), None, dtype=object)
        if not valid.any():
            return pd.Series(res)
        A = np.stack(vv[valid])
        Q = np.rint(A.astype(np.float64) * QUANT_SCALE).astype(np.int64)
        dab = Q @ qc_mat.T
        sa = np.sqrt((Q * Q).sum(axis=1).astype(np.float64))
        nz = sa > 0.0
        if not nz.all():
            valid[valid] = nz
            Q, dab, sa = Q[nz], dab[nz], sa[nz]
            if not valid.any():
                return pd.Series(res)
        cos = dab.astype(np.float64) / sa[:, None] / sqrt_dcc[None, :]
        cos[:, sqrt_dcc == 0.0] = -np.inf
        # fast path: when the winner leads by > 2e-6 unrounded, no 6dp
        # rounding can change the argmax — exact Decimal arbitration (the
        # slow, Spark-ROUND-identical comparison) runs only on near-ties
        out = cos.argmax(axis=1).astype(np.int32)
        close = (cos >= cos.max(axis=1)[:, None] - 2.1e-6).sum(axis=1) > 1
        for i in np.nonzero(close)[0]:
            # -inf marks a zero-norm centroid (never a winner, and outside
            # Decimal's domain — quantize raises InvalidOperation on it);
            # exclude non-finite scores from the exact arbitration
            r6 = {
                c: Decimal(repr(float(x))).quantize(q6, rounding=ROUND_HALF_UP)
                for c, x in enumerate(cos[i])
                if np.isfinite(x)
            }
            if r6:  # all--inf row (every centroid zero-norm): keep argmax
                out[i] = max(r6, key=lambda c: (r6[c], -c))
        res[valid] = out
        return pd.Series(res)

    return assign_udf


def semantic_dup_pairs(
    embeddings: DataFrame, n_centroids: int = 16, threshold: float = 0.95
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    cluster embeddings by nearest centroid, then compare pairs ONLY inside
    each cluster; (vec_a < vec_b) pairs whose 6dp-rounded cosine clears the
    threshold are semantic duplicates. Composes with duplicate_clusters for
    keeper selection exactly like the text-dedup family.

    Scale shape: assignment is the pure-map seeded_assign_udf (no shuffle of
    the embedding table); the intra-cluster self-join shuffles (centroid_id,
    vec_id) ID PAIRS only, and vectors are re-attached per side by vec_id
    equi-joins sized by the candidate count. At 10^12 rows n_centroids is
    raised so cluster sizes stay bounded (SemDeDup runs ~10^5 clusters); the
    within-cluster quadratic term is the algorithm's published cost, not an
    artifact of the plan."""
    e = embeddings.select("vec_id", "embedding")
    assigned = e.select(
        seeded_assign_udf(seeded_centroid_rows(e, n_centroids))(
            F.col("embedding")
        ).alias("centroid_id"),
        "vec_id",
    )
    cand = (
        assigned.alias("a")
        .join(assigned.alias("b"), "centroid_id")
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            "centroid_id",
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
    )
    cand = (
        cand.join(
            e.withColumnRenamed("vec_id", "vec_a").withColumnRenamed(
                "embedding", "ea"
            ),
            "vec_a",
        ).join(
            e.withColumnRenamed("vec_id", "vec_b").withColumnRenamed(
                "embedding", "eb"
            ),
            "vec_b",
        )
    )
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("ea"), F.col("eb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "centroid_id", "cos")
    )


def ivf_ann_topk_seeded(
    embeddings: DataFrame, queries: DataFrame, k: int = 10,
    n_centroids: int = 16, nprobe: int = 4,
) -> DataFrame:
    """IVF ANN with DETERMINISTIC seed centroids (the n_centroids lowest
    vec_ids, no Lloyd iterations). Every stage has a DuckDB-expressible
    DEFINITION — exact integer dots, pinned double-division order, 6dp
    HALF_UP rounding — so the oracle reproduces the output values exactly;
    since round 3 the assignment stage EXECUTES as a vectorized numpy UDF
    rather than a SQL projection (10x faster), so assignment parity rests on
    that arithmetic contract (order-independent integer sums + identical
    rounding), pinned by test_ivf_seeded_matches_probed_bruteforce's
    independent mirror, not on shared expression text. The k-means-trained
    variant (ivf_ann_topk below) shares every stage except centroid training
    and is pinned by the pytest recall gate.

    Plan shape: centroids are a metadata-sized collect; ASSIGNMENT IS A PURE
    MAP (one vectorized Arrow pass computes all centroid cosines + argmax per
    vector) — the embedding table is never shuffled and never joined back.
    Probes broadcast; the probe join is an equi-join on centroid_id reading
    nprobe/n_centroids of the table per query. Cosines everywhere are the
    exact-integer-dot form of cosine()/cos_arrow(), and every ranking
    compares 6dp-ROUNDED values with identical rounding in Spark, numpy
    (Decimal half-up arbitration on near-ties only) and DuckDB.
    """
    cent_rows = seeded_centroid_rows(embeddings, n_centroids)
    spark = embeddings.sparkSession
    cent_df = spark.createDataFrame(
        cent_rows, "centroid_id int, cvec array<double>"
    )
    assign_udf = seeded_assign_udf(cent_rows)

    emb = embeddings.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vec")
    )
    lists = emb.select(
        assign_udf(F.col("vec")).alias("centroid_id"), "neighbor_id", "vec"
    )

    # top-nprobe centroids per query: rank by (cos desc, centroid_id asc)
    qscored = (
        queries.select("query_id", "qvec")
        .crossJoin(F.broadcast(cent_df))
        .select(
            "query_id", "centroid_id",
            F.round(cos_arrow(F.col("qvec"), F.col("cvec")), 6).alias("ccos"),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("ccos").desc(), F.col("centroid_id")
    )
    probes = (
        qscored.withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "centroid_id")
    )
    qv = queries.select("query_id", "qvec")
    cand = (
        F.broadcast(probes).join(lists, "centroid_id")
        .join(F.broadcast(qv), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("vec"), F.col("qvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def ivf_ann_topk(
    embeddings: DataFrame, queries: DataFrame, k: int = 10,
    n_centroids: int = 16, nprobe: int = 4, iters: int = 5,
) -> DataFrame:
    """IVF approximate top-k: probe the nprobe nearest inverted lists per
    query, exact cosine re-rank inside them.

    queries: (query_id, qvec). Plan shape at scale: the embedding side is
    scanned once for assignment (cacheable across queries), the probe join is
    an equi-join on centroid_id (nprobe/n_centroids of the table per query),
    and the re-rank window touches only candidates."""
    cents = ivf_train_centroids(embeddings, n_centroids, iters)
    lists = ivf_assign(embeddings, cents).join(
        embeddings.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("vec")),
        F.col("vec_id") == F.col("neighbor_id"),
    ).select("centroid_id", "neighbor_id", "vec")

    probe_schema = Ty.StructType(
        [
            Ty.StructField("query_id", Ty.LongType()),
            Ty.StructField("centroid_id", Ty.IntegerType()),
        ]
    )

    def probe_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dim = cents.shape[1]
        for pdf in batches:
            if len(pdf) > 0:
                # NULL/wrong-dim queries probe nothing (dead-letter) rather
                # than crashing np.vstack
                vv = pdf["qvec"].to_numpy()
                ok = np.fromiter(
                    (x is not None and len(x) == dim for x in vv),
                    dtype=bool, count=len(vv),
                )
                pdf = pdf[ok]
            if len(pdf) == 0:
                yield pd.DataFrame(columns=probe_schema.fieldNames())
                continue
            mat = np.vstack(pdf["qvec"].to_numpy()).astype(np.float64)
            mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
            top = np.argsort(-(mat @ cents.T), axis=1)[:, :nprobe]
            qids = pdf["query_id"].astype("int64").to_numpy()
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(qids, top.shape[1]),
                    "centroid_id": top.ravel().astype("int32"),
                }
            )

    probes = queries.select("query_id", "qvec").mapInPandas(probe_fn, schema=probe_schema)
    qv = queries.select("query_id", "qvec")
    cand = (
        F.broadcast(probes).join(lists, "centroid_id")
        .join(F.broadcast(qv), "query_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("cos", F.round(cos_arrow(F.col("vec"), F.col("qvec")), 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos")
    )


def knn_classify(
    embeddings: DataFrame, queries: DataFrame, k: int = 9
) -> DataFrame:
    """(query_id, pred_label, n_votes, true_label, correct): k-nearest-
    neighbor majority-vote classification — the zero-training baseline
    every embedding-quality audit runs (leave-one-out over the labeled
    table itself). `embeddings` carries (vec_id, embedding, label);
    `queries` carries (query_id, qvec, true_label).

    Rides cosine_topk exactly (broadcast queries, corpus never shuffles,
    6dp-rounded exact-parity cosine with (cos desc, id) tie-break, so the
    neighbor SET is deterministic in both engines); the vote is a bounded
    (query, label) hash agg and the argmax a k-row window with (votes
    desc, label) tie-break. Everything checked is an exact integer."""
    nn = cosine_topk(
        embeddings.select("vec_id", "embedding"), 
        queries.select("query_id", "qvec"), k,
    )
    labeled = nn.join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"), "label"
        ),
        "neighbor_id",
    )
    votes = labeled.groupBy("query_id", "label").agg(
        F.count("*").cast("long").alias("n_votes")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("label")
    )
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select(
            "query_id",
            F.col("label").cast("long").alias("pred_label"),
            "n_votes",
        )
    )
    return (
        pred.join(
            F.broadcast(
                queries.select(
                    "query_id", F.col("true_label").cast("long").alias("true_label")
                )
            ),
            "query_id",
        )
        .withColumn(
            "correct",
            (F.col("pred_label") == F.col("true_label")).cast("long"),
        )
        .select(
            F.col("query_id").cast("long").alias("query_id"),
            "pred_label", "n_votes", "true_label", "correct",
        )
    )
