"""The round-loop driver: checkpoint_probe reads its stop value inside the
checkpoint's own job, fixpoint stops on its rule or raises loudly at its
bound, and neither leaves a persisted generation behind."""

import pytest
from pyspark.sql import functions as F


def _narrow(spark, n=60):
    return spark.range(n).selectExpr("id", "id % 7 AS k")


def _cached_rdds(spark) -> int:
    """Persisted RDDs that are not local checkpoints: the persist()-ed
    generations a loop must release (checkpoint blocks are reclaimed by
    the ContextCleaner once their frames go out of scope)."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs().values()
    return sum(1 for r in rdds if not r.rdd().isLocallyCheckpointed())


def _path_pairs(spark, n=26):
    return spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(n - 1)],
        "doc_a long, doc_b long, jaccard double",
    )


def test_checkpoint_probe_rows_and_value(spark):
    from aira_spark.operators.fixpoint import checkpoint_probe

    df = _narrow(spark)
    frame, value = checkpoint_probe(df, "sum(k)")
    assert sorted(frame.collect()) == sorted(df.localCheckpoint().collect())
    assert value == df.agg(F.expr("sum(k)")).collect()[0][0]


def test_checkpoint_probe_empty_frame(spark):
    from aira_spark.operators.fixpoint import checkpoint_probe, fixpoint

    empty = _narrow(spark).where("id < 0")
    frame, n = checkpoint_probe(empty, "count(*)")
    assert n == 0 and frame.collect() == []
    assert checkpoint_probe(empty, "sum(k)")[1] is None
    # a NULL probe reads as 0: the "zero" rule stops in the first round
    out = fixpoint(
        empty, lambda s, _rnd: s, "sum(k)", max_rounds=1, name="t", until="zero"
    )
    assert out.collect() == []


def test_checkpoint_probe_narrow_frame_is_one_job(spark, count_work):
    from aira_spark.operators.fixpoint import checkpoint_probe

    jobs, _ = count_work(lambda: checkpoint_probe(_narrow(spark), "count(*)"))
    assert jobs == 1


def test_fixpoint_repeat_rule_and_release(spark):
    """A value that climbs to a cap and stays there stops one round after
    it first repeats, on either cadence, and no persisted generation
    survives the call on the return path or the raise path."""
    from aira_spark.operators.fixpoint import fixpoint

    def climb(s, _rnd):
        return s.selectExpr("id", "least(k + 1, 3) AS k")

    start = _narrow(spark, 5).selectExpr("id", "0 AS k")
    before = _cached_rdds(spark)
    for every in (1, 2):
        out = fixpoint(
            start, climb, "sum(k)", max_rounds=10, name="climb",
            until="repeat", checkpoint_every=every,
        )
        assert {r.k for r in out.collect()} == {3}
        out.unpersist()
        assert _cached_rdds(spark) == before
    with pytest.raises(RuntimeError, match="climb .*raise max_steps"):
        fixpoint(
            start, climb, "sum(k)", max_rounds=3, name="climb",
            until="repeat", checkpoint_every=2, bound="max_steps",
        )
    assert _cached_rdds(spark) == before


@pytest.mark.parametrize(
    "op", ["drainage_basins", "flow_accumulation", "strahler_order"]
)
def test_terrain_guard_raises_at_max_rounds(spark, sf_dir, op):
    import __spark_entry__ as em
    from aira_spark.operators import terrain

    images = em._images(spark, sf_dir, modulo=8)
    with pytest.raises(RuntimeError, match=f"{op} did not converge.*max_rounds"):
        getattr(terrain, op)(images, em.CELL_RES, max_rounds=1)


def test_duplicate_clusters_guard_raises_at_max_iters(spark):
    from aira_spark.operators.dedup import duplicate_clusters

    with pytest.raises(
        RuntimeError, match="duplicate_clusters did not converge.*raise max_iters"
    ):
        duplicate_clusters(_path_pairs(spark), local_threshold=0, max_iters=2)


def test_duplicate_clusters_releases_persisted_labels(spark):
    """The DataFrame path on a path graph that needs more than 5 rounds
    (persisted rounds and a checkpoint round) leaves the persisted RDD set
    as it found it, converged or not."""
    from aira_spark.operators.dedup import duplicate_clusters

    pairs = _path_pairs(spark)
    before = _cached_rdds(spark)
    out = duplicate_clusters(pairs, local_threshold=0, max_iters=40).collect()
    assert {r.cluster_id for r in out} == {0} and len(out) == 26
    assert _cached_rdds(spark) == before
    with pytest.raises(RuntimeError, match="max_iters"):
        duplicate_clusters(pairs, local_threshold=0, max_iters=6)
    assert _cached_rdds(spark) == before
