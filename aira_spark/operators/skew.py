"""Skew handling: salted repartitioning on hot cells (north rule).

AQE's skew-join splitting only rebalances *join* partitions; UDF-heavy stages
partitioned by cell still hotspot when one cell holds a disproportionate share
of rows (e.g. point clusters). The fix is a salt that spreads only the
physical distribution — never the join/aggregation key itself, so results are
provably unchanged (SURVEY.md §7 "what's hard" (f)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hot_keys(df: DataFrame, key: str, threshold_frac: float = 0.01,
             sample_frac: float | None = 0.1) -> DataFrame:
    """Keys holding more than threshold_frac of (sampled) rows.

    Sampling keeps the frequency scan O(sample) — at 10^12 rows a 1e-4 sample
    still sees every hot key with overwhelming probability.
    """
    s = df.select(key)
    if sample_frac is not None and sample_frac < 1.0:
        s = s.sample(fraction=sample_frac, seed=42)
    total = s.count()
    cutoff = max(1, int(total * threshold_frac))
    return s.groupBy(key).count().filter(F.col("count") >= cutoff).select(key)


def salt_column(df: DataFrame, key: str, hot: DataFrame, n_salt: int = 16,
                uid: str | None = None) -> DataFrame:
    """+ `salt` in [0, n_salt): nonzero spread only for hot keys.

    uid: any column unique-ish per row (defaults to a monotonic id) — the salt
    is derived from it so the same row always lands in the same bucket
    (deterministic resume).
    """
    uid_col: Column = F.col(uid) if uid else F.monotonically_increasing_id()
    flagged = df.join(
        F.broadcast(hot.withColumn("_is_hot", F.lit(True))), key, "left"
    )
    return flagged.withColumn(
        "salt",
        F.when(F.col("_is_hot"), F.pmod(F.xxhash64(uid_col), F.lit(n_salt)))
        .otherwise(F.lit(0))
        .cast("int"),
    ).drop("_is_hot")


def replicate_for_salted_join(small: DataFrame, n_salt: int = 16) -> DataFrame:
    """Explode the broadcast side over all salt values so a salted big side can
    still equi-join on (key, salt) without losing matches."""
    return small.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).withColumn("salt", F.col("salt").cast("int"))
