"""Skew handling: hot-key detection, the hot-key guard, and salting.

Detection: `hot_keys` finds the keys holding more than a fraction of a
(sampled) frame — the input of the salting below.

The guard: an equi-join's work is the sum over keys of |group|^2, so one
oversized group makes an operator quadratic in it. `key_bound` runs ONE
bounded action (`groupBy(keys).count()`, over-bound rows, `limit(1)`)
before the join is scheduled and raises a typed `KeyBoundError` naming
the operator, the offending key, its row count, the bound and the
parameter that sets it. Every pair-join operator with a per-key bound
calls it; a later escalation to a slower exact path for the over-bound
keys plugs in here. `grid_pairs` is the guarded grid-pitch candidate
join of ripley_k, cross_k, semivariogram and convoy_pairs: each row
replicates to its 3x3 neighbour cells and equi-joins the other side's
single cell (the partition-replication band join), so every pair within
one pitch matches on exactly one key.

Salting: AQE's skew-join splitting only rebalances *join* partitions;
UDF-heavy stages partitioned by cell still hotspot when one cell holds a
disproportionate share of rows (e.g. point clusters). The fix is a salt
that spreads only the physical distribution — never the join/aggregation
key itself, so results are provably unchanged (SURVEY.md §7 "what's hard"
(f)).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# packing base of the grid id g = gx * _NB + gy (unique while |gy| < 256)
_NB = 512


class KeyBoundError(RuntimeError, ValueError):
    """One key group holds more rows than an operator's bound allows."""


def key_bound(
    df: DataFrame, keys: Sequence[str], bound: int,
    op: str, param: str, hint: str,
) -> None:
    """Raise KeyBoundError when any `keys` group of `df` holds more than
    `bound` rows; one bounded action, metadata-sized output."""
    over = (
        df.groupBy(*keys).count().where(F.col("count") > bound)
        .limit(1).collect()
    )
    if over:
        r = over[0]
        at = ", ".join(f"{k}={r[k]!r}" for k in keys)
        raise KeyBoundError(
            f"{op}: {at} holds {r['count']} rows > {param}={bound}; {hint}"
        )


def grid_pairs(
    pts: DataFrame, pitch: int, order: str,
    carry: Sequence[str] = (), keys: Sequence[str] = (), *,
    bound: int, op: str, param: str, hint: str,
) -> DataFrame:
    """(<order>_a, <order>_b, <carry>_a, <carry>_b, *keys, d2): every row
    pair sharing `keys` with (gx, gy) cells at most one apart, where
    g = i DIV pitch over the BIGINT `ix`/`iy` columns of `pts` — a
    superset of the pairs within `pitch` (DIV truncates toward zero, so
    no cell is narrower than `pitch`). Each pair appears once, with
    order_a < order_b; d2 is the exact squared distance. Raises
    KeyBoundError first when a (gx, gy, *keys) group exceeds `bound`."""
    cols = [order, *carry]
    g = pts.selectExpr(
        *cols, *keys, "ix", "iy",
        f"ix DIV {pitch} AS gx", f"iy DIV {pitch} AS gy",
    )
    key_bound(g, ["gx", "gy", *keys], bound, op, param, hint)

    def side(s: str) -> list[str]:
        return [f"{c} AS {c}_{s}" for c in cols] + [
            *keys, f"ix AS ix_{s}", f"iy AS iy_{s}",
        ]

    # the a side replicates to its 3x3 neighbourhood, the b side sits in
    # exactly one cell: each pair matches on one key, no post-join dedup
    a_cols = [f"{c}_a" for c in cols] + [*keys, "ix_a", "iy_a"]
    a = (
        g.selectExpr(*side("a"), "gx", "gy")
        .selectExpr("*", "explode(sequence(-1, 1)) AS ox")
        .selectExpr("*", "explode(sequence(-1, 1)) AS oy")
        .selectExpr(*a_cols, f"(gx + ox) * {_NB} + gy + oy AS g")
    )
    b = g.selectExpr(*side("b"), f"gx * {_NB} + gy AS g")
    return (
        a.join(b, ["g", *keys])
        .where(f"{order}_a < {order}_b")
        .selectExpr(
            *[f"{c}_{s}" for c in cols for s in "ab"], *keys,
            "(ix_a - ix_b) * (ix_a - ix_b) + (iy_a - iy_b) * (iy_a - iy_b) AS d2",
        )
    )


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
