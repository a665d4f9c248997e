"""One driver for the early-stopping round loops: lineage truncation, the
stop probe and the round guard.

`checkpoint_probe` reads a loop's stop value inside the eager checkpoint
the round already runs (an `Observation` folded by the executors while
they write the checkpoint blocks), instead of in a second count/collect
job. Loops whose bound is part of the operator's definition (k_core,
bfs_hops: their oracles unroll exactly that many rounds) must never raise,
so they keep their own `for` and take only `checkpoint_probe`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_probe(df: DataFrame, probe_sql: str):
    """(frame, value): `df` eagerly localCheckpointed, and the aggregate
    SQL text `probe_sql` over its rows (None for a sum over no rows), read
    from the checkpoint's own job."""
    obs = Observation()
    frame = df.observe(obs, F.expr(probe_sql).alias("v")).localCheckpoint(
        eager=True
    )
    return frame, obs.get["v"]


def fixpoint(state, step, probe_sql: str, *, max_rounds: int, name: str,
             until: str, checkpoint_every: int = 1,
             bound: str = "max_rounds") -> DataFrame:
    """Run `state = step(state, rnd)` for rnd = 0, 1, ... and return the
    first state whose aggregate `probe_sql` reads 0 (`until="zero"`) or
    repeats the previous round's value (`until="repeat"`, for totals that
    move monotonically until the fixpoint). A NULL probe reads as 0.

    Every `checkpoint_every`-th round is a `checkpoint_probe` (one job);
    the rounds between persist and probe with one `agg().collect()`, which
    also materialises the persist. Superseded persisted generations are
    released, the last one too when `max_rounds` is reached — which raises
    RuntimeError naming `name` and its bound parameter `bound`. A persisted
    final state is the caller's to release."""
    prev = held = None
    for rnd in range(max_rounds):
        nxt = step(state, rnd)
        if (rnd + 1) % checkpoint_every == 0:
            nxt, value = checkpoint_probe(nxt, probe_sql)
        else:
            nxt = nxt.persist()
            value = nxt.agg(F.expr(probe_sql)).collect()[0][0]
        if held is not None:
            held.unpersist()
        held = nxt if nxt.is_cached else None
        state, value = nxt, value or 0
        if value == 0 if until == "zero" else value == prev:
            return state
        prev = value
    if held is not None:
        held.unpersist()
    raise RuntimeError(
        f"{name} did not converge in {max_rounds} rounds (raise {bound})"
    )
