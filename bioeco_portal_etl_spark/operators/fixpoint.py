"""One driver for the checkpointed round loops (connected components,
k-core, bounded shortest paths, HyperBall, hierarchy flattening and the
BOM rollup). It is the only code that decides when a round's state is
checkpointed and when that checkpoint is released.

Why rounds are checkpointed: ``persist()`` does not truncate lineage. The
cached data replaces a subtree only at physical planning, so round k's
*logical* plan still holds round k-1's whole tree, and a step that reads
its state twice (pointer jumping, the k-core semi-joins) grows the plan
exponentially: connected components on a 32-edge graph took 1.6, 1.2,
1.7, 7.2 and 40 s per round, then the driver ran out of memory. An eager
``localCheckpoint`` both materializes a round and cuts its lineage.

The convergence scalar rides that checkpoint: ``observe`` computes it in
the same job, so a round costs one action, not two. Once a round is
materialized the previous round's checkpoint is released, so a loop holds
one round of state at a time. Checkpoints the caller made (loop-invariant
edge lists) are never released here.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation


def _release(checkpoint: DataFrame) -> None:
    """Drop the blocks behind a frame this module ``localCheckpoint``-ed."""
    checkpoint._jdf.logicalPlan().rdd().unpersist(False)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    rounds: int,
    metric: Column | None = None,
) -> DataFrame | None:
    """Apply ``step`` to ``state`` round after round.

    Without ``metric``: exactly ``rounds`` rounds. The first ``rounds - 1``
    are checkpointed; the last is returned lazily, since nothing in the
    loop reads it.

    With ``metric`` (one aggregate Column that is monotone over the
    rounds): the starting state's value is read by one scan, so a state
    that is already a fixpoint costs one round, not two; then every round
    is checkpointed with the metric observed in the same job, and the
    first round whose value equals the previous one's is returned.
    Returns None, with nothing left cached, if no such round comes within
    ``rounds``."""
    held = None  # the newest checkpoint this driver made

    def advance(df: DataFrame) -> DataFrame:
        nonlocal held
        df = df.localCheckpoint(eager=True)
        if held is not None:
            _release(held)
        held = df
        return df

    if metric is None:
        for _ in range(rounds - 1):
            state = advance(step(state))
        return step(state) if rounds > 0 else state

    obs = Observation()
    state.observe(obs, metric.alias("m")).write.format("noop").mode("overwrite").save()
    for _ in range(rounds):
        last, obs = obs.get["m"], Observation()
        state = advance(step(state).observe(obs, metric.alias("m")))
        if obs.get["m"] == last:
            return state
    if held is not None:
        _release(held)
    return None
