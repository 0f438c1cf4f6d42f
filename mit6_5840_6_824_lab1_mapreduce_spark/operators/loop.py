"""The one round driver of the iterative loops (connected components,
PageRank, k-means, BPE): the reference's coordinator runs an iterative
job as rounds and re-runs a crashed worker's task (`test-mr.sh` crash
phase); here Spark re-runs a failed task from the round's lineage,
which `iterate` cuts back to the previous round's checkpoint.

Truncation is `localCheckpoint`: untruncated, the plan grows every
round (CC's doubles) until planning runs out of memory (~15 rounds).
Local checkpoint blocks live on the executors, so a loop survives task
failure and retry (tests/test_loop.py injects one per loop) but NOT the
loss of an executor holding them. A reliable `checkpoint()` to a
checkpoint directory would survive that; it is not offered because no
workload or test here would turn it on.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def truncate(frame: DataFrame, eager: bool = False) -> DataFrame:
    """Cut `frame`'s lineage. LAZY by default: the next action over the
    frame materializes it in the same job, where an eager checkpoint is
    one more job launch per round (measured round-6: pure overhead when
    the next action touches every partition anyway)."""
    return frame.localCheckpoint(eager=eager)


def iterate(
    name: str, state: DataFrame, advance: Callable[[DataFrame], DataFrame], rounds: int,
    *, done: Callable[[DataFrame], bool] | None = None,
    cached: tuple[DataFrame, ...] = (),
) -> DataFrame:
    """Run up to `rounds` rounds of ``state = advance(state)``.

    Each round truncates the new state lazily, then asks `done(state)`,
    whose action materializes the checkpoint. With `done` the loop stops
    at the first true answer and raises RuntimeError if none came within
    `rounds` (at once for ``rounds == 0``): a partial result must not
    pass for a converged one. `cached` inputs are unpersisted on the way
    out, error or not; the returned frame must not read them, so without
    `done` the last checkpoint is eager when there are any.

    A round's jobs run under the description ``"<name> round <i>"``
    (the caller's comes back afterwards), and an exception raised in a
    round carries that text as a note.
    """
    sc = state.sparkSession.sparkContext
    caller_desc = sc.getLocalProperty("spark.job.description")
    eager_last = done is None and bool(cached)
    try:
        for i in range(1, rounds + 1):
            sc.setJobDescription(f"{name} round {i}")
            try:
                state = truncate(advance(state), eager=eager_last and i == rounds)
                if done is not None and done(state):
                    return state
            except Exception as e:
                e.add_note(f"{name} round {i}")
                raise
        if done is not None:
            raise RuntimeError(f"{name} did not converge within {rounds} rounds")
        return truncate(state, eager=True) if eager_last and rounds < 1 else state
    finally:
        sc.setJobDescription(caller_desc)
        for frame in cached:
            frame.unpersist()
