"""Generic iterate-to-fixpoint (SURVEY.md §2.13; reference trace: the
relational-calculus intent of ``README.md:14`` — WITH-RECURSIVE-style
iteration is the one recursion surface a relational engine needs).

``iterate_until_fixpoint`` factors the loop machinery that previously
lived only inside ``llm/cluster.connected_components``: per-round
lineage truncation, durable-vs-local checkpointing, convergence
detection, and a bounded iteration count. Users get org-chart /
graph-reachability / label-propagation closure without rebuilding the
(subtle) loop discipline:

- **Lineage truncation per round is mandatory, not an optimization.**
  Round N's logical plan embeds round N-1's once or twice (join/union),
  so without an eager checkpoint barrier the plan tree grows
  geometrically and the driver dies building plans long before data
  size matters.
- **Convergence must be an O(1)-result action.** The default check
  (``measure=None``) is exact set-equality of consecutive states via a
  two-sided ``exceptAll`` emptiness test — always correct, costs two
  extra shuffles per round. When the step is MONOTONE (state only ever
  grows, or a label aggregate only ever decreases), pass ``measure`` —
  a function returning a small scalar (count, decimal sum) — and
  convergence becomes scalar equality across rounds: one cheap action,
  the 100 TB mode. ``connected_components`` uses a monotone decimal
  label sum; reachability uses ``count``.
- **Rounds needed = problem diameter**, so ``max_iter`` is a safety
  rail: exhaustion raises ``RuntimeError`` rather than silently
  returning a non-fixpoint.

The cache rule, kept by ``held``: an operator holds a cache only for
the work it does itself, and returns a frame that does not read it — a
checkpointed result (``checkpoint_and_release``) or the output of a
fixpoint or loop. No operator returns a lazy frame over a cache, so no
caller is left a cache it cannot reach to release, and an entry a
caller cached before the call keeps its storage level after it.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager
from typing import Any, Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame


def _barrier_fn(spark, checkpoint_dir, eager: bool = True):
    """Per-round lineage-truncation barrier shared by both iterators:
    durable ``checkpoint()`` when a directory is given (replayable after
    executor loss), ``localCheckpoint()`` otherwise (fastest).

    ``eager=False`` (local mode only) defers materialization to the
    FIRST ACTION on the wrapped frame: the plan is truncated to a
    ``LogicalRDD`` at wrap time either way (the driver never builds the
    geometric plan tree), but the round's data is computed by the
    convergence action itself instead of a separate checkpoint job —
    one Spark job per round instead of two (OPTIMIZATION_r15, guide
    §1.2 "don't compute things you throw away": the eager job's only
    output was re-read one job later). Sound for
    ``iterate_until_fixpoint`` because every round runs exactly one
    action (measure / isEmpty) over the new state, which persists the
    localCheckpoint as a side effect. Durable ``checkpoint()`` keeps
    eager semantics: non-eager reliable checkpoints recompute the whole
    lineage a second time on materialization."""
    if checkpoint_dir is not None:
        spark.sparkContext.setCheckpointDir(checkpoint_dir)

    def barrier(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=eager)

    return barrier


@contextmanager
def held(*frames: DataFrame) -> Iterator[None]:
    """Hold ``frames`` in the session cache for the body of a ``with``.

    On entry each frame is persisted, in argument order (pass a frame's
    dependencies before it), unless a session cache entry already holds
    its plan: Spark shares one entry between identical plans, so that
    entry belongs to whoever made it and stays as it is. On exit,
    also on error, exactly the frames persisted here are unpersisted,
    last first. This is the one place in the package that persists or
    unpersists."""
    made = [df for df in frames if df.storageLevel == StorageLevel.NONE]
    for df in made:
        df.persist()
    try:
        yield
    finally:
        for df in reversed(made):
            df.unpersist()


def checkpoint_and_release(df: DataFrame, *frames: DataFrame) -> DataFrame:
    """Return ``df`` eagerly ``localCheckpoint``-ed while ``frames`` are
    ``held``: the checkpoint job reads each of them from the cache, and
    the result reads none of them, so the release costs no recompute."""
    with held(*frames):
        return df.localCheckpoint(eager=True)


def iterate_until_fixpoint(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    measure: Callable[[DataFrame], Any] | None = None,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply ``step`` repeatedly from ``initial`` until the state stops
    changing; return the fixpoint DataFrame.

    ``step`` maps state -> next state (same schema). Convergence:

    - ``measure=None`` (default): exact — consecutive states are equal
      as multisets (two-sided ``exceptAll`` emptiness). Correct for any
      step function.
    - ``measure=fn``: ``fn(state)`` returns a driver-side scalar;
      convergence is ``fn(new) == fn(cur)``. ONLY sound when the step
      is monotone w.r.t. the measure (strictly changing until the
      fixpoint) — e.g. row count for a grow-only set, a min-label
      decimal sum. This is the scale mode: one O(1)-result action per
      round instead of two extra shuffles.

    ``checkpoint_dir=None`` truncates lineage with eager
    ``localCheckpoint()`` (executor-local, fastest, lost on executor
    failure — right for interactive runs). Setting it to a durable path
    switches to ``checkpoint()`` so a long cluster job replays after
    executor loss.

    Raises ``RuntimeError`` if ``max_iter`` rounds don't converge.
    """
    # eager=False when a measure fn is given: the measure action runs a
    # full aggregate over every partition of the new state, so it
    # materializes the localCheckpoint as a side effect — halving the
    # job count per round (see _barrier_fn). The exact-equality path
    # stays eager: its isEmpty convergence check is a take(1) that can
    # stop before touching every partition, which would leave rounds
    # partially persisted.
    barrier = _barrier_fn(
        initial.sparkSession, checkpoint_dir, eager=measure is None
    )
    cur = barrier(initial)
    cur_m = measure(cur) if measure is not None else None
    for _ in range(max_iter):
        new = barrier(step(cur))
        if measure is not None:
            new_m = measure(new)
            done = new_m == cur_m
            cur_m = new_m
        else:
            done = (
                new.exceptAll(cur).unionByName(cur.exceptAll(new)).isEmpty()
            )
        cur = new
        if done:
            return cur
    raise RuntimeError(
        f"iterate_until_fixpoint did not converge in {max_iter} rounds "
        "(problem diameter exceeds max_iter, or the step never stabilizes)"
    )


def iterate_fixed(
    initial: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    n_rounds: int,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Apply ``step`` exactly ``n_rounds`` times with the same per-round
    lineage-truncation discipline as ``iterate_until_fixpoint``.

    For iterative NUMERIC algorithms (PageRank, label smoothing, power
    iteration) the state changes every round by construction, so
    convergence detection is either wasted work or — for a count-style
    measure over a fixed node set — a false immediate stop. Bounded
    iteration count IS the spec for these (as in every production
    PageRank); the barrier per round is still mandatory or the plan
    tree grows geometrically.
    """
    if n_rounds < 0:
        raise ValueError("n_rounds must be >= 0")
    barrier = _barrier_fn(initial.sparkSession, checkpoint_dir)
    cur = barrier(initial)
    for _ in range(n_rounds):
        cur = barrier(step(cur))
    return cur
