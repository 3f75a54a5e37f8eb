"""One driver for the engine's iterative entries.

The graph loops in ``plans/graph_analytics.py`` and the dedup clustering in
``operators/dedup.py`` all repeat the same parts, which live here:

- ``staged(df, key)`` stages a loop-invariant relation for the scope of a
  ``with``: ``repartition(key).sortWithinPartitions(key).cache()``, the
  package's only cache.  Once filled, ``InMemoryTableScanExec`` keeps both
  the hash partitioning and the ordering, so a round's join or aggregate
  on ``key`` plans no Exchange and no Sort on the staged side
  (``plans/r15/*_nobroadcast.txt``, ``tests/test_loops.py``).  The cache
  is released when the scope exits, also on error.  Per-round state is
  never staged: it goes through ``materialize``.
- ``materialize(tag, df, metric)`` ends one round: the body is offered to
  ``HOOK``, then cut from its lineage with ``localCheckpoint`` (a lazy
  unroll duplicates the round subtree exponentially -- measured on
  ``graph_bfs_hops``).  An optional scalar metric (a convergence potential
  or a row count) rides the same job via ``observe``.
- ``fixpoint(tag, step, start, cap)`` runs rounds until the metric repeats,
  counts the rounds that changed it, and raises at the cap instead of
  returning an unconverged result.

``HOOK`` is ``None`` except in ``tools/loop_plan_dump.py`` and in tests: a
``callable(tag, df)`` that sees each body before its checkpoint, e.g. to
dump the round's physical plan.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Any, Callable, Iterator, Optional, TypeVar

from pyspark.sql import Column, DataFrame, Observation

HOOK: Optional[Callable[[str, DataFrame], None]] = None

S = TypeVar("S")


@contextmanager
def staged(df: DataFrame, key: str) -> Iterator[DataFrame]:
    """``df`` hash-partitioned and sorted by ``key`` and cached while the
    scope is open.  Results that outlive the scope must not read it: return
    checkpointed frames, or checkpoint the result inside the scope.

    For loop-invariant relations only, opened before the loop and filled
    before any round is planned; per-round state goes through
    ``materialize``.  Plans see the partitioning only once the cache is
    filled (under AQE a cached plan reports it when final): a plan built
    before the first action over the stage still re-shuffles it, so a
    stage opened inside a round is mostly a shuffle, a sort and a cache
    that the round's own plans cannot use.  The loops' start checkpoints
    fill their edge stages before any round is planned."""
    out = df.repartition(key).sortWithinPartitions(key).cache()
    try:
        yield out
    finally:
        out.unpersist()


def materialize(tag: str, df: DataFrame, metric: Column | None = None):
    """Offer ``df`` to ``HOOK`` and ``localCheckpoint`` it.  With a
    ``metric`` (an aggregate expression) returns ``(checkpoint, value)``,
    the value observed on the checkpoint's own job; else the checkpoint."""
    if HOOK is not None:
        HOOK(tag, df)
    if metric is None:
        return df.localCheckpoint()
    obs = Observation()
    out = df.observe(obs, metric.alias("value")).localCheckpoint()
    return out, obs.get["value"]


def fixpoint(
    tag: str,
    step: Callable[[S, Any], tuple[S, Any]],
    start: tuple[S, Any],
    cap: int,
) -> tuple[S, int]:
    """Iterate ``state, value = step(state, value)`` from ``start`` until
    the value repeats.

    Returns the last state and the number of rounds that changed the
    value: the round that confirms the fixpoint is not counted (the
    ``LAST_ROUNDS`` convention).  A step with nothing left to do -- a peel
    whose set is empty -- returns its input unchanged without running a
    job.  Raises ``RuntimeError`` naming ``tag`` when all ``cap`` rounds
    changed the value."""
    state, value = start
    for rounds in range(cap):
        state, new = step(state, value)
        if new == value:
            return state, rounds
        value = new
    raise RuntimeError(
        f"{tag}: still changing after {cap} rounds -- raise the cap rather "
        "than publish an unconverged result"
    )
