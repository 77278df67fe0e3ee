"""Generic distributed fixed-point iteration — the loop machinery every
iterative DataFrame algorithm re-derives, factored once.

Spark has no native iteration primitive: a loop that reuses its previous
frame N times builds a 2^N lineage (each round's plan references the
prior round's plan wherever the step touches it twice), and convergence
detection naively costs an extra count() job per round.  pagerank,
label_propagation and the connected-components Pregel loop each
hand-rolled the same three mitigations; :func:`iterate` packages them so
the NEXT iterative algorithm (SSSP, HITS, random walks, iterative
closeness) starts from a correct loop instead of re-learning these:

* **lineage truncation** — the state frame is materialized
  executor-locally (:func:`materialize` — NOT a driver collect, NOT a
  HDFS checkpoint) every round, so the optimizer sees a leaf instead
  of an exponentially growing tree
  (measured on label_propagation: 18.0 s → 8.7 s at sf0.1; on pagerank a
  1.6k-node graph took 14.4 s WITHOUT truncation; materializing only
  every other round took k_core from 6.96 to 15.05 s at sf0.1, r15);
* **in-pass convergence detection** — the step function may attach a
  boolean ``changed_col`` computed inside its own projection (zero extra
  joins/jobs); :func:`iterate` probes it with a ``filter(...).isEmpty()``
  limit-1 scan over the just-materialized partitions — no recompute — and
  stops early.  Steps that omit the column run exactly ``max_rounds``
  times (the fixed-unroll semantics the hash-gated graph queries need:
  a data-dependent stopping round would make results depend on
  convergence-detection timing, which no SQL oracle can replay);
* **bounded state** — only the state frame crosses rounds; corpus-sized
  inputs (edge lists) stay cached OUTSIDE the loop in the caller, the
  pagerank/LPA posture.

100 TB shape: per round the driver launches the step's jobs and one
limit-1 probe; all data movement is whatever the step itself shuffles.
The state materialization is executor-local disk/memory, never the
driver.  ``localCheckpoint`` does mean executor loss forces a
recompute-from-truncated-lineage failure (Spark re-runs the job).

**Materialization ledger.**  This module is the one place that records
what an operator materialized past its own return: :func:`cached`
(a ``MEMORY_AND_DISK`` persist, recorded by handle) and
:func:`materialize` (a ``localCheckpoint``, recorded by its RDD id only,
so ContextCleaner can still reclaim a checkpoint nothing references).
The lifetime rule: a recorded cache or checkpoint lives until
:func:`release_all_persisted`, which a long-lived host calls between
units of work, after their results are collected or written.  The
exceptions free earlier, never later: :func:`iterate` frees each round's
checkpoint as soon as the next round is checkpointed (the new one is a
leaf, so nothing reads the old), so one call leaves one checkpoint —
the state it returns; and :func:`cache_scope` frees the caches made
inside it when a caller has fully consumed them (fuzzy_dedup's shingle
cache).  A scoped ``cache()`` … ``unpersist()`` pair inside one
operator needs no record.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark import SparkContext, StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: partition count iterative state coalesces to when the caller knows
#: the state is small (its _state_hint resolved to the broadcast
#: regime) — see iterate(coalesce_to=)
ITER_STATE_PARTITIONS = 4

#: the ledger: frames cached() by handle (CacheManager holds the plan
#: anyway, so the handle pins nothing extra, and a caller that drops
#: every handle can still be drained), checkpoints materialize()d by
#: (context, RDD id) — an int pins nothing
_CACHED: list[DataFrame] = []
_CHECKPOINTS: list[tuple[SparkContext, int]] = []


def cached(df: DataFrame) -> DataFrame:
    """Persist ``df`` ``MEMORY_AND_DISK`` and record it in the ledger —
    for a cache the operator's returned plan still reads lazily, so
    it cannot be unpersisted before the operator returns."""
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _CACHED.append(df)
    return df


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """``df.localCheckpoint(eager)``, recorded in the ledger by the
    checkpoint RDD's id (the returned frame's plan is a leaf over it)."""
    df = df.localCheckpoint(eager=eager)
    _CHECKPOINTS.append((df.sparkSession.sparkContext, df._jdf.logicalPlan().rdd().id()))
    return df


def _free(entry: tuple[SparkContext, int], blocking: bool) -> bool:
    """Unpersist a recorded checkpoint if its context still holds it."""
    sc, rdd_id = entry
    rdd = sc._jsc.getPersistentRDDs().get(rdd_id) if sc._jsc is not None else None
    if rdd is not None:
        rdd.unpersist(blocking)
    return rdd is not None


def release_all_persisted() -> int:
    """Drain the ledger: unpersist every recorded cache, and every
    recorded checkpoint still persistent (ContextCleaner may already
    have reclaimed one nothing referenced).  Returns how many were
    released.  Call between units of work, after their results are
    collected or written: a frame read afterwards recomputes a freed
    cache, but a freed checkpoint raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``."""
    n = len(_CACHED)
    while _CACHED:
        _CACHED.pop().unpersist(blocking=True)
    while _CHECKPOINTS:
        n += _free(_CHECKPOINTS.pop(), blocking=True)
    return n


@contextmanager
def cache_scope() -> Iterator[None]:
    """Unpersist, on exit, the frames :func:`cached` inside the block —
    for a caller that fully consumes a pair generator's output before it
    returns.  Freeing a cache early is always safe (a later reader
    recomputes); checkpoints recorded inside stay, since the caller's
    result may read them."""
    mark = len(_CACHED)
    try:
        yield
    finally:
        while len(_CACHED) > mark:
            _CACHED.pop().unpersist(blocking=True)


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_rounds: int,
    changed_col: str = "_changed",
    coalesce_to: int | None = None,
) -> DataFrame:
    """Run ``state ← step(state, round)`` up to ``max_rounds`` times.

    ``step`` takes the current state frame and the 0-based round number
    and returns the next state.  Every round is materialized
    (:func:`materialize`), and the round it replaced is freed; the
    caller's initial ``state`` is never freed.  If the returned frame
    carries a boolean ``changed_col``, the loop stops early on the first
    round where no row has it true; the column is stripped from the
    state between rounds and from the final result.

    ``coalesce_to``: narrow the state to this many partitions before
    each materialization (plan-only ``coalesce`` — it collapses into
    the producing shuffle's reduce side, so the final aggregate of the
    round RUNS at this width rather than adding a stage).  The r13
    verdict's iterative-family finding: at sf0.1 every round's state is
    a few thousand rows spread over 32 shuffle partitions, and the
    fixed task-launch tax (≈2 s/round × 8 rounds on x_kcore) dwarfs
    the data; callers whose :func:`_state_hint` resolved to the
    broadcast regime (state known small) pass
    :data:`ITER_STATE_PARTITIONS`, callers in the shuffle regime pass
    ``None`` — a billion-row state must keep its width.  Results are
    identical either way (partitioning is never semantics here; every
    gated hash was re-verified unchanged).

    Returns the final state (without ``changed_col``).  The returned
    frame carries ``_iterate_converged`` (r15): ``True`` iff a
    round's probe saw ZERO ``changed_col`` rows — i.e. the
    loop itself already PROVED ``step(state) == state``, so callers
    that would otherwise run one extra verification round
    (strongly_connected_components' exhaustion guards) can skip it;
    ``False`` when the step has no ``changed_col`` (fixed unroll) or
    the flag was probe-positive through the last round.

    **Call-once contract (r16, formalizing what louvain relies on):**
    ``iterate`` calls ``step`` exactly once per round, in round order,
    and never replays a round.  Steps are therefore ALLOWED to carry
    round-indexed closure state (louvain's contracted community
    multigraph advances inside its step) — which in turn means tooling
    MUST NOT invoke ``step`` out-of-band: an extra ``step(state, 0)``
    probe call silently advances such closure state one round ahead.
    A step must not read an EARLIER round's state than the one it is
    passed: that round's checkpoint has been freed.
    Plan-capture spies wrap ``step`` and record round 0's RETURN value
    from inside the real loop instead (tools/capture_plans.py).
    """
    if max_rounds < 0:
        raise ValueError(f"iterate: max_rounds must be >= 0, got {max_rounds}")
    if coalesce_to is not None and coalesce_to < 1:
        raise ValueError(
            f"iterate: coalesce_to must be >= 1 or None, got {coalesce_to}"
        )

    converged = False
    replaced = None
    for i in range(max_rounds):
        nxt = step(state, i)
        has_flag = changed_col in nxt.columns
        if coalesce_to is not None:
            nxt = nxt.coalesce(coalesce_to)
        nxt = materialize(nxt)
        if replaced is not None:
            # the new checkpoint is a leaf: nothing reads the one it
            # replaced any more
            _CHECKPOINTS.remove(replaced)
            _free(replaced, blocking=False)
        replaced = _CHECKPOINTS[-1]
        state = nxt.drop(changed_col) if has_flag else nxt
        # the limit-1 isEmpty scan reads the just-materialized partitions
        # instead of re-running the step
        if has_flag and nxt.filter(F.col(changed_col)).isEmpty():
            converged = True
            break
    state._iterate_converged = converged
    return state
