"""Session-scoped cache tracking.

Operators that persist intermediates mid-pipeline (two-consumer relations:
the LSH band relation, the shingle arrays) cannot unpersist before their caller has consumed the
result — but a long-lived session running many queries would otherwise
accumulate cached blocks indefinitely. ``persist_tracked`` registers every
such persist; hosts (bench.py's query loop, test fixtures, the CLI after
each command) call ``release_cached`` between units of work.

Cluster fault-tolerance note: ``persist`` pins computed partitions but is
NOT a durability guarantee — on executor loss the lineage recomputes, and
a nondeterministically-partitioned lineage (``repartitionByRange`` samples
boundaries per execution) can recompute DIFFERENT partitions. Pipelines
whose correctness depends on frozen partitioning across multiple jobs
should use ``localCheckpoint``/``checkpoint`` on a real cluster;
``persist_tracked(df, checkpoint=True)`` opts in.

``iterate`` runs the rounds of every iterative operator (graph, k-means,
BPE, greedy selection): the one place a per-round ``localCheckpoint`` is
taken.
"""

from __future__ import annotations

from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def persist_tracked(
    df: DataFrame,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
    checkpoint: bool = False,
) -> DataFrame:
    """Persist (or eagerly localCheckpoint) a DataFrame and register it for
    later release. Returns the DataFrame to persist/checkpoint semantics:
    with ``checkpoint=True`` the returned DF's lineage is truncated, making
    multi-job reuse safe under executor loss."""
    if checkpoint:
        out = df.localCheckpoint(eager=True)
        _TRACKED.append(out)
        return out
    # re-persisting an already-persisted relation is a Spark no-op, but it
    # emits a CacheManager "already cached" warning and walks the whole
    # lineage to find the cached plan — skip it (and don't double-track)
    try:
        already = df.storageLevel.useMemory or df.storageLevel.useDisk
    except Exception:
        already = False
    if not already:
        df.persist(level)
        _TRACKED.append(df)
    return df


def release_cached(blocking: bool = False) -> int:
    """Unpersist every tracked DataFrame; returns how many were released.

    Contract: call only AFTER the consuming action of every plan built on a
    tracked persist has completed — i.e. between units of work, not mid-query.
    A plan that baked driver-side state derived from a persisted relation
    with nondeterministic partitioning must NOT be re-executed after
    release: a recompute can give different partitions than the baked state
    describes. Re-executing such a plan requires either rebuilding it or
    having persisted with ``checkpoint=True`` (lineage truncated, recompute
    impossible)."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist(blocking)
            n += 1
        except Exception:
            pass
    return n


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    rounds: int,
    until: Callable[[DataFrame], bool] | None = None,
) -> DataFrame:
    """Apply ``step`` to ``state`` for up to ``rounds`` rounds, truncating
    the lineage between rounds, and return the last state.

    With ``until`` the loop converges: each round's state is checkpointed
    LAZILY, ``until(state)`` runs right after, and the loop stops at the
    first round where it returns True; a loop that has not converged
    within ``rounds`` raises ``RuntimeError``. Without ``until`` the loop
    runs all ``rounds``: every round's state but the last is checkpointed
    EAGERLY, and the last is returned unchecked, so the caller's plan is
    its one consumer.

    Why the checkpoint kind follows ``until``. A lazy ``localCheckpoint``
    stores its blocks in the first job that computes the relation. That is
    safe only if that job reads every partition and references the
    relation once: two references in one job compute the same partitions
    concurrently, the race that forces eager checkpoints elsewhere (q27's
    candidate relation). ``until`` is such a job by contract: it is the
    first consumer of the new state and reads every row (a count, a full
    aggregate, a global argmax), so the convergence test doubles as the
    materialising job, and the next round's plan, which may reference the
    state more than once, reads the stored blocks. A fixed-round loop has
    no such scan, so its checkpoint is eager: the next round's plan (hits'
    max rescale, k-core's two semi-joins) is not guaranteed to reference
    the state once. Its last round needs no checkpoint: nothing after it
    re-reads the lineage. Over the 14 queries that run these loops at
    sf0.01, leaving it unchecked ran 5 jobs fewer in total than
    checkpointing it; q149 alone ran more (19-20 jobs against 18).

    Job counts: building either checkpoint executes the round's adaptive
    plan at once, one job per shuffle or broadcast stage; an eager
    checkpoint, or a count or collect in ``until``, adds one more. So a
    round runs one job per stage plus one, not one job a round: measured
    7 jobs a round for ``pagerank``, 14 for ``hits``, 5 for ``kcore`` and
    7 for ``connected_components`` on a chain. An eager checkpoint
    followed by a count would run one more.

    ``localCheckpoint`` blocks live on the executors and die with one; on
    a multi-executor cluster a reliable ``checkpoint`` is the durable
    choice (see the module docstring).
    """
    for i in range(rounds):
        state = step(state)
        if until is not None:
            state = state.localCheckpoint(eager=False)
            if until(state):
                return state
        elif i < rounds - 1:
            state = state.localCheckpoint(eager=True)
    if until is not None:
        raise RuntimeError(f"{step.__qualname__} did not converge in {rounds} rounds")
    return state
