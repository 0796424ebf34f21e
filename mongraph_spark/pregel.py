"""Shared driver-coordinated iterative-DataFrame loop (Pregel-style).

Every round loop in this repo — PageRank (fixed and delta-stop),
connected components, k-core peeling, label propagation, Louvain, k-truss,
random walks, Bradley–Terry, k-means, power iteration — is the same control
shape: a *state* DataFrame stepped through join-based rounds, with two
scale hazards this driver solves once for all of them:

1. **Lineage blowup**: N chained rounds = an N-deep plan; any action
   replays the whole chain and the optimizer re-analyzes a growing tree
   every round.  Bounded here by an eager ``lineage_cut`` every
   ``checkpoint_every`` rounds (the cadence amortizes the per-checkpoint
   job against group size — the pagerank loop measured per-round driver
   actions as the dominant cost of small iterations).
2. **Convergence tests re-running the chain**: a delta/changed-count probe
   on an *unmaterialized* state re-executes every round so far.  The
   contract therefore only evaluates ``converged`` on a freshly
   checkpointed state, so the probe reads materialized partitions.

Checkpoint-cadence/convergence contract:

- the initial state is eagerly checkpointed before round 1 (steps never
  replay upstream ETL — the k-core fix for the copurchase self-join);
- ``step`` is pure plan construction: state in, next state out, no
  actions; whatever bookkeeping a convergence probe needs (an
  ``old_rank``/``old_label`` carry column) is ``step``'s to produce and
  the caller's to strip afterwards;
- ``converged(state)`` — if given — runs after each checkpoint group on
  the checkpointed state and stops the loop when True.  With
  ``checkpoint_every > 1`` the probe sees the LAST round's carry columns,
  which for monotone-contraction algorithms (damped pagerank, min-label
  CC) is the group's tightest bound — the correct stop signal.

The cut itself is deployment-switched via ``sparkutil.lineage_cut``:
``localCheckpoint`` on local masters (executor loss = driver loss there,
so the no-fallback tradeoff costs nothing), reliable ``checkpoint(dir)``
on any non-local master (``SPARK_GRAFT_CHECKPOINT[_DIR]``) so a lost
executor mid-loop recomputes from storage instead of failing the job.
Dead states (every state but the returned one) are freed through
``sparkutil.release_cut`` as soon as the next state is cut.

Used by:

- queries/graph_analytics.py — pagerank (fixed, converged, seeded),
  connected components, k-core, label propagation, Louvain sweeps, HITS,
  landmark BFS, random walks, k-truss, diameter BFS, eigenvector
  centrality;
- queries/inference.py — Bradley–Terry MM rounds, ER label propagation;
- queries/similarity.py — k-means centroids, PCA power iteration;
- queries/text.py — TextRank keyword scores.

Two loops stay hand-rolled, each with its reason at the loop:
``graph_betweenness_landmarks`` (its backward pass reads every BFS layer)
and ``bpe_train_merges`` (each round's rewrite needs a driver-side
collect).  The reference has no iterative operators beyond shortestPath
(src/extendDocument.coffee:352-366), whose BFS lives in paths.py because
its per-hop visited-set bookkeeping is not a state-step loop.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from mongraph_spark.sparkutil import lineage_cut, release_cut


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    *,
    max_rounds: int,
    checkpoint_every: int = 1,
    converged: Callable[[DataFrame], bool] | None = None,
) -> tuple[DataFrame, int]:
    """Run ``step`` up to ``max_rounds`` times with bounded lineage.

    Returns ``(final_state, rounds_run)``; the final state is always an
    eagerly checkpointed DataFrame (safe to reuse after callers unpersist
    their inputs).
    """
    if max_rounds < 0:
        raise ValueError(f"max_rounds must be >= 0, got {max_rounds}")
    if checkpoint_every < 1:
        raise ValueError(f"checkpoint_every must be >= 1, got {checkpoint_every}")
    # lineage_cut = localCheckpoint on local masters, reliable
    # checkpoint() on clusters (SPARK_GRAFT_CHECKPOINT / _DIR): a lost
    # executor mid-iteration recomputes from the checkpoint dir instead
    # of failing the whole loop
    state = lineage_cut(state, eager=True)
    rounds = 0
    while rounds < max_rounds:
        group = min(checkpoint_every, max_rounds - rounds)
        cur = state
        for _ in range(group):
            cur = step(cur)
        cur = lineage_cut(cur, eager=True)
        # the previous state is dead the moment cur is materialized (the
        # contract: steps are pure plan construction over the incoming
        # state, probes run on the freshly cut state, callers get only
        # the final state) — release its blocks instead of holding every
        # round's state until session GC
        release_cut(state)
        rounds += group
        state = cur
        if converged is not None and converged(cur):
            break
    return state, rounds
