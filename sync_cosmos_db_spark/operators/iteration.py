"""One driver for the fixed-point loops over DataFrames (PageRank,
BFS, Bellman–Ford, label propagation, k-core, HITS, connected
components): each operator is a ``step`` function plus one call.

* **Lineage.**  A chained state grows its plan every round (a step
  that reads the state twice doubles it).  The driver takes an eager,
  scope-registered ``localCheckpoint`` after every round; the new
  state's plan is then a leaf, so the previous checkpoint is freed at
  once.
* **Convergence.**  ``until(r)`` is an aggregate Column over the state
  after round ``r``, attached with ``DataFrame.observe`` so the
  checkpoint job computes it; the loop stops when it reads 0.

Inputs every round reads (an edge list) belong in
``cache_scope.cached`` around the call.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

from sync_cosmos_db_spark.cache_scope import scoped_local_checkpoint


def iterate(state: DataFrame,
            step: Callable[[DataFrame, int], DataFrame],
            rounds: int,
            until: Callable[[int], Column] | None = None,
            ) -> tuple[DataFrame, bool]:
    """Run ``state = step(state, r)`` for ``r = 1 .. rounds``.

    Returns ``(state, converged)``: the final state as an eager,
    scope-registered ``localCheckpoint`` (lineage-truncated, safe for
    any number of consumers, gone after
    ``cache_scope.release_persisted()``), and whether ``until`` read 0
    within ``rounds`` rounds (always False without ``until``).
    ``rounds == 0`` checkpoints the initial state."""
    if rounds < 0:
        raise ValueError(f"iterate: rounds must be >= 0, got {rounds}")
    if rounds == 0:
        return scoped_local_checkpoint(state), False
    held = None  # the driver's live checkpoint, freed when replaced
    # A checkpoint every round: under AQE a state read twice between
    # checkpoints is scheduled once per read, so at sf0.001 on 4 cores
    # the 11 queries that reach these loops ran 243, 284 and 365 build
    # jobs at 1, 2 and 3 rounds per checkpoint.
    for r in range(1, rounds + 1):
        state = step(state, r)
        obs = None
        if until is not None:
            obs = Observation()
            state = state.observe(obs, until(r).alias("until"))
        state = held = scoped_local_checkpoint(state, replacing=held)
        if obs is not None and obs.get["until"] == 0:
            return state, True
    return state, False
