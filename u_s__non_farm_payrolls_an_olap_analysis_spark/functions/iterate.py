"""The loop of every per-round-checkpointed iteration.

Iterative operators (min-label components, BFS, k-core peeling, Lloyd's
k-means, power iteration) rebind a DataFrame once per round. Each round
references the previous generation, often more than once, so without a
cut the LOGICAL plan grows (doubles, for two references) per round even
when the frame is cached — ``.cache()`` stops re-execution, not plan
growth — and plan stringification ran the JVM out of heap near round 10
(round-12 ``graph_connected_components``). ``localCheckpoint(eager=True)``
replaces the lineage with the materialized blocks, so every round plans
against a leaf. Production on a real cluster would use a reliable
``checkpoint()`` dir for fault tolerance; the loop is the same.

This module owns that loop: the round cap, the per-round cut, the
changed-row count and the non-convergence raise
(``tests/test_registry_contract.py::test_convergence_loop_has_one_owner``).
Steps may still checkpoint their own internal multi-consumer frames.
Fixed-count unrolls that run no action per round (PageRank, LPA) stay
plain ``for`` loops: a per-round checkpoint would only add jobs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    *,
    rounds: int,
    changed: Column | None = None,
    name: str,
) -> tuple[DataFrame, int]:
    """Run ``state = step(state, r)`` for r = 1..``rounds``, eagerly
    checkpointing each returned frame. With ``changed`` (a predicate
    over the state) the loop stops at the first round where no row
    matches it, and raises if no round gets there — silent
    non-convergence would return an answer that disagrees with the
    oracle's closure. Without it, exactly ``rounds`` rounds run.
    Returns the final state and the number of rounds run."""
    for r in range(1, rounds + 1):
        state = step(state, r).localCheckpoint(eager=True)
        if changed is not None and state.filter(changed).count() == 0:
            return state, r
    if changed is not None:
        raise RuntimeError(f"{name}: no convergence in {rounds} rounds")
    return state, rounds
