"""The one round loop for iterative DataFrame algorithms.

Every checkpointed iteration in the operator layer (the user-graph
Pregel loops in operators/graph.py, the near-dup closure in
operators/dedup.py) runs through :func:`iterate`, so the lineage
truncation and stop rules live here once (CLAUDE.md conventions #12,
#15(d) and #16):

* round ``k`` (1-based) with ``k % every == 0`` and ``k`` before the
  last round ends in an EAGER ``localCheckpoint`` — the per-round plan
  stays flat, and it is the only kind of checkpoint that runs the final
  stage, so Observations on the round's frame resolve there;
* the frame entering the last round is referenced twice (by that round
  and, as ``prev``, by the caller's convergence audit), so it is lazily
  checkpointed unless the cadence already truncated it;
* the final frame is lazily checkpointed (its consumers — audit join
  plus output — share one materialization) unless the loop ended on an
  eager checkpoint;
* ``stop()`` is read only right after an eager checkpoint, where the
  Observations it reads have resolved; it ends the loop when true;
* ``every=0`` truncates nothing, exposing the whole per-round plan for
  the plan pins in tests/test_plans.py.

The initial state counts as truncated: callers hand in a checkpointed
or loop-invariant frame. ``localCheckpoint`` truncates without fault
tolerance; on a cluster a reliable checkpoint directory takes its place.
"""

from __future__ import annotations

import itertools
from typing import Callable

from pyspark.sql import DataFrame


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int | None,
    *,
    every: int,
    stop: Callable[[], bool] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``state = step(state, k)`` for k = 1..rounds and return
    ``(final, prev)``, ``prev`` being the frame that entered the last
    round run. ``rounds=None`` runs until ``stop()`` is true."""
    ks = itertools.count(1) if rounds is None else range(1, rounds + 1)
    prev = state
    for k in ks:
        last = k == rounds
        if last and every and (k - 1) % every:
            state = state.localCheckpoint(eager=False)
        prev = state
        state = step(state, k)
        if every and k % every == 0 and not last:
            state = state.localCheckpoint()
            if stop is not None and stop():
                return state, prev
    if every:
        state = state.localCheckpoint(eager=False)
    return state, prev
