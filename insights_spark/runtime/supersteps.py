"""The one round loop of the iterative graph operators: those in
text/links.py and the star contraction in geo/vectorize.py."""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame


def supersteps(state: DataFrame, step: Callable[[DataFrame], DataFrame],
               rounds: int, *pins: DataFrame,
               halt: Callable[[DataFrame, DataFrame], bool] | None = None,
               ) -> tuple[DataFrame, bool]:
    """Run ``state = step(state)`` up to ``rounds`` times; return the final
    state and whether ``halt(previous, current)`` stopped the loop.

    The initial state and every round's output are eagerly
    localCheckpointed: an iterative plan otherwise accretes a chain
    ``rounds`` deep that every action re-executes. The persisted inputs
    ``step`` reads (``pins``) are unpersisted at the end, since the final
    state, a checkpoint, reads none of them.
    """
    state = state.localCheckpoint(eager=True)
    halted = False
    for _ in range(rounds):
        prev, state = state, step(state).localCheckpoint(eager=True)
        if halt is not None and halt(prev, state):
            halted = True
            break
    for p in pins:
        p.unpersist()
    return state, halted
