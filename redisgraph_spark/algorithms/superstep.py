"""One superstep loop for every iterative algorithm in ``algorithms/``.

Pregelix (VLDB 2014) models a superstep as join(vertex state,
messages) → group-by combine → apply. Each algorithm writes that as
``step(state, rnd)``: the lazy DataFrame of the next state, built from
the current one. :func:`run` drives the loop and is the one place that

- cuts lineage: every new state is materialized with
  ``localCheckpoint(eager=True)`` — exactly one cut, hence one job, per
  superstep — so a plan never grows deeper than one superstep;
- halts: on an empty frontier (:func:`frontier_empty`), on no change
  (:func:`unchanged`), on an algorithm's own test, or at ``max_rounds``;
- reports convergence: :class:`Run` carries a ``converged`` flag, and
  :func:`warn_capped` is the one warning for a run-to-fixpoint call
  that hit its cap.

:func:`cut` is the same lineage cut for an algorithm's static inputs
(edge projections, root sets) built once before the loop.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame

Step = Callable[[DataFrame, int], DataFrame]
Halt = Callable[[DataFrame, DataFrame, int], bool]


@dataclass
class Run:
    """The last cut state, the supersteps executed, and whether the run
    halted by its rule (a fixed-round run counts as converged once its
    rounds are done)."""
    state: DataFrame
    rounds: int
    converged: bool


def cut(df: DataFrame) -> DataFrame:
    """Materialize ``df`` and drop its lineage."""
    return df.localCheckpoint(eager=True)


def run(state: DataFrame, step: Step, max_rounds: int,
        halt: Halt | None = None) -> Run:
    """Apply ``step`` (rounds numbered from 1) until ``halt(new, old,
    rnd)`` holds for a freshly cut state, or ``max_rounds`` supersteps
    have run. ``halt=None`` runs exactly ``max_rounds`` rounds."""
    for rnd in range(1, max_rounds + 1):
        new = cut(step(state, rnd))
        if halt is not None and halt(new, state, rnd):
            return Run(new, rnd, True)
        state = new
    return Run(state, max_rounds, halt is None)


def frontier_empty(frontier: Callable[[DataFrame, int], DataFrame]
                   ) -> Halt:
    """Halt when ``frontier(state, rnd)`` — the vertices the superstep
    just activated — is empty: one ``take(1)`` probe of the cut state."""
    return lambda new, _old, rnd: not frontier(new, rnd).take(1)


def unchanged(*aggs: Column) -> Halt:
    """Halt when a one-row aggregate of the state equals the previous
    round's. For a monotone state (minimum labels, surviving edges) an
    equal aggregate means a fixpoint; the first round never halts."""
    last: list[tuple] = []

    def halt(new: DataFrame, _old: DataFrame, _rnd: int) -> bool:
        sig = tuple(new.agg(*aggs).collect()[0])
        same = last == [sig]
        last[:] = [sig]
        return same
    return halt


def warn_capped(res: Run, what: str, hint: str) -> None:
    """Warn, once, that a run-to-fixpoint call stopped at its cap."""
    if not res.converged:
        warnings.warn(
            f"{what}: no fixpoint after {res.rounds} rounds — {hint}",
            RuntimeWarning, stacklevel=3)
