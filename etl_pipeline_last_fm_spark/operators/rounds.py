"""The one round driver behind every fixed-input iterative operator.

Two families of operator iterate in rounds:

- ordered and additive folds (EMA, CUSUM, TWAP, Holt, both attributions,
  the skyline frontier, the incremental join): ``state = step(state,
  batch)`` over a list of batches. Each passes the SAME ``step`` its
  streaming twin hands to ``streaming/state.maintain``, so batch and
  stream differ only in the driver, never in the fold. The six ordered
  folds' bodies are in turn one kernel, ``timeseries.fold_ordered``;
- fixed-round graph and training loops (k-core, SSSP and BFS, Lloyd
  k-means): ``state = step(state, i)`` over ``range(n)``.

Lineage policy, decided here once: every round's state is
``localCheckpoint``-ed. A round's plan references the previous state two
or three times (carry + relax, the semi-join source plus both survivor
branches, the fold join plus the frontier), so an uncut loop builds a
2^n / 3^n-copy plan — exponential analysis and execution. A tuple state
(the join's a/b/m, attribution's key state and channel totals) is cut
part by part. A part that only projects or filters a frame the step
already cut is left as it is: attribution's key state is a projection of
the folded frame its fold cuts (the frame also feeds the credit delta),
and cutting it again would cost one job per round (attribution_fold and
attribution_decay_fold at sf0.01: 17 jobs, not 20). An initial state is cut
once, before the first round, so ``n = 0`` returns the round-0 state, as
each oracle's ``x0`` CTE does.

Loops that stay outside on purpose:

- ``graph.pagerank_micro``, ``graph.pagerank_weighted_micro`` and
  ``graph.label_propagation_rounds`` reference the previous round exactly
  once, so they build ONE linear plan executed by a single action and
  cut nothing;
- ``dedup.connected_components`` and ``packing.bpe_train`` stop on a
  value they collect each round (no label changed, no pair left), which
  a fixed-input driver cannot express.

``unroll_ctes`` is the oracle side of the same loop: the DuckDB twins
unroll their rounds as chained CTEs.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable


def _is_cut(df) -> bool:
    """True when ``df`` only projects or filters one checkpointed frame,
    with no subquery. Its lineage is already short, so cutting it again
    would be a job that copies rows and shortens nothing."""
    node = df._jdf.queryExecution().analyzed()
    if not node.subqueriesAll().isEmpty():
        return False
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().apply(0)
    return node.nodeName() == "LogicalRDD" and node.rdd().isCheckpointed()


def _cut(state):
    if isinstance(state, tuple):
        return tuple(_cut(part) for part in state)
    return state if _is_cut(state) else state.localCheckpoint()


def fold_rounds(step: Callable, inputs: Iterable, state=None):
    """``state = step(state, x)`` for each ``x`` in ``inputs``, cutting
    the lineage of every round's result (see the module docstring).
    ``state=None`` means no state yet: the first step starts from
    scratch. Raises ``ValueError`` when there is neither an initial
    state nor any input."""
    if state is not None:
        state = _cut(state)
    for x in inputs:
        state = _cut(step(state, x))
    if state is None:
        raise ValueError("fold_rounds needs an initial state or at least one input")
    return state


def unroll_ctes(head: str, round_sql: Callable[[int], str], n: int) -> str:
    """``head`` followed by ``round_sql(i)`` for i = 1..n: round i's CTEs
    read round i-1's."""
    return head + "".join(round_sql(i) for i in range(1, n + 1))
