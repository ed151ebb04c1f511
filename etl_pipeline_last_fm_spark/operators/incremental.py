"""Incremental aggregate maintenance (materialized-view style).

The reference rebuilds its marts from scratch each run (full GROUP BY over
history). At 100 TB the only sane contract is: keep the mart as a PARTIAL
STATE (additive components — sums and counts, never averages or rounded
values), fold each new batch's partial into it, and derive presentation
columns at read time. Sum and count are associative+commutative, so

    present(merge(state(A), state(B))) == present(state(A ∪ B))

for ANY split of the input — late data, backfill, overlapping groups — not
just disjoint date partitions. That identity is this module's contract and
is property-tested (equivalence under arbitrary splits, merge
associativity). AVG specifically must be maintained as (sum, count):
averaging averages is wrong the moment group sizes differ, which is why
``present`` derives it at the end.

The state is kept in exact INTEGER centi-units, not doubles: a float sum
is order-dependent at the ulp level, so two different merge histories of
the same rows could present values that round differently at the 4th
decimal — the state would no longer be a pure function of the row set,
which is the whole contract. Fixed-point sums are associative exactly.
(This bit in practice: the float version failed the cross-engine check at
one 4-decimal rounding boundary.)

Scale: each batch pays one partial+final hash aggregate of ITS OWN rows
plus a merge whose size is |existing groups| — O(batch) + O(mart), never
O(history). The state is a plain DataFrame/parquet table, so it also
serves as the foreachBatch fold state for a streaming mart: ``mart_step``
is its step for streaming/state.py's fold driver.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round


def additive_state(
    df: DataFrame, keys: Sequence[str], value_col: str
) -> DataFrame:
    """Partial aggregate state for per-key SUM/COUNT/AVG: (keys, s, c).
    ``s`` is the value in half-up-rounded centi-units (exact BIGINT) —
    see module docstring for why the state must not hold float sums."""
    cents = F.floor(F.col(value_col) * F.lit(100.0) + F.lit(0.5)).cast("long")
    return df.groupBy(*keys).agg(
        F.sum(cents).alias("s"),
        F.count(value_col).alias("c"),
    )


def merge_states(states: Sequence[DataFrame], keys: Sequence[str]) -> DataFrame:
    """Fold partial states: component-wise sums per key. Associative and
    commutative — fold order and input splits cannot change the result."""
    out = states[0]
    for s in states[1:]:
        out = out.unionByName(s)
    return out.groupBy(*keys).agg(
        F.sum("s").alias("s"),
        F.sum("c").alias("c"),
    )


def additive_step(
    make: Callable[[DataFrame], DataFrame],
    merge: Callable[[DataFrame, DataFrame], DataFrame],
) -> Callable[[DataFrame | None, DataFrame], DataFrame]:
    """Fold step of a mergeable state: the batch's own state (``make``),
    merged into the previous one when there is one. This is the
    ``step(prev, batch)`` shape streaming/state.fold_batch drives."""

    def step(prev: DataFrame | None, batch: DataFrame) -> DataFrame:
        new = make(batch)
        return new if prev is None else merge(prev, new)

    return step


def sum_by(keys: Sequence[str]) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """Merge of two additive states keyed by ``keys``: every other column
    sums per key (associative and commutative)."""
    keys = list(keys)

    def merge(prev: DataFrame, new: DataFrame) -> DataFrame:
        return prev.unionByName(new).groupBy(*keys).agg(
            *[F.sum(c).alias(c) for c in new.columns if c not in keys]
        )

    return merge


def mart_step(keys: Sequence[str], value_col: str):
    """Fold step of a streaming mart: ``additive_state`` per batch, summed
    into the previous state per key."""
    keys = list(keys)
    return additive_step(
        lambda batch: additive_state(batch, keys, value_col),
        lambda prev, new: merge_states([prev, new], keys),
    )


def present(state: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Presentation view of the state: value_sum (2dp, exact), value_avg
    (4dp; one IEEE division of exact integers, so the rounding boundary is
    engine-independent), n_rows — derived at read time, never stored."""
    return state.select(
        *keys,
        (F.col("s").cast("double") / F.lit(100.0)).alias("value_sum"),
        half_up_round(F.col("s").cast("double") / (F.col("c") * F.lit(100.0)), 4).alias(
            "value_avg"
        ),
        F.col("c").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Round-5: incremental JOIN maintenance (delta rules)
# ---------------------------------------------------------------------------


def join_delta(
    da: DataFrame,
    db: DataFrame,
    a_state: DataFrame | None,
    b_state: DataFrame | None,
    on: Sequence[str],
) -> DataFrame:
    """One application of the join delta rule:
    Δ(A ⋈ B) = ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪ ΔA ⋈ ΔB. THE single home of
    the identity — both the batch fold (incremental_join_batches) and the
    streaming join step (streaming/ivm.py) call this, so the two paths cannot
    drift (bag semantics, null-key behavior, future state-side hints)."""
    on = list(on)
    terms = []
    if b_state is not None:
        terms.append(da.join(b_state, on))
    if a_state is not None:
        terms.append(a_state.join(db, on))
    terms.append(da.join(db, on))
    delta = terms[0]
    for t in terms[1:]:
        delta = delta.unionByName(t)
    return delta


def incremental_join_batches(
    a_batches: Sequence[DataFrame],
    b_batches: Sequence[DataFrame],
    on: Sequence[str],
) -> DataFrame:
    """Maintain a materialized inner join incrementally over batched
    arrivals on BOTH sides — the classic delta rule

        Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

    folded over k rounds. Round t pays |ΔA_t| ⋈ |B_<t| + |A_<t| ⋈ |ΔB_t|
    + |ΔA_t| ⋈ |ΔB_t| — O(delta × state), never O(history × history) —
    which is the only sane contract for a 100 TB join maintained daily
    (the reference recomputes its joins from scratch each run; this is
    the incremental-aggregate contract of this module extended from
    GROUP BY to ⋈).

    Correctness is an algebraic identity — after round t the maintained
    M equals (A_0 ∪..∪ A_t) ⋈ (B_0 ∪..∪ B_t) for ANY batching of either
    side, including keys whose matching rows arrive in different rounds
    (the two one-sided terms) or the same round (the ΔΔ term). That
    identity is the registered query's oracle (the plain one-shot join)
    and is property-tested under splits that exercise all three terms.

    Bag semantics (inner join of multisets) — no dedup anywhere, exactly
    like the one-shot join. States are localCheckpoint-ed per round:
    M is referenced once but A/B states feed two consumers each (the
    delta join + the state union), the usual 2^n lineage guard.
    """
    if len(a_batches) != len(b_batches):
        raise ValueError(
            f"batch lists must pair up: {len(a_batches)} != {len(b_batches)}"
            " (pad the shorter side with empty frames)"
        )
    if not a_batches:
        raise ValueError("incremental_join_batches needs at least one batch")
    on = list(on)
    a_state = b_state = m_state = None
    for da, db in zip(a_batches, b_batches):
        delta = join_delta(da, db, a_state, b_state, on)
        m_state = delta if m_state is None else m_state.unionByName(delta)
        m_state = m_state.localCheckpoint()
        a_state = (da if a_state is None else a_state.unionByName(da)).localCheckpoint()
        b_state = (db if b_state is None else b_state.unionByName(db)).localCheckpoint()
    return m_state
