"""Streaming incremental JOIN maintenance (foreachBatch delta-rule fold).

Completes the IVM family: operators/incremental.py maintains aggregates
(additive states); this module maintains a materialized two-sided inner
join from one sequence of TAGGED deltas — continuously under
streaming/state.py's driver, or over batches under operators/rounds.py's
``fold_rounds``, with the same ``join_step``. Each row carries a
``side`` column ('a' or 'b') plus that side's payload columns
(``side_tagged`` builds such slices). Per micro-batch the step applies
the delta rule

    ΔM = ΔA ⋈ B_state ∪ A_state ⋈ ΔB ∪ ΔA ⋈ ΔB

then appends ΔA/ΔB to the side states and ΔM to the join state. The
delta rule bounds the JOIN COMPUTE to O(|Δ| × matched-state); the
snapshot COMMIT still rewrites each full state per batch (commit_state
writes whole versioned snapshots — at true materialized-join scale the
commit layout must become append/partitioned so the I/O matches the
compute bound; the algebra is unchanged).

The three states are the parts ``JOIN_PARTS`` of one fold under
streaming/state.py's driver: a and b commit first, m LAST, so m is the
replay guard for the trio (ΔM appends, unlike HLL maxima, double-count
on replay), and a crash between the side commits and the m commit
replays against the pre-batch a/b versions.

Why one tagged stream rather than two readStreams: foreachBatch binds a
single streaming source per query, and a union-of-sources with a side
tag is the standard lowering — it also gives the delta rule its
atomicity (one batch carries BOTH sides' deltas, so the ΔΔ term is
well-defined per batch).

Equality contract (tested): after any prefix of batches, the m state
equals the one-shot inner join of all side-a rows seen ⋈ all side-b rows
seen — for ANY split of either side across batches, including replays.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField

from etl_pipeline_last_fm_spark.operators.incremental import join_delta

#: Side states a and b, then the join state m, which commits last.
JOIN_PARTS = ("a", "b", "m")


def join_step(on: Sequence[str]):
    """Fold step over ``JOIN_PARTS``: split the tagged batch into ΔA and
    ΔB, apply the delta rule, and append each delta to its state."""
    on = list(on)

    def step(prev, batch_df: DataFrame):
        a_state, b_state, m_state = prev or (None, None, None)
        # Tagged-schema contract, VALIDATED (not just implied): columns
        # are exactly {side} ∪ on ∪ a_-prefixed payload ∪ b_-prefixed
        # payload. A payload column without its side prefix would
        # otherwise be silently dropped from the maintained state; an
        # on-key with a side prefix would be selected twice and break
        # the join.
        cols = set(batch_df.columns)
        bad_on = [k for k in on if k.startswith(("a_", "b_"))]
        if bad_on:
            raise ValueError(f"join keys must not use side prefixes: {bad_on}")
        stray = cols - {"side"} - set(on) - {
            c for c in cols if c.startswith(("a_", "b_"))
        }
        if stray:
            raise ValueError(
                f"unprefixed payload columns would be dropped: {sorted(stray)};"
                " name side-a payloads a_* and side-b payloads b_*"
            )
        da = batch_df.filter(F.col("side") == "a").drop("side")
        db = batch_df.filter(F.col("side") == "b").drop("side")
        da = da.select(*on, *[c for c in da.columns if c.startswith("a_")])
        db = db.select(*on, *[c for c in db.columns if c.startswith("b_")])
        delta = join_delta(da, db, a_state, b_state, on)
        return (
            da if a_state is None else a_state.unionByName(da),
            db if b_state is None else b_state.unionByName(db),
            delta if m_state is None else m_state.unionByName(delta),
        )

    return step


def side_tagged(
    a_batches: Sequence[DataFrame],
    b_batches: Sequence[DataFrame],
    on: Sequence[str],
) -> list[DataFrame]:
    """Pair the i-th ΔA with the i-th ΔB into one tagged slice of the
    shape ``join_step`` reads: a ``side`` column, the ``on`` keys, and
    each payload column under its side's ``a_`` / ``b_`` prefix, NULL on
    the other side's rows."""
    if len(a_batches) != len(b_batches):
        raise ValueError(
            f"batch lists must pair up: {len(a_batches)} != {len(b_batches)}"
            " (pad the shorter side with empty frames)"
        )
    on = list(on)

    def payload(df: DataFrame) -> list[StructField]:
        return [f for f in df.schema.fields if f.name not in on]

    def tag(df: DataFrame, side: str, other_df: DataFrame, other: str):
        return df.select(
            F.lit(side).alias("side"),
            *on,
            *[F.col(f.name).alias(f"{side}_{f.name}") for f in payload(df)],
            *[
                F.lit(None).cast(f.dataType).alias(f"{other}_{f.name}")
                for f in payload(other_df)
            ],
        )

    return [
        tag(da, "a", db, "b").unionByName(tag(db, "b", da, "a"))
        for da, db in zip(a_batches, b_batches)
    ]
