"""Idempotent insert (``ON CONFLICT DO NOTHING`` emulation).

The reference's only upsert operator, used 5 times (SURVEY.md §2.7, U1-U5;
e.g. reference dags/transformed_from_s3_to_pg.py:147-150 with the UNIQUE
arbiter at scripts/ddl_ods.sql:23). Semantics: first-writer-wins — rows whose
conflict key already exists are skipped, and duplicate keys *within* one
batch collapse to a single row.

Spark realization (no Delta required):

1. in-batch dedupe, deterministic: ``row_number() over (partition by key
   order by tiebreaker) = 1`` — NOT ``dropDuplicates``, which keeps an
   arbitrary row (Appendix A.7);
2. cross-batch skip: ``left_anti`` join against the existing keys.

Scale notes: the anti-join shuffles both sides on the conflict key unless the
existing-keys projection is small enough to broadcast — for dimension tables
it always is, so ``broadcast_existing=True`` is the default there. For a
100 TB fact table, the existing side should first be partition-pruned to the
date partitions the incoming batch can touch, which turns "anti-join against
all of history" into "anti-join against today" — the same trick the
reference gets from its date-scoped UNIQUE index probes. The daily pipeline
knows its run date, so it pre-filters ``existing`` to that partition with a
literal filter before calling here. Streaming ingest cannot (a micro-batch
can span dates) and passes ``prune_on``, which semi-joins ``existing`` to the
dates found in the batch itself. With
concurrent writers this needs a transactional table format (Delta MERGE);
single-writer-per-partition is assumed, as in the reference (SURVEY.md §7
"what's hard" #3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def first_writer_wins(batch: DataFrame, keys: list[str], tiebreaker: list[str] | None = None) -> DataFrame:
    """Deterministic in-batch dedupe: keep the first row per conflict key in
    ``tiebreaker`` order (statement order in the reference; an explicit
    ordering here because distributed input has no arrival order)."""
    order = [F.col(c) for c in (tiebreaker or [c for c in batch.columns if c not in keys])]
    if not order:
        order = [F.lit(1)]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def idempotent_append(
    batch: DataFrame,
    existing: DataFrame | None,
    keys: list[str],
    tiebreaker: list[str] | None = None,
    broadcast_existing: bool = False,
    prune_on: list[str] | None = None,
) -> DataFrame:
    """Rows of ``batch`` that survive first-writer-wins dedupe and whose
    conflict key is absent from ``existing``. Append the result to storage to
    complete the upsert.

    ``prune_on``: partition columns used to pre-filter ``existing`` to only
    the partitions present in the batch (semi-join) before the anti-join —
    essential when ``existing`` is years of history and the batch is one day.
    """
    deduped = first_writer_wins(batch, keys, tiebreaker)
    if existing is None:
        return deduped
    existing_keys = existing.select(*keys)
    if prune_on:
        batch_parts = batch.select(*prune_on).distinct()
        existing_keys = existing_keys.join(F.broadcast(batch_parts), prune_on, "left_semi")
    if broadcast_existing:
        existing_keys = F.broadcast(existing_keys)
    # Null-safe key equality: a UNIQUE key containing NULL (e.g. an imputed
    # duration on an all-sentinel day, FIXTURES.md A5.2) must still match its
    # own prior insert, or every re-run would duplicate the row. (Postgres
    # treats NULLs as distinct in plain UNIQUE constraints; first-writer-wins
    # + null-safe match is the saner semantic and is documented as a
    # deviation.)
    aliased = existing_keys.select(*[F.col(k).alias(f"__ex_{k}") for k in keys])
    cond = None
    for k in keys:
        c = deduped[k].eqNullSafe(aliased[f"__ex_{k}"])
        cond = c if cond is None else (cond & c)
    return deduped.join(aliased, cond, "left_anti")
