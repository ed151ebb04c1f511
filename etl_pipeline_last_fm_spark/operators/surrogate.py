"""Surrogate key assignment (``serial`` emulation, SURVEY.md §2.6).

The reference relies on Postgres ``serial`` columns (reference
scripts/ddl_dds.sql:3,9,15,24; scripts/ddl_ods.sql:15) whose two load-bearing
properties are: (a) keys are *stable across daily increments* — existing rows
keep their ids because the fact table stores them
(dags/from_ods_to_dds_pg.py:90-95); (b) new rows get ids above the current
max. Assignment *order* within a batch is arbitrary in Postgres; here it is
pinned to the natural-key sort so results are deterministic and
oracle-checkable.

Two implementations:

- ``assign_surrogate_keys`` — ``row_number() over (order by natural key)``.
  A global window means a single-partition sort of the *new rows only*; for
  dimension deltas (hundreds of rows/day in the reference) this is exactly
  right and is what the DuckDB oracle can mirror verbatim.
- ``assign_surrogate_keys_distributed`` — for huge batches: sort-free
  two-phase numbering. Range-repartition by the natural key, count rows per
  partition, prefix-sum the counts on the driver (#partitions values, not
  rows), then number within partitions via a partition-local row_number.
  Equivalent output, no single-partition bottleneck.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def assign_surrogate_keys(
    new_rows: DataFrame,
    key_col: str,
    natural_order: list[str],
    existing: DataFrame | None = None,
) -> DataFrame:
    """Number new rows 1..N (deterministically, by natural key) offset by the
    current max id in ``existing``."""
    offset = 0
    if existing is not None:
        row = existing.agg(F.max(key_col).alias("m")).collect()[0]
        offset = row["m"] or 0
    w = Window.orderBy(*[F.col(c) for c in natural_order])
    return new_rows.withColumn(key_col, (F.row_number().over(w) + F.lit(offset)).cast("long"))


def assign_surrogate_keys_distributed(
    new_rows: DataFrame,
    key_col: str,
    natural_order: list[str],
    existing: DataFrame | None = None,
    num_partitions: int | None = None,
    cache_out: list[DataFrame] | None = None,
) -> DataFrame:
    """Scalable variant: same ids as ``assign_surrogate_keys`` (dense,
    natural-key-ordered, max-offset) without a global single-partition sort.

    spark_partition_id + per-partition counts -> driver prefix sum (one int
    per partition) -> partition-local row_number. The only global step moves
    #partitions integers, not rows.

    ``cache_out``: the numbering pins a persisted intermediate (see the
    persist() comment below). Pass a list to receive that handle and
    ``unpersist()`` it once the result has been materialized (ADVICE r11:
    without release, a long-running multi-day driver accumulates one
    cached fact delta per day) — ``build_fact`` threads it to the pipeline,
    which releases after the fact write. Without ``cache_out`` the cache
    lives until session eviction (fine for one-shot registry queries).
    """
    offset = 0
    if existing is not None:
        row = existing.agg(F.max(key_col).alias("m")).collect()[0]
        offset = row["m"] or 0

    parts = num_partitions or new_rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = new_rows.repartitionByRange(int(parts), *[F.col(c) for c in natural_order])
    # persist(): the per-partition counts are collected in ONE action and
    # the numbering is consumed in a LATER one — repartitionByRange picks
    # its boundaries by sampling, so an unpersisted re-execution could
    # land rows in different partitions than the counts were taken from,
    # producing duplicate/gapped ids. Materializing the ranged frame pins
    # both reads to the same partitioning. Cache ownership: the caller
    # releases via ``cache_out`` after materializing the numbering;
    # otherwise lives until session eviction, spills to disk (same note
    # as dedup's candidate persists).
    with_pid = ranged.withColumn("__pid", F.spark_partition_id()).persist()
    if cache_out is not None:
        cache_out.append(with_pid)

    counts = {
        r["__pid"]: r["cnt"]
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    prefix: dict[int, int] = {}
    running = offset
    for pid in sorted(counts):
        prefix[pid] = running
        running += counts[pid]

    if prefix:
        mapping = F.create_map(
            *[F.lit(x) for kv in prefix.items() for x in kv]
        )[F.col("__pid")]
    else:
        # Empty batch: create_map() with no entries types as map<void,void>
        # and map()[int] fails analysis — there are no rows to number, so
        # any well-typed offset expression is correct (never evaluated).
        mapping = F.lit(offset)
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in natural_order])
    return (
        with_pid.withColumn(
            key_col,
            (F.row_number().over(w) + mapping).cast("long"),
        )
        .drop("__pid")
    )
