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
  Equivalent output with no existing dimension (ids 1..N), no
  single-partition bottleneck; sorted-neighborhood blocking ranks with it.

``assign_surrogate_keys`` takes its max-id offset from ``offset_by_max``,
an in-plan 1-row aggregate, so building its frame launches no Spark job.
The fact build numbers each date's rows with its own date-partitioned
window and the same offset.
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
    w = Window.orderBy(*[F.col(c) for c in natural_order])
    return offset_by_max(
        new_rows.withColumn("__rn", F.row_number().over(w)), key_col, existing
    )


def offset_by_max(
    numbered: DataFrame, key_col: str, existing: DataFrame | None
) -> DataFrame:
    """``key_col`` = ``__rn`` + the max ``key_col`` of ``existing`` (0 when
    there is none), the max taken by a 1-row aggregate cross-joined into the
    plan instead of collected to the driver."""
    if existing is None:
        base = F.lit(0)
    else:
        numbered = numbered.crossJoin(
            F.broadcast(
                existing.agg(
                    F.coalesce(F.max(key_col).cast("long"), F.lit(0)).alias("__base")
                )
            )
        )
        base = F.col("__base")
    return numbered.withColumn(key_col, (F.col("__rn") + base).cast("long")).drop(
        "__rn", "__base"
    )


def assign_surrogate_keys_distributed(
    new_rows: DataFrame,
    key_col: str,
    natural_order: list[str],
    num_partitions: int | None = None,
) -> DataFrame:
    """Scalable variant: same ids as ``assign_surrogate_keys`` with no
    ``existing`` dimension (dense 1..N, natural-key-ordered) without a
    global single-partition sort.

    spark_partition_id + per-partition counts -> driver prefix sum (one int
    per partition) -> partition-local row_number. The only global step moves
    #partitions integers, not rows. The persisted intermediate it pins
    lives until session eviction (see the persist() comment below).
    """
    parts = num_partitions or new_rows.sparkSession.conf.get("spark.sql.shuffle.partitions")
    ranged = new_rows.repartitionByRange(int(parts), *[F.col(c) for c in natural_order])
    # persist(): the per-partition counts are collected in ONE action and
    # the numbering is consumed in a LATER one — repartitionByRange picks
    # its boundaries by sampling, so an unpersisted re-execution could
    # land rows in different partitions than the counts were taken from,
    # producing duplicate/gapped ids. Materializing the ranged frame pins
    # both reads to the same partitioning. It lives until session
    # eviction and spills to disk (same note as dedup's candidate persists).
    with_pid = ranged.withColumn("__pid", F.spark_partition_id()).persist()

    counts = {
        r["__pid"]: r["cnt"]
        for r in with_pid.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    prefix: dict[int, int] = {}
    running = 0
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
        mapping = F.lit(0)
    w = Window.partitionBy("__pid").orderBy(*[F.col(c) for c in natural_order])
    return (
        with_pid.withColumn(
            key_col,
            (F.row_number().over(w) + mapping).cast("long"),
        )
        .drop("__pid")
    )

