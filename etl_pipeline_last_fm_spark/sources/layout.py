"""Output-layout writers: the two file-layout problems every large sink hits.

``write_sorted`` — globally ordered output without a global sort:
``repartitionByRange`` samples the sort key to build range boundaries, each
partition sorts locally, and file i is entirely <= file i+1. Total order
across files, no single-partition stage anywhere (the same reason
``orderBy`` alone is fine for a LIMIT but wrong as a write plan: Spark
would still range-partition, but an explicit repartitionByRange lets the
caller pick the file count instead of inheriting shuffle.partitions).

``write_compacted`` — the small-files fix in one action: a ``REBALANCE``
hint lets AQE size the write tasks from
``spark.sql.adaptive.advisoryPartitionSizeInBytes`` (coalescing a small
sink to one task, splitting a large one), and ``maxRecordsPerFile`` caps
every output file at the target row count. A 100 TB table written at
shuffle-partition granularity produces millions of KB-sized files that
throttle every later scan on listing + open overhead; compaction at write
time is cheaper than a follow-up OPTIMIZE pass. With AQE off the rebalance
falls back to ``spark.sql.shuffle.partitions`` tasks: the same rows, more
files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    n_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Write globally range-ordered parquet: file boundaries are sampled
    range splits on ``sort_cols``, rows sorted within each file."""
    (
        df.repartitionByRange(n_files, *sort_cols)
        .sortWithinPartitions(*sort_cols)
        .write.mode(mode)
        .parquet(path)
    )


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """Write parquet in AQE-sized tasks with at most
    ``target_rows_per_file`` rows per output file, in one Spark action."""
    write_compacted_partitioned(
        df, path, [], target_rows_per_file, mode, dynamic_overwrite=False
    )


def write_compacted_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
    dynamic_overwrite: bool = True,
) -> None:
    """``write_compacted`` for hive-partitioned sinks (the daily marts).
    The rebalance is round-robin, NOT on the partition columns: hashing on
    the partition column would send a single-date run to one task — the
    exact ``coalesce(1)`` bottleneck this replaces — while a round-robin
    rebalance lets AQE split a large single-date write across tasks."""
    writer = (
        df.hint("rebalance")
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
    )
    if dynamic_overwrite:
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.partitionBy(*partition_cols).parquet(path)
