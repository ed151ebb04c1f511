"""Output-layout writers: the small-files problem every large sink hits.

``write_compacted`` fixes it in one action: a ``REBALANCE``
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


def write_compacted(
    df: DataFrame,
    path: str,
    target_rows_per_file: int = 1_000_000,
) -> None:
    """Overwrite ``path`` with parquet in AQE-sized tasks with at most
    ``target_rows_per_file`` rows per output file, in one Spark action."""
    write_compacted_partitioned(df, path, [], target_rows_per_file)


def write_compacted_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    target_rows_per_file: int = 1_000_000,
    mode: str = "overwrite",
) -> None:
    """``write_compacted`` for hive-partitioned sinks (the daily marts).
    The rebalance is round-robin, NOT on the partition columns: hashing on
    the partition column would send a single-date run to one task — the
    exact ``coalesce(1)`` bottleneck this replaces — while a round-robin
    rebalance lets AQE split a large single-date write across tasks.

    An overwrite replaces only the partitions the frame holds: the write
    always asks for dynamic partition overwrite, which Spark applies only
    in overwrite mode and only when there are partition columns (an
    append, or an unpartitioned overwrite, is unaffected)."""
    (
        df.hint("rebalance")
        .write.mode(mode)
        .option("maxRecordsPerFile", target_rows_per_file)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
