"""Event sessionization — gap-based session windows.

Batch form: the classic lag/flag/cumsum/aggregate window pipeline, all
native expressions (one shuffle on the user key; every window and the final
aggregate share that partitioning, so Catalyst plans a single Exchange).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import cents, ts_us


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """One row per (user, session): start/end, event count, value sum.

    A new session starts when the gap to the previous event of the same user
    exceeds ``gap_minutes``. Gap arithmetic is integer microseconds
    (`ts_us`, NTZ-safe) so batch, streaming and the DuckDB oracle agree
    exactly regardless of whether parquet loads as TIMESTAMP or
    TIMESTAMP_NTZ.
    """
    gap_us = gap_minutes * 60_000_000
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(ts_us("ts")).over(w)
    new_session = F.when(
        prev_us.isNull() | (ts_us("ts") - prev_us > gap_us), F.lit(1)
    ).otherwise(F.lit(0))
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        events.withColumn("__new", new_session)
        .withColumn("session_seq", F.sum("__new").over(w_run))
        .groupBy(F.col("user_id"), F.col("session_seq"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit):
            # value_col is intended-2-decimal data, so the cent recovery is
            # lossless and the session total never depends on combine order
            (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias(
                "session_value"
            ),
        )
    )
