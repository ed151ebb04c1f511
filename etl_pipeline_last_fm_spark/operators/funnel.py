"""Sequential funnel analysis over an event log.

"Of the users who did A, how many then did B, and then C?" — the product-
analytics staple (and, as a plan shape, the ordered-sequence pattern
MATCH_RECOGNIZE engines special-case). Strict ordering matters: a purchase
BEFORE the first view must not count, so this is not three independent
EXISTS checks.

Spark-first plan: all three stage timestamps are conditional MINs windowed
over the SAME user partition — Catalyst plans one Exchange on user_id and
evaluates the three Window steps on the co-located rows, so the whole
funnel is a single shuffle of the event log, not one join per stage. The
per-user stage label then aggregates to a 1-row-per-stage summary (tiny).

Timestamps compare as integer microseconds (``ts_us``, NTZ-safe ↔ DuckDB
``epoch_us``) — the same cross-engine convention as sessionize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us


def funnel_stages(events: DataFrame) -> DataFrame:
    """Per-user deepest stage of the view -> click -> purchase funnel,
    strict sequential semantics.

    stage_depth: 0 = never viewed; k = completed the first k stages in
    order (each stage's first qualifying event strictly after the previous
    stage's). Returns (user_id, stage_depth, stage).
    """
    us = ts_us("ts")
    w = Window.partitionBy("user_id")
    t1 = events.withColumn(
        "__t1", F.min(F.when(F.col("event_type") == "view", us)).over(w)
    )
    t2 = t1.withColumn(
        "__t2",
        F.min(F.when((F.col("event_type") == "click") & (us > F.col("__t1")), us)).over(w),
    )
    t3 = t2.withColumn(
        "__t3",
        F.min(F.when((F.col("event_type") == "purchase") & (us > F.col("__t2")), us)).over(w),
    )
    depth = (
        F.when(F.col("__t3").isNotNull(), 3)
        .when(F.col("__t2").isNotNull(), 2)
        .when(F.col("__t1").isNotNull(), 1)
        .otherwise(0)
    )
    label = (
        F.when(F.col("__t3").isNotNull(), F.lit("view_click_purchase"))
        .when(F.col("__t2").isNotNull(), F.lit("view_click"))
        .when(F.col("__t1").isNotNull(), F.lit("view"))
        .otherwise(F.lit("none"))
    )
    return (
        t3.select(
            "user_id",
            depth.cast("int").alias("stage_depth"),
            label.alias("stage"),
        )
        .distinct()
    )
