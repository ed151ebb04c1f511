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


def funnel_stages(
    events: DataFrame,
    stages: tuple[str, str, str] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-user deepest funnel stage, strict sequential semantics.

    stage_depth: 0 = never did stages[0]; k = completed stages[0..k-1] in
    order (each stage's first qualifying event strictly after the previous
    stage's). Returns (user_id, stage_depth, stage).
    """
    s1, s2, s3 = stages
    us = ts_us(ts_col)
    w = Window.partitionBy(user_col)
    t1 = events.withColumn(
        "__t1", F.min(F.when(F.col(type_col) == s1, us)).over(w)
    )
    t2 = t1.withColumn(
        "__t2",
        F.min(F.when((F.col(type_col) == s2) & (us > F.col("__t1")), us)).over(w),
    )
    t3 = t2.withColumn(
        "__t3",
        F.min(F.when((F.col(type_col) == s3) & (us > F.col("__t2")), us)).over(w),
    )
    depth = (
        F.when(F.col("__t3").isNotNull(), 3)
        .when(F.col("__t2").isNotNull(), 2)
        .when(F.col("__t1").isNotNull(), 1)
        .otherwise(0)
    )
    label = (
        F.when(F.col("__t3").isNotNull(), F.lit("_".join(stages)))
        .when(F.col("__t2").isNotNull(), F.lit("_".join(stages[:2])))
        .when(F.col("__t1").isNotNull(), F.lit(s1))
        .otherwise(F.lit("none"))
    )
    return (
        t3.select(
            user_col,
            depth.cast("int").alias("stage_depth"),
            label.alias("stage"),
        )
        .distinct()
    )
