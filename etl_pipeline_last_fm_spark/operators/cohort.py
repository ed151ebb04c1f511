"""Cohort retention analysis: users bucketed by first-activity week, then
counted per (cohort week, weeks-since-cohort) — the classic product-
analytics triangle every warehouse grows eventually.

Reference parity: the reference's marts are daily aggregates over the
chart fact (reference dags/from_dds_to_dm_pg.py); retention extends the
same events surface the sessionize/funnel operators already cover.

Exactness: all time arithmetic is integer epoch-microseconds through the
NTZ-safe ``ts_us`` helper — week buckets are epoch_us div week_us (no
calendar/timezone rendering anywhere), week offsets are integer
subtraction, and counts are COUNT(DISTINCT user), so there is no float
in the operator at all.

Scale shape: two shuffles — one groupBy(user) for the cohort assignment
(a min over each user's events), one groupBy(cohort, offset) with a
distinct-user count inside. The cohort table is |users| rows; the join
back to events is a plain equi-join on user_id AQE may broadcast when
small. At extreme user cardinality the exact COUNT(DISTINCT) swaps for
the HLL sketch (operators/sketch.py) — the approximate path this module
deliberately leaves to it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us

WEEK_US = 7 * 24 * 3600 * 1_000_000


def cohort_retention(events: DataFrame) -> DataFrame:
    """(cohort_week, week_offset, n_users): distinct users from the
    cohort_week cohort active week_offset weeks later. week 0 row is the
    cohort size (every user is active in their own first week)."""
    wk = (ts_us(F.col("ts")) / F.lit(WEEK_US)).cast("long")
    ev = events.select(F.col("user_id").alias("__u"), wk.alias("__wk"))
    cohorts = ev.groupBy("__u").agg(F.min("__wk").alias("__cohort"))
    joined = ev.join(cohorts, "__u").select(
        "__u",
        "__cohort",
        (F.col("__wk") - F.col("__cohort")).alias("__off"),
    )
    return (
        joined.groupBy(
            F.col("__cohort").alias("cohort_week"),
            F.col("__off").alias("week_offset"),
        )
        .agg(F.count_distinct("__u").alias("n_users"))
    )
