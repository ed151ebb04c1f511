"""Interval algebra: sweep-line concurrency without a global window.

"How many sessions are open right now" is the classic interval-stabbing
question (connection pools, concurrency dashboards, capacity planning).
The textbook answer is a sweep: sort all interval endpoints, +1 at each
start, −1 at each end, and read the running sum. The naive lowering is
ONE window over the whole corpus ordered by time — a single-partition
WindowExec, the exact anti-pattern the repo's plan guards exist to catch.

Here the sweep is the **two-phase prefix sum** (the pack_sequences /
surrogate-keys device): endpoints are bucketed by coarse time, the
running sum runs WITHIN each bucket (parallel across buckets), per-bucket
delta totals roll up into a carry-in (one tiny window over the
calendar-bounded bucket table), and each endpoint's global running sum is
carry + within-bucket sum. No global sort, no single-partition window;
the only serial structure is one row per time bucket.

Tie discipline: the sweep order is (epoch-µs, kind, *interval keys) with
starts (kind 0) BEFORE ends (kind 1) at the same instant, so intervals
that touch at a point count as concurrent (closed-interval semantics) and
the order is total whenever the key columns identify intervals uniquely —
both engines replay it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us

_US_DAY = 86_400_000_000


def interval_concurrency(
    intervals: DataFrame,
    key_cols: list[str],
    start_col: str = "session_start",
    end_col: str = "session_end",
    bucket_us: int = _US_DAY,
) -> DataFrame:
    """(key_cols..., start_us, n_concurrent): for each interval, the
    number of intervals open at its start instant (itself included) under
    closed-interval semantics. ``key_cols`` must uniquely identify
    intervals (they are the sweep tie-break)."""
    keys = [F.col(c) for c in key_cols]
    # ONE scan of the (possibly expensive) interval subtree: each row
    # explodes to its two endpoints, and the result is localCheckpoint-ed
    # because two consumers read it (the within-bucket window and the
    # per-bucket totals) — the twice-consumed-subtree house rule.
    pts = (
        intervals.select(
            *keys,
            F.explode(
                F.array(
                    F.struct(
                        ts_us(F.col(start_col)).alias("__us"),
                        F.lit(0).alias("__kind"),
                        F.lit(1).alias("__delta"),
                    ),
                    F.struct(
                        ts_us(F.col(end_col)).alias("__us"),
                        F.lit(1).alias("__kind"),
                        F.lit(-1).alias("__delta"),
                    ),
                )
            ).alias("__p"),
        )
        .select(*key_cols, "__p.*")
        .withColumn("__b", F.expr(f"__us div {bucket_us}"))
        .localCheckpoint()
    )
    w_in = (
        Window.partitionBy("__b")
        .orderBy("__us", "__kind", *key_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = pts.withColumn("__run", F.sum("__delta").over(w_in))
    # Carry-in: cumulative sum of PRIOR buckets' deltas. The bucket table
    # is calendar-bounded (one row per day at the default), so this
    # single-partition window runs over a tiny relation by construction;
    # broadcast for the same reason (the packing.py block-offset pattern).
    tot = pts.groupBy("__b").agg(F.sum("__delta").alias("__t"))
    w_carry = (
        Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = tot.withColumn(
        "__carry", F.coalesce(F.sum("__t").over(w_carry), F.lit(0))
    ).select("__b", "__carry")
    # Same-instant starts: every interval starting at instant t is open
    # at t, so each takes the LAST start's running sum of that instant
    # (max over the us-partition) — never the order-dependent prefix.
    w_us = Window.partitionBy("__us")
    return (
        within.join(F.broadcast(carry), "__b")
        .filter(F.col("__kind") == 0)
        .withColumn("__n", F.col("__carry") + F.col("__run"))
        .select(
            *key_cols,
            F.col("__us").alias("start_us"),
            F.max("__n").over(w_us).cast("long").alias("n_concurrent"),
        )
    )
