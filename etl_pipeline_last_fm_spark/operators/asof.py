"""Temporal joins: as-of (point-in-time) and bounded time-range joins.

Neither exists as a built-in Spark join type, and the naive formulations are
scale-killers (an inequality theta-join is a cross join with a residual
filter). Both operators here re-express the semantics as shuffle-friendly
plans:

- ``asof_join``: union the two streams and run ONE window pass per key —
  last-observation-carried-forward via ``last(ignorenulls=True)``. Cost is a
  single shuffle on the key (same partitioning for the window sort), never a
  join at all. This is the standard distributed as-of formulation (cf.
  Flink's temporal join and kdb's aj): at 100 TB both sides shuffle once on
  the key and the window is a local sort-merge per partition.
- ``time_range_join``: |t_a - t_b| <= max_gap via time bucketing. Each right
  row lands in bucket floor(t/gap); each left row probes its own bucket ±1
  (a 3x row expansion of the LEFT side only), so candidates come from an
  equi-join on (key, bucket) and the exact predicate filters residuals.
  Candidate count follows bucket co-occupancy — linear for real event
  streams — instead of |A|x|B|.

DuckDB oracle twins: native ``ASOF JOIN`` (a genuinely different
implementation — strong oracle) and a plain BETWEEN theta-join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    right_value_cols: list[str] | None = None,
    tolerance_us: int | None = None,
) -> DataFrame:
    """For each left row, attach the right row with the greatest timestamp
    <= the left timestamp for the same key (inclusive, 'backward' as-of).

    Contract: the right side must be unique per (key, ts) — pre-aggregate if
    not (the query entries do); with duplicates the carried row would depend
    on sort-tiebreak, which no oracle could pin.

    Returns all left columns plus each right value col (null when no right
    row precedes) and ``matched_ts_us`` (epoch-µs of the matched right row).
    ``tolerance_us`` additionally nulls matches older than the tolerance
    window, mirroring pandas ``merge_asof(tolerance=...)``.
    """
    right_value_cols = right_value_cols or [
        c for c in right.columns if c not in (key_col, ts_col)
    ]
    us = ts_us(ts_col)
    # __side: right rows sort before left rows at identical ts, so an exact
    # ts tie is a match (>= semantics, like DuckDB ASOF's t >= t).
    lhs = left.withColumn("__side", F.lit(1))
    rhs = right.select(
        key_col,
        ts_col,
        *[F.col(c).alias(f"__rv_{c}") for c in right_value_cols],
    ).withColumn("__side", F.lit(0))
    unioned = lhs.unionByName(rhs, allowMissingColumns=True).withColumn("__us", us)

    w = (
        Window.partitionBy(key_col)
        .orderBy("__us", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = [
        F.last(f"__rv_{c}", ignorenulls=True).over(w).alias(f"__m_{c}")
        for c in right_value_cols
    ]
    matched_us = F.last(
        F.when(F.col("__side") == 0, F.col("__us")), ignorenulls=True
    ).over(w)

    out = unioned.select("*", *carried, matched_us.alias("__m_us")).filter(
        F.col("__side") == 1
    )
    if tolerance_us is not None:
        in_tol = F.col("__us") - F.col("__m_us") <= F.lit(tolerance_us)
        out = out.select(
            *[c for c in out.columns if not c.startswith("__m_")],
            *[
                F.when(in_tol, F.col(f"__m_{c}")).alias(f"__m_{c}")
                for c in right_value_cols
            ],
            F.when(in_tol, F.col("__m_us")).alias("__m_us"),
        )
    keep = [c for c in left.columns]
    return out.select(
        *keep,
        *[F.col(f"__m_{c}").alias(f"matched_{c}") for c in right_value_cols],
        F.col("__m_us").alias("matched_ts_us"),
    )


def time_range_join(
    a: DataFrame,
    b: DataFrame,
    key_col: str,
    max_gap_us: int,
    ts_col: str = "ts",
    a_id: str = "event_id",
    b_id: str = "event_id",
) -> DataFrame:
    """All (a, b) pairs of the same key with 0 <= t_b - t_a <= max_gap_us
    (directed: b follows a within the window — the attribution-join shape).

    Bucketed equi-join: b is assigned bucket floor(t_b/gap) once; a probes
    buckets floor(t_a/gap) and floor(t_a/gap)+1 (t_b >= t_a bounds the probe
    set to 2, not 3). The join is equi- on (key, bucket); each true pair is
    produced exactly once because b's bucket is a function of b.
    """
    a_us = ts_us(ts_col)
    probes = F.array(
        F.floor(a_us / max_gap_us).cast("long"),
        (F.floor(a_us / max_gap_us) + 1).cast("long"),
    )
    lhs = a.select(
        F.col(key_col).alias("k"),
        F.col(a_id).alias("a_id"),
        a_us.alias("a_us"),
        F.explode(probes).alias("bucket"),
    )
    rhs = b.select(
        F.col(key_col).alias("k"),
        F.col(b_id).alias("b_id"),
        ts_us(ts_col).alias("b_us"),
        F.floor(ts_us(ts_col) / max_gap_us).cast("long").alias("bucket"),
    )
    gap = F.col("b_us") - F.col("a_us")
    return (
        lhs.join(rhs, on=["k", "bucket"])
        .filter((gap >= 0) & (gap <= max_gap_us))
        .select(F.col("k").alias(key_col), "a_id", "b_id", gap.alias("gap_us"))
    )
