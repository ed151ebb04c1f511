"""Zero-value imputation with a per-partition mean.

The reference's one genuinely non-trivial semantic (SURVEY.md §2.2 P8/P9):

    CASE WHEN duration_sec = 0
         THEN (SELECT AVG(duration_sec)::INT FROM ods
               WHERE duration_sec > 0 AND source_date = <d>)
         ELSE duration_sec END
    -- reference dags/from_ods_to_dds_pg.py:74-77

i.e. rows holding the sentinel (0) are replaced by the mean of the
*non-sentinel* rows of the same date partition, rounded half-away to int.

Spark realization: a window aggregate conditional on the sentinel —
``avg(when(x > 0, x)) over (partition by <date>)`` — which Catalyst executes
as one hash-aggregate-over-window per partition; no scalar-subquery
re-evaluation, no driver round-trip, and it scales per-key instead of
requiring a global broadcast. Postgres evaluates the scalar subquery once
per statement (an InitPlan); the window form is the distributed equivalent
when the statement covers *many* date partitions at once.

Edge case (FIXTURES.md A5.2): a partition where ALL values are the sentinel
has mean NULL -> imputed value stays NULL (documented; the reference would
write NULL too since AVG over zero rows is NULL).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round


def impute_zero_with_partition_mean(
    df: DataFrame,
    value_col: str,
    partition_cols: list[str],
    out_col: str | None = None,
) -> DataFrame:
    """Replace the sentinel 0 with the half-up-rounded mean of the non-zero
    values within each partition, as int."""
    out_col = out_col or value_col
    v = F.col(value_col)
    w = Window.partitionBy(*partition_cols)
    mean_nonzero: Column = F.avg(F.when(v != F.lit(0), v)).over(w)
    imputed = F.when(v == F.lit(0), half_up_round(mean_nonzero).cast("int")).otherwise(
        v.cast("int")
    )
    return df.withColumn(out_col, imputed)
