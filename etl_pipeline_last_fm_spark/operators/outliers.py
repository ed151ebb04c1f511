"""Robust outlier detection: median / MAD (median absolute deviation).

The data-curation cousin of `profile.py`'s moments: mean/stddev outlier
fences break down the moment the data HAS outliers (one 10^9 reading drags
the mean toward itself and inflates sigma until nothing is flagged);
median and MAD have a 50% breakdown point, which is why robust z-scores
are the standard filter for sensor-grade event streams and LLM training
data quality cuts.

Reference parity: the reference has no outlier pass (its numeric cleanup
is the CASE-WHEN imputation, reference `dags/from_ods_to_dds_pg.py` staging
update); this extends the cleaning tier the same way dedup extends its
ON CONFLICT.

Exactness: medians are RANK-BASED, not interpolated — the lower median
(the value at row_number floor((n+1)/2) ordering by (value, id)) is what
PERCENTILE_DISC(0.5) returns, is a genuine data value, and is identical
in any engine regardless of how ties are ordered (equal values at the
boundary rank yield the same value). The deviation |v - med| is one IEEE
subtraction (correctly rounded, bit-identical cross-engine) and the
flag comparison dev > c * mad multiplies by an INTEGER cutoff — no float
constant (the textbook 1.4826 sigma-consistency factor is deliberately
folded into the caller's cutoff choice) and hence no cross-engine ulp
boundary anywhere in the decision.

Scale shape: exact per-group medians need a per-group sort — two window
stages (one for value rank, one for deviation rank), i.e. two shuffles on
the group key, both spill-safe sorts, never a global sort. The
approximate single-pass alternative at extreme group cardinality is
`profile.quantile_buckets` / the KMV quantile sketch (sketch.py); this is
the exact path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round


def _grouped_lower_median(
    df: DataFrame, value_col: str, group_cols: list[str], out_name: str
) -> DataFrame:
    """Per group: the value at rank floor((n+1)/2) ordering by value —
    PERCENTILE_DISC(0.5) semantics, tie-safe by construction."""
    w = Window.partitionBy(*group_cols).orderBy(F.col(value_col))
    wc = Window.partitionBy(*group_cols)
    ranked = df.select(
        *group_cols,
        F.col(value_col),
        F.row_number().over(w).alias("__rk"),
        F.count(F.lit(1)).over(wc).alias("__n"),
    )
    return ranked.groupBy(*group_cols).agg(
        F.max(
            F.when(
                F.col("__rk") == F.floor((F.col("__n") + 1) / 2),
                F.col(value_col),
            )
        ).alias(out_name),
        F.max("__n").alias("__n"),
    )


def mad_outliers(
    events: DataFrame,
    value_col: str = "value",
    group_cols: list[str] | None = None,
    id_col: str = "event_id",
    cutoff: int = 3,
) -> DataFrame:
    """Rows whose |value - median(group)| > cutoff * MAD(group), plus the
    group statistics that flagged them. ``cutoff`` is an integer multiple
    of the raw (unconsistent) MAD — callers wanting the Gaussian-sigma
    convention use cutoff ~= round(k * 1.4826) for k sigmas.
    """
    group_cols = group_cols or ["event_type"]
    # NULL values are excluded up front: Spark window ORDER BY sorts
    # NULLS FIRST while DuckDB defaults to NULLS LAST, so a NULL reaching
    # the rank computation would shift the median rank differently per
    # engine — and a NULL measurement is not an outlier candidate anyway.
    events = events.filter(F.col(value_col).isNotNull())
    med = _grouped_lower_median(events, value_col, group_cols, "med").drop("__n")
    with_med = events.join(med, group_cols)
    dev = with_med.withColumn(
        "__dev", F.abs(F.col(value_col) - F.col("med"))
    )
    mad = (
        _grouped_lower_median(dev, "__dev", group_cols, "mad")
        .select(*group_cols, "mad")
    )
    flagged = dev.join(mad, group_cols).filter(
        F.col("__dev") > F.lit(cutoff) * F.col("mad")
    )
    return flagged.select(
        F.col(id_col),
        *group_cols,
        F.col(value_col),
        half_up_round(F.col("med"), 4).alias("med"),
        half_up_round(F.col("mad"), 4).alias("mad"),
    )
