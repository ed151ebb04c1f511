"""Skew mitigation: salting for hot keys (SURVEY.md §7.7).

AQE's skew-join splitting handles most runtime skew; this explicit form
is for a case AQE can't see: a hot grouping key whose partial aggregate
state itself is the bottleneck.

- ``salted_aggregate``: two-phase aggregation. Phase 1 groups on
  (key, salt) — the hot key's rows spread over ``buckets`` reducers — then
  phase 2 combines the per-salt partials. Supported aggregates are the
  algebraic ones whose partials compose (sum/count/min/max + avg via
  sum/count).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_PHASE1 = {
    "sum": F.sum,
    "count": lambda c: F.count(F.lit(1)),  # COUNT(*) — rows
    "count_col": F.count,  # COUNT(col) — non-null values (SQL AVG's n)
    "min": F.min,
    "max": F.max,
}
_PHASE2 = {
    "sum": F.sum,
    "count": F.sum,  # counts combine by summation
    "count_col": F.sum,
    "min": F.min,
    "max": F.max,
}


def salted_aggregate(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    buckets: int = 16,
) -> DataFrame:
    """``aggs``: out_col -> (fn, in_col) with fn in sum/count/min/max/avg.

    avg decomposes into sum+count partials and a final division, so it is
    exact (not an average of averages).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(buckets)).alias("__salt")

    phase1_cols, phase2_cols, final_cols = [], [], []
    for out, (fn, col) in aggs.items():
        if fn == "avg":
            # COUNT(col), not COUNT(*): SQL AVG skips NULLs in both legs
            phase1_cols += [F.sum(col).alias(f"__{out}_s"), F.count(col).alias(f"__{out}_c")]
            phase2_cols += [F.sum(f"__{out}_s").alias(f"__{out}_s"), F.sum(f"__{out}_c").alias(f"__{out}_c")]
            final_cols.append((F.col(f"__{out}_s") / F.col(f"__{out}_c")).alias(out))
        else:
            phase1_cols.append(_PHASE1[fn](col).alias(f"__{out}_p"))
            phase2_cols.append(_PHASE2[fn](f"__{out}_p").alias(f"__{out}_p"))
            final_cols.append(F.col(f"__{out}_p").alias(out))

    partial = df.withColumn("__salt", salt).groupBy(*keys, "__salt").agg(*phase1_cols)
    combined = partial.groupBy(*keys).agg(*phase2_cols)
    return combined.select(*[F.col(k) for k in keys], *final_cols)
