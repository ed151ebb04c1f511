"""Kaplan–Meier survival estimation — the churn/retention curve.

The classic right-censored survival estimator over per-key lifetimes:
S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ), where at each distinct event time tᵢ the
risk set nᵢ is every subject still under observation and dᵢ the events
(here: churns) AT tᵢ. Subjects whose observation simply ends (still
active at the corpus frontier) are CENSORED: they leave the risk set but
contribute no factor — exactly the correction a naive "fraction retained
by day t" gets wrong. cohort_retention (operators/cohort.py) reports raw
day-k return rates; this is its statistically-honest sibling.

Exactness: the survival product is folded SEQUENTIALLY in integer ppm —
s' = s·(nᵢ − dᵢ) div nᵢ, truncating, from s₀ = 10⁶ — the same
order-dependent exact-integer device as the ema/holt folds, so both
engines walk bit-identical trajectories (a float product would drift in
the last ulp and hash-mismatch). The fold runs over the DAY DIMENSION
(distinct lifetime days — calendar-bounded), never over subjects.

Scale shape: one per-key aggregate over the event stream (the only
corpus-sized pass), a day-keyed risk table (dim-sized), one cumulative
window over that dim, and a single-row array fold for the product —
the rfm/abc dimension-window argument verbatim.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: A key is CHURNED if its last event sits more than this many days
#: before the corpus frontier; otherwise its lifetime is censored.
DEFAULT_CENSOR_DAYS = 7


def _km_step(s, n, d):
    """One exact KM step ``s·(n−d) div n`` (all non-negative longs).

    decimal(38,0) end-to-end: the product is exact below 1e38 (vs 2^53
    for a double), and subtracting the decimal remainder before dividing
    makes the quotient an exact integer, so Spark's round-to-result-scale
    decimal division is lossless and the long cast equals DuckDB's
    truncating ``//``.
    """
    dec = "decimal(38,0)"
    num = s.cast(dec) * (n - d).cast(dec)
    den = n.cast(dec)
    return ((num - num % den) / den).cast("long")


def km_survival(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    censor_days: int = DEFAULT_CENSOR_DAYS,
) -> DataFrame:
    """Kaplan–Meier risk table over per-key lifetimes (whole days from
    first to last event). Output, one row per distinct lifetime day:
    (t_day, n_risk, n_churned, n_censored, survival_ppm) — survival_ppm
    the exact truncated-integer KM product AFTER day t's churns."""
    from etl_pipeline_last_fm_spark.functions.scalar import ts_us

    us = ts_us(F.col(ts_col))
    day_us = 86_400_000_000
    per_key = events.groupBy(key_col).agg(
        F.min(us).alias("__first"), F.max(us).alias("__last")
    )
    frontier = per_key.agg(F.max("__last").alias("__frontier"))
    lifet = per_key.crossJoin(F.broadcast(frontier)).select(
        ((F.col("__last") - F.col("__first")) / F.lit(day_us))
        .cast("long").alias("t_day"),
        (
            (F.col("__frontier") - F.col("__last"))
            > F.lit(censor_days * day_us)
        ).alias("__churned"),
    )
    risk = lifet.groupBy("t_day").agg(
        F.sum(F.col("__churned").cast("long")).alias("n_churned"),
        F.sum((~F.col("__churned")).cast("long")).alias("n_censored"),
    )
    # n_risk(t) = subjects with lifetime >= t: total minus everyone who
    # left at a STRICTLY earlier day. The window runs over the day DIM.
    w = (
        Window.orderBy("t_day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    total = lifet.agg(F.count(F.lit(1)).alias("__total"))
    risk = risk.crossJoin(F.broadcast(total)).select(
        "t_day",
        (
            F.col("__total")
            - F.coalesce(
                F.sum(F.col("n_churned") + F.col("n_censored")).over(w),
                F.lit(0),
            )
        ).alias("n_risk"),
        "n_churned",
        "n_censored",
    )
    # Sequential exact-integer product over the day-ordered risk table:
    # a single-row array fold (the table is dim-sized by construction).
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.col("t_day").alias("t"),
                F.col("n_risk").alias("n"),
                F.col("n_churned").alias("d"),
                F.col("n_censored").alias("c"),
            )
        )
    )
    folded = risk.agg(arr.alias("__a")).select(
        F.aggregate(
            "__a",
            F.array().cast("array<struct<t:long,n:long,d:long,c:long,s:long>>"),
            lambda acc, e: F.concat(
                acc,
                F.array(
                    F.struct(
                        e["t"].alias("t"),
                        e["n"].alias("n"),
                        e["d"].alias("d"),
                        e["c"].alias("c"),
                        # s' = s·(n−d) div n in decimal(38,0) (the house
                        # rule): a long·long product then float `/` is
                        # only exact while s·(n−d) < 2^53 (n_risk ~1e10);
                        # here the product is exact to 1e38 and the
                        # division is forced exact by subtracting the
                        # decimal remainder first, so the quotient is an
                        # exact integer at ANY result scale — matching
                        # the oracle's truncating `//` bit-for-bit.
                        _km_step(
                            # try_element_at: NULL (not an ANSI index
                            # error) on the empty first step.
                            F.coalesce(
                                F.try_element_at(acc, F.lit(-1))["s"],
                                F.lit(1_000_000).cast("long"),
                            ),
                            e["n"],
                            e["d"],
                        ).alias("s"),
                    )
                ),
            ),
        ).alias("__r")
    )
    row = folded.select(F.explode("__r").alias("x"))
    return row.select(
        F.col("x.t").alias("t_day"),
        F.col("x.n").alias("n_risk"),
        F.col("x.d").alias("n_churned"),
        F.col("x.c").alias("n_censored"),
        F.col("x.s").alias("survival_ppm"),
    )
