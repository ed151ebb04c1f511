"""2-D skyline (Pareto frontier) — the dominance filter.

A point survives the skyline iff NO other point is at-least-as-good on
both dimensions and strictly better on one: here cost is MINIMIZED and
gain is MAXIMIZED (the classic "cheap and big" query — Börzsönyi et al.,
"The Skyline Operator", ICDE 2001). The reference engine family exposes
this as a post-filter over ranked scans; relationally it reduces to TWO
running maxima once you observe a point is dominated iff

  max(gain over STRICTLY cheaper points) >= gain      (cheaper+no-worse)
  OR max(gain over SAME-cost points)      > gain       (tie-cost+better)

(identical (cost, gain) duplicates dominate each other on neither
dimension, so both survive — the standard skyline convention).

Scale shape: the textbook formulation is one GLOBAL window ordered by
cost — a single-partition bottleneck at 100 TB. This implementation uses
the session_concurrency device instead: hash-partitionable work inside
fixed-width COST BUCKETS (the intra-bucket window partitions by bucket),
plus a bucket-count-sized carry of per-bucket maxima whose prefix max is
broadcast back — every row in an earlier bucket is strictly cheaper by
construction (bucket = cost div width is monotone), so the carry IS the
cross-bucket running max. Nothing global touches row-sized data; the
only ordered structure is the bucket dim, which is bounded by
cost-range / width, not by the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def skyline_2d(
    points: DataFrame,
    id_col: str,
    cost_col: str,
    gain_col: str,
    bucket_width: int = 1000,
) -> DataFrame:
    """Filter ``points`` (integer ``cost_col`` minimized, integer
    ``gain_col`` maximized) to its Pareto frontier. Returns the input
    columns unchanged for the surviving rows.

    ``bucket_width`` controls parallelism only, never semantics: any
    width yields the same frontier (asserted by the property tests).

    A point with a NULL coordinate is not comparable on that dimension
    and is excluded explicitly on both engines (round-9 hostile nulls
    sweep: left implicit, SQL's 3-valued NOT EXISTS kept incomparable
    rows the window path dropped)."""
    points = points.where(
        F.col(cost_col).isNotNull() & F.col(gain_col).isNotNull()
    )
    pts = points.select(
        F.col(id_col).alias("__id"),
        F.col(cost_col).cast("long").alias("__cost"),
        F.col(gain_col).cast("long").alias("__gain"),
    ).withColumn("__bucket", F.expr(f"__cost div {int(bucket_width)}"))

    # Bucket-dim carry: max gain of every STRICTLY earlier bucket. The
    # window runs over the bucket DIMENSION (cost-range/width rows), the
    # calendar-bounded-carry precedent — never over row-sized data.
    bmax = pts.groupBy("__bucket").agg(F.max("__gain").alias("__bmax"))
    w_carry = (
        Window.orderBy("__bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = bmax.select(
        "__bucket", F.max("__bmax").over(w_carry).alias("__carry")
    )

    # Intra-bucket running max over strictly cheaper rows (RANGE frame on
    # the exact cost, partitioned by bucket), plus the same-cost max.
    w_cheaper = (
        Window.partitionBy("__bucket")
        .orderBy("__cost")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy("__bucket", "__cost")
    flagged = (
        pts.join(F.broadcast(carry), "__bucket")
        # greatest() skips NULLs: first bucket (no carry) and cheapest
        # row of a bucket (empty RANGE frame) degrade to the other arm,
        # and to NULL (= nothing cheaper exists) only when both are.
        .withColumn("__cheap_max",
                    F.greatest(F.max("__gain").over(w_cheaper),
                               F.col("__carry")))
        .withColumn("__same_max", F.max("__gain").over(w_same))
    )
    dominated = (
        (F.col("__cheap_max").isNotNull()
         & (F.col("__cheap_max") >= F.col("__gain")))
        | (F.col("__same_max") > F.col("__gain"))
    )
    return flagged.filter(~dominated).select(
        F.col("__id").alias(id_col),
        F.col("__cost").alias(cost_col),
        F.col("__gain").alias(gain_col),
    )


def skyline_step(
    id_col: str, cost_col: str, gain_col: str, bucket_width: int = 1000
):
    """Incrementally-maintained skyline — the FRONTIER-STATE member of
    the IVM family: the carried state is the current Pareto frontier, and
    one batch folds in as  state' = skyline(state ∪ batch),  which is
    exact because dominance only ever REMOVES points:
        skyline(A ∪ B) = skyline(skyline(A) ∪ B)
    (any point dominated within A is dominated in A ∪ B by the same
    witness, and a surviving witness of the dominator chain is itself in
    skyline(A)). Unlike the ordered folds (ema/holt/twap) this identity
    is SET-algebraic: it holds for ANY partition of the input, in any
    order — no delivery contract, no frontier timestamps. The one-shot
    ``skyline_2d`` over the union IS the oracle.

    One step, shared by the batch fold (operators/rounds.py) and the
    streaming twin (streaming/state.py). The carried state is
    frontier-sized (for 2-D uniform data, O(log n) expected), so each
    round costs skyline(tiny ∪ batch) — the one-shot's bucket + carry
    plan with the state riding along as a few extra rows."""

    def step(state: DataFrame | None, batch: DataFrame) -> DataFrame:
        pts = batch.select(id_col, cost_col, gain_col)
        if state is not None:
            pts = state.unionByName(pts)
        return skyline_2d(
            pts, id_col, cost_col, gain_col, bucket_width=bucket_width
        )

    return step
