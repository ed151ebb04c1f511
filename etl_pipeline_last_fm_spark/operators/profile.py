"""Column profiling — the data-quality summary every ingest runs first.

One aggregation pass computes (rows, non-nulls, distincts, min, max,
rounded mean) for every requested column, then the single result row is
unpivoted driver-free with ``stack`` into one row per column. The wide-agg-
then-stack shape matters at 100 TB: it is ONE scan and ONE partial+final
aggregate over the table regardless of how many columns are profiled —
never a per-column pass. (Multiple count-distincts do expand the plan;
Spark rewrites them via a single expand+aggregate, still one scan.)

The DuckDB oracle is the transparent per-column UNION ALL of the same
aggregates — a deliberately different plan computing the same answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """Profile numeric columns: one output row per column with
    (col_name, n_rows, n_nonnull, n_distinct, min_val, max_val, avg_val).

    ``avg_val`` is reported at 4 decimals and each value is quantized to
    1e-4 units before the (order-insensitive, exact-integer) sum, so the
    mean is exact for any input column with <= 4 decimal places; beyond
    that the 5th+ decimals are rounded per row, never silently truncated
    below the output precision.

    The distinct counts are exact: N count-distincts in one agg make
    Catalyst expand the input N+1-fold before the shuffle — fine at fixture
    scale and required for the value oracle, but at 100 TB the expand is
    the job."""
    aggs: list = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
            F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
            # exact 1e-4-unit sum for the mean (order-insensitive; round-9
            # float-sum audit). Quantization matches the 4-decimal output
            # precision of avg_val, so a >2-decimal input column (a rate or
            # ratio) loses nothing the report could have shown; recovery is
            # lossless for |v| <= 2^50 e-4 units (~$110 billion/row).
            F.sum(
                F.floor(F.col(c).cast("double") * F.lit(10000.0) + F.lit(0.5))
                .cast("long")
            ).alias(f"__s_{c}"),
        ]
    wide = df.agg(*aggs).select(
        "*",
        *[
            (
                F.expr(
                    f"CAST(sign(__s_{c}) * ((2 * abs(CAST(__s_{c} AS"
                    f" DECIMAL(38,0))) + __nn_{c})"
                    f" div NULLIF(2 * __nn_{c}, 0)) AS DOUBLE)"
                )
                / F.lit(10000.0)
            ).alias(f"__avg_{c}")
            for c in cols
        ],
    )
    stack_args = ", ".join(
        f"'{c}', __nn_{c}, __nd_{c}, __min_{c}, __max_{c}, __avg_{c}" for c in cols
    )
    return wide.selectExpr(
        "__n AS n_rows",
        f"stack({len(cols)}, {stack_args}) AS "
        "(col_name, n_nonnull, n_distinct, min_val, max_val, avg_val)",
    ).select("col_name", "n_rows", "n_nonnull", "n_distinct", "min_val", "max_val", "avg_val")


def quantile_buckets(docs: DataFrame, n_buckets: int = 10) -> DataFrame:
    """Curriculum/length bucketing WITHOUT a global sort: an ntile-style
    equal-population bucket id per doc, computed scalably.

    A naive ``ntile(k) over (order by len)`` is a single-partition window
    over the corpus — the move this engine refuses everywhere. Instead:
    exact interpolated quantile edges (ONE tiny aggregate row), broadcast
    back, bucket = #edges <= value. Identical bucket ids wherever value
    ties don't straddle an edge; unlike ntile, ties always land in the same
    bucket (a feature for curriculum sampling: equal lengths should never
    split across difficulty bins).

    Edges are floor-trick rounded at 1e-4 on BOTH engines before
    comparison, so the edge doubles are bit-identical cross-engine (the
    same discipline as every derived double here).

    The edges are exact ``percentile``s, which buffer each aggregation
    state's values — fine at fixture scale and what the oracle replays,
    but a corpus-scale run would need a sketch (``approx_percentile``)
    and give up oracle parity.
    """
    # A NULL text has no length to bucket — excluded explicitly on both
    # engines (round-9 hostile nulls sweep).
    toks = docs.where(F.col("text").isNotNull()).select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), " ")).cast("long").alias("n_tokens"),
    )
    edges = toks.agg(
        *[
            half_up_round(
                F.expr(f"percentile(n_tokens, {i / n_buckets})"), 4
            ).alias(f"__e{i}")
            for i in range(1, n_buckets)
        ]
    )
    bucket = sum(
        (F.col("n_tokens") >= F.col(f"__e{i}")).cast("int")
        for i in range(1, n_buckets)
    )
    return (
        toks.join(F.broadcast(edges))
        .select("doc_id", "n_tokens", bucket.cast("int").alias("bucket"))
    )


def fixed_width_histogram(
    df: DataFrame,
    col: str,
    n_bins: int = 50,
) -> DataFrame:
    """Data-derived fixed-width histogram: min/max in one tiny aggregate,
    broadcast back, bin = floor((x-lo)*n/(hi-lo)) clamped to n-1 (the max
    value closes the last bin). Embarrassingly parallel — the profiling
    companion to quantile_buckets when equal WIDTH beats equal population.

    Bin edges in the output are floor-trick rounded; bin ASSIGNMENT uses
    the raw doubles with the identical expression shape on both engines
    (same IEEE ops on the same inputs -> same bins).
    """
    bounds = df.agg(
        F.min(F.col(col).cast("double")).alias("__lo"),
        F.max(F.col(col).cast("double")).alias("__hi"),
    )
    # constant column (hi == lo): the bin formula is 0.0/0.0 — NaN on
    # Spark, NULL on DuckDB, garbage on both. Pin everything to bin 0.
    binc = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.lit(n_bins - 1),
            F.floor(
                (F.col(col).cast("double") - F.col("__lo"))
                * F.lit(float(n_bins))
                / (F.col("__hi") - F.col("__lo"))
            ),
        )
    ).cast("int")
    w = (F.col("__hi") - F.col("__lo")) / F.lit(float(n_bins))
    return (
        df.join(F.broadcast(bounds))
        .withColumn("bin", binc)
        # __lo/__hi are broadcast constants: grouping by them adds no groups
        # but keeps them addressable after the agg.
        .groupBy("bin", "__lo", "__hi")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(
            "bin",
            "n_rows",
            half_up_round(F.col("__lo") + F.col("bin") * w, 4).alias("bin_lo"),
            half_up_round(F.col("__lo") + (F.col("bin") + 1) * w, 4).alias("bin_hi"),
        )
    )


def contingency_chi2(df: DataFrame) -> DataFrame:
    """Per-cell χ² contingency terms for (lang, source) — the
    drift/independence test a corpus monitor runs on (lang × source),
    entirely in exact integers. The full table INCLUDES zero cells
    (every row-category × col-category pair; absent observations are
    the interesting ones), built by cross-joining the two marginal
    aggregates and left-joining observed counts.

    Exact arithmetic: with O observed, R/C marginals, N total,
        cell_chi2_ppm = (((O·N − R·C)² div (R·C)) · 10⁶) div N
        expected_micro = (R·C · 10⁶) div N
    — dividing by R·C BEFORE the ppm scale keeps every intermediate
    inside decimal(38,0)/HUGEINT up to ~10⁹ rows per category pair
    (squaring first then scaling would overflow at ~10⁸); the two-step
    truncation IS the statistic's definition, replayed identically by
    the oracle. Spark's ``div`` ALWAYS returns int64 regardless of
    decimal operands, so the first quotient is re-cast to decimal(38,0)
    before the ppm multiply — without that, the chain silently drops to
    int64 mid-expression and diverges from the HUGEINT oracle around
    N ~ 10⁷ (ANSI overflow or wraparound). Marginals are categorical
    dims (bounded cardinality), so the cross join and the 1-row N are
    broadcast-safe; they derive from the cell counts, so the fact table
    is scanned ONCE (the cell table is consumed four ways →
    localCheckpoint, the twice-consumed-subtree rule)."""
    o = (
        df.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("__o"))
        .localCheckpoint()
    )
    r = o.groupBy("lang").agg(F.sum("__o").alias("__r"))
    c = o.groupBy("source").agg(F.sum("__o").alias("__c"))
    n = o.agg(F.sum("__o").alias("__n"))
    return (
        r.crossJoin(F.broadcast(c))
        .join(o, ["lang", "source"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "lang",
            "source",
            F.coalesce(F.col("__o"), F.lit(0)).cast("long").alias("observed"),
            F.expr(
                "CAST(CAST(__r AS DECIMAL(38,0)) * __c * 1000000"
                " div __n AS BIGINT)"
            ).alias("expected_micro"),
            F.expr(
                "CAST(CAST("
                "(CAST(COALESCE(__o, 0) AS DECIMAL(38,0)) * __n"
                " - CAST(__r AS DECIMAL(38,0)) * __c)"
                " * (CAST(COALESCE(__o, 0) AS DECIMAL(38,0)) * __n"
                " - CAST(__r AS DECIMAL(38,0)) * __c)"
                " div (CAST(__r AS DECIMAL(38,0)) * __c)"
                " AS DECIMAL(38,0))"  # div yields int64: re-widen
                " * 1000000 div __n AS BIGINT)"
            ).alias("cell_chi2_ppm"),
        )
    )
