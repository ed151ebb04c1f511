"""Round-7c additions. Ordering lives in __spark_entry__.py; this module
only implements.

- ``holt_smooth`` / ``holt_fold`` / ``streaming_holt``: Holt linear
  (double-exponential) smoothing — order-dependent IVM member #6, the
  first whose carried numeric state is a 2-vector (level, trend). Exact
  integer trajectory at α = β = ½; all three are the one Holt fold (the
  one-shot from no state, the twins over time slices under the round and
  stream drivers), and the DuckDB recursive CTE is the oracle of each.
- ``clustering_coefficient``: per-node local clustering coefficient on
  the SAME 1996 co-purchase graph as the link-prediction entries —
  the node-level refinement of the global triangle census.
- ``durbin_watson``: per-key serial-correlation statistic of the ordered
  value series in exact cross-multiplied ppm — the residual-diagnostics
  rung next to trend_fit's slope.
- ``skyline_parts``: the 2-D skyline (Pareto frontier) of parts on
  (retail price minimized, size maximized) — the dominance filter, built
  on cost buckets + a broadcast carry instead of the textbook global
  window (operators/skyline.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.tables import load_table

#: Cost-bucket width for the parts skyline: $10 buckets over the ~[900,
#: 2000]-dollar retail price range give ~110 buckets — enough fan-out for
#: every core at bench SF, and semantics-free (any width yields the same
#: frontier; the property tests assert it).
_SKYLINE_BUCKET_CENTS = 1000


def q_holt_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot Holt linear smoothing per user (operators/timeseries.py
    holt_linear): the trend-aware sibling of the graded ema_decay — the
    carried state is the (level, trend) PAIR, the forecast level+trend,
    the whole trajectory exact integers at α = β = ½."""
    from etl_pipeline_last_fm_spark.operators.timeseries import holt_linear

    return holt_linear(load_table(spark, sf_dir, "events"))


def q_holt_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for Holt smoothing
    (operators/timeseries.py holt_fold_batch under fold_rounds): member
    #6 — the first 2-dimensional carried state. Must equal the one-shot
    holt_linear for any time-split batching (the oracle; out-of-order
    batches raise)."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        holt_fold_batch,
        present_holt_state,
    )
    from etl_pipeline_last_fm_spark.registry.round7 import _fold_time_slices

    return _fold_time_slices(
        spark, sf_dir, holt_fold_batch, present_holt_state
    )


def q_streaming_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `holt_fold`: holt_fold_batch under the fold
    driver over the shared time-sliced availableNow stream. Oracle: the
    one-shot holt_linear."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        holt_fold_batch,
        present_holt_state,
    )
    from etl_pipeline_last_fm_spark.registry.round7 import (
        _run_time_sliced_stream,
    )

    return _run_time_sliced_stream(
        spark, sf_dir, holt_fold_batch, present_holt_state
    )


def q_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node local clustering coefficient over the SAME 1996
    co-purchase graph as the link-prediction entries (operators/graph.py
    clustering_coefficients): exact truncated ppm, degree-≥2 nodes."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        clustering_coefficients,
        copurchase_edges,
    )
    from etl_pipeline_last_fm_spark.registry.round6 import (
        copurchase_1996_order_parts,
    )

    return clustering_coefficients(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir))
    )


def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Durbin–Watson statistic (operators/timeseries.py
    durbin_watson): serial correlation of the ordered value series as
    the exact integer closed form n·Σ(Δy)²·10⁶ div (n·Σy² − (Σy)²)."""
    from etl_pipeline_last_fm_spark.operators.timeseries import durbin_watson

    return durbin_watson(load_table(spark, sf_dir, "events"))


def q_skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline of parts on (retail price MINIMIZED, size MAXIMIZED)
    (operators/skyline.py skyline_2d): the Pareto frontier via cost
    buckets + broadcast carry — no global row-sized window. Price enters
    as exact cents so no float comparison sits on the dominance edge."""
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_2d

    return skyline_2d(
        _part_points(spark, sf_dir),
        id_col="p_partkey",
        cost_col="price_cents",
        gain_col="p_size",
        bucket_width=_SKYLINE_BUCKET_CENTS,
    )


_SKYLINE_POINTS_SQL = """
    SELECT p_partkey,
           CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
           CAST(p_size AS BIGINT) AS p_size
    FROM part
"""


def q_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve over per-user event lifetimes
    (operators/survival.py km_survival): right-censored churn estimation
    with the KM product folded in exact truncated integer ppm — the
    statistically-honest sibling of cohort_retention."""
    from etl_pipeline_last_fm_spark.operators.survival import km_survival

    return km_survival(load_table(spark, sf_dir, "events"))


def q_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation Gini coefficient of customer order revenue — the
    inequality screen next to supplier_concentration's HHI: from the
    rank closed form  G = (2·Σᵢ i·xᵢ − (n+1)·Σx) · 10⁶ div (n·Σx)  over
    customers ranked ascending by (revenue, custkey) within their
    nation, ENTIRELY in integers (every cross-multiply decimal(38,0) —
    Σ i·x passes 2^63 well below bench SF). Customers with orders only;
    single-customer nations emit gini_ppm 0 by the same formula.

    Scale shape: one customer-keyed aggregate over orders (the only
    big-table pass), a broadcast customer→nation dim join, and a rank
    window over the customer DIMENSION within each nation (the rfm ntile
    argument); the two-phase prefix-sum swap applies at 1e9 customers."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    from pyspark.sql import Window

    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round

    cents = half_up_round(F.col("o_totalprice") * 100).cast("long")
    # Unpriced (NULL-total) orders are not revenue observations, and a
    # NULL rev_cents would rank NULLS FIRST on Spark vs NULLS LAST on
    # DuckDB — excluded explicitly on both engines (round-9 hostile
    # nulls sweep at sf0.01; the same rule as rank_metrics).
    per_cust = (
        orders.where(F.col("o_totalprice").isNotNull())
        .groupBy("o_custkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    j = per_cust.join(
        F.broadcast(customer.select("c_custkey", "c_nationkey")),
        per_cust.o_custkey == F.col("c_custkey"),
    ).join(
        F.broadcast(
            nation.select("n_nationkey", F.col("n_name").alias("nation"))
        ),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("nation", "c_custkey", "rev_cents")
    w = Window.partitionBy("nation").orderBy(
        F.col("rev_cents").asc(), F.col("c_custkey").asc()
    )
    ranked = j.select(
        "nation",
        "rev_cents",
        F.row_number().over(w).cast("long").alias("__i"),
    )
    d38 = "decimal(38,0)"
    agged = ranked.groupBy("nation").agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(F.col("rev_cents").cast(d38)).alias("__sx"),
        F.sum((F.col("__i") * F.col("rev_cents")).cast(d38)).alias("__six"),
    )
    return agged.select(
        "nation",
        F.col("__n").cast("long").alias("n_customers"),
        F.expr(
            "CAST((2 * __six - (__n + 1) * __sx) * 1000000"
            " div NULLIF(__n * __sx, 0) AS BIGINT)"
        ).alias("gini_ppm"),
    )


_REVENUE_GINI_SQL = """
    WITH per AS (
        SELECT o_custkey,
               CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM orders
        WHERE o_totalprice IS NOT NULL
        GROUP BY 1
    ),
    j AS (
        SELECT n_name AS nation, c_custkey, rev_cents
        FROM per
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
    ),
    ranked AS (
        SELECT nation, rev_cents,
               CAST(row_number() OVER (
                   PARTITION BY nation ORDER BY rev_cents, c_custkey
               ) AS BIGINT) AS i
        FROM j
    ),
    s AS (
        SELECT nation,
               CAST(COUNT(*) AS HUGEINT) AS n,
               CAST(SUM(rev_cents) AS HUGEINT) AS sx,
               CAST(SUM(i * rev_cents) AS HUGEINT) AS six
        FROM ranked GROUP BY 1
    )
    SELECT nation,
           CAST(n AS BIGINT) AS n_customers,
           CAST((2 * six - (n + 1) * sx) * 1000000
                // NULLIF(n * sx, 0) AS BIGINT) AS gini_ppm
    FROM s
"""


def _part_slices(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The skyline fold twins' batching: the (partkey, price cents, size)
    points split 3 ways by partkey residue."""
    pts = _part_points(spark, sf_dir)
    return [
        pts.filter(F.pmod(F.col("p_partkey"), F.lit(3)) == i)
        for i in range(3)
    ]


def _skyline_step():
    """The skyline fold twins' step over the parts' (price, size) points."""
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_step

    return skyline_step(
        "p_partkey", "price_cents", "p_size",
        bucket_width=_SKYLINE_BUCKET_CENTS,
    )


def q_skyline_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintained-skyline fold (operators/skyline.py skyline_step under
    fold_rounds): the parts table split 3 ways by partkey residue and
    folded through frontier-sized state — must equal the one-shot skyline
    for ANY split (the SET-algebraic maintenance identity skyline(A∪B) =
    skyline(skyline(A)∪B); the one-shot IS the oracle). The IVM family's
    first frontier-state member: commutative, no delivery contract."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    return fold_rounds(_skyline_step(), _part_slices(spark, sf_dir))


def _part_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (partkey, price cents, size) point set every skyline entry
    grades — one definition so the one-shot, the fold and the streaming
    twin all see the same points."""
    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round

    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        half_up_round(F.col("p_retailprice") * 100).cast("long")
        .alias("price_cents"),
        F.col("p_size").cast("long").alias("p_size"),
    )


def q_streaming_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `skyline_fold`: the Pareto frontier maintained
    over a 3-slice availableNow point stream by ``skyline_step`` under
    the fold driver's replay guard. The fold is commutative (set
    algebra, no delivery contract) — slice order is immaterial. Oracle:
    the one-shot skyline."""
    from etl_pipeline_last_fm_spark.registry.round7 import (
        run_file_sliced_stream,
    )

    return run_file_sliced_stream(
        spark, _part_slices(spark, sf_dir), _skyline_step(), lambda df: df
    )


#: Fixed BM25 probe query over the fixture vocabulary (mixed document
#: frequencies at both graded SFs, so idf actually differentiates).
_BM25_TERMS = ("hash", "join", "scan")


def q_bm25_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 for a fixed 3-term query (operators/text.py
    bm25_topk): the IR ladder's rung above the graded tfidf — exact
    integer scoring via the cleared-denominator rational form, idf
    micro-nat-quantized on the df census."""
    from etl_pipeline_last_fm_spark.operators.text import bm25_topk

    return bm25_topk(
        load_table(spark, sf_dir, "documents"), _BM25_TERMS, k=20
    )


def q_rank_sum_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U between purchase and view value distributions
    (operators/timeseries.py rank_sum_test): the nonparametric location
    test next to contingency_chi2 — doubled midranks keep the statistic
    exact-integer on both engines."""
    from etl_pipeline_last_fm_spark.operators.timeseries import rank_sum_test

    return rank_sum_test(
        load_table(spark, sf_dir, "events"), "purchase", "view"
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus Zipf rank-frequency fit (operators/text.py zipf_fit): the
    OLS slope of micro-nat log frequency against log rank over the token
    census — the corpus-quality diagnostic next to lm_score's per-doc
    typicality (natural text ≈ −1e6 ppm)."""
    from etl_pipeline_last_fm_spark.operators.text import zipf_fit

    return zipf_fit(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "holt_smooth": q_holt_smooth,
    "holt_fold": q_holt_fold,
    "streaming_holt": q_streaming_holt,
    "clustering_coefficient": q_clustering_coefficient,
    "durbin_watson": q_durbin_watson,
    "skyline_parts": q_skyline_parts,
    "survival_km": q_survival_km,
    "revenue_gini": q_revenue_gini,
    "zipf_fit": q_zipf_fit,
    "bm25_rank": q_bm25_rank,
    "skyline_fold": q_skyline_fold,
    "streaming_skyline": q_streaming_skyline,
    "rank_sum_test": q_rank_sum_test,
}


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.graph import (
        clustering_coefficients_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.skyline import (
        skyline_2d_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.survival import (
        km_survival_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.text import (
        bm25_topk_oracle_sql,
        zipf_fit_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        durbin_watson_oracle_sql,
        holt_linear_oracle_sql,
        rank_sum_test_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.registry.round6 import _COPURCHASE_1996_SQL

    holt = holt_linear_oracle_sql()
    return {
        # The one-shot Holt IS the oracle for its fold and stream twins
        # (ordered-fold maintenance identity, member #6).
        "holt_smooth": holt,
        "holt_fold": holt,
        "streaming_holt": holt,
        "clustering_coefficient": clustering_coefficients_oracle_sql(
            _COPURCHASE_1996_SQL
        ),
        "durbin_watson": durbin_watson_oracle_sql(),
        "skyline_parts": skyline_2d_oracle_sql(
            _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
        ),
        "survival_km": km_survival_oracle_sql(),
        "revenue_gini": _REVENUE_GINI_SQL,
        "zipf_fit": zipf_fit_oracle_sql(),
        "bm25_rank": bm25_topk_oracle_sql(_BM25_TERMS, k=20),
        # The one-shot skyline is the oracle for its fold twin
        # (set-algebraic maintenance identity).
        "skyline_fold": skyline_2d_oracle_sql(
            _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
        ),
        "streaming_skyline": skyline_2d_oracle_sql(
            _SKYLINE_POINTS_SQL, "p_partkey", "price_cents", "p_size"
        ),
        "rank_sum_test": rank_sum_test_oracle_sql("purchase", "view"),
    }
