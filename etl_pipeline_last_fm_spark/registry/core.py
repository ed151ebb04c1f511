"""Core relational tier (SURVEY.md §2 inventory): the reference's own
query surface re-expressed Spark-first — star build, marts, windows,
set ops, pivots, surrogate keys, idempotent append. Split out of
__spark_entry__.py in round 5 (registry hygiene); driver contract
unchanged — QUERIES/oracles() are composed by the entry file."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import cents, half_up_round, ts_us
from etl_pipeline_last_fm_spark.operators.idempotent import first_writer_wins
from etl_pipeline_last_fm_spark.operators.surrogate import assign_surrogate_keys
from etl_pipeline_last_fm_spark.operators.topk import windowed_top_k
from etl_pipeline_last_fm_spark.operators import asof as asof_oracle_mod
from etl_pipeline_last_fm_spark.operators import cleaning as cleaning_ops
from etl_pipeline_last_fm_spark.operators import fuzzy as fuzzy_ops
from etl_pipeline_last_fm_spark.operators import contamination as contamination_oracle_mod
from etl_pipeline_last_fm_spark.operators import dedup as dedup_ops
from etl_pipeline_last_fm_spark.operators import funnel as funnel_oracle_mod
from etl_pipeline_last_fm_spark.operators import packing as packing_ops
from etl_pipeline_last_fm_spark.operators import profile as profile_ops
from etl_pipeline_last_fm_spark.operators import sampling as sampling_oracle_mod
from etl_pipeline_last_fm_spark.operators import scd as scd_ops
from etl_pipeline_last_fm_spark.operators import timeseries as ts_ops
from etl_pipeline_last_fm_spark.operators import similarity as sim_ops
from etl_pipeline_last_fm_spark.operators import sketch as sketch_ops
from etl_pipeline_last_fm_spark.operators import text as text_ops
from etl_pipeline_last_fm_spark.operators import timewindow as tw_ops
from etl_pipeline_last_fm_spark.operators import zorder as zorder_ops
from etl_pipeline_last_fm_spark.sources.tables import load_table, table_ref


# ---------------------------------------------------------------------------
# Core relational queries (SURVEY.md §2 inventory)
# ---------------------------------------------------------------------------


def _star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region — the fact-build join
    shape (J1-J3, reference dags/from_ods_to_dds_pg.py:96-99). nation/region
    are broadcast (tiny dims); customer-orders and orders-lineitem shuffle on
    their keys, the scale-honest strategy for fact-to-fact joins."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )


def q_flagship_royalties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/F2/F3/O1: ROUND(SUM(revenue) * 0.003, 2) per (date, nation),
    ordered date asc royalties desc (reference dags/from_dds_to_dm_pg.py:73-79).

    Revenue is carried as EXACT integer 1e-4-dollar units: price and
    discount are 2-decimal data, so floor(x*100+0.5) recovers their cent
    values exactly and rev4 = cents_price * (100 - cents_discount) is an
    exact int64 — the SUM is order-independent (no float accumulation to
    disagree with the oracle at a rounding boundary, the risk class the
    incremental marts eliminated in r3) and royalties =
    floor(sum4*3/1e5 + 0.5)/100 reproduces ROUND(SUM*0.003, 2) in one
    exact int->double conversion (sum4*3 < 2^53 through sf well past the
    test range; a 100 TB deployment sums as decimal(38,0) first).

    Exactness also unlocks the plan win: lineitem pre-aggregates to one
    row per order BELOW the join (legal for ANY accumulation order now),
    so the join chain moves ~4x fewer rows — measured 1.21 s -> 0.77 s at
    sf0.1, values identical on all 54,908 groups."""
    # ONE spark.sql parse over the catalog views (OPTIMIZATION r13, guide
    # §5 driver overhead): the Column-op form paid ~600 py4j round trips
    # per build (~0.3 s, re-paid every bench sample because the protocol
    # rebuilds the query); the SQL text is the same expressions — same
    # analyzed plan, same BROADCAST hints on the bounded dims, values
    # bit-identical (exact-output snapshot + oracle hash).
    li = table_ref(spark, sf_dir, "lineitem")
    orders = table_ref(spark, sf_dir, "orders")
    customer = table_ref(spark, sf_dir, "customer")
    nation = table_ref(spark, sf_dir, "nation")
    region = table_ref(spark, sf_dir, "region")
    return spark.sql(f"""
        WITH per_order AS (
            SELECT l_orderkey,
                   sum(CAST(FLOOR(l_extendedprice * 100 + 0.5D) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5D) AS BIGINT)))
                       AS __rev4
            FROM {li} GROUP BY l_orderkey
        )
        SELECT /*+ BROADCAST(n, r) */
               o_orderdate AS date, n_name AS nation,
               CAST(FLOOR((CAST(sum(__rev4) * 3 AS DOUBLE) / 100000.0D) + 0.5D)
                    AS DOUBLE) / 100.0D AS royalties
        FROM per_order
        JOIN {orders}   ON l_orderkey = o_orderkey
        JOIN {customer} ON o_custkey = c_custkey
        JOIN {nation} n   ON c_nationkey = n_nationkey
        JOIN {region} r   ON n_regionkey = r_regionkey
        GROUP BY o_orderdate, n_name
        ORDER BY date, royalties DESC
    """)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2-style wide aggregate (TPC-H Q1 shape) over lineitem: partial+final
    hash aggregate, no joins — the pure-aggregation headline.

    All measures are EXACT integer arithmetic end to end (the same
    order-independence upgrade flagship_royalties got): quantity is
    integral, price/discount/tax are 2-decimal data, so the cent recovery
    floor(x*100+0.5) is exact; disc_price lives in 1e-4 and charge in
    1e-6 dollar units as int64 products; and every ROUND(x, s) is the
    pure-integer identity floor(a/b + 1/2) = (2a+b) div (2b) — the big
    sums NEVER pass through a double (charge sums exceed 2^53 well below
    production scale), only the final small quotient does. The oracle is
    the same integer program, so parity is by construction."""
    # ONE spark.sql parse (OPTIMIZATION r13): same expressions as the
    # previous Column-op form (~720 py4j round trips per build, ~0.3 s,
    # re-paid per bench sample), same plan, bit-identical values.
    li = table_ref(spark, sf_dir, "lineitem")
    return spark.sql(f"""
        WITH sums AS (
            SELECT l_returnflag, l_linestatus,
                   sum(CAST(FLOOR(l_quantity + 0.5D) AS BIGINT)) AS __sq,
                   sum(CAST(FLOOR(l_extendedprice * 100 + 0.5D) AS BIGINT)) AS __se2,
                   sum(CAST(FLOOR(l_extendedprice * 100 + 0.5D) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5D) AS BIGINT))) AS __s4,
                   sum(CAST(FLOOR(l_extendedprice * 100 + 0.5D) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5D) AS BIGINT))
                       * (100 + CAST(FLOOR(l_tax * 100 + 0.5D) AS BIGINT))) AS __s6,
                   sum(CAST(FLOOR(l_discount * 100 + 0.5D) AS BIGINT)) AS __sd2,
                   count(1) AS count_order
            FROM {li}
            GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus,
               CAST(__sq AS DOUBLE) AS sum_qty,
               CAST(__se2 AS DOUBLE) / 100.0D AS sum_base_price,
               CAST((__s4 + 50) div 100 AS DOUBLE) / 100.0D AS sum_disc_price,
               CAST((__s6 + 5000) div 10000 AS DOUBLE) / 100.0D AS sum_charge,
               CAST((2 * CAST(__sq AS DECIMAL(38,0)) * 100 + count_order)
                    div (2 * count_order) AS DOUBLE) / 100.0D AS avg_qty,
               CAST((2 * CAST(__se2 AS DECIMAL(38,0)) + count_order)
                    div (2 * count_order) AS DOUBLE) / 100.0D AS avg_price,
               CAST((2 * CAST(__sd2 AS DECIMAL(38,0)) * 100 + count_order)
                    div (2 * count_order) AS DOUBLE) / 10000.0D AS avg_disc,
               count_order
        FROM sums
        ORDER BY l_returnflag, l_linestatus
    """)


def q_distinct_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: SELECT DISTINCT projection dedupe (reference
    dags/from_ods_to_dds_pg.py:47-48,60-61) — group-by-all-cols hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


def q_case_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8/P9/F1: sentinel imputation with the per-partition mean of
    non-sentinel rows, AVG::INT with Postgres rounding (reference
    dags/from_ods_to_dds_pg.py:74-77). Sentinel here: l_quantity <= 5 plays
    the role of duration_sec = 0; partition = ship day."""
    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "ship_day", F.to_date("l_shipdate")
    )
    w = Window.partitionBy("ship_day")
    qty = F.col("l_quantity")
    mean_ok = F.avg(F.when(qty > 5, qty)).over(w)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(qty <= 5, half_up_round(mean_ok).cast("int"))
        .otherwise(qty.cast("int"))
        .alias("qty_filled"),
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/A4: uncorrelated scalar subquery — customers above the global mean
    balance. Compiled as agg -> broadcast cross-join, evaluating the scalar
    once (the reference gets the same via a Postgres InitPlan)."""
    customer = load_table(spark, sf_dir, "customer")
    # Exact-integer half-up avg (round-9 float-sum audit): a float
    # AVG threshold is order-sensitive in its last ulp, and here it picks
    # WHICH ROWS SURVIVE the filter. acctbal may be negative, so the
    # ABS+sign device keeps the half-away-from-zero tie rule portable.
    threshold = customer.agg(
        F.sum(cents("c_acctbal")).alias("__s"),
        F.count("c_acctbal").alias("__n"),
    ).select(
        (
            F.expr(
                "CAST(sign(__s) * ((2 * abs(CAST(__s AS DECIMAL(38,0))) + __n)"
                " div NULLIF(2 * __n, 0)) AS DOUBLE)"
            )
            / F.lit(100.0)
        ).alias("__thr")
    )
    return (
        customer.crossJoin(F.broadcast(threshold))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


def q_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1-J3 fact build: full star join, key + measure projection
    (reference dags/from_ods_to_dds_pg.py:85-104)."""
    return _star(spark, sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        "o_orderdate",
        "c_custkey",
        F.col("n_name").alias("nation"),
        F.col("r_name").alias("region"),
        "l_quantity",
        "l_extendedprice",
    )


def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 serial emulation: deterministic dense surrogate ids over a
    DISTINCT dim projection (row_number over natural key)."""
    part = load_table(spark, sf_dir, "part")
    dim = part.select("p_brand").distinct()
    return assign_surrogate_keys(dim, "brand_id", ["p_brand"]).select("brand_id", "p_brand")


def q_surrogate_keys_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 stability across increments: batch 1 (p_size <= 25) keeps its ids
    when batch 2 (p_size > 25) arrives; new rows number from max(id)+1
    (serial semantics, reference scripts/ddl_dds.sql:3,9,15,24)."""
    part = load_table(spark, sf_dir, "part")
    dim1 = part.filter(F.col("p_size") <= 25).select("p_type").distinct()
    keyed1 = assign_surrogate_keys(dim1, "type_id", ["p_type"])
    dim2 = (
        part.filter(F.col("p_size") > 25)
        .select("p_type")
        .distinct()
        .join(keyed1.select("p_type"), "p_type", "left_anti")
    )
    keyed2 = assign_surrogate_keys(dim2, "type_id", ["p_type"], existing=keyed1)
    return keyed1.unionByName(keyed2).select("type_id", "p_type")


def q_idempotent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.7 ON CONFLICT DO NOTHING: re-ingest an overlapping window
    (1996-1997) against already-loaded history (< 1997). Conflict key
    (o_custkey, o_orderdate); in-batch first-writer-wins keeps min
    o_orderkey (Appendix A.7 deterministic tiebreak)."""
    orders = load_table(spark, sf_dir, "orders")
    batch = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    existing = orders.filter(F.col("o_orderdate") < F.lit("1997-01-01"))
    keys = ["o_custkey", "o_orderdate"]
    deduped = first_writer_wins(batch, keys, tiebreaker=["o_orderkey"])
    return deduped.join(existing.select(*keys), keys, "left_anti").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )


def q_windowed_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: the chart operator — top 3 events per (day, event_type) by value
    desc, event_id tiebreak (SURVEY.md §2.8)."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = windowed_top_k(
        ev,
        ["day", "event_type"],
        [F.col("value").desc(), F.col("event_id")],
        k=3,
        rank_col="rnk",
    )
    return out.select("day", "event_type", "event_id", "value", "rnk")


def q_window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 analytic windows: partition mean (the window form of the
    reference's scalar-subquery imputation) + running per-user sum with an
    explicit rows frame."""
    ev = load_table(spark, sf_dir, "events")
    w_type = Window.partitionBy("event_type")
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Exact-integer window aggregates (round-9 float-sum audit): cent
    # sums are associative, so neither the partition-wide avg nor the
    # running sum depends on partial-aggregation order. value >= 0
    # (testdata domain), so plain truncating div is half-up here.
    staged = ev.select(
        "event_id",
        "event_type",
        F.sum(cents("value")).over(w_type).alias("__s"),
        F.count("value").over(w_type).alias("__n"),
        F.sum(cents("value")).over(w_run).alias("__rs"),
    )
    return staged.select(
        "event_id",
        "event_type",
        (
            F.expr(
                "CAST((2 * CAST(__s AS DECIMAL(38,0)) + __n)"
                " div NULLIF(2 * __n, 0) AS DOUBLE)"
            )
            / F.lit(100.0)
        ).alias("type_avg"),
        (F.col("__rs").cast("double") / F.lit(100.0)).alias("user_running_sum"),
    )


def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 implicit UNION ALL (the reference's per-country append loop,
    dags/transformed_from_s3_to_pg.py:61-67) as unionByName."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.lit("buy").alias("kind")
    )
    b = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", F.lit("join").alias("kind")
    )
    return a.unionByName(b)


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/P1: JSON parse + nested field projection (the reference's
    json.loads + dict access, dags/transformed_from_s3_to_pg.py:31-45) via
    native get_json_object — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


def q_date_partition_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/F4: date-formatted partition key + per-day aggregate (the daily
    partition unit of the whole reference pipeline, SURVEY.md §1.1)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias(
                "total_value"
            ),
        )
    )


def q_mart_daily_appearances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 mart analog: COUNT(*) per (day, user) — artist appearances by date
    (reference dags/from_dds_to_dm_pg.py:61-65)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt_appearance"))
    )


def q_mart_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 mart analog: AVG per (day, type) — avg duration by country
    (reference dags/from_dds_to_dm_pg.py:47-52).

    Exact-integer program (the pricing_summary pattern): per-row cent
    recovery, int64 sums, pure-integer half-up rounding. A float
    ``ROUND(AVG(double), 2)`` is ORDER-SENSITIVE — partial-aggregation
    order perturbs the last ulp of the sum, and a group whose true avg
    sits on a .xx5 boundary flips a cent between runs (found by the
    round-9 hostile reorder sweep; at 100 TB the combine order is an
    accident of the scan schedule, so the float form is nondeterministic
    even within one engine). events.value >= 0 (testdata domain), so the
    floor-shift rounding needs no sign device; NULLIF guards all-NULL
    groups (SUM of an empty set is NULL on both engines)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type")
        .agg(F.sum(cents("value")).alias("__s"), F.count("value").alias("__n"))
        .select(
            "day",
            "event_type",
            (
                F.expr(
                    "CAST((2 * CAST(__s AS DECIMAL(38,0)) + __n)"
                    " div NULLIF(2 * __n, 0) AS DOUBLE)"
                )
                / F.lit(100.0)
            ).alias("avg_value"),
        )
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of 2 dims)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.cube("event_type", F.date_format("ts", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n"),
        # exact cent sum (order-insensitive; round-9 float-sum audit)
        (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias("total_value"),
    )


def q_pivot_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot via conditional aggregation (engine-portable pivot form):
    per-day average value of each event type as columns. Exact-integer
    averages (see q_mart_daily_avg: float AVG is order-sensitive); the
    absent-type / all-NULL cells stay NULL via the NULLIF'd count."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )

    def cents_of(t: str) -> Column:
        return F.sum(
            F.when(
                F.col("event_type") == t,
                F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"),
            )
        )

    def n_of(t: str) -> Column:
        return F.count(F.when(F.col("event_type") == t, F.col("value")))

    types = ["click", "view", "purchase", "signup", "error"]
    agg = ev.groupBy("day").agg(
        *[cents_of(t).alias(f"__s_{t}") for t in types],
        *[n_of(t).alias(f"__n_{t}") for t in types],
    )
    return agg.select(
        "day",
        *[
            (
                F.expr(
                    f"CAST((2 * CAST(__s_{t} AS DECIMAL(38,0)) + __n_{t})"
                    f" div NULLIF(2 * __n_{t}, 0) AS DOUBLE)"
                )
                / F.lit(100.0)
            ).alias(f"avg_{t}")
            for t in types
        ],
    )


def q_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native ``groupBy().pivot()`` — the idiomatic Spark pivot surface.
    Values are enumerated explicitly: with an explicit list Spark skips the
    extra distinct-values job AND the output column set is deterministic
    (schema stability is part of the driver contract). Same result as
    q_pivot_conditional; Catalyst compiles both to one aggregate."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    out = (
        ev.groupBy("day")
        .pivot("event_type", types)
        .agg(
            F.sum(F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)")).alias("s"),
            F.count("value").alias("n"),
        )
    )
    return out.select(
        "day",
        *[
            (
                F.expr(f"CAST((2 * CAST(`{t}_s` AS DECIMAL(38,0)) + `{t}_n`)"
                    f" div NULLIF(2 * `{t}_n`, 0) AS DOUBLE)")
                / F.lit(100.0)
            ).alias(f"avg_{t}")
            for t in types
        ],
    )


def q_cdc_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC/changelog compaction: the LATEST record per key (user), i.e.
    last-writer-wins — the temporal mirror of the §2.7 first-writer-wins
    arbiter. row_number over (key, ts desc, id desc) + filter compiles to
    WindowGroupLimit: each partition keeps one row per key in-flight."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            half_up_round(F.col("value"), 2).alias("last_value"),
        )
    )


def q_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series rolling window: daily totals per event type, CALENDAR
    7-day trailing moving average (RANGE frame over the day number, so gap
    days shrink the window instead of silently stretching it the way a
    ROWS frame over observed days would) and each day's share of its
    type's total (ratio-to-report). Windows partition on event_type — the
    tiny daily aggregate, never raw events, flows through them."""
    ev = load_table(spark, sf_dir, "events")
    # Exact-integer program (round-9 float-sum audit): daily totals as
    # cent sums; the moving average and ratio-to-report round half-up in
    # pure integer arithmetic (decimal(38,0) for the scaled numerators so
    # the 1e6 ratio scaling can't wrap at production volumes). value >= 0.
    daily = ev.groupBy(
        F.col("event_type"), F.date_format("ts", "yyyy-MM-dd").alias("day")
    ).agg(
        F.sum(cents("value")).alias("__tc"),
    ).withColumn("__daynum", F.datediff(F.to_date("day"), F.lit("1970-01-01")))
    w_ma = (
        Window.partitionBy("event_type").orderBy("__daynum").rangeBetween(-6, 0)
    )
    w_all = Window.partitionBy("event_type")
    staged = daily.select(
        "event_type",
        "day",
        "__tc",
        F.sum("__tc").over(w_ma).alias("__S"),
        F.count("__tc").over(w_ma).alias("__k"),
        F.sum("__tc").over(w_all).alias("__T"),
    )
    return staged.select(
        "event_type",
        "day",
        (F.col("__tc").cast("double") / F.lit(100.0)).alias("day_total"),
        (
            F.expr(
                "CAST((2 * CAST(__S AS DECIMAL(38,0)) * 100 + __k)"
                " div (2 * __k) AS DOUBLE)"
            )
            / F.lit(10000.0)
        ).alias("ma7"),
        (
            F.expr(
                "CAST((2 * CAST(__tc AS DECIMAL(38,0)) * 1000000 + __T)"
                " div NULLIF(2 * __T, 0) AS DOUBLE)"
            )
            / F.lit(10000.0)
        ).alias("pct_of_type"),
    )


def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag navigation windows: per-user inter-event gap in seconds."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(ts_us("ts")).over(w)
    next_id = F.lead("event_id").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.floor((ts_us("ts") - prev_us) / F.lit(1_000_000)).alias("gap_sec"),
        next_id.alias("next_event_id"),
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous percentiles (median / p90) per event type — Spark
    percentile() and DuckDB quantile_cont share linear interpolation."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        half_up_round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        half_up_round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation two-phase aggregate — result-identical to a plain
    GROUP BY, which is exactly what the oracle checks (operators/skew.py)."""
    from etl_pipeline_last_fm_spark.operators.skew import salted_aggregate

    ev = load_table(spark, sf_dir, "events").withColumn("__vc", cents("value"))
    # Exact-integer measures (round-9 float-sum audit): with float
    # partials, the SALT SPLIT ITSELF changes the combine order, so the
    # salted result could differ from the plain GROUP BY it must equal.
    # Cent partials compose exactly for any split.
    out = salted_aggregate(
        ev,
        ["event_type"],
        {
            "n_events": ("count", "value"),
            "__tc": ("sum", "__vc"),
            "__nv": ("count_col", "value"),
        },
        buckets=16,
    )
    return out.select(
        "event_type",
        F.col("n_events"),
        (F.col("__tc").cast("double") / F.lit(100.0)).alias("total_value"),
        (
            F.expr(
                "CAST((2 * CAST(__tc AS DECIMAL(38,0)) * 100 + __nv)"
                " div NULLIF(2 * __nv, 0) AS DOUBLE)"
            )
            / F.lit(10000.0)
        ).alias("mean_value"),
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (lag/flag/cumsum/aggregate window
    pipeline)."""
    from etl_pipeline_last_fm_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    return sessionize(ev, gap_minutes=30)


def q_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + COUNT(col) null-skipping semantics: order count per
    customer including order-less customers (capability beyond the
    reference's inner-only joins, §2.4)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one 1997 order."""
    customer = load_table(spark, sf_dir, "customer")
    orders_1997 = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    return customer.join(
        orders_1997, customer.c_custkey == orders_1997.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets with subtotals + grand total (engine capability
    beyond the reference's flat GROUP BYs, §2.5)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents("l_extendedprice")).cast("double") / F.lit(100.0)).alias(
                "total_price"
            ),
        )
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: array unnest — the reference's JSON flatten loop re-expressed
    as explode (dags/transformed_from_s3_to_pg.py:33-40; the operators.flatten
    path runs in the domain pipeline tests; this is the oracle-checked form
    over testdata). posexplode also carries the element index (the rank
    analogue)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.col("text")), " ")).alias("pos", "token"),
    )


def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + LIMIT: global sort + top-n (TakeOrderedAndProject physical op —
    no full global sort materialization)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# Unordered name -> callable map; the graded-window ORDERING lives in
# __spark_entry__.py (the driver grades the first 50 entries only).
QUERIES = {
    "case_impute": q_case_impute,
    "cdc_compact": q_cdc_compact,
    "cube_agg": q_cube_agg,
    "date_partition_agg": q_date_partition_agg,
    "distinct_project": q_distinct_project,
    "explode_tokens": q_explode_tokens,
    "flagship_royalties": q_flagship_royalties,
    "idempotent_append": q_idempotent_append,
    "json_extract": q_json_extract,
    "lead_lag": q_lead_lag,
    "mart_daily_appearances": q_mart_daily_appearances,
    "mart_daily_avg": q_mart_daily_avg,
    "order_limit": q_order_limit,
    "outer_join_agg": q_outer_join_agg,
    "percentiles": q_percentiles,
    "pivot_conditional": q_pivot_conditional,
    "pivot_native": q_pivot_native,
    "pricing_summary": q_pricing_summary,
    "rolling_stats": q_rolling_stats,
    "rollup_agg": q_rollup_agg,
    "salted_agg": q_salted_agg,
    "scalar_subquery": q_scalar_subquery,
    "semi_join": q_semi_join,
    "sessionize": q_sessionize,
    "star_join": q_star_join,
    "surrogate_keys": q_surrogate_keys,
    "surrogate_keys_incremental": q_surrogate_keys_incremental,
    "union_all": q_union_all,
    "window_analytic": q_window_analytic,
    "windowed_top_k": q_windowed_top_k,
}


_STAR_SQL = """
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey  = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
"""

# Shared oracle for both pivot forms: exact-integer per-type averages
# (cent recovery, int64 sums, pure-integer half-up) — the float
# ROUND(AVG(double), 2) it replaces is order-sensitive (round-9 hostile
# reorder sweep finding; see q_mart_daily_avg).
_PIVOT_AVG_ORACLE = """
    WITH cents AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
               CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c, value
        FROM events
    ),
    s AS (
        SELECT day,
               {sums}
        FROM cents GROUP BY 1
    )
    SELECT day,
           {avgs}
    FROM s
""".format(
    sums=",\n               ".join(
        f"CAST(SUM(c) FILTER (event_type = '{t}') AS BIGINT) AS s_{t},"
        f" COUNT(value) FILTER (event_type = '{t}') AS n_{t}"
        for t in ("click", "view", "purchase", "signup", "error")
    ),
    avgs=",\n           ".join(
        f"CAST((2 * s_{t} + n_{t}) // NULLIF(2 * n_{t}, 0) AS DOUBLE)"
        f" / 100.0 AS avg_{t}"
        for t in ("click", "view", "purchase", "signup", "error")
    ),
)


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.dedup import (
        embedding_near_dups_blocked_oracle_sql,
        embedding_near_dups_oracle_sql,
        minhash_lsh_pairs_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.sessions import sessionize_oracle_sql
    from etl_pipeline_last_fm_spark.operators.similarity import lsh_ann_topk_oracle_sql
    from etl_pipeline_last_fm_spark.operators.text import (
        EN_STOPWORDS,
        lang_id_oracle_sql,
        quality_oracle_sql,
    )

    en_list = ", ".join(f"'{w}'" for w in EN_STOPWORDS)
    return {
        # Same exact-integer revenue units as the Spark side: rev4 is an
        # exact int64 per line, the SUM is order-free, and the only float
        # op is one int->double conversion + division — bit-identical by
        # construction, not empirically. (CAST AS BIGINT defuses DuckDB's
        # HUGEINT SUM, the known hash-parity gotcha.)
        "flagship_royalties": """
            WITH per_order AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                                * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
                            AS BIGINT) AS rev4
                FROM lineitem GROUP BY l_orderkey
            )
            SELECT o_orderdate AS date, n_name AS nation,
                   FLOOR(CAST(CAST(SUM(rev4) AS BIGINT) * 3 AS DOUBLE) / 100000.0 + 0.5)
                     / 100.0 AS royalties
            FROM per_order
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey  = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            GROUP BY 1, 2
        """,
        # Same exact-integer program as the Spark side (see
        # q_pricing_summary docstring): cent recovery per row, int64 sums,
        # pure-integer rounding (2a+b) // (2b) — parity by construction.
        "pricing_summary": """
            WITH cents AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS q,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS e2,
                       CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS d2,
                       CAST(FLOOR(l_tax * 100 + 0.5) AS BIGINT) AS t2
                FROM lineitem
            ),
            s AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(SUM(q) AS BIGINT) AS sq,
                       CAST(SUM(e2) AS BIGINT) AS se2,
                       CAST(SUM(e2 * (100 - d2)) AS BIGINT) AS s4,
                       CAST(SUM(e2 * (100 - d2) * (100 + t2)) AS BIGINT) AS s6,
                       CAST(SUM(d2) AS BIGINT) AS sd2,
                       COUNT(*) AS n
                FROM cents GROUP BY 1, 2
            )
            SELECT l_returnflag, l_linestatus,
                   CAST(sq AS DOUBLE) AS sum_qty,
                   CAST(se2 AS DOUBLE) / 100.0 AS sum_base_price,
                   CAST((s4 + 50) // 100 AS DOUBLE) / 100.0 AS sum_disc_price,
                   CAST((s6 + 5000) // 10000 AS DOUBLE) / 100.0 AS sum_charge,
                   CAST((2 * sq * 100 + n) // (2 * n) AS DOUBLE) / 100.0 AS avg_qty,
                   CAST((2 * se2 + n) // (2 * n) AS DOUBLE) / 100.0 AS avg_price,
                   CAST((2 * sd2 * 100 + n) // (2 * n) AS DOUBLE) / 10000.0 AS avg_disc,
                   n AS count_order
            FROM s
        """,
        "distinct_project": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
        "case_impute": """
            SELECT l_orderkey, l_linenumber,
                   CAST(CASE WHEN l_quantity <= 5
                             THEN FLOOR(AVG(CASE WHEN l_quantity > 5 THEN l_quantity END)
                                        OVER (PARTITION BY CAST(l_shipdate AS DATE)) + 0.5)
                             ELSE l_quantity END AS INTEGER) AS qty_filled
            FROM lineitem
        """,
        # Exact-integer threshold (see q_scalar_subquery): the float AVG's
        # last ulp picks which rows survive, so both engines compute the
        # same integer half-away-from-zero cent average.
        "scalar_subquery": """
            SELECT c_custkey, c_name, c_acctbal
            FROM customer
            WHERE c_acctbal > (
                SELECT CAST(sign(s) * ((2 * abs(s) + n) // NULLIF(2 * n, 0))
                            AS DOUBLE) / 100.0
                FROM (SELECT CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                                  AS BIGINT) AS s,
                             COUNT(c_acctbal) AS n
                      FROM customer)
            )
        """,
        "star_join": f"""
            SELECT l_orderkey, l_linenumber, o_orderdate, c_custkey,
                   n_name AS nation, r_name AS region, l_quantity, l_extendedprice
            {_STAR_SQL}
        """,
        "surrogate_keys": """
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT) AS brand_id, p_brand
            FROM (SELECT DISTINCT p_brand FROM part)
        """,
        "surrogate_keys_incremental": """
            WITH b1 AS (SELECT DISTINCT p_type FROM part WHERE p_size <= 25),
                 -- NOT EXISTS (not NOT IN): NULL-key semantics must match
                 -- the Spark side's anti-join (see li_order_fk note).
                 b2 AS (SELECT DISTINCT p_type FROM part p2 WHERE p_size > 25
                        AND NOT EXISTS (SELECT 1 FROM b1
                                        WHERE b1.p_type = p2.p_type)),
                 u AS (SELECT p_type, 0 AS batch FROM b1
                       UNION ALL SELECT p_type, 1 AS batch FROM b2)
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY batch, p_type) AS BIGINT) AS type_id, p_type
            FROM u
        """,
        "idempotent_append": """
            WITH batch AS (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
                                             ORDER BY o_orderkey) AS rn
                FROM orders
                WHERE o_orderdate >= TIMESTAMP '1996-01-01'
                  AND o_orderdate <  TIMESTAMP '1998-01-01'
            )
            SELECT o_orderkey, o_custkey, o_orderdate
            FROM batch b
            WHERE rn = 1
              AND NOT EXISTS (
                  SELECT 1 FROM orders e
                  WHERE e.o_orderdate < TIMESTAMP '1997-01-01'
                    AND e.o_custkey = b.o_custkey
                    AND e.o_orderdate = b.o_orderdate
              )
        """,
        "windowed_top_k": """
            SELECT day, event_type, event_id, value, rnk FROM (
                SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, event_id, value,
                       CAST(ROW_NUMBER() OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), event_type
                                               ORDER BY value DESC, event_id) AS INTEGER) AS rnk
                FROM events
            ) WHERE rnk <= 3
        """,
        # Exact-integer window aggregates (see q_window_analytic).
        "window_analytic": """
            WITH c AS (
                SELECT event_id, event_type, user_id, ts,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc, value
                FROM events
            ),
            staged AS (
                SELECT event_id, event_type,
                       CAST(SUM(vc) OVER (PARTITION BY event_type) AS BIGINT) AS s,
                       COUNT(value) OVER (PARTITION BY event_type) AS n,
                       CAST(SUM(vc) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                            AS BIGINT) AS rs
                FROM c
            )
            SELECT event_id, event_type,
                   CAST((2 * s + n) // NULLIF(2 * n, 0) AS DOUBLE) / 100.0 AS type_avg,
                   CAST(rs AS DOUBLE) / 100.0 AS user_running_sum
            FROM staged
        """,
        "union_all": """
            SELECT event_id, user_id, 'buy' AS kind FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, user_id, 'join' AS kind FROM events WHERE event_type = 'signup'
        """,
        "json_extract": """
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        """,
        "date_partition_agg": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value
            FROM events GROUP BY 1
        """,
        "mart_daily_appearances": """
            SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, COUNT(*) AS cnt_appearance
            FROM events GROUP BY 1, 2
        """,
        # Exact-integer avg (see q_mart_daily_avg: float AVG is
        # order-sensitive): cent recovery, int sums, integer half-up.
        "mart_daily_avg": """
            WITH cents AS (
                SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c,
                       value
                FROM events
            )
            SELECT day, event_type,
                   CAST((2 * CAST(SUM(c) AS HUGEINT) + COUNT(value))
                        // NULLIF(2 * COUNT(value), 0) AS DOUBLE) / 100.0
                       AS avg_value
            FROM cents GROUP BY 1, 2
        """,
        "explode_tokens": """
            WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks
                       FROM documents WHERE doc_id < 50)
            SELECT doc_id, CAST(x.i AS INTEGER) AS pos, x.tok AS token
            FROM (SELECT doc_id,
                         unnest(list_transform(range(len(toks)),
                                i -> struct_pack(i := i, tok := toks[i+1]))) AS x
                  FROM t)
        """,
        "order_limit": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """,
        "outer_join_agg": """
            SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name
        """,
        "semi_join": """
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1997-01-01'
                            AND o.o_orderdate <  TIMESTAMP '1998-01-01')
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS DOUBLE) / 100.0 AS total_price
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "sessionize": sessionize_oracle_sql(30),
        # Exact-integer measures (see q_salted_agg): the salted two-phase
        # aggregate must equal the plain GROUP BY for ANY salt split.
        "salted_agg": """
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value,
                   CAST((2 * CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                                  AS HUGEINT) * 100 + COUNT(value))
                        // NULLIF(2 * COUNT(value), 0) AS DOUBLE) / 10000.0
                       AS mean_value
            FROM events GROUP BY event_type
        """,
        "cube_agg": """
            SELECT event_type, strftime(ts, '%Y-%m') AS month, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value
            FROM events
            GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
        """,
        # Exact-integer conditional-pivot avgs (see q_pivot_conditional).
        "pivot_conditional": _PIVOT_AVG_ORACLE,
        "cdc_compact": """
            WITH ranked AS (
                SELECT user_id, event_id, event_type,
                       FLOOR(value * 100.0 + 0.5) / 100.0 AS last_value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            )
            SELECT user_id, event_id, event_type, last_value
            FROM ranked WHERE rn = 1
        """,
        # Exact-integer program (see q_rolling_stats): cent daily totals,
        # integer half-up for the moving average and ratio-to-report.
        "rolling_stats": """
            WITH daily AS (
                SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
                       CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                            AS BIGINT) AS tc
                FROM events GROUP BY 1, 2
            ),
            staged AS (
                SELECT event_type, day, tc,
                       CAST(SUM(tc) OVER w7 AS BIGINT) AS S,
                       COUNT(tc) OVER w7 AS k,
                       CAST(SUM(tc) OVER (PARTITION BY event_type) AS BIGINT) AS T
                FROM daily
                WINDOW w7 AS (PARTITION BY event_type
                              ORDER BY datediff('day', DATE '1970-01-01',
                                                CAST(day AS DATE))
                              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
            )
            SELECT event_type, day,
                   CAST(tc AS DOUBLE) / 100.0 AS day_total,
                   CAST((2 * CAST(S AS HUGEINT) * 100 + k) // (2 * k) AS DOUBLE)
                       / 10000.0 AS ma7,
                   CAST((2 * CAST(tc AS HUGEINT) * 1000000 + T)
                        // NULLIF(2 * T, 0) AS DOUBLE) / 10000.0 AS pct_of_type
            FROM staged
        """,
        "lead_lag": """
            SELECT event_id, user_id,
                   CAST(FLOOR((epoch_us(ts) - lag(epoch_us(ts)) OVER w) / 1000000.0) AS BIGINT)
                       AS gap_sec,
                   lead(event_id) OVER w AS next_event_id
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "percentiles": """
            SELECT event_type,
                   FLOOR(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
                   FLOOR(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90
            FROM events GROUP BY event_type
        """,
        # Same exact-integer program; the Spark side differs only in using
        # the native pivot operator (see q_pivot_native docstring).
        "pivot_native": _PIVOT_AVG_ORACLE,
    }
