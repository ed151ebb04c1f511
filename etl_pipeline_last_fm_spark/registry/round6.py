"""Round-6 additions: MATCH_RECOGNIZE per-match MEASURES plus the TPC-H
completion wave — the 8 query shapes (Q2, Q6, Q9, Q10, Q12, Q14, Q15,
Q20) that finish the full 22-query analogue suite on this schema.
Ordering lives in __spark_entry__.py; this module only implements.

Schema adaptations (this star schema has no partsupp / shipmode /
commitdate, so the missing columns are played by measured equivalents,
exactly as round 5 adapted Q4/Q21's commitdate to ship-lag):

- Q2's ps_supplycost -> the supplier's observed unit price
  (l_extendedprice / l_quantity, rounded to an exact integer 1e-4 $);
- Q9's ps_supplycost -> 10% of p_retailprice as the unit-cost proxy;
- Q12's l_shipmode -> l_linestatus, its commitdate/receiptdate lateness
  -> the 60-day ship-lag predicate;
- Q20's ps_availqty threshold -> "shipped more than half of the part's
  total volume" (a dominance predicate over the same nested aggregate).

House arithmetic throughout: exact integer cents / 1e-4-dollar units,
`div` truncation identical on both engines, decimal(38,0)<->HUGEINT for
any product that can pass 2^63 at bench SF (executed in Q14 here — its
x20000 cross-multiply overflows int64 already at sf0.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import ts_us
from etl_pipeline_last_fm_spark.registry.extras import (
    _rev4_col,
    _US_1996,
    _US_1996_07,
    _US_1997,
    _US_DAY,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table

# PURE date-range predicates compare the raw timestamp column against a
# string literal: Spark coerces the literal to the column's type, so the
# predicate PUSHES to the parquet scan (row-group pruning at 100 TB) —
# ts_us() wraps the column in unix_micros(cast(...)) and cannot push.
# Flavor-safe: lineitem/orders have never shipped as nanos-long (only
# events.ts did, normalized in load_table), and load_table pins the
# session timezone to UTC so TZ/NTZ flavors parse the literal the same.
# ts_us stays the tool for date ARITHMETIC (ship-lag etc.), which no scan
# could prune anyway. The epoch-µs constants in oracles are unchanged.
_D_1996, _D_1996_07, _D_1997 = "1996-01-01", "1996-07-01", "1997-01-01"

#: Time-slice cuts for the ordered-fold maintenance queries.
EMA_CUTS = ("2024-01-11", "2024-01-21")

#: The graded CUSUM detector's parameters (q_cusum and its oracle here;
#: the round-7 fold/stream twins import these so all three grade the
#: SAME detector).
CUSUM_DRIFT = 5_000
CUSUM_H = 20_000


def event_time_slices(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    """The events table as 3 time slices at ``EMA_CUTS``, in time order —
    the one batching every ordered-fold member replays (batch and
    streaming twins alike), so a divergence between any two of them
    isolates the protocol, not the data."""
    ev = load_table(spark, sf_dir, "events")
    c1, c2 = EMA_CUTS
    return [
        ev.filter(F.col("ts") < c1),
        ev.filter((F.col("ts") >= c1) & (F.col("ts") < c2)),
        ev.filter(F.col("ts") >= c2),
    ]


#: DuckDB twin of _rev4_col() — exact integer 1e-4-dollar revenue units.
_REV4_SQL = (
    "CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
    " * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))"
)

#: DuckDB twin of q_link_prediction's 1996 co-purchase edge build —
#: module-level so the round-7 capped twin grades against the SAME graph.
_COPURCHASE_1996_SQL = f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE epoch_us(o_orderdate) >= {_US_1996}
          AND epoch_us(o_orderdate) < {_US_1997}
    )
    SELECT DISTINCT x.l_partkey AS a, y.l_partkey AS b
    FROM op x JOIN op y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
"""


def q_event_pattern_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-match MEASURES for the MATCH_RECOGNIZE-lite operator (VERDICT
    r5 item 5): ONE ROW PER MATCH of 'view, any clicks, purchase' (vc*p)
    carrying match_no and the first/last event id + epoch-µs timestamp of
    the match — recovered from the symbol string via gap/match prefix
    sums and mapped back through the sorted struct array (the string's
    i-th char IS the array's i-th element), no event re-scan. The oracle
    replays the same position arithmetic over string_split_regex +
    regexp_extract_all in DuckDB."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    ev = load_table(spark, sf_dir, "events")
    return match_event_pattern_measures(ev, "vc*p")


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: the what-if revenue from dropping mid-band discounts —
    one filtered scan, one scalar SUM(extendedprice * discount), no join.
    The discount predicate runs on the exact integer percent (5..7), and
    the date + quantity predicates sit ON the parquet scan (plan-pinned
    in tests/test_plans.py): at 100 TB this query IS the pushdown — a
    4-column scan with the 1-year window pruning row groups."""
    li = load_table(spark, sf_dir, "lineitem")
    pct = F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate") >= _D_1996) & (F.col("l_shipdate") < _D_1997)
            & (F.col("l_quantity") < 24)
        )
        .filter(pct.between(5, 7))
        .agg(F.sum(cents * pct).alias("__s4"))
        .select(
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0))
            .alias("revenue")
        )
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) whose 1996-H1 revenue equals the global
    maximum — CREATE VIEW revenue + WHERE total = (SELECT MAX(...)),
    decorrelated to one per-supplier aggregate consumed twice: once
    through a broadcast 1-row MAX, once as the equality probe. Exact
    integer revenue makes "equals the max" a well-defined cut (no float
    max equality); ties would all surface, as in the spec."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    per = (
        li.filter(
            (F.col("l_shipdate") >= _D_1996) & (F.col("l_shipdate") < _D_1996_07)
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev4_col()).alias("__s4"))
        # consumed by both the MAX and the equality probe: one aggregate,
        # not two scans (the Q21 lesson — Spark does not reuse identical
        # subtrees across branches).
        .localCheckpoint()
    )
    mx = per.agg(F.max("__s4").alias("__m4"))
    return (
        per.crossJoin(F.broadcast(mx))
        .filter(F.col("__s4") == F.col("__m4"))
        .join(F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0))
            .alias("total_revenue"),
        )
    )


def q_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returns
    (l_returnflag = 'R') on 1996-H2 orders. The order-date filter lands
    on the orders scan BEFORE the fact join (the priority_promises
    discipline), the top-20 cut runs on the bare per-customer aggregate
    (o_custkey IS c_custkey under the FK join, so the tie-break needs no
    dim) and only THEN do the broadcast dim joins touch the surviving 20
    rows. Ordering rides the EXACT integer revenue — ordering by the
    rounded presentation could split a tie differently per engine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    h2 = orders.filter(
        (F.col("o_orderdate") >= _D_1996_07) & (F.col("o_orderdate") < _D_1997)
    )
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(h2.select("o_orderkey", "o_custkey"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(F.sum(_rev4_col()).alias("__s4"))
        .orderBy(F.col("__s4").desc(), F.col("o_custkey"))
        .limit(20)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0))
            .alias("revenue"),
        )
    )


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_shipmode -> l_linestatus, commitdate lateness
    -> 60-day ship-lag): per-"mode" counts of critical (1-URGENT/2-HIGH)
    vs other orders among LATE lineitems — the conditional two-counter
    aggregation over one fact⋈orders join, one shuffle on the 2-value
    group key (low cardinality: partial aggregation collapses it map-side
    before the exchange)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    # COALESCE pins the TPC-H Q12 CASE..ELSE convention: an order of
    # UNKNOWN (NULL) priority is "other", not dropped — a bare isin()
    # yields NULL, and NULL.cast(long) silently vanishes from BOTH
    # counters on the Spark side only (round-9 hostile nulls sweep).
    high = F.coalesce(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.lit(False)
    )
    return (
        li.join(orders.select("o_orderkey", "o_orderdate", "o_orderpriority"),
                F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(
            ts_us(F.col("l_shipdate"))
            > ts_us(F.col("o_orderdate")) + F.lit(60 * _US_DAY)
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(high.cast("long")).alias("high_line_count"),
            F.sum((~high).cast("long")).alias("low_line_count"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: promo revenue share for 1996-H1 shipments, as the exact
    integer cross-multiply (20000·promo4 + total4) div (2·total4) — i.e.
    floor(promo/total·10⁴ + ½) hundredths-of-a-percent, rendered /100.
    The multiply is widened to decimal(38,0) UNCONDITIONALLY: at sf0.1
    total4 ≈ 6e14, so ×20000 already passes 2^63 — this query would be
    silently wrong in int64 at bench scale, not just at 100 TB (DuckDB
    twin: HUGEINT, whose // matches decimal div — house rule)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.filter(
            (F.col("l_shipdate") >= _D_1996) & (F.col("l_shipdate") < _D_1996_07)
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")),
              F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(
                F.when(F.col("p_type") == "PROMO", _rev4_col()).otherwise(F.lit(0))
            ).alias("__p4"),
            F.sum(_rev4_col()).alias("__t4"),
        )
        .select(
            (
                F.expr(
                    "CAST((20000 * CAST(__p4 AS DECIMAL(38,0)) + __t4)"
                    " div (2 * CAST(__t4 AS DECIMAL(38,0))) AS BIGINT)"
                ).cast("double")
                / F.lit(100.0)
            ).alias("promo_pct")
        )
    )


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (ps_supplycost -> observed unit price): for each
    LARGE part of size 10..20, the EUROPE supplier(s) whose minimum unit
    price equals the part's minimum across EUROPE suppliers. The
    correlated MIN subquery decorrelates into one per-(part, supplier)
    aggregate consumed twice (per-part MIN + equality probe) — one fact
    scan, localCheckpoint on the shared subtree. Unit price is the exact
    integer 1e-4 $/unit floor(price·100/qty + ½) = (200·cents + qty) div
    (2·qty), so "equals the min" is a well-defined cut."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    eu = (
        supplier.join(
            F.broadcast(nation.filter(F.col("n_regionkey") == 3)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select("s_suppkey", "s_name", "n_name")
    )
    parts = part.filter(
        (F.col("p_type") == "LARGE") & F.col("p_size").between(10, 20)
    ).select("p_partkey")
    ps = (
        li.join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(eu.select("s_suppkey")),
              F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .select(
            "l_partkey",
            "l_suppkey",
            F.expr(
                "(200 * CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)"
                " + CAST(l_quantity AS BIGINT))"
                " div (2 * CAST(l_quantity AS BIGINT))"
            ).alias("__u4"),
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("__u4").alias("__c4"))
        .localCheckpoint()  # shared by per-part MIN and the equality probe
    )
    pmin = ps.groupBy("l_partkey").agg(F.min("__c4").alias("__m4"))
    return (
        ps.join(pmin, "l_partkey")
        .filter(F.col("__c4") == F.col("__m4"))
        .join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "s_name",
            "n_name",
            (F.col("__c4").cast("double") / F.lit(10_000.0)).alias("min_cost"),
        )
    )


def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (ps_supplycost -> 10% of p_retailprice): profit on
    'widget' parts per (supplier nation, epoch-year bucket). amount =
    revenue − qty·cost, all in exact 1e-4-dollar integers; the year
    bucket is epoch_us div one-Julian-year (the market_share convention —
    calendar-function parity never enters the hash). Dims broadcast; the
    only big-big join is fact⋈orders on orderkey."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    widget = part.filter(F.col("p_name").contains("widget")).select(
        "p_partkey",
        (F.floor(F.col("p_retailprice") * 100 + F.lit(0.5)).cast("long")
         * F.lit(10)).alias("__cost4"),  # 10% of retail, 1e-4 $/unit
    )
    amount4 = _rev4_col() - F.col("l_quantity").cast("long") * F.col("__cost4")
    return (
        li.join(F.broadcast(widget), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders.select("o_orderkey", "o_orderdate"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("__us", ts_us(F.col("o_orderdate")))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.expr("__us div 31557600000000").alias("epoch_year_bucket"),
        )
        .agg(F.sum(amount4).alias("__s4"))
        .select(
            "nation",
            "epoch_year_bucket",
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0))
            .alias("profit"),
        )
    )


def q_dominant_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (availqty threshold -> volume dominance): ASIA
    suppliers that shipped MORE THAN HALF of the 1996 volume of some
    'small…' part — the nested IN(IN(...)) lowered to one per-(part,
    supplier) aggregate consumed twice (per-part total + dominance
    probe, 2·sq > tq in exact integers), then a semi-join onto the
    broadcast supplier dim. One fact scan; nothing correlated survives."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    small = part.filter(F.col("p_name").startswith("small")).select("p_partkey")
    ps = (
        li.filter(
            (F.col("l_shipdate") >= _D_1996) & (F.col("l_shipdate") < _D_1997)
        )
        .join(F.broadcast(small), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("__sq"))
        .localCheckpoint()  # shared by the per-part total and the probe
    )
    pt = ps.groupBy("l_partkey").agg(F.sum("__sq").alias("__tq"))
    dom = (
        ps.join(pt, "l_partkey")
        .filter(F.lit(2) * F.col("__sq") > F.col("__tq"))
        .select("l_suppkey")
        .distinct()
    )
    asia = supplier.join(
        F.broadcast(nation.filter(F.col("n_regionkey") == 2)),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_name")
    return asia.join(
        dom, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor / Jaccard link prediction over the 1996 part
    co-purchase graph (operators/graph.py link_prediction_scores):
    top-100 NON-adjacent part pairs by exact-integer-ppm neighborhood
    overlap, candidates = length-2 paths, totally ordered cut. The
    co-PURCHASE graph (not co-supplier — that one is near-complete on
    this data, which would make every non-edge vacuous) restricted to
    1996 orders keeps the wedge count ~8e5 at sf0.01; the operator's
    max_middle_degree cap is the documented 100 TB hub bound."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        copurchase_edges,
        link_prediction_scores,
    )

    return link_prediction_scores(
        copurchase_edges(copurchase_1996_order_parts(spark, sf_dir)),
        top_k=100,
    )


def copurchase_1996_order_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 1996 (orderkey, partkey) rows feeding the co-purchase graph —
    shared by q_link_prediction and the round-7 capped twin so both grade
    the SAME graph (Spark twin of _COPURCHASE_1996_SQL's ``op`` CTE)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return li.join(
        orders.filter(
            (F.col("o_orderdate") >= _D_1996) & (F.col("o_orderdate") < _D_1997)
        ).select("o_orderkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("l_orderkey", "l_partkey")


def q_ema_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ½-decay EMA of event values (operators/timeseries.py
    ema_halflife): the ORDER-DEPENDENT integer recurrence s = (s+v) div 2
    folded over the (ts, event_id)-sorted history — the aggregation class
    plain SUM/AVG can't express. Bit-identical across engines because
    α = ½ keeps every step in integers."""
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    return ema_halflife(load_table(spark, sf_dir, "events"))


def q_ema_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-fold maintenance identity for the NON-commutative EMA
    (operators/timeseries.py ema_fold_batch under operators/rounds.py's
    fold_rounds): the events table split into 3 fixed time slices and
    folded through per-key state carrying the fold frontier — must equal
    the one-shot ema_halflife for any time-split batching, and that
    one-shot IS the oracle (the incremental_join pattern, extended to an
    order-dependent operator; out-of-order batches raise instead of
    corrupting the trajectory)."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        ema_fold_batch,
        present_ema_state,
    )

    return present_ema_state(
        fold_rounds(ema_fold_batch, event_time_slices(spark, sf_dir))
    )


def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (operators/attribution.py): purchases
    credited to the type of the last view/click within 7 days, else
    'none' — one running-accumulator window pass per user, credit in
    exact cents."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution,
    )

    return last_touch_attribution(load_table(spark, sf_dir, "events"))


def q_trend_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS trend of value-vs-day (operators/timeseries.py
    trend_fit): the closed-form slope in exact integers, cross-multiplied
    to ppm-cents/day, every sum widened to decimal(38,0)/HUGEINT (n·Σxy
    passes 2^63 at bench SF). One partial+final aggregate."""
    from etl_pipeline_last_fm_spark.operators.timeseries import trend_fit

    return trend_fit(load_table(spark, sf_dir, "events"))


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 collocations by exact-integer-ppm lift over the documents
    corpus (operators/text.py collocations) — PMI-style phrase detection
    with no log/float at the parity boundary; the ×N·10⁶ cross-multiply
    is decimal(38,0)/HUGEINT (passes 2^63 at bench SF)."""
    from etl_pipeline_last_fm_spark.operators.text import collocations

    return collocations(load_table(spark, sf_dir, "documents"))


def q_session_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval concurrency over the sessionized events
    (operators/intervals.py): per session, how many sessions are open at
    its start instant — the two-phase prefix-sum sweep (bucketed running
    sums + a calendar-bounded carry), never one global window. The
    oracle replays the same sweep as a single DuckDB window."""
    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )
    from etl_pipeline_last_fm_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    return interval_concurrency(
        sessionize(ev), key_cols=["user_id", "session_seq"]
    )


def q_contingency_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell χ² contingency terms for (lang × source) on documents
    (operators/profile.py contingency_chi2) — the corpus-drift
    independence statistic, exact-integer divide-first arithmetic,
    zero cells included."""
    from etl_pipeline_last_fm_spark.operators.profile import contingency_chi2

    return contingency_chi2(load_table(spark, sf_dir, "documents"))


def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user one-sided CUSUM level-shift detector over event values
    (operators/timeseries.py cusum_alarms): the recurrence
    s = max(0, s + (v − k)) evaluated through its running-window closed
    form (prefix sum minus running minimum) — exact integer cents, final
    statistic / path max / upward-crossing alarm count; drift allowance
    k = 5000 cents, threshold h = 20000 cents (both branches of the
    alarm predicate execute at sf0.001 and sf0.01)."""
    from etl_pipeline_last_fm_spark.operators.timeseries import cusum_alarms

    return cusum_alarms(
        load_table(spark, sf_dir, "events"),
        drift_cents=CUSUM_DRIFT,
        threshold_cents=CUSUM_H,
    )


def q_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurizer over documents (operators/text.py
    hashed_features): vocabulary-free sparse token-count vectors,
    bucket = portable_hash(salt:token) mod 64 — one explode + one hash
    aggregate with map-side combine."""
    from etl_pipeline_last_fm_spark.operators.text import hashed_features

    return hashed_features(load_table(spark, sf_dir, "documents"))


QUERIES = {
    "event_pattern_measures": q_event_pattern_measures,
    "forecast_revenue": q_forecast_revenue,
    "top_supplier": q_top_supplier,
    "returned_revenue": q_returned_revenue,
    "shipmode_priority": q_shipmode_priority,
    "promo_revenue": q_promo_revenue,
    "min_cost_supplier": q_min_cost_supplier,
    "product_profit": q_product_profit,
    "dominant_suppliers": q_dominant_suppliers,
    "link_prediction": q_link_prediction,
    "ema_decay": q_ema_decay,
    "ema_fold": q_ema_fold,
    "attribution": q_attribution,
    "trend_fit": q_trend_fit,
    "collocations": q_collocations,
    "session_concurrency": q_session_concurrency,
    "contingency_chi2": q_contingency_chi2,
    "cusum": q_cusum,
    "hashed_features": q_hashed_features,
}


def _session_concurrency_oracle() -> str:
    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.sessions import (
        sessionize_oracle_sql,
    )

    return interval_concurrency_oracle_sql(
        sessionize_oracle_sql(), key_cols=["user_id", "session_seq"]
    )


def oracles() -> dict[str, str]:
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures_oracle_sql,
    )

    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.graph import (
        link_prediction_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.profile import (
        contingency_chi2_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.text import (
        collocations_oracle_sql,
        hashed_features_oracle_sql,
    )
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms_oracle_sql,
        ema_halflife_oracle_sql,
        trend_fit_oracle_sql,
    )

    return {
        "event_pattern_measures": match_event_pattern_measures_oracle_sql(
            "vc*p"
        ),
        "link_prediction": link_prediction_oracle_sql(
            _COPURCHASE_1996_SQL, top_k=100
        ),
        "ema_decay": ema_halflife_oracle_sql(),
        # The one-shot fold IS the oracle: the 3-batch frontier fold
        # must equal it (ordered-fold maintenance identity).
        "ema_fold": ema_halflife_oracle_sql(),
        "attribution": last_touch_attribution_oracle_sql(),
        "trend_fit": trend_fit_oracle_sql(),
        "collocations": collocations_oracle_sql(),
        "session_concurrency": _session_concurrency_oracle(),
        "contingency_chi2": contingency_chi2_oracle_sql(),
        "cusum": cusum_alarms_oracle_sql(
            drift_cents=CUSUM_DRIFT, threshold_cents=CUSUM_H
        ),
        "hashed_features": hashed_features_oracle_sql(),
        "forecast_revenue": f"""
            WITH s AS (
                SELECT CAST(SUM(
                    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                    * CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                ) AS BIGINT) AS s4
                FROM lineitem
                WHERE epoch_us(l_shipdate) >= {_US_1996}
                  AND epoch_us(l_shipdate) < {_US_1997}
                  AND l_quantity < 24
                  AND CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)
                      BETWEEN 5 AND 7
            )
            SELECT CAST((2 * CAST(s4 AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0 AS revenue
            FROM s
        """,
        "top_supplier": f"""
            WITH r AS (
                SELECT l_suppkey, CAST(SUM({_REV4_SQL}) AS BIGINT) AS s4
                FROM lineitem
                WHERE epoch_us(l_shipdate) >= {_US_1996}
                  AND epoch_us(l_shipdate) < {_US_1996_07}
                GROUP BY 1
            )
            SELECT s_suppkey, s_name,
                   CAST((2 * CAST(s4 AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0
                       AS total_revenue
            FROM r JOIN supplier ON l_suppkey = s_suppkey
            WHERE s4 = (SELECT MAX(s4) FROM r)
        """,
        "returned_revenue": f"""
            WITH per AS (
                SELECT o_custkey, CAST(SUM({_REV4_SQL}) AS BIGINT) AS s4
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                  AND epoch_us(o_orderdate) >= {_US_1996_07}
                  AND epoch_us(o_orderdate) < {_US_1997}
                GROUP BY 1
            )
            SELECT c_custkey, c_name, n_name,
                   CAST((2 * CAST(s4 AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0 AS revenue
            FROM per
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            ORDER BY s4 DESC, c_custkey
            LIMIT 20
        """,
        "shipmode_priority": f"""
            SELECT l_linestatus,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(SUM(CASE WHEN o_orderpriority IN
                        ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE epoch_us(l_shipdate)
                  > epoch_us(o_orderdate) + 60 * {_US_DAY}
            GROUP BY 1
        """,
        "promo_revenue": f"""
            WITH s AS (
                SELECT
                    CAST(SUM(CASE WHEN p_type = 'PROMO'
                             THEN {_REV4_SQL} ELSE 0 END) AS HUGEINT) AS p4,
                    CAST(SUM({_REV4_SQL}) AS HUGEINT) AS t4
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE epoch_us(l_shipdate) >= {_US_1996}
                  AND epoch_us(l_shipdate) < {_US_1996_07}
            )
            SELECT CAST(CAST((20000 * CAST(p4 AS HUGEINT) + t4)
                      // (2 * CAST(t4 AS HUGEINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS promo_pct
            FROM s
        """,
        "min_cost_supplier": """
            WITH eu AS (
                SELECT s_suppkey, s_name, n_name
                FROM supplier JOIN nation ON s_nationkey = n_nationkey
                WHERE n_regionkey = 3
            ), ps AS (
                SELECT l_partkey, l_suppkey,
                       MIN((200 * CAST(FLOOR(l_extendedprice * 100 + 0.5)
                                       AS BIGINT)
                            + CAST(l_quantity AS BIGINT))
                           // (2 * CAST(l_quantity AS BIGINT))) AS c4
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'LARGE' AND p_size BETWEEN 10 AND 20
                  AND l_suppkey IN (SELECT s_suppkey FROM eu)
                GROUP BY 1, 2
            )
            SELECT ps.l_partkey AS p_partkey, eu.s_name, eu.n_name,
                   CAST(c4 AS DOUBLE) / 10000.0 AS min_cost
            FROM ps JOIN eu ON ps.l_suppkey = eu.s_suppkey
            WHERE c4 = (SELECT MIN(c4) FROM ps p2
                        WHERE p2.l_partkey = ps.l_partkey)
        """,
        "product_profit": f"""
            SELECT n_name AS nation,
                   epoch_us(o_orderdate) // 31557600000000
                       AS epoch_year_bucket,
                   CAST((2 * CAST(SUM(
                        {_REV4_SQL}
                        - CAST(l_quantity AS BIGINT)
                          * CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT)
                          * 10
                   ) AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0 AS profit
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "dominant_suppliers": f"""
            WITH ps AS (
                SELECT l_partkey, l_suppkey,
                       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sq
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE p_name LIKE 'small%'
                  AND epoch_us(l_shipdate) >= {_US_1996}
                  AND epoch_us(l_shipdate) < {_US_1997}
                GROUP BY 1, 2
            ), pt AS (
                SELECT l_partkey, CAST(SUM(sq) AS BIGINT) AS tq
                FROM ps GROUP BY 1
            )
            SELECT s_suppkey, s_name
            FROM supplier JOIN nation ON s_nationkey = n_nationkey
            WHERE n_regionkey = 2
              AND s_suppkey IN (
                  SELECT l_suppkey FROM ps JOIN pt USING (l_partkey)
                  WHERE 2 * sq > tq
              )
        """,
    }
