"""Warehouse queries: the TPC-H-ish star, the reference's marts, and the
relational surface around them (windows, set operations, pivots, grouping
sets, decorrelated subqueries, surrogate keys, SCD, idempotent and
incremental loads). Each is declared once, with its DuckDB oracle.

Revenue is carried as exact integer cent products (``_rev4_col``) on both
sides, so every sum is order-free and parity holds by construction."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from etl_pipeline_last_fm_spark.functions.scalar import cents, half_up_round, ts_us
from etl_pipeline_last_fm_spark.operators import scd as scd_ops
from etl_pipeline_last_fm_spark.operators.cohort import cohort_retention, WEEK_US
from etl_pipeline_last_fm_spark.operators.idempotent import first_writer_wins
from etl_pipeline_last_fm_spark.operators.scd import MERGE_CUTOFF_US
from etl_pipeline_last_fm_spark.operators.skew import salted_aggregate
from etl_pipeline_last_fm_spark.operators.surrogate import assign_surrogate_keys
from etl_pipeline_last_fm_spark.operators.topk import windowed_top_k
from etl_pipeline_last_fm_spark.operators.zorder import scaled_to_bits, zorder_key
from etl_pipeline_last_fm_spark.sources.tables import load_table, table_ref

from grading.spec import oracle


def scaled_to_bits_sql(
    expr: str, lo: int | str, hi: int | str, bits: int
) -> str:
    """DuckDB twin of ``scaled_to_bits``. Bounds may be integer literals or
    SQL expressions (e.g. columns from a bounds CTE)."""
    return (
        f"CAST(FLOOR((CAST({expr} AS BIGINT) - ({lo})) * {1 << bits}"
        f" / (({hi}) - ({lo}) + 1)) AS BIGINT)"
    )


def zorder_key_sql(x_expr: str, y_expr: str, bits: int = 20) -> str:
    """DuckDB twin of ``zorder_key`` — same unrolled interleave."""
    terms = []
    # Each term fully parenthesized: '+' binds tighter than '<<' in SQL, so
    # an unparenthesized 'a << 2 + b << 3' is 'a << (2 + (b << 3))'.
    for i in range(bits):
        terms.append(f"(((({x_expr}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y_expr}) >> {i}) & 1) << {2 * i + 1})")
    return "CAST((" + " + ".join(terms) + ") AS BIGINT)"


def cohort_retention_oracle_sql(
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    max_offset: int | None = None,
) -> str:
    """DuckDB twin: same integer week buckets (epoch_us // week_us), same
    offsets, same distinct count."""
    off_filter = (
        f"WHERE wk - cohort <= {max_offset}" if max_offset is not None else ""
    )
    return f"""
        WITH ev AS (
            SELECT {user_col} AS u,
                   epoch_us({ts_col}) // {WEEK_US} AS wk
            FROM {table}
        ),
        cohorts AS (SELECT u, MIN(wk) AS cohort FROM ev GROUP BY u)
        SELECT cohort AS cohort_week,
               wk - cohort AS week_offset,
               CAST(COUNT(DISTINCT ev.u) AS BIGINT) AS n_users
        FROM ev JOIN cohorts ON ev.u = cohorts.u
        {off_filter}
        GROUP BY 1, 2
    """


def scd2_history_oracle_sql(
    key: str = "o_custkey",
    attr: str = "o_orderpriority",
    ts: str = "o_orderdate",
    tiebreak: str = "o_orderkey",
    table: str = "orders",
) -> str:
    """DuckDB twin of scd2_history: identical windows, identical date
    formatting, version pinned to INTEGER."""
    return f"""
        WITH obs AS (
            SELECT {key}, {attr},
                   strftime({ts}, '%Y-%m-%d') AS d,
                   {tiebreak} AS tb
            FROM {table}
        ),
        flagged AS (
            SELECT *, CASE WHEN lag({attr}) OVER w IS NOT DISTINCT FROM {attr}
                           THEN 0 ELSE 1 END AS chg
            FROM obs
            WINDOW w AS (PARTITION BY {key} ORDER BY d, tb)
        ),
        islands AS (
            SELECT *, SUM(chg) OVER (PARTITION BY {key} ORDER BY d, tb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
            FROM flagged
        ),
        runs AS (
            SELECT {key}, ver, MIN({attr}) AS {attr}, MIN(d) AS valid_from
            FROM islands GROUP BY {key}, ver
        )
        SELECT {key}, {attr},
               CAST(ver AS INTEGER) AS version,
               valid_from,
               lead(valid_from) OVER (PARTITION BY {key} ORDER BY ver) AS valid_to,
               lead(valid_from) OVER (PARTITION BY {key} ORDER BY ver) IS NULL
                   AS is_current
        FROM runs
    """


def scd2_as_of_oracle_sql(
    as_of: str,
    key: str = "o_custkey",
    attr: str = "o_orderpriority",
    ts: str = "o_orderdate",
    tiebreak: str = "o_orderkey",
    table: str = "orders",
) -> str:
    """DuckDB twin: the same filter over the scd2_history oracle."""
    hist = scd2_history_oracle_sql(key, attr, ts, tiebreak, table)
    return f"""
        SELECT {key}, {attr}, version, valid_from
        FROM ({hist})
        WHERE valid_from <= '{as_of}'
          AND (valid_to IS NULL OR valid_to > '{as_of}')
    """


def snapshot_diff_oracle_sql(
    old_sql: str,
    new_sql: str,
    key_cols: list[str],
    compare_cols: list[str],
) -> str:
    """DuckDB twin of snapshot_diff (FULL OUTER + IS DISTINCT FROM)."""
    on = " AND ".join(f"o.{k} = n.{k}" for k in key_cols)
    keys = ", ".join(f"COALESCE(o.{k}, n.{k}) AS {k}" for k in key_cols)
    olds = ", ".join(f"o.{c} AS old_{c}" for c in compare_cols)
    news = ", ".join(f"n.{c} AS new_{c}" for c in compare_cols)
    differs = " OR ".join(f"(o.{c} IS DISTINCT FROM n.{c})" for c in compare_cols)
    k0 = key_cols[0]
    return f"""
        WITH o AS ({old_sql}), n AS ({new_sql}),
        j AS (
            SELECT {keys},
                   CASE WHEN o.{k0} IS NULL THEN 'added'
                        WHEN n.{k0} IS NULL THEN 'removed'
                        WHEN {differs} THEN 'changed'
                        ELSE 'unchanged' END AS change,
                   {olds}, {news}
            FROM o FULL OUTER JOIN n ON {on}
        )
        SELECT * FROM j WHERE change <> 'unchanged'
    """


def merge_upsert_oracle_sql(
    cutoff_us: int = MERGE_CUTOFF_US,
    delete_type: str = "error",
    table: str = "events",
) -> str:
    """DuckDB twin: same two compactions, same full-outer CASE merge."""
    return f"""
        WITH ev AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(ts) AS us
            FROM {table}
        ),
        t AS (
            SELECT user_id AS t_uid, value AS t_value, us AS t_us
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
                FROM ev WHERE us < {cutoff_us}
            ) WHERE rn = 1
        ),
        s AS (
            SELECT user_id AS s_uid,
                   event_type = '{delete_type}' AS s_del,
                   value AS s_value, us AS s_us
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY us DESC, event_id DESC) AS rn
                FROM ev WHERE us >= {cutoff_us}
            ) WHERE rn = 1
        )
        SELECT COALESCE(t_uid, s_uid) AS user_id,
               CASE WHEN s_uid IS NOT NULL THEN s_value ELSE t_value END AS value,
               COALESCE(s_us, t_us) AS updated_us
        FROM t FULL OUTER JOIN s ON t_uid = s_uid
        WHERE NOT COALESCE(s_del, FALSE)
    """


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


_SNAPDIFF_OLD_SQL = """
    SELECT o_orderkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey % 3 <> 0
"""


_SNAPDIFF_NEW_SQL = """
    SELECT o_orderkey, o_orderstatus,
           CASE WHEN o_orderkey % 7 = 0
                THEN FLOOR(o_totalprice * 1.1 * 100.0 + 0.5) / 100.0
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 5 <> 0
"""


_US_1996 = 820454400000000  # 1996-01-01T00:00:00Z in epoch microseconds


_US_1997 = 852076800000000  # 1997-01-01T00:00:00Z


_US_DAY = 86_400_000_000  # one day in epoch microseconds


def _rev4_col() -> Column:
    """Exact integer 1e-4-dollar revenue units (see q_flagship_royalties)."""
    return F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long") * (
        F.lit(100) - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
    )


_US_1996_07 = 836179200000000  # 1996-07-01T00:00:00Z in epoch microseconds


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


# Same exact-integer revenue units as the Spark side: rev4 is an
# exact int64 per line, the SUM is order-free, and the only float
# op is one int->double conversion + division — bit-identical by
# construction, not empirically. (CAST AS BIGINT defuses DuckDB's
# HUGEINT SUM, the known hash-parity gotcha.)
@oracle("""
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
        """)
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


# Same exact-integer program as the Spark side (see
# q_pricing_summary docstring): cent recovery per row, int64 sums,
# pure-integer rounding (2a+b) // (2b) — parity by construction.
@oracle("""
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


@oracle("SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem")
def q_distinct_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: SELECT DISTINCT projection dedupe (reference
    dags/from_ods_to_dds_pg.py:47-48,60-61) — group-by-all-cols hash agg."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").distinct()


@oracle("""
            SELECT l_orderkey, l_linenumber,
                   CAST(CASE WHEN l_quantity <= 5
                             THEN FLOOR(AVG(CASE WHEN l_quantity > 5 THEN l_quantity END)
                                        OVER (PARTITION BY CAST(l_shipdate AS DATE)) + 0.5)
                             ELSE l_quantity END AS INTEGER) AS qty_filled
            FROM lineitem
        """)
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


# Exact-integer threshold (see q_scalar_subquery): the float AVG's
# last ulp picks which rows survive, so both engines compute the
# same integer half-away-from-zero cent average.
@oracle("""
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
        """)
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


@oracle(f"""
            SELECT l_orderkey, l_linenumber, o_orderdate, c_custkey,
                   n_name AS nation, r_name AS region, l_quantity, l_extendedprice
            {_STAR_SQL}
        """)
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


@oracle("""
            SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT) AS brand_id, p_brand
            FROM (SELECT DISTINCT p_brand FROM part)
        """)
def q_surrogate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.6 serial emulation: deterministic dense surrogate ids over a
    DISTINCT dim projection (row_number over natural key)."""
    part = load_table(spark, sf_dir, "part")
    dim = part.select("p_brand").distinct()
    return assign_surrogate_keys(dim, "brand_id", ["p_brand"]).select("brand_id", "p_brand")


@oracle("""
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
        """)
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


@oracle("""
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
        """)
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


@oracle("""
            SELECT day, event_type, event_id, value, rnk FROM (
                SELECT strftime(ts, '%Y-%m-%d') AS day, event_type, event_id, value,
                       CAST(ROW_NUMBER() OVER (PARTITION BY strftime(ts, '%Y-%m-%d'), event_type
                                               ORDER BY value DESC, event_id) AS INTEGER) AS rnk
                FROM events
            ) WHERE rnk <= 3
        """)
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


# Exact-integer window aggregates (see q_window_analytic).
@oracle("""
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
        """)
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


@oracle("""
            SELECT event_id, user_id, 'buy' AS kind FROM events WHERE event_type = 'purchase'
            UNION ALL
            SELECT event_id, user_id, 'join' AS kind FROM events WHERE event_type = 'signup'
        """)
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


@oracle("""
            SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
            FROM events
        """)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7/P1: JSON parse + nested field projection (the reference's
    json.loads + dict access, dags/transformed_from_s3_to_pg.py:31-45) via
    native get_json_object — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@oracle("""
            SELECT strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value
            FROM events GROUP BY 1
        """)
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


@oracle("""
            SELECT strftime(ts, '%Y-%m-%d') AS day, user_id, COUNT(*) AS cnt_appearance
            FROM events GROUP BY 1, 2
        """)
def q_mart_daily_appearances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 mart analog: COUNT(*) per (day, user) — artist appearances by date
    (reference dags/from_dds_to_dm_pg.py:61-65)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"), "user_id")
        .agg(F.count(F.lit(1)).alias("cnt_appearance"))
    )


# Exact-integer avg (see q_mart_daily_avg: float AVG is
# order-sensitive): cent recovery, int sums, integer half-up.
@oracle("""
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
        """)
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


@oracle("""
            SELECT event_type, strftime(ts, '%Y-%m') AS month, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value
            FROM events
            GROUP BY CUBE (event_type, strftime(ts, '%Y-%m'))
        """)
def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 4 combinations of 2 dims)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.cube("event_type", F.date_format("ts", "yyyy-MM").alias("month")).agg(
        F.count(F.lit(1)).alias("n"),
        # exact cent sum (order-insensitive; round-9 float-sum audit)
        (F.sum(cents("value")).cast("double") / F.lit(100.0)).alias("total_value"),
    )


# Exact-integer conditional-pivot avgs (see q_pivot_conditional).
@oracle(_PIVOT_AVG_ORACLE)
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


# Same exact-integer program; the Spark side differs only in using
# the native pivot operator (see q_pivot_native docstring).
@oracle(_PIVOT_AVG_ORACLE)
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


@oracle("""
            WITH ranked AS (
                SELECT user_id, event_id, event_type,
                       FLOOR(value * 100.0 + 0.5) / 100.0 AS last_value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            )
            SELECT user_id, event_id, event_type, last_value
            FROM ranked WHERE rn = 1
        """)
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


@oracle("""
            SELECT event_type,
                   FLOOR(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
                   FLOOR(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90
            FROM events GROUP BY event_type
        """)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous percentiles (median / p90) per event type — Spark
    percentile() and DuckDB quantile_cont share linear interpolation."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        half_up_round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        half_up_round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
    )


# Exact-integer measures (see q_salted_agg): the salted two-phase
# aggregate must equal the plain GROUP BY for ANY salt split.
@oracle("""
            SELECT event_type, COUNT(*) AS n_events,
                   CAST(CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
                        AS DOUBLE) / 100.0 AS total_value,
                   CAST((2 * CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT))
                                  AS HUGEINT) * 100 + COUNT(value))
                        // NULLIF(2 * COUNT(value), 0) AS DOUBLE) / 10000.0
                       AS mean_value
            FROM events GROUP BY event_type
        """)
def q_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigation two-phase aggregate — result-identical to a plain
    GROUP BY, which is exactly what the oracle checks (operators/skew.py)."""
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


@oracle("""
            SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey, c_name
        """)
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


@oracle("""
            SELECT c_custkey, c_name FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '1997-01-01'
                            AND o.o_orderdate <  TIMESTAMP '1998-01-01')
        """)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one 1997 order."""
    customer = load_table(spark, sf_dir, "customer")
    orders_1997 = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01")) & (F.col("o_orderdate") < F.lit("1998-01-01"))
    )
    return customer.join(
        orders_1997, customer.c_custkey == orders_1997.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@oracle("""
            SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
                   CAST(CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                             AS BIGINT) AS DOUBLE) / 100.0 AS total_price
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """)
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


@oracle("""
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
        """)
def q_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1 + LIMIT: global sort + top-n (TakeOrderedAndProject physical op —
    no full global sort materialization)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    )


# Same text runs on both engines: GROUPING SETS and GROUPING() are
# ANSI; only the grouping-id cast is pinned to INT on both sides.
@oracle("""
            SELECT l_returnflag, l_linestatus,
                   CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
                   CAST(GROUPING(l_linestatus) AS INT) AS g_status,
                   COUNT(*) AS n_rows,
                   CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), (l_linestatus), ())
        """)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube (the §2.5 generalization): four
    explicit sets — (flag,status), (flag), (status), () — with GROUPING()
    ids disambiguating real NULLs from subtotal rows. Compiles to a single
    Expand + partial/final aggregate: one scan, one shuffle, regardless of
    how many sets are requested. Quantities are integral doubles, so the
    SUM is exact and BIGINT-castable on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_grouping_sets")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               COUNT(*) AS n_rows,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM li_grouping_sets
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), (l_linestatus), ())
        """
    )


@oracle(snapshot_diff_oracle_sql(
    _SNAPDIFF_OLD_SQL, _SNAPDIFF_NEW_SQL,
    ["o_orderkey"], ["o_orderstatus", "o_totalprice"],
))
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse snapshot diff over two deterministic views of orders:
    'old' drops keys % 3 == 0, 'new' drops keys % 5 == 0 and re-prices
    keys % 7 == 0 — so the diff exercises added, removed and changed
    classes. Full outer join on the key, null-safe comparison."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    old = base.filter(F.col("o_orderkey") % 3 != 0)
    new = base.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0,
            half_up_round(F.col("o_totalprice") * F.lit(1.1), 2),
        ).otherwise(F.col("o_totalprice")),
    )
    return scd_ops.snapshot_diff(
        old, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


@oracle(scd2_history_oracle_sql())
def q_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history of each customer's order priority: gaps-and-
    islands (lag-change flag -> running-sum version -> half-open validity
    intervals via lead). The history-keeping upgrade of the reference's
    current-state dims (sql/init_dds.sql)."""
    orders = load_table(spark, sf_dir, "orders")
    return scd_ops.scd2_history(orders)


@oracle(scd2_as_of_oracle_sql("1997-06-15"))
def q_scd2_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup: every customer's order priority as of
    1997-06-15 — the half-open-interval query SCD2 history exists to
    answer (pure filter, no join)."""
    orders = load_table(spark, sf_dir, "orders")
    return scd_ops.scd2_as_of(scd_ops.scd2_history(orders), "1997-06-15")


# Exact-integer signed avg (see q_supplier_balance).
@oracle("""
            WITH g AS (
                SELECT r_name AS region, n_name AS nation,
                       COUNT(*) AS n_suppliers,
                       CAST(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT))
                            AS HUGEINT) AS s,
                       COUNT(s_acctbal) AS n
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                GROUP BY r_name, n_name
            )
            SELECT region, nation, n_suppliers,
                   CAST(sign(s) * ((2 * abs(s) + n) // NULLIF(2 * n, 0))
                        AS DOUBLE) / 100.0 AS avg_acctbal
            FROM g
        """)
def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier census per (region, nation): count + pinned-rounded mean
    account balance — exercises the supplier dimension (the one testdata
    table no other query touches) through the standard broadcast-dim
    star shape."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    return (
        sup.join(F.broadcast(nat), sup["s_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(cents("s_acctbal")).alias("__s"),
            F.count("s_acctbal").alias("__n"),
        )
        # Exact-integer avg (round-9 float-sum audit). acctbal is SIGNED
        # (testdata min -976.02), so the ABS+sign device pins the
        # half-away-from-zero tie rule identically on both engines.
        .select(
            "region",
            "nation",
            "n_suppliers",
            (
                F.expr(
                    "CAST(sign(__s) * ((2 * abs(CAST(__s AS DECIMAL(38,0))) + __n)"
                    " div NULLIF(2 * __n, 0)) AS DOUBLE)"
                )
                / F.lit(100.0)
            ).alias("avg_acctbal"),
        )
    )


@oracle(f"""
            WITH b AS (
                SELECT MIN(l_partkey) AS lox, MAX(l_partkey) AS hix,
                       MIN(l_suppkey) AS loy, MAX(l_suppkey) AS hiy
                FROM lineitem
            ),
            s AS (
                SELECT l_orderkey, l_partkey, l_suppkey,
                       {scaled_to_bits_sql("l_partkey", "lox", "hix", 10)} AS xs,
                       {scaled_to_bits_sql("l_suppkey", "loy", "hiy", 10)} AS ys
                FROM lineitem, b
            )
            SELECT l_orderkey, l_partkey, l_suppkey,
                   {zorder_key_sql("xs", "ys", 10)} AS zkey
            FROM s
        """)
def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) interleaved layout key over (l_partkey, l_suppkey),
    both normalized to 10 bits off their data bounds — the multi-dimension
    data-skipping sort key `write_zordered` clusters files on. Pure bit
    arithmetic after one bounded bounds-agg; locality + span-shrinkage
    properties tested in tests/test_zorder_wsample.py."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.min("l_partkey").alias("__lox"),
        F.max("l_partkey").alias("__hix"),
        F.min("l_suppkey").alias("__loy"),
        F.max("l_suppkey").alias("__hiy"),
    )
    j = li.select("l_orderkey", "l_partkey", "l_suppkey").crossJoin(
        F.broadcast(bounds)
    )
    zk = zorder_key(
        scaled_to_bits(F.col("l_partkey"), F.col("__lox"), F.col("__hix"), 10),
        scaled_to_bits(F.col("l_suppkey"), F.col("__loy"), F.col("__hiy"), 10),
        10,
    )
    return j.select("l_orderkey", "l_partkey", "l_suppkey", zk.alias("zkey"))


@oracle(f"""
            WITH li AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS rev4
                FROM lineitem
            )
            SELECT n_name AS nation,
                   CAST((CAST(SUM(rev4) AS BIGINT) + 50) // 100 AS DOUBLE) / 100.0
                       AS revenue
            FROM li
            JOIN orders   ON l_orderkey = o_orderkey
                         AND epoch_us(o_orderdate) >= {_US_1996}
                         AND epoch_us(o_orderdate) <  {_US_1997}
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey AND r_name = 'EUROPE'
            GROUP BY 1
        """)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation for EUROPE-region 1996 orders
    where the supplying and ordering nation coincide — the 6-table join
    whose c_nationkey = s_nationkey cross-branch equality makes join
    ORDER matter (customer and supplier branches must meet before the
    nation filter pays off). Exact integer revenue; date bounds as epoch-
    microsecond integers through ts_us (NTZ-safe, the repo's timestamp
    convention)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (ts_us(F.col("o_orderdate")) >= F.lit(_US_1996))
        & (ts_us(F.col("o_orderdate")) < F.lit(_US_1997))
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        rev.groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_rev4_col()).alias("__s4"))
        .select(
            "nation",
            (F.expr("(__s4 + 50) div 100").cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
        )
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


@oracle(f"""
            WITH li AS (
                SELECT l_orderkey, l_shipdate,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS rev4
                FROM lineitem
                WHERE epoch_us(l_shipdate) > {_US_1996}
            )
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST((CAST(SUM(rev4) AS BIGINT) + 50) // 100 AS DOUBLE) / 100.0
                       AS revenue
            FROM li
            JOIN orders   ON l_orderkey = o_orderkey
                         AND epoch_us(o_orderdate) < {_US_1996}
            JOIN customer ON o_custkey = c_custkey AND c_mktsegment = 'BUILDING'
            GROUP BY 1, 2, 3
            ORDER BY revenue DESC, o_orderdate, l_orderkey
            LIMIT 10
        """)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue — selective dim filter + two date inequalities on different
    tables + aggregate + total-order LIMIT (l_orderkey tie-break so the
    top-10 set is engine-deterministic). Exact integer revenue."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        ts_us(F.col("l_shipdate")) > F.lit(_US_1996)
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        ts_us(F.col("o_orderdate")) < F.lit(_US_1996)
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(_rev4_col()).alias("__s4"))
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.expr("(__s4 + 50) div 100").cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderdate"), F.col("l_orderkey"))
        .limit(10)
    )


@oracle(cohort_retention_oracle_sql())
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: distinct users per (first-activity week,
    weeks since) — integer epoch-µs week buckets, no calendar rendering,
    COUNT(DISTINCT) exact (operators/cohort.py; HLL is the documented
    approximate swap at extreme user cardinality)."""
    return cohort_retention(load_table(spark, sf_dir, "events"))


@oracle(f"""
            WITH pre AS (
                SELECT o_custkey FROM orders
                WHERE epoch_us(o_orderdate) >= {_US_1996}
                  AND epoch_us(o_orderdate) <  {_US_1996_07}
            ),
            post AS (
                SELECT o_custkey FROM orders
                WHERE epoch_us(o_orderdate) >= {_US_1996_07}
                  AND epoch_us(o_orderdate) <  {_US_1997}
            )
            SELECT o_custkey, 'both' AS segment
            FROM (SELECT o_custkey FROM pre INTERSECT SELECT o_custkey FROM post)
            UNION ALL
            SELECT o_custkey, 'h1_only' AS segment
            FROM (SELECT o_custkey FROM pre EXCEPT SELECT o_custkey FROM post)
            UNION ALL
            SELECT o_custkey, 'h2_only' AS segment
            FROM (SELECT o_custkey FROM post EXCEPT SELECT o_custkey FROM pre)
        """)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10 beyond UNION ALL: INTERSECT and EXCEPT (distinct set
    semantics) — customers segmented by when they ordered (both halves of
    1996 / first only / second only). Spark's intersect/subtract lower to
    aggregate + join plans; the oracle uses the SQL set operators
    literally, so the set SEMANTICS (distinctness, NULL handling) are the
    thing cross-checked."""
    orders = load_table(spark, sf_dir, "orders")
    us = ts_us(F.col("o_orderdate"))
    pre = orders.filter((us >= _US_1996) & (us < _US_1996_07)).select("o_custkey")
    post = orders.filter(
        (us >= _US_1996_07) & (us < _US_1997)
    ).select("o_custkey")
    both = pre.intersect(post).select("o_custkey", F.lit("both").alias("segment"))
    only_pre = pre.subtract(post).select("o_custkey", F.lit("h1_only").alias("segment"))
    only_post = post.subtract(pre).select("o_custkey", F.lit("h2_only").alias("segment"))
    return both.unionByName(only_pre).unionByName(only_post)


@oracle("""
            WITH op AS (
                SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
            ),
            n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM op),
            item AS (
                SELECT l_partkey AS p, COUNT(*) AS c FROM op GROUP BY 1
            ),
            freq AS (SELECT p FROM item WHERE c >= 2),
            opf AS (
                SELECT op.l_orderkey, op.l_partkey FROM op
                WHERE op.l_partkey IN (SELECT p FROM freq)
            ),
            pairs AS (
                SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                       COUNT(*) AS support
                FROM opf a JOIN opf b
                  ON a.l_orderkey = b.l_orderkey
                 AND a.l_partkey < b.l_partkey
                GROUP BY 1, 2
                HAVING COUNT(*) >= 2
            )
            SELECT part_a, part_b, support,
                   CAST((CAST(support AS HUGEINT) * n.n_orders * 1000000)
                     // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS lift_ppm
            FROM pairs
            JOIN item ca ON ca.p = part_a
            JOIN item cb ON cb.p = part_b
            CROSS JOIN n
        """)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset mining, pair tier (the A-priori L2 step): part
    pairs co-occurring in >= min_support orders, with lift in EXACT
    integer ppm — lift = P(ab)/(P(a)P(b)) computed as
    (c_ab * n_orders * 1e6) div (c_a * c_b), integer cross-multiplication
    so no float division at the support/lift boundary. The pair expansion
    is bounded per order by lines-per-order (TPC-H: <= 7) — the same
    linearity argument as the co-supplier graph; the support filter then
    cuts the candidate set before the lift join. A-priori pruning
    (L2 from frequent L1 only) is the documented scale lever: items
    below min_support can't form a frequent pair, so the expansion runs
    on the frequent-item semi-join.

    Overflow: the lift numerator support * n_orders * 1e6 exceeds int64
    already at n_orders ~ 1e10 / support ~ 922, so it is computed as
    decimal(38,0) UNCONDITIONALLY — never int64, never dependent on the
    session's ANSI setting (with ansi=false an int64 product would wrap
    SILENTLY and corrupt every lift). The DuckDB twin widens to HUGEINT
    the same way; decimal `div` truncation == HUGEINT `//` truncation
    (verified in tests/test_round5_ops.py). The QUOTIENT does fit int64
    by construction: support <= min(c_a, c_b), so
    lift_ppm <= n_orders * 1e6 / max(c_a, c_b) <= n_orders * 1e6 —
    ~1e16 at n_orders = 1e10, comfortably inside 2^63."""
    li = load_table(spark, sf_dir, "lineitem")
    min_support = 2
    op = li.select("l_orderkey", "l_partkey").distinct()
    # Lazy scalar (1-row broadcast cross join), NOT a driver .count():
    # registry-enumerating tooling must not pay an eager job here.
    n_orders = op.agg(F.countDistinct("l_orderkey").alias("__n"))
    item = op.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # A-priori prune: only items appearing in >= min_support orders can
    # participate in a frequent pair.
    frequent = item.filter(F.col("c") >= min_support)
    opf = op.join(
        frequent.select(F.col("p").alias("l_partkey")), "l_partkey", "left_semi"
    )
    a = opf.alias("a")
    b = opf.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= min_support)
    )
    ca = item.select(F.col("p").alias("part_a"), F.col("c").alias("__ca"))
    cb = item.select(F.col("p").alias("part_b"), F.col("c").alias("__cb"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support",
            F.expr(
                "CAST((CAST(support AS DECIMAL(38,0)) * __n * 1000000)"
                " div (CAST(__ca AS DECIMAL(38,0)) * __cb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


@oracle(f"""
            WITH li AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS rev4
                FROM lineitem
            )
            SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
                   epoch_us(o_orderdate) // 31557600000000 AS epoch_year_bucket,
                   CAST((CAST(SUM(rev4) AS BIGINT) + 50) // 100 AS DOUBLE) / 100.0
                       AS volume
            FROM li
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
               OR (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
            GROUP BY 1, 2, 3
        """)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the SAME dimension (nation) joined twice under two
    roles — customer nation via orders->customer, supplier nation via
    lineitem->supplier — with a symmetric unordered-pair filter and a
    per-(pair, year) aggregate. Exercises dimension self-join aliasing +
    cross-branch residual predicates. Exact integer revenue; year from
    integer epoch-µs division (NTZ-safe). Pair NATION_19/NATION_18 is
    chosen because BOTH directions are populated at sf0.001 AND sf0.01 —
    the parity check is non-vacuous at every grading scale (verified
    against the fixtures; an empty result would make any join-shape bug
    undetectable)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    pair = (
        (F.col("cust_nation") == "NATION_19") & (F.col("supp_nation") == "NATION_18")
    ) | ((F.col("cust_nation") == "NATION_18") & (F.col("supp_nation") == "NATION_19"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n1), customer.c_nationkey == F.col("c_nk"))
        .join(F.broadcast(n2), supplier.s_nationkey == F.col("s_nk"))
        .filter(pair)
        .withColumn("__us", ts_us(F.col("o_orderdate")))
        .groupBy(
            "cust_nation",
            "supp_nation",
            F.expr("__us div 31557600000000").alias("epoch_year_bucket"),
        )
        .agg(F.sum(_rev4_col()).alias("__s4"))
        .select(
            "cust_nation",
            "supp_nation",
            "epoch_year_bucket",
            (F.expr("(__s4 + 50) div 100").cast("double") / F.lit(100.0)).alias(
                "volume"
            ),
        )
    )


@oracle("""
            WITH li AS (
                SELECT l_orderkey, l_suppkey,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)) AS rev4
                FROM lineitem
            )
            SELECT epoch_us(o_orderdate) // 31557600000000 AS epoch_year_bucket,
                   (CAST(SUM(CASE WHEN n2.n_name = 'NATION_3' THEN rev4 ELSE 0 END)
                         AS BIGINT) * 1000000)
                     // CAST(SUM(rev4) AS BIGINT) AS share_ppm
            FROM li
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            GROUP BY 1
        """)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: a RATIO of conditional aggregates — one nation's
    revenue share of a region's total per year — as sum(CASE)/sum(),
    computed in exact integer ppm via floor division (no float division
    at the parity boundary). Conditional aggregation over a 6-table join.

    Overflow bound: the ppm scaling needs __t4 * 1e6 < 2^63, i.e. a
    per-year-bucket revenue sum below ~9.2e12 rev4-units (~$0.9B) —
    holds through roughly SF10; beyond that cast the sums to
    decimal(38,0) before scaling (the flagship's documented swap,
    executed in tests/test_decimal_swap.py)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    sn = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    target = F.when(F.col("supp_nation") == "NATION_3", _rev4_col()).otherwise(F.lit(0))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == "AMERICA")
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(sn), supplier.s_nationkey == F.col("s_nk"))
        .withColumn("__us", ts_us(F.col("o_orderdate")))
        .groupBy(F.expr("__us div 31557600000000").alias("epoch_year_bucket"))
        .agg(
            F.sum(target).alias("__t4"),
            F.sum(_rev4_col()).alias("__a4"),
        )
        .select(
            "epoch_year_bucket",
            F.expr("(__t4 * 1000000) div __a4").alias("share_ppm"),
        )
    )


@oracle("""
            WITH wide AS (
                SELECT l_returnflag, l_linestatus,
                       CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
                           AS sum_qty,
                       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                            AS BIGINT) AS sum_price_cents,
                       COUNT(*) AS n_rows
                FROM lineitem GROUP BY 1, 2
            )
            SELECT l_returnflag, l_linestatus, metric, value
            FROM wide UNPIVOT (value FOR metric IN (sum_qty, sum_price_cents, n_rows))
        """)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt) — the inverse of the pivot family (§2.5): the wide
    per-(returnflag, linestatus) aggregate turned into long
    (group, metric, value) rows, the shape BI sinks and metric stores
    ingest. Spark's native DataFrame.unpivot (an Expand node — no
    shuffle, no UDF) against DuckDB's SQL UNPIVOT. Values are exact
    integer counts/sums rendered as int64."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    e2 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    wide = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum(qty).alias("sum_qty"),
        F.sum(e2).alias("sum_price_cents"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    return wide.unpivot(
        ids=["l_returnflag", "l_linestatus"],
        values=["sum_qty", "sum_price_cents", "n_rows"],
        variableColumnName="metric",
        valueColumnName="value",
        # an absent metric (all-NULL measure in the group) emits no row —
        # SQL UNPIVOT's standard null-exclusion; Spark's unpivot keeps
        # NULL cells, so pin the long-form contract explicitly (round-9
        # hostile nulls sweep)
    ).where(F.col("value").isNotNull())


@oracle("""
            WITH
            p1 AS (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey),
            p2 AS (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_partkey),
            p3 AS (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_suppkey),
            p4 AS (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_returnflag)
            SELECT 'l_orderkey' AS key_col, COUNT(*) AS n_keys,
                   CAST(SUM(n) AS BIGINT) AS n_rows,
                   CAST(MAX(n) AS BIGINT) AS max_key_rows,
                   (CAST(MAX(n) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
                       AS top_share_ppm
            FROM p1
            UNION ALL
            SELECT 'l_partkey', COUNT(*), CAST(SUM(n) AS BIGINT),
                   CAST(MAX(n) AS BIGINT),
                   (CAST(MAX(n) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
            FROM p2
            UNION ALL
            SELECT 'l_suppkey', COUNT(*), CAST(SUM(n) AS BIGINT),
                   CAST(MAX(n) AS BIGINT),
                   (CAST(MAX(n) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
            FROM p3
            UNION ALL
            SELECT 'l_returnflag', COUNT(*), CAST(SUM(n) AS BIGINT),
                   CAST(MAX(n) AS BIGINT),
                   (CAST(MAX(n) AS BIGINT) * 1000000) // CAST(SUM(n) AS BIGINT)
            FROM p4
        """)
def q_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the census run BEFORE choosing a salted
    vs plain shuffle plan (operators/skew.py is the mitigation; this is
    the detector): per candidate key column, distinct key count, total
    rows, the heaviest key's row count, and its share in exact ppm
    (integer cross-multiplication, no float division). One groupBy per
    key at full parallelism; the per-key census never leaves the
    executors (max/sum re-aggregate)."""
    li = load_table(spark, sf_dir, "lineitem")

    def profile(col: str) -> DataFrame:
        per_key = li.groupBy(F.col(col).alias("__k")).agg(
            F.count(F.lit(1)).alias("__n")
        )
        return per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("__n").alias("n_rows"),
            F.max("__n").alias("max_key_rows"),
        ).select(
            F.lit(col).alias("key_col"),
            "n_keys",
            "n_rows",
            "max_key_rows",
            F.expr("(max_key_rows * 1000000) div n_rows").alias("top_share_ppm"),
        )

    return (
        profile("l_orderkey")
        .unionByName(profile("l_partkey"))
        .unionByName(profile("l_suppkey"))
        .unionByName(profile("l_returnflag"))
    )


@oracle(merge_upsert_oracle_sql())
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI MERGE INTO semantics (update + insert + delete in one pass)
    over the event log — the general upsert whose insert-only special
    case is the reference's ON CONFLICT DO NOTHING (SURVEY §2.7). Two
    per-key compactions + full-outer + CASE, all shuffling on user_id
    (operators/scd.py:merge_upsert)."""
    return scd_ops.merge_upsert(load_table(spark, sf_dir, "events"))


@oracle("""
            WITH o AS (
                SELECT o_custkey,
                       epoch_us(o_orderdate) // 31557600000000 AS y
                FROM orders
            )
            SELECT o_custkey, CAST(COUNT(DISTINCT y) AS BIGINT) AS years
            FROM o WHERE y BETWEEN 25 AND 28
            GROUP BY o_custkey
            HAVING COUNT(DISTINCT y) = 4
        """)
def q_relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational DIVISION — the FOR-ALL quantifier (Codd's ÷), the one
    classic algebra operator no other entry exercises: customers with at
    least one order in EVERY year of a four-year span. SQL has no
    ALL-join, so both engines express it the standard way: per-customer
    count of DISTINCT satisfied buckets == divisor cardinality. Years
    are integer epoch-µs bucket arithmetic (NTZ-safe); the divisor
    cardinality (4) is a literal, not a data-dependent scalar."""
    orders = load_table(spark, sf_dir, "orders")
    # Divisor = four consecutive epoch-year buckets (25..28, the
    # fixture's densest span — verified non-vacuous at sf0.001 AND
    # sf0.01: 60/565 qualifying customers). Integer epoch-µs year
    # arithmetic, same bucket family as market_share.
    return (
        orders.withColumn("__us", ts_us(F.col("o_orderdate")))
        .withColumn("__y", F.expr("__us div 31557600000000"))
        .filter((F.col("__y") >= 25) & (F.col("__y") <= 28))
        .groupBy("o_custkey")
        .agg(F.countDistinct("__y").alias("__ny"))
        .filter(F.col("__ny") == 4)
        .select("o_custkey", F.col("__ny").cast("long").alias("years"))
    )


@oracle("""
            SELECT o_custkey, o_orderkey,
                   CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents,
                   PERCENT_RANK() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                                o_orderkey
                   ) AS pct_rank,
                   CUME_DIST() OVER (
                       PARTITION BY o_custkey
                       ORDER BY CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT),
                                o_orderkey
                   ) AS cume
            FROM orders
            WHERE o_totalprice IS NOT NULL
        """)
def q_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.9 completion: percent_rank and cume_dist — the two analytic
    rank ratios not covered by rank/dense_rank/ntile elsewhere. Both are
    exact rationals of integer ranks ((rk-1)/(n-1), cum/n); each engine
    divides the same int64s, so the doubles agree bit-for-bit without a
    rounding pin. Keyed per customer over order totals (cents).

    Unpriced (NULL-total) orders cannot be ranked by total and are
    excluded explicitly on both engines — left implicit, the engines'
    DEFAULT null sort order diverges (Spark asc = NULLS FIRST, DuckDB
    = NULLS LAST), shifting every rank in the partition (round-9
    hostile nulls sweep)."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    w = Window.partitionBy("o_custkey").orderBy(cents, F.col("o_orderkey"))
    return orders.select(
        "o_custkey",
        "o_orderkey",
        cents.alias("total_cents"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@oracle(f"""
            SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
            FROM lineitem
            WHERE epoch_us(l_shipdate) >= {_US_1996}
              AND epoch_us(l_shipdate) <  {_US_1996_07}
            EXCEPT ALL
            SELECT CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
            FROM lineitem
            WHERE epoch_us(l_shipdate) >= {_US_1996_07}
              AND epoch_us(l_shipdate) <  {_US_1997}
        """)
def q_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.10's BAG-semantics complement to `set_ops`: EXCEPT ALL keeps
    multiplicity (a value occurring 5 times minus 3 occurrences leaves
    2 rows — DISTINCT-based EXCEPT would leave 0). Spark's exceptAll
    lowers to the sum-of-signed-counts generate plan; DuckDB spells
    EXCEPT ALL literally — the multiset semantics are what is
    cross-checked. Quantity values of first-half-1996 lineitems minus
    second-half occurrences."""
    li = load_table(spark, sf_dir, "lineitem")
    us = ts_us(F.col("l_shipdate"))
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    h1 = li.filter((us >= _US_1996) & (us < _US_1996_07)).select(qty.alias("qty"))
    h2 = li.filter((us >= _US_1996_07) & (us < _US_1997)).select(qty.alias("qty"))
    return h1.exceptAll(h2)


@oracle("""
            WITH census AS (
                SELECT l_returnflag AS flag,
                       CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
                       COUNT(*) AS cnt
                FROM lineitem GROUP BY 1, 2
            ),
            ranked AS (
                SELECT flag, qty, cnt,
                       ROW_NUMBER() OVER (
                           PARTITION BY flag ORDER BY cnt DESC, qty
                       ) AS rn
                FROM census
            )
            SELECT flag, qty AS mode_qty, cnt AS n FROM ranked WHERE rn = 1
        """)
def q_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group MODE with a deterministic tie-break: the most frequent
    quantity per return flag (count desc, then smallest value). The
    two-level aggregate shape (census -> per-group argmax) every
    categorical profiler needs; expressed as a rank-1 window over the
    census, never a collect."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    census = li.groupBy(F.col("l_returnflag").alias("flag"), qty.alias("qty")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("flag").orderBy(F.col("cnt").desc(), F.col("qty"))
    return (
        census.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("flag", F.col("qty").alias("mode_qty"), F.col("cnt").alias("n"))
    )


@oracle("""
            SELECT CAST((COALESCE(CAST(SUM(
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                       * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT))
                   ) AS BIGINT), 0) + 50) // 100 AS DOUBLE) / 100.0 AS revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
                   AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
                   AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
                   AND CAST(FLOOR(l_quantity + 0.5) AS BIGINT) BETWEEN 20 AND 30)
        """)
def q_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate spanning
    BOTH join sides (brand/size from part AND quantity from lineitem in
    each disjunct) — the shape that exercises CNF extraction: Catalyst
    must derive the common join key + pushable per-side conjuncts from
    the disjunction instead of evaluating it post-join row by row. Exact
    integer revenue; one row out."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    clause = (
        (
            (F.col("p_brand") == "Brand#12")
            & (F.col("p_size").between(1, 15))
            & (qty >= 1)
            & (qty <= 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & (F.col("p_size").between(1, 25))
            & (qty >= 10)
            & (qty <= 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & (F.col("p_size").between(1, 35))
            & (qty >= 20)
            & (qty <= 30)
        )
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(clause)
        .agg(F.sum(_rev4_col()).alias("__s4"))
        .select(
            (F.expr("(coalesce(__s4, 0L) + 50) div 100").cast("double") / F.lit(100.0))
            .alias("revenue")
        )
    )


@oracle("""
            WITH per_cust AS (
                SELECT c_custkey, COUNT(o_orderkey) AS c_count
                FROM customer LEFT JOIN orders
                  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                GROUP BY c_custkey
            )
            SELECT c_count, COUNT(*) AS custdist
            FROM per_cust GROUP BY c_count
        """)
def q_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer LEFT OUTER JOIN orders with the join-side
    filter INSIDE the join condition (not a WHERE — zero-order customers
    must survive), per-customer order count, then the distribution of
    those counts. Exercises outer-join-with-residual-condition +
    two-level reaggregation, a plan shape no other entry covers."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))  # count(col): NULLs excluded
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).alias("custdist")
    )


@oracle("""
            WITH q AS (
                SELECT l_partkey,
                       CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
                       CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS e2
                FROM lineitem
            ),
            pa AS (
                SELECT l_partkey, CAST(SUM(qty) AS BIGINT) AS sq,
                       COUNT(*) AS cnt
                FROM q GROUP BY l_partkey
            )
            SELECT CAST((2 * COALESCE(CAST(SUM(e2) AS HUGEINT), 0) * 100 + 700)
                        // 1400 AS DOUBLE) / 100.0 AS avg_weekly_loss
            FROM q
            JOIN part ON q.l_partkey = p_partkey AND p_brand = 'Brand#11'
            JOIN pa ON pa.l_partkey = q.l_partkey
            WHERE 5 * q.qty * pa.cnt < pa.sq
        """)
def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated per-group AVG subquery (lineitems below
    20% of their part's average quantity), decorrelated to a join against
    the per-part aggregate. The 0.2*avg comparison is EXACT integer
    cross-multiplication: qty < 0.2 * (sum/cnt)  <=>  5*qty*cnt < sum —
    no float division anywhere in the predicate, so the boundary rows
    match the oracle bit-for-bit. Output = total price of those lines / 7
    (weekly-revenue-loss framing) with the pure-integer round identity."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    per_part = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        F.sum(qty).alias("__sq"), F.count(F.lit(1)).alias("__cnt")
    )
    e2 = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(per_part, li.l_partkey == F.col("__pk"))
        .filter(qty * F.lit(5) * F.col("__cnt") < F.col("__sq"))
        .agg(F.sum(e2).alias("__se2"))
        .select(
            (F.expr(
                "(2 * CAST(coalesce(__se2, 0L) AS DECIMAL(38,0)) * 100 + 700)"
                " div 1400"
            ).cast("double")
             / F.lit(100.0)).alias("avg_weekly_loss")
        )
    )


@oracle("""
            WITH big AS (
                SELECT l_orderkey,
                       CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
                           AS sum_qty
                FROM lineitem GROUP BY l_orderkey
                HAVING sum_qty > 150
            )
            SELECT c_name, c_custkey, l_orderkey,
                   o_orderdate AS orderdate, o_totalprice AS totalprice, sum_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY totalprice DESC, l_orderkey
            LIMIT 100
        """)
def q_top_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING on a grouped SUM feeding an IN-subquery
    (expressed as the decorrelated join Spark plans it as), rejoined to
    orders+customer, top-100 by o_totalprice with o_orderkey tie-break.
    sum_qty is exact integer."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select(
            "c_name", "c_custkey", "l_orderkey",
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice").desc(), F.col("l_orderkey"))
        .limit(100)
    )


@oracle(f"""
            WITH late AS (
                SELECT DISTINCT l_orderkey
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE epoch_us(l_shipdate)
                      > epoch_us(o_orderdate) + 80 * {_US_DAY}
            )
            SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
            FROM orders
            WHERE epoch_us(o_orderdate) >= {_US_1996}
              AND epoch_us(o_orderdate) < {_US_1996_07}
              AND o_orderkey IN (SELECT l_orderkey FROM late)
            GROUP BY 1
        """)
def q_priority_promises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of 1996-H1 orders where EXISTS a
    lineitem shipped more than 80 days after the order date (the schema
    has no l_commitdate; the late-shipment predicate plays its role).
    The EXISTS lowers to a left-semi join — orders is the probe side, the
    qualifying-lineitem set the build side; one shuffle on orderkey.

    The EXISTS set is built from the H1-FILTERED orders, not the full
    table (VERDICT r5 "what's wrong" #1): only H1 orderkeys can survive
    the outer semi-join, so filtering inside `late` is legal — and
    Catalyst cannot infer it itself (the semi-join key is orderkey, not
    orderdate). At 100x this keeps ~12x of the fact rows out of the
    EXISTS-side shuffle; tests/test_plans.py pins the filter below the
    lineitem join."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    h1 = orders.filter(
        (ts_us(F.col("o_orderdate")) >= F.lit(_US_1996))
        & (ts_us(F.col("o_orderdate")) < F.lit(_US_1996_07))
    )
    late = li.join(
        h1.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).filter(
        ts_us(F.col("l_shipdate")) > ts_us(F.col("o_orderdate")) + F.lit(80 * _US_DAY)
    ).select(F.col("l_orderkey").alias("__k"))
    return (
        h1.join(late, h1.o_orderkey == F.col("__k"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@oracle("""
            WITH pp AS (
                SELECT l_partkey,
                       CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT)
                            * (100 - CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)))
                            AS BIGINT) AS s4
                FROM lineitem GROUP BY 1
            ),
            t AS (SELECT CAST(SUM(s4) AS BIGINT) AS t4 FROM pp)
            SELECT l_partkey,
                   CAST((2 * CAST(s4 AS HUGEINT) + 100) // 200 AS DOUBLE) / 100.0 AS revenue
            FROM pp, t
            WHERE s4 * 10000 > t4
        """)
def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp in this schema): parts whose revenue
    exceeds fraction 1/10000 of GLOBAL revenue — a grouped HAVING against
    an uncorrelated global scalar. The comparison is the integer
    cross-multiplication sum_part * 10000 > total (never a float
    threshold), so the cut is exact; revenue presents as the usual
    rev4-div-cents double. The cross-multiply is the overflow-prone term
    at scale; the decimal(38,0) swap is EXECUTED and proven
    value-identical in tests/test_decimal_swap.py."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum(_rev4_col()).alias("__s4"))
    total = per_part.agg(F.sum("__s4").alias("__t4"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("__s4") * F.lit(10_000) > F.col("__t4"))
        .select(
            "l_partkey",
            (F.expr("(2 * CAST(__s4 AS DECIMAL(38,0)) + 100) div 200").cast("double") / F.lit(100.0)).alias(
                "revenue"
            ),
        )
    )


@oracle("""
            SELECT p_brand, p_size,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_size <= 15
              AND l_suppkey NOT IN
                  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
            GROUP BY 1, 2
        """)
def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per (p_brand, p_size)
    for mid-size parts, EXCLUDING suppliers from a NOT IN subquery
    (negative account balance — the complaints analogue). NOT IN over a
    non-null key column lowers to an anti-join; the count distinct rides
    one (brand, size) shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    bad = supplier.filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("__bad")
    )
    return (
        li.join(F.broadcast(part.filter(F.col("p_size") <= 15)),
                li.l_partkey == part.p_partkey)
        .join(bad, li.l_suppkey == F.col("__bad"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@oracle(f"""
            WITH osupp AS (
                SELECT l_orderkey AS ok, l_suppkey AS sk,
                       MAX(CASE WHEN epoch_us(l_shipdate)
                                 > epoch_us(o_orderdate) + 60 * {_US_DAY}
                                THEN 1 ELSE 0 END) AS late
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1, 2
            ),
            sole AS (
                SELECT o1.ok, o1.sk FROM osupp o1
                WHERE o1.late = 1
                  AND EXISTS (SELECT 1 FROM osupp o2
                              WHERE o2.ok = o1.ok AND o2.sk <> o1.sk)
                  AND NOT EXISTS (SELECT 1 FROM osupp o3
                                  WHERE o3.ok = o1.ok AND o3.sk <> o1.sk
                                    AND o3.late = 1)
            )
            SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
            FROM sole JOIN supplier ON sk = s_suppkey
            GROUP BY 1
            ORDER BY numwait DESC, s_name
            LIMIT 20
        """)
def q_sole_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers that were the ONLY late shipper inside a
    multi-supplier order — EXISTS(another supplier in the order) AND NOT
    EXISTS(another LATE supplier in the order), late = shipped > 60 days
    after the order date. The quantifiers are DECORRELATED into per-order
    counts — for a late supplier, "another supplier exists" ⟺
    n_suppliers >= 2 and "no other late supplier" ⟺ n_late == 1 — so the
    plan is one per-(order, supplier) aggregate + one per-order aggregate
    + one join, with NO self-joins (the first-cut semi+anti form scanned
    the fact table three times with zero exchange reuse — measured in the
    round-5 plan audit; this form scans it once). The oracle keeps the
    literal EXISTS/NOT-EXISTS derivation, so two different lowerings must
    agree. Top 20 by count with name tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    osupp = (
        li.join(orders.select("o_orderkey", "o_orderdate"),
                li.l_orderkey == F.col("o_orderkey"))
        .select(
            F.col("l_orderkey").alias("ok"),
            F.col("l_suppkey").alias("sk"),
            (
                ts_us(F.col("l_shipdate"))
                > ts_us(F.col("o_orderdate")) + F.lit(60 * _US_DAY)
            ).alias("late"),
        )
        .groupBy("ok", "sk")
        .agg(F.max(F.col("late").cast("int")).alias("late"))
        # Referenced twice (per-order rollup + late filter): truncate the
        # fact-join lineage so the scan runs once, not per consumer.
        .localCheckpoint()
    )
    per_order = osupp.groupBy("ok").agg(
        F.count(F.lit(1)).alias("__n_supp"),
        F.sum("late").alias("__n_late"),
    )
    sole = (
        osupp.filter(F.col("late") == 1)
        .join(per_order, "ok")
        .filter((F.col("__n_supp") >= 2) & (F.col("__n_late") == 1))
    )
    return (
        sole.groupBy("sk")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier), F.col("sk") == supplier.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@oracle("""
            WITH cust AS (
                SELECT c_custkey, c_nationkey,
                       CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS bal
                FROM customer
            ),
            a AS (
                SELECT CAST(SUM(bal) AS BIGINT) // COUNT(*) AS avgbal
                FROM cust WHERE bal > 0
            )
            SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
                   CAST(CAST(SUM(bal) AS BIGINT) AS DOUBLE) / 100.0
                     AS totacctbal
            FROM cust, a
            WHERE bal > avgbal
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_totalprice > 300000)
            GROUP BY 1
        """)
def q_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and balance-sum of customers with
    above-average positive balance and NO large order (o_totalprice >
    300k; plain "no orders at all" is VACUOUS on this dataset — every
    customer orders ~10 times, so the anti-join predicate moves to the
    rarer event) — an uncorrelated scalar AVG subquery plus a NOT EXISTS
    anti-join. The average is computed in exact integer cents (sum div
    count, truncating) so the cut is engine-identical; the balance sum
    presents as cents/100."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long")
    cust = customer.select("c_custkey", "c_nationkey", cents.alias("__bal"))
    avg_pos = cust.filter(F.col("__bal") > 0).agg(
        F.expr("sum(__bal) div count(1)").alias("__avg")
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .filter(F.col("__bal") > F.col("__avg"))
        .join(
            orders.filter(F.col("o_totalprice") > 300_000).select(
                F.col("o_custkey").alias("__oc")
            ),
            F.col("c_custkey") == F.col("__oc"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            (F.sum("__bal").cast("double") / F.lit(100.0)).alias("totacctbal"),
        )
    )


@oracle(f"""
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
        """)
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


@oracle(f"""
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
        """)
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


@oracle(f"""
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
        """)
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


@oracle(f"""
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
        """)
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


@oracle("""
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
        """)
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


@oracle(f"""
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
        """)
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


@oracle(f"""
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
        """)
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
