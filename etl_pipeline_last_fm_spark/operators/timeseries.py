"""Calendar gap-fill — the time-series densification operator.

The reference's unit of processing is the daily partition (SURVEY.md §1.1);
days with no data simply have no rows (`dags/transformed_from_s3_to_pg.py`
writes nothing on an empty partition). Downstream consumers — dashboards,
moving averages, SCD point-in-time reads — need a DENSE calendar: one row
per (key, day) with gap semantics made explicit. This is TimescaleDB's
``time_bucket_gapfill`` + ``locf()`` re-expressed relationally:

- **zero-fill** for flow metrics (event counts: a missing day really is 0);
- **LOCF** (last observation carried forward) for state metrics (a balance
  or level holds until the next observation).

Scale shape: per-key [min, max] bounds come from one aggregate; the
calendar explode emits span-many rows per key from that single bounds row
(the generator input is tiny by construction); the observation join is
equi on (key, day); the LOCF fill is one window per key ordered by day.
Nothing global anywhere — keys fan out across the cluster, and a key's
cost is its own span, never the corpus's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gapfill_daily(
    obs: DataFrame,
    key_col: str,
    date_col: str,
    zero_cols: list[str] | None = None,
    locf_cols: list[str] | None = None,
) -> DataFrame:
    """Densify ``obs`` (one row per observed (key, date)) to every calendar
    day in each key's [min(date), max(date)] span.

    ``zero_cols`` fill gaps with 0 (flow metrics); ``locf_cols`` carry the
    last observed value forward (state metrics). Adds ``was_observed``
    marking real rows. Column order: key, date, zero_cols, locf_cols,
    was_observed."""
    zero_cols = zero_cols or []
    locf_cols = locf_cols or []
    bounds = obs.groupBy(key_col).agg(
        F.min(date_col).alias("__lo"), F.max(date_col).alias("__hi")
    )
    cal = bounds.select(
        key_col,
        F.explode(F.expr("sequence(__lo, __hi, interval 1 day)")).alias(date_col),
    )
    marked = obs.withColumn("__obs", F.lit(1))
    joined = cal.join(marked, [key_col, date_col], "left")
    w = (
        Window.partitionBy(key_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out_cols = (
        [F.col(key_col), F.col(date_col)]
        + [F.coalesce(F.col(c), F.lit(0)).alias(c) for c in zero_cols]
        + [F.last(c, ignorenulls=True).over(w).alias(c) for c in locf_cols]
        + [F.col("__obs").isNotNull().alias("was_observed")]
    )
    return joined.select(*out_cols)


def gapfill_daily_oracle_sql(
    obs_sql: str,
    key_col: str,
    date_col: str,
    zero_cols: list[str] | None = None,
    locf_cols: list[str] | None = None,
) -> str:
    """DuckDB twin: generate_series calendar per key, LEFT JOIN back, zero
    via COALESCE, LOCF via last_value(... IGNORE NULLS)."""
    zero_cols = zero_cols or []
    locf_cols = locf_cols or []
    zero_sel = "".join(
        f",\n               COALESCE(o.{c}, 0) AS {c}" for c in zero_cols
    )
    locf_sel = "".join(
        f""",\n               last_value(o.{c} IGNORE NULLS) OVER (
                   PARTITION BY cal.{key_col} ORDER BY cal.{date_col}
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS {c}"""
        for c in locf_cols
    )
    return f"""
        WITH obs AS ({obs_sql}),
        bounds AS (
            SELECT {key_col}, min({date_col}) AS lo, max({date_col}) AS hi
            FROM obs GROUP BY {key_col}
        ),
        cal AS (
            SELECT {key_col},
                   unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS {date_col}
            FROM bounds
        )
        SELECT cal.{key_col}, cal.{date_col}{zero_sel}{locf_sel},
               (o.{date_col} IS NOT NULL) AS was_observed
        FROM cal LEFT JOIN obs o
          ON cal.{key_col} = o.{key_col} AND cal.{date_col} = o.{date_col}
    """


# --- Exponential decay fold (round 6) ----------------------------------


def ema_halflife(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key exponential moving average with α = ½ and zero init —
    the ORDER-DEPENDENT recurrence  s₀ = 0,  sᵢ = (sᵢ₋₁ + vᵢ) div 2
    over events sorted by (epoch-µs, tiebreak), in exact integer cents
    (α = ½ keeps the whole trajectory in integers; the division
    truncates toward zero on BOTH engines — Spark's double→long cast
    and DuckDB's integer ``//`` — including for negative running sums,
    so refund-style negative values stay bit-identical too). This is
    the one aggregation class a commutative SUM/AVG cannot express:
    the result depends on event ORDER, not just the multiset.

    Plan shape: one shuffle to the key, array_sort(collect_list) for the
    deterministic order (shuffle-order-proof — same device as the
    MATCH_RECOGNIZE encode), then F.aggregate folds the recurrence
    inside codegen. Per-key state is one long; per-key cost is the
    key's own history. A streaming twin would carry s as its fold
    state — the recurrence is associative-composable under (s, n)
    pairs only for α = ½ per-element steps, which is exactly what the
    batch fold replays. Oracle: list_reduce(list_prepend(0, list(v
    ORDER BY ...)), (acc, x) -> (acc + x) // 2)."""
    return _ema_batch_state(
        events, key_col, ts_col, value_col, tiebreak_col
    ).select(
        F.col("key").alias(key_col),
        F.size("__a").cast("long").alias("n_events"),
        F.aggregate("__a", F.lit(0).cast("long"), _halve).alias("ema_cents"),
    )


def ema_halflife_oracle_sql(table: str = "events") -> str:
    """DuckDB twin of ``ema_halflife``: the same zero-init ½-decay fold
    via list_reduce over the (ts, tiebreak)-ordered value list."""
    return f"""
        SELECT user_id,
               CAST(LEN(l) AS BIGINT) AS n_events,
               CAST(list_reduce(
                   list_prepend(CAST(0 AS BIGINT), l),
                   (acc, x) -> (acc + x) // 2
               ) AS BIGINT) AS ema_cents
        FROM (
            SELECT user_id,
                   list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ORDER BY epoch_us(ts), event_id) AS l
            FROM {table}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
            GROUP BY user_id
        )
    """


def _halve(acc, s):
    """ONE truncating ½-decay step (acc + v) div 2 — shared by the
    one-shot fold and the batch fold so the maintenance identity cannot
    drift. The double→long cast truncates toward zero, matching DuckDB
    ``//`` for negative sums too (floor would differ by 1 there); exact
    while |acc + v| « 2^53 (values are cents)."""
    return ((acc + s["v"]) / F.lit(2)).cast("long")


def _ema_batch_state(
    events: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-key sorted value array + order boundaries for one batch.

    Rows with a NULL value are NOT observations of the trajectory and
    are excluded explicitly (round-9 hostile nulls sweep: left implicit,
    a NULL would poison the fold accumulator into NaN on Spark while the
    oracle's recursion skipped it differently). NULL keys/timestamps are
    excluded by the same rule: an unkeyed or untimed sample cannot be
    placed in any ordered per-key trajectory."""
    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, ts_us

    events = events.where(
        F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
    )
    cents = half_up_round(F.col(value_col) * 100).cast("long")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_us(F.col(ts_col)).alias("us"),
                F.col(tiebreak_col).alias("tb"),
                cents.alias("v"),
            )
        )
    )
    return events.groupBy(F.col(key_col).alias("key")).agg(arr.alias("__a"))


def frontier_ordered_join(s: DataFrame, b: DataFrame):
    """The ordered-fold tier's shared join scaffold, defined ONCE for
    all four members (EMA / CUSUM / last-touch / time-decay): full-outer
    key join of the carried state against the batch's sorted per-key
    array, plus the delivery-contract predicate — the batch's FIRST
    event must sit strictly after the state's fold frontier (`__su`,
    `__st` aliases in the state select; `__a` is the batch array).
    Returns (joined, in_order). A state row's frontier is never NULL
    (it is the last event of some non-empty batch), so frontier
    nullability doubles as the has-state test."""
    j = s.join(b, "key", "full_outer")
    first = F.col("__a")[0]
    in_order = (
        F.col("__a").isNull()
        | F.col("__su").isNull()
        | (first["us"] > F.col("__su"))
        | ((first["us"] == F.col("__su")) & (first["tb"] > F.col("__st")))
    )
    return j, in_order


def out_of_order_raise(op_name: str):
    """The shared fail-loud expression for a delivery-contract
    violation; the caller casts it to the guarded column's type."""
    return F.raise_error(
        F.concat(
            F.lit(f"{op_name}: out-of-order batch for key "),
            F.col("key").cast("string"),
        )
    )


def ema_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold one time-slice batch into per-key EMA state — the
    NON-commutative sibling of the additive mart folds: because the
    recurrence depends on event ORDER, batches must arrive as
    time-ordered slices (the Kafka-partition-per-key delivery model).
    The state carries the fold frontier (max (us, tiebreak) seen); a
    batch containing an event at or before a key's frontier RAISES
    (raise_error inside the fold expression — fail loud, never silently
    corrupt the trajectory). Within a batch, order is recovered by the
    same array_sort device as the one-shot fold, so the composition
    identity  fold(fold(s, A), B) == fold(s, A++B)  holds exactly for
    time-split batches — that identity IS the oracle of the graded
    query.

    State schema: (key, n_events, ema_cents, max_us, max_tb)."""
    b = _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col)
    last = F.element_at("__a", F.size("__a"))
    if state is None:
        return b.select(
            "key",
            F.size("__a").cast("long").alias("n_events"),
            F.aggregate(
                "__a", F.lit(0).cast("long"), _halve
            ).alias("ema_cents"),
            last["us"].alias("max_us"),
            last["tb"].alias("max_tb"),
        )
    s = state.select(
        "key",
        F.col("n_events").alias("__sn"),
        F.col("ema_cents").alias("__se"),
        F.col("max_us").alias("__su"),
        F.col("max_tb").alias("__st"),
    )
    j, in_order = frontier_ordered_join(s, b)
    init = F.coalesce(F.col("__se"), F.lit(0).cast("long"))
    folded = F.aggregate(
        F.coalesce(F.col("__a"), F.array()), init, _halve
    )
    return j.select(
        "key",
        (F.coalesce(F.col("__sn"), F.lit(0).cast("long"))
         + F.coalesce(F.size("__a").cast("long"), F.lit(0).cast("long")))
        .alias("n_events"),
        F.when(
            ~in_order,
            out_of_order_raise("ema_fold_batch").cast("long"),
        ).otherwise(folded).alias("ema_cents"),
        F.coalesce(last["us"], F.col("__su")).alias("max_us"),
        F.coalesce(last["tb"], F.col("__st")).alias("max_tb"),
    )


def incremental_ema_batches(
    batches: list[DataFrame],
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold a time-ordered batch sequence through ``ema_fold_batch`` and
    present (key, n_events, ema_cents) — must equal ``ema_halflife`` over
    the union for ANY time-split batching (the ordered-fold maintenance
    identity; the one-shot fold is the oracle). localCheckpoint per round
    truncates the state lineage, the iterative-operator house rule."""
    state = None
    for batch in batches:
        state = ema_fold_batch(
            state, batch, key_col, ts_col, value_col, tiebreak_col
        ).localCheckpoint()
    assert state is not None, "need at least one batch"
    return state.select(
        F.col("key").alias(key_col), "n_events", "ema_cents"
    )


def trend_fit(
    events: DataFrame,
    group_cols: list[str] | None = None,
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-group ordinary-least-squares TREND: the slope of value (cents)
    against time (whole days), from the closed form
        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    computed ENTIRELY in integers and presented as exact ppm-cents/day
    via cross-multiplied truncating division. Every product is widened
    to decimal(38,0) UNCONDITIONALLY (house rule): n·Σxy passes 2^63
    already at sf0.1 (day indices ~2e4, cents ~5e6, rows ~1e5/group).
    One partial+final aggregate — the cheapest possible plan; no window,
    no sort, no second pass."""
    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, ts_us

    group_cols = group_cols or ["event_type"]
    x = (ts_us(F.col(ts_col)) / F.lit(86_400_000_000)).cast("long")  # day idx
    y = half_up_round(F.col(value_col) * 100).cast("long")
    d38 = "decimal(38,0)"
    agged = events.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(x.cast(d38)).alias("__sx"),
        F.sum(y.cast(d38)).alias("__sy"),
        F.sum((x * y).cast(d38)).alias("__sxy"),
        F.sum((x * x).cast(d38)).alias("__sxx"),
    )
    return agged.select(
        *group_cols,
        F.col("__n").cast("long").alias("n"),
        # per-row products stay int64 (they can't overflow row-wise);
        # the SUMS and their cross-multiplies are the decimal terms.
        # NULLIF: a group confined to ONE day index has denominator 0
        # (no trend is estimable) — slope NULL, never DIVIDE_BY_ZERO
        # aborting the job under ANSI.
        F.expr(
            "CAST((__n * __sxy - __sx * __sy) * 1000000"
            " div NULLIF(__n * __sxx - __sx * __sx, 0) AS BIGINT)"
        ).alias("slope_ppm_cents_per_day"),
    )


def trend_fit_oracle_sql(
    group_cols: list[str] | None = None, table: str = "events"
) -> str:
    """DuckDB twin: identical integer closed form in HUGEINT (whose //
    matches decimal div — house rule)."""
    gc = ", ".join(group_cols or ["event_type"])
    return f"""
        WITH s AS (
            SELECT {gc},
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(x) AS HUGEINT) AS sx,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(x * y) AS HUGEINT) AS sxy,
                   CAST(SUM(x * x) AS HUGEINT) AS sxx
            FROM (
                SELECT {gc},
                       epoch_us(ts) // 86400000000 AS x,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
                FROM {table}
            )
            GROUP BY {gc}
        )
        SELECT {gc},
               CAST(n AS BIGINT) AS n,
               CAST((n * sxy - sx * sy) * 1000000
                    // NULLIF(n * sxx - sx * sx, 0) AS BIGINT)
                   AS slope_ppm_cents_per_day
        FROM s
    """


def cusum_alarms(
    events: DataFrame,
    drift_cents: int = 0,
    threshold_cents: int = 1000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key one-sided CUSUM change-point statistics — the sequential
    level-shift detector: sᵢ = max(0, sᵢ₋₁ + (vᵢ − k)) with drift
    allowance k and alarm threshold h. Instead of folding the recurrence,
    it uses the closed form  sᵢ = Pᵢ − min(0, min_{j≤i} Pⱼ)  with
    P = running sum of (v − k) — the whole detector is running windows
    plus a lag inside ONE key-partition sort, in exact integer cents.
    Output per key: final statistic (the value at the last event, picked
    by max_by on the row number — order-deterministic on both engines),
    path maximum, and the number of UPWARD h-crossings (alarm count).

    Scale shape: one shuffle to the key; every window shares the same
    (key, ts, tiebreak) sort, so Spark evaluates them in a single
    WindowExec chain — per-key cost is the key's own history."""
    from pyspark.sql import Window

    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, ts_us

    # NULL value/key/ts rows are not observations (round-9 hostile nulls
    # sweep; same rule as the ordered-fold scaffold's batch state).
    events = events.where(
        F.col(value_col).isNotNull()
        & F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
    )
    dev = half_up_round(F.col(value_col) * 100).cast("long") - F.lit(drift_cents)
    us = ts_us(F.col(ts_col))
    w_run = (
        Window.partitionBy(key_col)
        .orderBy(us.asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_row = Window.partitionBy(key_col).orderBy(
        us.asc(), F.col(tiebreak_col).asc()
    )
    # Stage the prefix sum first — window-of-window is illegal on both
    # engines, and the staged selects still share one sort/partition.
    prefixed = events.select(
        F.col(key_col).alias("__k"),
        F.row_number().over(w_row).cast("long").alias("__rn"),
        F.sum(dev).over(w_run).alias("__p"),
    )
    w2 = (
        Window.partitionBy("__k")
        .orderBy("__rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w2_row = Window.partitionBy("__k").orderBy("__rn")
    # Stage s before lagging it — the oracle's stepped/lagged CTE split,
    # mirrored, so the statistic is specified exactly once.
    stepped = prefixed.select(
        "__k",
        "__rn",
        (
            F.col("__p")
            - F.least(F.lit(0).cast("long"), F.min("__p").over(w2))
        ).alias("__s"),
    ).select(
        "__k",
        "__rn",
        "__s",
        F.lag("__s", 1, 0).over(w2_row).alias("__prev"),
    )
    h = F.lit(threshold_cents).cast("long")
    return stepped.groupBy(F.col("__k").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max_by("__s", "__rn").alias("cusum_final"),
        F.max("__s").alias("cusum_max"),
        F.sum(
            ((F.col("__s") >= h) & (F.col("__prev") < h)).cast("long")
        ).alias("n_alarms"),
    )


def _cusum_step(drift_cents: int, threshold_cents: int):
    """ONE CUSUM step over the accumulator struct (p, mn, s, smax,
    alarms): p is the running sum of (v − k), mn is min(0, min prefix),
    s = p − mn is the closed-form statistic, smax its path maximum,
    alarms the count of upward h-crossings (prev s below, new s at or
    above). Shared by the batch frontier fold so the maintained state
    cannot drift from cusum_alarms' windowed closed form."""
    h = F.lit(threshold_cents).cast("long")

    def step(acc, e):
        p2 = acc["p"] + (e["v"] - F.lit(drift_cents))
        mn2 = F.least(acc["mn"], p2)
        s2 = p2 - mn2
        return F.struct(
            p2.alias("p"),
            mn2.alias("mn"),
            s2.alias("s"),
            F.greatest(acc["smax"], s2).alias("smax"),
            (
                acc["alarms"]
                + F.when((s2 >= h) & (acc["s"] < h), F.lit(1)).otherwise(F.lit(0))
                .cast("long")
            ).alias("alarms"),
        )

    return step


#: Zero CUSUM accumulator: empty prefix set => p=0, mn=min(0,·)=0, s=0
#: (also the lag default the windowed form uses for the first crossing
#: test), smax=0 (s is never negative, so 0 is the true empty max).
_CUSUM_ZERO = tuple((name, 0) for name in ("p", "mn", "s", "smax", "alarms"))


def _cusum_acc(cols: dict[str, F.Column]) -> F.Column:
    return F.struct(
        *[
            F.coalesce(cols[name], F.lit(init)).cast("long").alias(name)
            for name, init in _CUSUM_ZERO
        ]
    )


def cusum_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    drift_cents: int = 0,
    threshold_cents: int = 1000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold one time-slice batch into per-key CUSUM state — the
    order-dependent IVM family's SECOND member (after ema_fold_batch;
    same delivery contract, same devices). The carried state is the
    5-long accumulator (p, mn, s, smax, alarms) plus the fold frontier;
    because the recurrence sᵢ = max(0, sᵢ₋₁ + devᵢ) ≡ Pᵢ − min(0, min Pⱼ)
    depends on event ORDER, a batch at or before a key's frontier RAISES
    (raise_error inside the fold expression — fail loud, never silently
    corrupt the statistic). Composition identity:
    fold(fold(s, A), B) == fold(s, A++B) for time-split batches — the
    one-shot ``cusum_alarms`` is the oracle.

    State schema: (key, n_events, p_sum, min_p, cusum_final, cusum_max,
    n_alarms, max_us, max_tb)."""
    b = _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col)
    step = _cusum_step(drift_cents, threshold_cents)
    last = F.element_at("__a", F.size("__a"))
    if state is None:
        folded = F.aggregate(
            "__a", _cusum_acc({name: F.lit(None) for name, _ in _CUSUM_ZERO}), step
        )
        return b.select(
            "key",
            F.size("__a").cast("long").alias("n_events"),
            folded["p"].alias("p_sum"),
            folded["mn"].alias("min_p"),
            folded["s"].alias("cusum_final"),
            folded["smax"].alias("cusum_max"),
            folded["alarms"].alias("n_alarms"),
            last["us"].alias("max_us"),
            last["tb"].alias("max_tb"),
        )
    s = state.select(
        "key",
        F.col("n_events").alias("__sn"),
        F.col("p_sum").alias("__sp"),
        F.col("min_p").alias("__sm"),
        F.col("cusum_final").alias("__ss"),
        F.col("cusum_max").alias("__sx"),
        F.col("n_alarms").alias("__sa"),
        F.col("max_us").alias("__su"),
        F.col("max_tb").alias("__st"),
    )
    j, in_order = frontier_ordered_join(s, b)
    init = _cusum_acc(
        {"p": F.col("__sp"), "mn": F.col("__sm"), "s": F.col("__ss"),
         "smax": F.col("__sx"), "alarms": F.col("__sa")}
    )
    folded = F.aggregate(F.coalesce(F.col("__a"), F.array()), init, step)
    return j.select(
        "key",
        (F.coalesce(F.col("__sn"), F.lit(0).cast("long"))
         + F.coalesce(F.size("__a").cast("long"), F.lit(0).cast("long")))
        .alias("n_events"),
        folded["p"].alias("p_sum"),
        folded["mn"].alias("min_p"),
        # The raise guards cusum_final specifically: it is the one column
        # EVERY consumer keeps (the presentation select prunes p_sum/min_p
        # on the last round — a guard there would be optimized away with
        # the column, and an out-of-order final batch would pass silently).
        F.when(
            ~in_order,
            out_of_order_raise("cusum_fold_batch").cast("long"),
        ).otherwise(folded["s"]).alias("cusum_final"),
        folded["smax"].alias("cusum_max"),
        folded["alarms"].alias("n_alarms"),
        F.coalesce(last["us"], F.col("__su")).alias("max_us"),
        F.coalesce(last["tb"], F.col("__st")).alias("max_tb"),
    )


def incremental_cusum_batches(
    batches: list[DataFrame],
    drift_cents: int = 0,
    threshold_cents: int = 1000,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold a time-ordered batch sequence through ``cusum_fold_batch``
    and present the ``cusum_alarms`` output shape — must equal the
    one-shot detector over the union for ANY time-split batching (the
    ordered-fold maintenance identity, second member). localCheckpoint
    per round truncates the state lineage, the iterative house rule."""
    state = None
    for batch in batches:
        state = cusum_fold_batch(
            state, batch, drift_cents, threshold_cents,
            key_col, ts_col, value_col, tiebreak_col,
        ).localCheckpoint()
    assert state is not None, "need at least one batch"
    return state.select(
        F.col("key").alias(key_col),
        "n_events", "cusum_final", "cusum_max", "n_alarms",
    )


def cusum_alarms_oracle_sql(
    drift_cents: int = 0,
    threshold_cents: int = 1000,
    table: str = "events",
) -> str:
    """DuckDB twin: identical closed-form windows; final value via
    arg_max on the row number."""
    return f"""
        WITH prefixed AS (
            SELECT user_id,
                   row_number() OVER w_row AS rn,
                   CAST(SUM(dev) OVER w_run AS BIGINT) AS p
            FROM (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                         - {drift_cents} AS dev
                FROM {table}
                WHERE value IS NOT NULL AND user_id IS NOT NULL
                  AND ts IS NOT NULL
            )
            WINDOW w_row AS (PARTITION BY user_id ORDER BY us, event_id),
                   w_run AS (PARTITION BY user_id ORDER BY us, event_id
                             ROWS UNBOUNDED PRECEDING)
        ), stepped AS (
            -- window SUM(BIGINT) is HUGEINT in DuckDB: pin s back to
            -- BIGINT or every downstream aggregate renders as float.
            SELECT user_id, rn,
                   CAST(p - LEAST(CAST(0 AS BIGINT),
                             MIN(p) OVER (PARTITION BY user_id ORDER BY rn
                                          ROWS UNBOUNDED PRECEDING))
                        AS BIGINT) AS s
            FROM prefixed
        ), lagged AS (
            SELECT *, COALESCE(lag(s) OVER (PARTITION BY user_id
                                            ORDER BY rn), 0) AS prev
            FROM stepped
        )
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(arg_max(s, rn) AS BIGINT) AS cusum_final,
               CAST(MAX(s) AS BIGINT) AS cusum_max,
               CAST(SUM(CASE WHEN s >= {threshold_cents}
                              AND prev < {threshold_cents}
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms
        FROM lagged
        GROUP BY user_id
    """


# --- Holt linear (double-exponential) smoothing fold (round 7c) ---------


def _holt_step(acc, e):
    """ONE Holt step with α = β = ½ over the (level, trend) accumulator:
        l' = (l + t + v) div 2          (level: half new obs, half forecast)
        t' = (l' − l + t) div 2         (trend: half step delta, half prior)
    Both divisions truncate toward zero on BOTH engines (Spark's
    double→long cast, DuckDB's integer ``//`` — the _halve contract), so
    the whole (level, trend) trajectory stays bit-identical in exact
    integer cents, including through negative refund values. Shared by
    the one-shot fold and the batch fold so the maintenance identity
    cannot drift."""
    l2 = ((acc["l"] + acc["t"] + e["v"]) / F.lit(2)).cast("long")
    t2 = ((l2 - acc["l"] + acc["t"]) / F.lit(2)).cast("long")
    return F.struct(l2.alias("l"), t2.alias("t"))


def _holt_acc(l_col, t_col) -> F.Column:
    """(level, trend) accumulator struct with zero init (empty history
    forecasts 0 — the ema_halflife zero-init convention)."""
    return F.struct(
        F.coalesce(l_col, F.lit(0)).cast("long").alias("l"),
        F.coalesce(t_col, F.lit(0)).cast("long").alias("t"),
    )


def holt_linear(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key Holt LINEAR (double-exponential) smoothing with
    α = β = ½ and zero init — the trend-aware sibling of ema_halflife:
    the carried state is the PAIR (level, trend), updated per event by
    ``_holt_step``, and the one-step-ahead forecast is level + trend.
    Like the EMA this is order-dependent (the aggregation class
    SUM/AVG cannot express); unlike it the state is 2-dimensional,
    which is exactly what makes it the next rung of the ordered-fold
    ladder — the fold/streaming twins carry a struct, not a scalar.

    Plan shape: identical to ema_halflife — one shuffle to the key,
    array_sort(collect_list) for the shuffle-order-proof ordering, the
    recurrence folded inside codegen by F.aggregate. Per-key state is
    two longs; per-key cost is the key's own history. Oracle:
    list_reduce over a struct accumulator (holt_linear_oracle_sql)."""
    b = _ema_batch_state(events, key_col, ts_col, value_col, tiebreak_col)
    folded = F.aggregate(
        "__a", _holt_acc(F.lit(None), F.lit(None)), _holt_step
    )
    return b.select(
        F.col("key").alias(key_col),
        F.size("__a").cast("long").alias("n_events"),
        folded["l"].alias("level_cents"),
        folded["t"].alias("trend_cents"),
        (folded["l"] + folded["t"]).alias("forecast_cents"),
    )


def holt_linear_oracle_sql(table: str = "events") -> str:
    """DuckDB twin of ``holt_linear``: the same zero-init (level, trend)
    recurrence as a RECURSIVE CTE stepping through each key's ordered
    value list. NOT list_reduce: DuckDB's list_reduce evaluates a struct
    accumulator's fields sequentially IN PLACE, so a field computed
    earlier in the literal clobbers the acc value a later field reads —
    the trend update would see the NEW level where the recurrence needs
    the old one (verified divergence; the CTE carries both fields of a
    step atomically instead)."""
    return f"""
        WITH RECURSIVE lists AS (
            SELECT user_id,
                   list(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                        ORDER BY epoch_us(ts), event_id) AS l
            FROM {table}
            WHERE value IS NOT NULL AND user_id IS NOT NULL
              AND ts IS NOT NULL
            GROUP BY user_id
        ),
        steps AS (
            SELECT user_id, 0 AS i,
                   CAST(0 AS BIGINT) AS lvl, CAST(0 AS BIGINT) AS trd, l
            FROM lists
            UNION ALL
            SELECT user_id, i + 1,
                   (lvl + trd + l[i + 1]) // 2,
                   (((lvl + trd + l[i + 1]) // 2) - lvl + trd) // 2,
                   l
            FROM steps
            WHERE i < LEN(l)
        )
        SELECT user_id,
               CAST(LEN(l) AS BIGINT) AS n_events,
               CAST(lvl AS BIGINT) AS level_cents,
               CAST(trd AS BIGINT) AS trend_cents,
               CAST(lvl + trd AS BIGINT) AS forecast_cents
        FROM steps
        WHERE i = LEN(l)
    """


def holt_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold one time-slice batch into per-key Holt (level, trend) state —
    order-dependent IVM member #6, and the first whose carried numeric
    state is a VECTOR (the 2-dimensional (l, t) pair) rather than a
    scalar or a bounded set. Same devices as ema_fold_batch: the shared
    scaffold (frontier_ordered_join), the delivery contract, and the
    fail-loud raise on out-of-order batches — guarded on level_cents,
    the column every consumer keeps. Composition identity:
    fold(fold(s, A), B) == fold(s, A++B) for time-split batches; the
    one-shot ``holt_linear`` is the oracle.

    State schema: (key, n_events, level_cents, trend_cents, max_us,
    max_tb)."""
    b = _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col)
    last = F.element_at("__a", F.size("__a"))
    if state is None:
        folded = F.aggregate(
            "__a", _holt_acc(F.lit(None), F.lit(None)), _holt_step
        )
        return b.select(
            "key",
            F.size("__a").cast("long").alias("n_events"),
            folded["l"].alias("level_cents"),
            folded["t"].alias("trend_cents"),
            last["us"].alias("max_us"),
            last["tb"].alias("max_tb"),
        )
    s = state.select(
        "key",
        F.col("n_events").alias("__sn"),
        F.col("level_cents").alias("__sl"),
        F.col("trend_cents").alias("__stt"),
        F.col("max_us").alias("__su"),
        F.col("max_tb").alias("__st"),
    )
    j, in_order = frontier_ordered_join(s, b)
    init = _holt_acc(F.col("__sl"), F.col("__stt"))
    folded = F.aggregate(F.coalesce(F.col("__a"), F.array()), init, _holt_step)
    return j.select(
        "key",
        (F.coalesce(F.col("__sn"), F.lit(0).cast("long"))
         + F.coalesce(F.size("__a").cast("long"), F.lit(0).cast("long")))
        .alias("n_events"),
        F.when(
            ~in_order,
            out_of_order_raise("holt_fold_batch").cast("long"),
        ).otherwise(folded["l"]).alias("level_cents"),
        folded["t"].alias("trend_cents"),
        F.coalesce(last["us"], F.col("__su")).alias("max_us"),
        F.coalesce(last["tb"], F.col("__st")).alias("max_tb"),
    )


def present_holt_state(state: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Graded output shape of the Holt state: (key, n_events,
    level_cents, trend_cents, forecast_cents) — forecast derived at
    presentation so the carried state stays minimal."""
    return state.select(
        F.col("key").alias(key_col),
        "n_events",
        "level_cents",
        "trend_cents",
        (F.col("level_cents") + F.col("trend_cents")).alias("forecast_cents"),
    )


def incremental_holt_batches(
    batches: list[DataFrame],
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold a time-ordered batch sequence through ``holt_fold_batch`` and
    present the ``holt_linear`` shape — must equal the one-shot for ANY
    time-split batching (ordered-fold maintenance identity, member #6).
    localCheckpoint per round truncates the state lineage."""
    state = None
    for batch in batches:
        state = holt_fold_batch(
            state, batch, key_col, ts_col, value_col, tiebreak_col
        ).localCheckpoint()
    assert state is not None, "need at least one batch"
    return present_holt_state(state, key_col)


# --- Durbin–Watson serial-correlation statistic (round 7c) --------------


def durbin_watson(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Per-key Durbin–Watson statistic of the (ts, tiebreak)-ordered
    value series — the classic serial-correlation screen (DW ≈ 2(1 − r₁):
    ~2 means uncorrelated, →0 positive, →4 negative autocorrelation),
    here of the raw series about its mean. Computed ENTIRELY in integers
    and presented as exact ppm via the cross-multiplied closed form
        dw_ppm = n·Σ(Δy)²·10⁶  div  (n·Σy² − (Σy)²)
    (the denominator is n·Σ(y−ȳ)² — no float mean is ever formed). Every
    sum is widened to decimal(38,0) UNCONDITIONALLY (house rule): Δy² is
    ~1e14 at cents scale, so n·Σ(Δy)²·10⁶ passes 2^63 already at sf0.1.
    Keys with zero variance (or a single event) emit NULL via NULLIF —
    no DIVIDE_BY_ZERO aborts under ANSI.

    Plan shape: one lag window and one hash aggregate sharing the same
    (key, us, tiebreak) sort — per-key cost is the key's own history;
    nothing global anywhere."""
    from pyspark.sql import Window

    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, ts_us

    y = half_up_round(F.col(value_col) * 100).cast("long")
    us = ts_us(F.col(ts_col))
    w = Window.partitionBy(key_col).orderBy(us.asc(), F.col(tiebreak_col).asc())
    lagged = events.select(
        F.col(key_col).alias("__k"),
        y.alias("__y"),
        F.lag(y, 1).over(w).alias("__prev"),
    )
    d38 = "decimal(38,0)"
    # Two Exchanges total (plan-pinned): the window's key shuffle over
    # the corpus, then the final aggregate's over the PARTIAL rows —
    # one row per key, so the second shuffle is key-dim-sized (the same
    # shape the graded cusum detector carries).
    agged = lagged.groupBy("__k").agg(
        F.count(F.lit(1)).cast(d38).alias("__n"),
        F.sum(F.col("__y").cast(d38)).alias("__sy"),
        F.sum((F.col("__y") * F.col("__y")).cast(d38)).alias("__syy"),
        F.sum(
            (
                (F.col("__y") - F.col("__prev"))
                * (F.col("__y") - F.col("__prev"))
            ).cast(d38)
        ).alias("__sd2"),
    )
    return agged.select(
        F.col("__k").alias(key_col),
        F.col("__n").cast("long").alias("n_events"),
        F.expr(
            "CAST(__n * COALESCE(__sd2, 0) * 1000000"
            " div NULLIF(__n * __syy - __sy * __sy, 0) AS BIGINT)"
        ).alias("dw_ppm"),
    )


def durbin_watson_oracle_sql(table: str = "events") -> str:
    """DuckDB twin: identical integer closed form in HUGEINT (whose //
    matches decimal div — house rule); the lag runs in the same
    (epoch-µs, tiebreak) window order."""
    return f"""
        WITH lagged AS (
            SELECT user_id, y,
                   lag(y) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS prev
            FROM (
                SELECT user_id, event_id, epoch_us(ts) AS us,
                       CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS y
                FROM {table}
            )
        ),
        s AS (
            SELECT user_id,
                   CAST(COUNT(*) AS HUGEINT) AS n,
                   CAST(SUM(y) AS HUGEINT) AS sy,
                   CAST(SUM(y * y) AS HUGEINT) AS syy,
                   CAST(COALESCE(SUM((y - prev) * (y - prev)), 0)
                        AS HUGEINT) AS sd2
            FROM lagged
            GROUP BY user_id
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_events,
               CAST(n * sd2 * 1000000
                    // NULLIF(n * syy - sy * sy, 0) AS BIGINT) AS dw_ppm
        FROM s
    """


# --- Mann–Whitney rank-sum test (round 7c) -------------------------------


def rank_sum_test(
    events: DataFrame,
    group_a: str,
    group_b: str,
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) test statistic between two
    event types' value distributions — the NONPARAMETRIC location test
    next to contingency_chi2's independence screen. Emitted EXACTLY:
    with ties resolved by midranks, 2·midrank of a tie group is the
    integer  2·(count below) + (tie count) + 1,  so the DOUBLED rank sum
    and DOUBLED U statistics are exact integers on both engines:
        u2_a = 2·R_a − n_a(n_a+1),   u2_a + u2_b = 2·n_a·n_b.
    (The normal z-score needs a square root — derivable downstream; the
    exact integers are what cross-engine grading can pin.)

    Scale shape: one filtered aggregate to the VALUE DIMENSION (distinct
    cents — bounded by the value domain, not the corpus), one cumulative
    window over that dim, one scalar aggregate. No row-sized window
    anywhere; the corpus is touched exactly once."""
    from etl_pipeline_last_fm_spark.functions.scalar import half_up_round

    cents = half_up_round(F.col(value_col) * 100).cast("long")
    two = events.filter(F.col(type_col).isin([group_a, group_b])).select(
        (F.col(type_col) == group_a).alias("__is_a"), cents.alias("__v")
    )
    per_v = two.groupBy("__v").agg(
        F.sum(F.col("__is_a").cast("long")).alias("__na"),
        F.sum((~F.col("__is_a")).cast("long")).alias("__nb"),
    )
    w = (
        Window.orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ranked = per_v.select(
        "__na",
        "__nb",
        (
            F.lit(2) * F.coalesce(
                F.sum(F.col("__na") + F.col("__nb")).over(w), F.lit(0)
            )
            + F.col("__na") + F.col("__nb") + F.lit(1)
        ).alias("__mr2"),  # doubled midrank of every value in this tie group
    )
    d38 = "decimal(38,0)"
    agged = ranked.agg(
        F.sum(F.col("__na")).alias("__n_a"),
        F.sum(F.col("__nb")).alias("__n_b"),
        # cast BEFORE the multiply: __na·__mr2 with __mr2 ≈ 2n wraps
        # past 2^63 at multi-billion-row scale with heavy ties if the
        # product is computed in BIGINT first (ADVICE r8; the oracle
        # multiplies in HUGEINT).
        F.sum(F.col("__na").cast(d38) * F.col("__mr2")).alias("__r2a"),
    )
    return agged.select(
        F.col("__n_a").cast("long").alias("n_a"),
        F.col("__n_b").cast("long").alias("n_b"),
        F.expr(
            "CAST(__r2a - CAST(__n_a AS DECIMAL(38,0)) * (__n_a + 1)"
            " AS BIGINT)"
        ).alias("u2_a"),
        F.expr(
            "CAST(2 * CAST(__n_a AS DECIMAL(38,0)) * __n_b"
            " - (__r2a - CAST(__n_a AS DECIMAL(38,0)) * (__n_a + 1))"
            " AS BIGINT)"
        ).alias("u2_b"),
    )


def rank_sum_test_oracle_sql(
    group_a: str,
    group_b: str,
    table: str = "events",
) -> str:
    """DuckDB twin: identical value-dim midrank derivation in HUGEINT."""
    # ADVICE r7: escape quotes so a group name containing ' still builds
    # valid oracle SQL (test-only threat model — no untrusted input).
    group_a = group_a.replace("'", "''")
    group_b = group_b.replace("'", "''")
    return f"""
        WITH two AS (
            SELECT event_type = '{group_a}' AS is_a,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
            FROM {table}
            WHERE event_type IN ('{group_a}', '{group_b}')
        ),
        per_v AS (
            SELECT v,
                   CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT)
                       AS na,
                   CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT)
                       AS nb
            FROM two GROUP BY v
        ),
        ranked AS (
            SELECT na, nb,
                   2 * CAST(COALESCE(SUM(na + nb) OVER (
                       ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) + na + nb + 1 AS mr2
            FROM per_v
        ),
        s AS (
            SELECT CAST(SUM(na) AS HUGEINT) AS n_a,
                   CAST(SUM(nb) AS HUGEINT) AS n_b,
                   CAST(SUM(CAST(na AS HUGEINT) * mr2) AS HUGEINT) AS r2a
            FROM ranked
        )
        SELECT CAST(n_a AS BIGINT) AS n_a,
               CAST(n_b AS BIGINT) AS n_b,
               CAST(r2a - n_a * (n_a + 1) AS BIGINT) AS u2_a,
               CAST(2 * n_a * n_b - (r2a - n_a * (n_a + 1)) AS BIGINT)
                   AS u2_b
        FROM s
    """
