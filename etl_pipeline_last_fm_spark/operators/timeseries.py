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

from collections.abc import Callable

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

    It is ``ema_fold_batch`` from no state, presented: one shuffle to the
    key, array_sort(collect_list) for the deterministic order
    (shuffle-order-proof — same device as the MATCH_RECOGNIZE encode),
    then F.aggregate folds the recurrence inside codegen. Per-key cost is
    the key's own history. Oracle: list_reduce(list_prepend(0, list(v
    ORDER BY ...)), (acc, x) -> (acc + x) // 2)."""
    return present_ema_state(
        ema_fold_batch(None, events, key_col, ts_col, value_col, tiebreak_col),
        key_col,
    )


def _halve(acc, s):
    """ONE truncating ½-decay step (acc + v) div 2, the EMA fold's step
    (``ema_halflife`` is that fold from no state). The double→long cast
    truncates toward zero, matching DuckDB ``//`` for negative sums too
    (floor would differ by 1 there); exact while |acc + v| « 2^53
    (values are cents)."""
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


def fold_ordered(
    state: DataFrame | None,
    b: DataFrame,
    name: str,
    init: Callable,
    step: Callable,
    out: Callable,
    frontier: tuple[str, str] = ("max_us", "max_tb"),
) -> DataFrame:
    """The one kernel of every order-dependent fold (EMA, CUSUM, Holt,
    TWAP, last-touch and time-decay attribution). ``b`` holds one batch's
    sorted per-key event array ``__a`` (fields ``us``, ``tb`` first);
    ``state`` is the carried per-key state, or None before the first
    batch. A fold declares only ``init(prev)``, its ``step`` and
    ``out(acc, prev)``; ``prev(c)`` is the carried column ``c`` of the
    key's state, NULL for a key new in this batch.

    - The state's columns are renamed ``__s_<c>`` and full-outer joined
      to ``b`` on ``key``; with no state there is no join.
    - ``__a`` is folded by ``step`` from ``init(prev)``.
    - Delivery contract: a batch whose first event is not strictly after
      the key's frontier (the state's ``frontier`` columns, the last
      (µs, tiebreak) folded) RAISES. The guard wraps the whole folded
      accumulator, so every column ``out`` projects from it keeps the
      guard, whichever columns a presentation later prunes. A state row's
      frontier is never NULL, so a NULL frontier means "no state".
    - Returns ``key``, the ``out`` columns, then the advanced frontier.

    Within a batch, order is recovered by the batch array's sort, so
    fold(fold(s, A), B) == fold(s, A++B) for time-split batches."""
    fu, ft = frontier
    if state is None:
        j = b
        prev = lambda c: F.lit(None)  # noqa: E731
    else:
        j = state.select(
            "key", *[F.col(c).alias(f"__s_{c}") for c in state.columns if c != "key"]
        ).join(b, "key", "full_outer")
        prev = lambda c: F.col(f"__s_{c}")  # noqa: E731
    acc = F.aggregate(F.coalesce(F.col("__a"), F.array()), init(prev), step)
    if state is not None:
        first = F.col("__a")[0]
        in_order = (
            F.col("__a").isNull()
            | prev(fu).isNull()
            | (first["us"] > prev(fu))
            | ((first["us"] == prev(fu)) & (first["tb"] > prev(ft)))
        )
        acc = F.when(
            ~in_order,
            F.raise_error(F.concat(
                F.lit(f"{name}: out-of-order batch for key "),
                F.col("key").cast("string"),
            )),
        ).otherwise(acc)
    last = F.element_at("__a", F.size("__a"))
    return j.select(
        "key",
        *out(acc, prev),
        F.coalesce(last["us"], prev(fu)).alias(fu),
        F.coalesce(last["tb"], prev(ft)).alias(ft),
    )


def _n_events(prev) -> F.Column:
    """The carried event count plus this batch's: the ``n_events`` column
    of the EMA, CUSUM, Holt and TWAP states."""
    zero = F.lit(0).cast("long")
    return (
        F.coalesce(prev("n_events"), zero)
        + F.coalesce(F.size("__a").cast("long"), zero)
    ).alias("n_events")


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
    time-ordered slices (the Kafka-partition-per-key delivery model), and
    ``fold_ordered`` raises on a batch at or before a key's frontier
    (fail loud, never silently corrupt the trajectory). The composition
    identity  fold(fold(s, A), B) == fold(s, A++B)  IS the oracle of the
    graded query.

    State schema: (key, n_events, ema_cents, max_us, max_tb)."""
    return fold_ordered(
        state,
        _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col),
        "ema_fold_batch",
        lambda prev: F.coalesce(prev("ema_cents"), F.lit(0).cast("long")),
        _halve,
        lambda acc, prev: [_n_events(prev), acc.alias("ema_cents")],
    )


def present_ema_state(state: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Graded output shape of the EMA state: (key, n_events, ema_cents),
    the ``ema_halflife`` shape — the fold frontier stays internal."""
    return state.select(F.col("key").alias(key_col), "n_events", "ema_cents")


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
    # sweep; same rule as the ordered folds' batch state).
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
    above). ``cusum_alarms``' windowed closed form checks it."""
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


#: CUSUM accumulator field -> its state column. Every field starts at 0:
#: the empty prefix set has p = 0, mn = min(0, ·) = 0 and s = 0 (also the
#: lag default the windowed form uses for the first crossing test), and
#: smax = 0 (s is never negative, so 0 is the true empty max).
_CUSUM_COLS = {
    "p": "p_sum", "mn": "min_p", "s": "cusum_final",
    "smax": "cusum_max", "alarms": "n_alarms",
}


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
    same kernel, ``fold_ordered``). The carried state is the 5-long
    accumulator (p, mn, s, smax, alarms) plus the fold frontier; because
    the recurrence sᵢ = max(0, sᵢ₋₁ + devᵢ) ≡ Pᵢ − min(0, min Pⱼ) depends
    on event ORDER, a batch at or before a key's frontier RAISES.
    Composition identity: fold(fold(s, A), B) == fold(s, A++B) for
    time-split batches — the one-shot ``cusum_alarms`` is the oracle.

    State schema: (key, n_events, p_sum, min_p, cusum_final, cusum_max,
    n_alarms, max_us, max_tb)."""
    return fold_ordered(
        state,
        _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col),
        "cusum_fold_batch",
        lambda prev: F.struct(*[
            F.coalesce(prev(c), F.lit(0)).cast("long").alias(f)
            for f, c in _CUSUM_COLS.items()
        ]),
        _cusum_step(drift_cents, threshold_cents),
        lambda acc, prev: [
            _n_events(prev), *[acc[f].alias(c) for f, c in _CUSUM_COLS.items()]
        ],
    )


def present_cusum_state(state: DataFrame) -> DataFrame:
    """Graded output shape of the CUSUM state: the ``cusum_alarms``
    columns keyed by user_id, without the carried prefix and frontier
    fields."""
    return state.select(
        F.col("key").alias("user_id"),
        "n_events", "cusum_final", "cusum_max", "n_alarms",
    )


# --- Holt linear (double-exponential) smoothing fold (round 7c) ---------


def _holt_step(acc, e):
    """ONE Holt step with α = β = ½ over the (level, trend) accumulator:
        l' = (l + t + v) div 2          (level: half new obs, half forecast)
        t' = (l' − l + t) div 2         (trend: half step delta, half prior)
    Both divisions truncate toward zero on BOTH engines (Spark's
    double→long cast, DuckDB's integer ``//`` — the _halve contract), so
    the whole (level, trend) trajectory stays bit-identical in exact
    integer cents, including through negative refund values. The Holt
    fold's step (``holt_linear`` is that fold from no state)."""
    l2 = ((acc["l"] + acc["t"] + e["v"]) / F.lit(2)).cast("long")
    t2 = ((l2 - acc["l"] + acc["t"]) / F.lit(2)).cast("long")
    return F.struct(l2.alias("l"), t2.alias("t"))


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

    It is ``holt_fold_batch`` from no state, presented — the
    ema_halflife plan with a struct accumulator. Per-key state is two
    longs; per-key cost is the key's own history. Oracle: a recursive
    CTE (holt_linear_oracle_sql)."""
    return present_holt_state(
        holt_fold_batch(None, events, key_col, ts_col, value_col, tiebreak_col),
        key_col,
    )


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
    scalar or a bounded set. Same kernel as ema_fold_batch
    (``fold_ordered``: the delivery contract and the fail-loud raise on
    out-of-order batches). The (level, trend) pair starts at zero: an
    empty history forecasts 0, the ema_halflife convention. Composition
    identity: fold(fold(s, A), B) == fold(s, A++B) for time-split
    batches; the one-shot ``holt_linear`` is that fold from no state.

    State schema: (key, n_events, level_cents, trend_cents, max_us,
    max_tb)."""
    return fold_ordered(
        state,
        _ema_batch_state(batch, key_col, ts_col, value_col, tiebreak_col),
        "holt_fold_batch",
        lambda prev: F.struct(
            F.coalesce(prev("level_cents"), F.lit(0)).cast("long").alias("l"),
            F.coalesce(prev("trend_cents"), F.lit(0)).cast("long").alias("t"),
        ),
        _holt_step,
        lambda acc, prev: [
            _n_events(prev),
            acc["l"].alias("level_cents"),
            acc["t"].alias("trend_cents"),
        ],
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
