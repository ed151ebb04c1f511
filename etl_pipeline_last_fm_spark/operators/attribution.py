"""Marketing-attribution analytics: credit each conversion event to the
most recent preceding touch within a recency window.

The reference pipeline's mart layer counts artist appearances per day
(SURVEY.md §2.4); attribution is the same events-stream analytics family
one step further — "which touch gets credit for this purchase" is the
canonical funnel-adjacent question a production events mart answers.

Semantics (last-touch): for every conversion event, find the LAST event
of a touch type strictly before it (same key, (epoch-µs, tiebreak)
order). If that touch is within ``window_us``, the conversion is
attributed to the touch's type; otherwise (no touch, or a stale one) to
``'none'``. Credit is summed in exact integer cents.

Scale shape: ONE window pass per key ordered by time — the running
last-touch is `last(touch_struct, ignorenulls=True)` over an
UNBOUNDED-PRECEDING..-1 frame, which Spark evaluates as a running
accumulator (no per-row re-scan), then a low-cardinality groupBy on the
attributed channel. Identical to the sessionize plan: one shuffle on the
key, everything else streams within the partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import half_up_round, ts_us


def last_touch_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """(channel, n_conversions, attributed_cents): conversions credited
    to the type of the last in-window preceding touch, else 'none'."""
    us = ts_us(F.col(ts_col))
    cents = half_up_round(F.col(value_col) * 100).cast("long")
    w = (
        Window.partitionBy(key_col)
        .orderBy(us.asc(), F.col(tiebreak_col).asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col(type_col).isin(*touch_types),
        F.struct(us.alias("us"), F.col(type_col).alias("t")),
    )
    last_touch = F.last(touch, ignorenulls=True).over(w)
    channel = F.when(
        last_touch.isNotNull() & (us - last_touch["us"] <= F.lit(window_us)),
        last_touch["t"],
    ).otherwise(F.lit("none"))
    return (
        events.select(
            F.col(type_col),
            channel.alias("channel"),
            cents.alias("__cents"),
        )
        .filter(F.col(type_col) == conversion_type)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("__cents").alias("attributed_cents"),
        )
    )


def time_decay_attribution(
    events: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """MULTI-touch sibling of last_touch_attribution: every in-window
    preceding touch shares a conversion's credit, weighted by recency
    with a ½-per-day decay kept EXACT in integers — weight 2^(6 − age)
    for age = whole days before the conversion (ages past 6 clamp into
    the window's last bucket, so the boundary age the inclusive window
    edge admits never shifts negative). Per conversion, each touch gets
    cents · w div Σw (truncating — the remainder cents stay unassigned,
    identically on both engines); conversions with NO in-window touch
    credit 'none' in full, the last-touch rule's fallback.

    Scale shape: the conversion⋈touch pair build is an equi-join on the
    user key with the recency window as a residual range predicate (the
    as-of/range-join family — per-user pair count is bounded by the
    window, never the corpus); Σw is one window partitioned by
    conversion; then a low-cardinality channel groupBy."""
    us = ts_us(F.col(ts_col))
    cents = half_up_round(F.col(value_col) * 100).cast("long")
    conv = events.filter(F.col(type_col) == conversion_type).select(
        F.col(key_col).alias("__k"),
        F.col(tiebreak_col).alias("__cid"),
        us.alias("__cus"),
        cents.alias("__cents"),
    )
    touch = events.filter(F.col(type_col).isin(*touch_types)).select(
        F.col(key_col).alias("__tk"),
        F.col(type_col).alias("__tt"),
        us.alias("__tus"),
        F.col(tiebreak_col).alias("__ttb"),
    )
    before = (F.col("__tus") < F.col("__cus")) | (
        (F.col("__tus") == F.col("__cus")) & (F.col("__ttb") < F.col("__cid"))
    )
    in_window = F.col("__cus") - F.col("__tus") <= F.lit(window_us)
    pairs = conv.join(
        touch, (F.col("__k") == F.col("__tk")) & before & in_window, "left"
    )
    # SQL shiftleft: the DataFrame helper F.shiftleft only takes a
    # literal bit count, and the count here is per-row.
    w = F.when(
        F.col("__tus").isNotNull(),
        F.expr(
            "shiftleft(1L, cast(6 - least((__cus - __tus) div 86400000000, 6)"
            " as int))"
        ),
    )
    tot = F.sum(w).over(Window.partitionBy("__k", "__cid"))
    credited = pairs.select(
        F.coalesce(F.col("__tt"), F.lit("none")).alias("channel"),
        F.when(w.isNull(), F.col("__cents"))
        .otherwise(F.expr("__cents") * w)
        .alias("__num"),
        F.when(w.isNull(), F.lit(1).cast("long")).otherwise(tot).alias("__den"),
    )
    return credited.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_credited_touches"),
        F.sum(F.expr("__num div __den")).alias("credited_cents"),
    )


def _attr_batch_state(
    events: DataFrame,
    touch_types: tuple[str, ...],
    conversion_type: str,
    key_col: str,
    type_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Per-key sorted (us, tb, type, cents) array for one batch — the
    attribution sibling of timeseries._ema_batch_state, carrying the
    event type and value the credit walk needs. Rows of other types are
    dropped up front (they can't move the last-touch state)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_us(F.col(ts_col)).alias("us"),
                F.col(tiebreak_col).alias("tb"),
                F.col(type_col).alias("t"),
                half_up_round(F.col(value_col) * 100).cast("long").alias("v"),
            )
        )
    )
    return (
        events.filter(
            F.col(type_col).isin(*touch_types, conversion_type)
        )
        .groupBy(F.col(key_col).alias("key"))
        .agg(arr.alias("__a"))
    )


def attribution_fold_batch(
    touch_state: DataFrame | None,
    batch: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> tuple[DataFrame, DataFrame]:
    """Fold one time-slice batch of events through the LAST-TOUCH credit
    walk — order-dependent IVM member #3, with a TWO-part result: the
    carried per-key state (the running last touch + fold frontier:
    (key, last_us, last_t, max_us, max_tb)) and this batch's ADDITIVE
    per-channel credit delta (channel, n_conversions, attributed_cents).
    The credit walk happens inside one F.aggregate whose accumulator
    carries (lu, lt, credits array): touches advance the last-touch
    fields, conversions append a (channel, cents) credit judged against
    the accumulator at that point — exactly the one-shot operator's
    UNBOUNDED..-1 running window, replayed in (us, tiebreak) order.
    Same delivery contract as the EMA/CUSUM folds: a batch at or before
    a key's frontier RAISES. Composition identity: summing the credit
    deltas of any time-split batching equals the one-shot
    last_touch_attribution — which IS the oracle."""
    b = _attr_batch_state(
        batch, touch_types, conversion_type,
        key_col, type_col, ts_col, value_col, tiebreak_col,
    )
    is_touch = lambda e: e["t"].isin(*touch_types)  # noqa: E731

    def step(acc, e):
        channel = F.when(
            acc["lu"].isNotNull() & (e["us"] - acc["lu"] <= F.lit(window_us)),
            acc["lt"],
        ).otherwise(F.lit("none"))
        credit = F.when(
            e["t"] == conversion_type,
            F.array(F.struct(channel.alias("ch"), e["v"].alias("cents"))),
        ).otherwise(F.array().cast("array<struct<ch: string, cents: long>>"))
        return F.struct(
            F.when(is_touch(e), e["us"]).otherwise(acc["lu"]).alias("lu"),
            F.when(is_touch(e), e["t"]).otherwise(acc["lt"]).alias("lt"),
            F.concat(acc["credits"], credit).alias("credits"),
        )

    def acc0(lu, lt):
        return F.struct(
            lu.cast("long").alias("lu"),
            lt.cast("string").alias("lt"),
            F.array().cast("array<struct<ch: string, cents: long>>")
            .alias("credits"),
        )

    from etl_pipeline_last_fm_spark.operators.timeseries import (
        frontier_ordered_join,
        out_of_order_raise,
    )

    last = F.element_at("__a", F.size("__a"))
    if touch_state is None:
        folded = b.select(
            "key",
            F.aggregate("__a", acc0(F.lit(None), F.lit(None)), step)
            .alias("__f"),
            last["us"].alias("max_us"),
            last["tb"].alias("max_tb"),
        )
    else:
        s = touch_state.select(
            "key",
            F.col("last_us").alias("__slu"),
            F.col("last_t").alias("__slt"),
            F.col("max_us").alias("__su"),
            F.col("max_tb").alias("__st"),
        )
        j, in_order = frontier_ordered_join(s, b)
        folded = j.select(
            "key",
            F.when(
                ~in_order,
                out_of_order_raise("attribution_fold_batch")
                .cast("struct<lu: bigint, lt: string,"
                      " credits: array<struct<ch: string, cents: long>>>"),
            ).otherwise(
                F.aggregate(
                    F.coalesce(F.col("__a"), F.array()),
                    acc0(F.col("__slu"), F.col("__slt")),
                    step,
                )
            ).alias("__f"),
            F.coalesce(last["us"], F.col("__su")).alias("max_us"),
            F.coalesce(last["tb"], F.col("__st")).alias("max_tb"),
        )
    # folded feeds BOTH outputs (state + credit delta): truncate once so
    # the credit walk runs a single time (the twice-consumed-subtree
    # house rule) — this is also where an out-of-order raise surfaces.
    folded = folded.localCheckpoint()
    new_state = folded.select(
        "key",
        F.col("__f")["lu"].alias("last_us"),
        F.col("__f")["lt"].alias("last_t"),
        "max_us",
        "max_tb",
    )
    delta = (
        folded.select(F.explode(F.col("__f")["credits"]).alias("c"))
        .groupBy(F.col("c")["ch"].alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum(F.col("c")["cents"]).alias("attributed_cents"),
        )
    )
    return new_state, delta


def incremental_attribution_batches(
    batches: list[DataFrame],
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold a time-ordered batch sequence through
    ``attribution_fold_batch``, summing the additive credit deltas —
    must equal the one-shot ``last_touch_attribution`` over the union
    for ANY time-split batching. localCheckpoint per round for BOTH the
    carried key state and the accumulated totals (house rule)."""
    state, totals = None, None
    for batch in batches:
        state, delta = attribution_fold_batch(
            state, batch, touch_types, conversion_type, window_us,
            key_col, type_col, ts_col, value_col, tiebreak_col,
        )
        state = state.localCheckpoint()
        totals = delta if totals is None else totals.unionByName(delta)
        totals = (
            totals.groupBy("channel")
            .agg(
                F.sum("n_conversions").alias("n_conversions"),
                F.sum("attributed_cents").alias("attributed_cents"),
            )
            .localCheckpoint()
        )
    assert totals is not None, "need at least one batch"
    return totals


def decay_attribution_fold_batch(
    touch_state: DataFrame | None,
    batch: DataFrame,
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> tuple[DataFrame, DataFrame]:
    """Fold one time-slice batch through the TIME-DECAY multi-touch
    credit walk — order-dependent IVM member #4, and the first whose
    carried state is a bounded SET: per key, the touches still inside
    the recency window of the fold frontier, with WATERMARK-style
    eviction after each batch (a touch older than frontier − window can
    never be in-window for any future conversion, because the delivery
    contract guarantees future events sit at or after the frontier — so
    per-key state is bounded by the window's touch count, never the
    history). Each conversion credits the in-window touches from the
    accumulator at that point with the same clamped power-of-two
    day-decay weights and truncating division as the one-shot
    ``time_decay_attribution`` (its oracle); no-touch conversions credit
    'none' in full. Two-part result like attribution_fold_batch:
    (key state, additive per-channel credit delta).

    State schema: (key, touches array<(us, tb, t)>, max_us, max_tb)."""
    b = _attr_batch_state(
        batch, touch_types, conversion_type,
        key_col, type_col, ts_col, value_col, tiebreak_col,
    )
    touches_t = "array<struct<us: bigint, tb: bigint, t: string>>"
    credits_t = "array<struct<ch: string, cents: long>>"

    def w_of(e, t):
        # 2^(6 − min(age, 6)): exact in double for exponents 0..6, cast
        # back to long. (F.shiftleft needs a literal bit count, and
        # F.expr can't see lambda-scoped columns — pow is the exact
        # in-lambda form.)
        age = ((e["us"] - t["us"]) / F.lit(86_400_000_000)).cast("long")
        return F.pow(
            F.lit(2.0), (F.lit(6) - F.least(age, F.lit(6))).cast("double")
        ).cast("long")

    def step(acc, e):
        is_touch = e["t"].isin(*touch_types)
        tws = F.filter(
            acc["touches"],
            lambda t: e["us"] - t["us"] <= F.lit(window_us),
        )
        tot = F.aggregate(
            tws, F.lit(0).cast("long"), lambda a, t: a + w_of(e, t)
        )
        conv_credits = F.when(
            F.size(tws) > 0,
            F.transform(
                tws,
                lambda t: F.struct(
                    t["t"].alias("ch"),
                    # truncating toward zero like div (exact: |v·w| « 2^53)
                    ((e["v"] * w_of(e, t)) / tot).cast("long").alias("cents"),
                ),
            ),
        ).otherwise(
            F.array(F.struct(F.lit("none").alias("ch"), e["v"].alias("cents")))
        )
        return F.struct(
            F.when(
                is_touch,
                F.concat(
                    acc["touches"],
                    F.array(F.struct(
                        e["us"].alias("us"), e["tb"].alias("tb"),
                        e["t"].alias("t"),
                    )),
                ),
            ).otherwise(acc["touches"]).alias("touches"),
            F.when(
                e["t"] == conversion_type,
                F.concat(acc["credits"], conv_credits),
            ).otherwise(acc["credits"]).alias("credits"),
        )

    def acc0(touches):
        return F.struct(
            touches.alias("touches"),
            F.array().cast(credits_t).alias("credits"),
        )

    from etl_pipeline_last_fm_spark.operators.timeseries import (
        frontier_ordered_join,
        out_of_order_raise,
    )

    last = F.element_at("__a", F.size("__a"))
    if touch_state is None:
        folded = b.select(
            "key",
            F.aggregate(
                "__a", acc0(F.array().cast(touches_t)), step
            ).alias("__f"),
            last["us"].alias("max_us"),
            last["tb"].alias("max_tb"),
        )
    else:
        s = touch_state.select(
            "key",
            F.col("touches").alias("__stw"),
            F.col("max_us").alias("__su"),
            F.col("max_tb").alias("__st"),
        )
        j, in_order = frontier_ordered_join(s, b)
        folded = j.select(
            "key",
            F.when(
                ~in_order,
                out_of_order_raise("decay_attribution_fold_batch")
                .cast(f"struct<touches: {touches_t}, credits: {credits_t}>"),
            ).otherwise(
                F.aggregate(
                    F.coalesce(F.col("__a"), F.array()),
                    acc0(F.coalesce(F.col("__stw"), F.array().cast(touches_t))),
                    step,
                )
            ).alias("__f"),
            F.coalesce(last["us"], F.col("__su")).alias("max_us"),
            F.coalesce(last["tb"], F.col("__st")).alias("max_tb"),
        )
    folded = folded.localCheckpoint()  # twice-consumed + raise surfaces here
    new_state = folded.select(
        "key",
        # WATERMARK eviction: touches older than frontier − window are
        # dead for every possible future event — the per-key state bound.
        F.filter(
            F.col("__f")["touches"],
            lambda t: t["us"] >= F.col("max_us") - F.lit(window_us),
        ).alias("touches"),
        "max_us",
        "max_tb",
    )
    delta = (
        folded.select(F.explode(F.col("__f")["credits"]).alias("c"))
        .groupBy(F.col("c")["ch"].alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_credited_touches"),
            F.sum(F.col("c")["cents"]).alias("credited_cents"),
        )
    )
    return new_state, delta


def incremental_decay_attribution_batches(
    batches: list[DataFrame],
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Fold a time-ordered batch sequence through
    ``decay_attribution_fold_batch``, summing the additive credit
    deltas — must equal the one-shot ``time_decay_attribution`` over the
    union for ANY time-split batching, with per-key state bounded by the
    recency window throughout (the eviction makes this the first member
    whose state does NOT grow with history)."""
    state, totals = None, None
    for batch in batches:
        state, delta = decay_attribution_fold_batch(
            state, batch, touch_types, conversion_type, window_us,
            key_col, type_col, ts_col, value_col, tiebreak_col,
        )
        totals = delta if totals is None else totals.unionByName(delta)
        totals = (
            totals.groupBy("channel")
            .agg(
                F.sum("n_credited_touches").alias("n_credited_touches"),
                F.sum("credited_cents").alias("credited_cents"),
            )
            .localCheckpoint()
        )
    assert totals is not None, "need at least one batch"
    return totals


def time_decay_attribution_oracle_sql(
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    table: str = "events",
) -> str:
    """DuckDB twin: identical pair build, clamped power-of-two weights,
    truncating per-touch division (BIGINT // HUGEINT window sum — cast
    back to BIGINT at the boundary, house rule)."""
    in_list = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
        WITH conv AS (
            SELECT user_id, event_id AS cid, epoch_us(ts) AS cus,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
            FROM {table} WHERE event_type = '{conversion_type}'
        ), touch AS (
            SELECT user_id, event_type AS tt, epoch_us(ts) AS tus,
                   event_id AS ttb
            FROM {table} WHERE event_type IN ({in_list})
        ), pairs AS (
            SELECT c.user_id, c.cid, c.cents, t.tt,
                   CASE WHEN t.tus IS NOT NULL THEN CAST(
                       1 << CAST(6 - LEAST((c.cus - t.tus) // 86400000000, 6)
                                 AS INTEGER) AS BIGINT) END AS w
            FROM conv c LEFT JOIN touch t
              ON c.user_id = t.user_id
             AND (t.tus < c.cus OR (t.tus = c.cus AND t.ttb < c.cid))
             AND c.cus - t.tus <= {window_us}
        ), tot AS (
            SELECT *, SUM(w) OVER (PARTITION BY user_id, cid) AS tw
            FROM pairs
        )
        SELECT COALESCE(tt, 'none') AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_credited_touches,
               CAST(SUM(CASE WHEN w IS NULL THEN cents
                             ELSE CAST((cents * w) // tw AS BIGINT) END)
                    AS BIGINT) AS credited_cents
        FROM tot
        GROUP BY 1
    """


def last_touch_attribution_oracle_sql(
    touch_types: tuple[str, ...] = ("view", "click"),
    conversion_type: str = "purchase",
    window_us: int = 7 * 86_400_000_000,
    table: str = "events",
) -> str:
    """DuckDB twin: last_value(... IGNORE NULLS) over the identical
    frame, same in-window/else-'none' credit rule."""
    in_list = ", ".join(f"'{t}'" for t in touch_types)
    return f"""
        WITH tagged AS (
            SELECT event_type,
                   CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents,
                   epoch_us(ts) AS us,
                   last_value(
                       CASE WHEN event_type IN ({in_list})
                            THEN struct_pack(us := epoch_us(ts),
                                             t := event_type) END
                       IGNORE NULLS
                   ) OVER (
                       PARTITION BY user_id
                       ORDER BY epoch_us(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS lt
            FROM {table}
        )
        SELECT CASE WHEN lt IS NOT NULL AND us - lt.us <= {window_us}
                    THEN lt.t ELSE 'none' END AS channel,
               CAST(COUNT(*) AS BIGINT) AS n_conversions,
               CAST(SUM(cents) AS BIGINT) AS attributed_cents
        FROM tagged
        WHERE event_type = '{conversion_type}'
        GROUP BY 1
    """
