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
from etl_pipeline_last_fm_spark.operators.timeseries import fold_ordered

#: Type of a credit walk's per-conversion (channel, cents) credits.
_CREDITS_T = "array<struct<ch: string, cents: long>>"

#: Event types that take credit, the type that converts, and how far back
#: (in epoch µs: 7 days) a touch may precede its conversion.
TOUCH_TYPES = ("view", "click")
CONVERSION = "purchase"
WINDOW_US = 7 * 86_400_000_000


def last_touch_attribution(events: DataFrame, window_us: int = WINDOW_US) -> DataFrame:
    """(channel, n_conversions, attributed_cents): conversions credited
    to the type of the last in-window preceding touch, else 'none'."""
    us = ts_us(F.col("ts"))
    cents = half_up_round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(
        F.col("event_type").isin(*TOUCH_TYPES),
        F.struct(us.alias("us"), F.col("event_type").alias("t")),
    )
    last_touch = F.last(touch, ignorenulls=True).over(w)
    channel = F.when(
        last_touch.isNotNull() & (us - last_touch["us"] <= F.lit(window_us)),
        last_touch["t"],
    ).otherwise(F.lit("none"))
    return (
        events.select(
            F.col("event_type"),
            channel.alias("channel"),
            cents.alias("__cents"),
        )
        .filter(F.col("event_type") == CONVERSION)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("__cents").alias("attributed_cents"),
        )
    )


def time_decay_attribution(events: DataFrame) -> DataFrame:
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
    us = ts_us(F.col("ts"))
    cents = half_up_round(F.col("value") * 100).cast("long")
    conv = events.filter(F.col("event_type") == CONVERSION).select(
        F.col("user_id").alias("__k"),
        F.col("event_id").alias("__cid"),
        us.alias("__cus"),
        cents.alias("__cents"),
    )
    touch = events.filter(F.col("event_type").isin(*TOUCH_TYPES)).select(
        F.col("user_id").alias("__tk"),
        F.col("event_type").alias("__tt"),
        us.alias("__tus"),
        F.col("event_id").alias("__ttb"),
    )
    before = (F.col("__tus") < F.col("__cus")) | (
        (F.col("__tus") == F.col("__cus")) & (F.col("__ttb") < F.col("__cid"))
    )
    in_window = F.col("__cus") - F.col("__tus") <= F.lit(WINDOW_US)
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


def _attr_batch_state(events: DataFrame) -> DataFrame:
    """Per-key sorted (us, tb, type, cents) array for one batch — the
    attribution sibling of timeseries._ema_batch_state, carrying the
    event type and value the credit walk needs. Rows of other types are
    dropped up front (they can't move the last-touch state)."""
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                ts_us(F.col("ts")).alias("us"),
                F.col("event_id").alias("tb"),
                F.col("event_type").alias("t"),
                half_up_round(F.col("value") * 100).cast("long").alias("v"),
            )
        )
    )
    return (
        events.filter(
            F.col("event_type").isin(*TOUCH_TYPES, CONVERSION)
        )
        .groupBy(F.col("user_id").alias("key"))
        .agg(arr.alias("__a"))
    )


def attribution_fold_batch(
    touch_state: DataFrame | None,
    batch: DataFrame,
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
    b = _attr_batch_state(batch)
    is_touch = lambda e: e["t"].isin(*TOUCH_TYPES)  # noqa: E731

    def step(acc, e):
        channel = F.when(
            acc["lu"].isNotNull() & (e["us"] - acc["lu"] <= F.lit(WINDOW_US)),
            acc["lt"],
        ).otherwise(F.lit("none"))
        credit = F.when(
            e["t"] == CONVERSION,
            F.array(F.struct(channel.alias("ch"), e["v"].alias("cents"))),
        ).otherwise(F.array().cast(_CREDITS_T))
        return F.struct(
            F.when(is_touch(e), e["us"]).otherwise(acc["lu"]).alias("lu"),
            F.when(is_touch(e), e["t"]).otherwise(acc["lt"]).alias("lt"),
            F.concat(acc["credits"], credit).alias("credits"),
        )

    folded = fold_ordered(
        touch_state,
        b,
        "attribution_fold_batch",
        lambda prev: F.struct(
            prev("last_us").cast("long").alias("lu"),
            prev("last_t").cast("string").alias("lt"),
            F.array().cast(_CREDITS_T).alias("credits"),
        ),
        step,
        lambda acc, prev: [acc.alias("__f")],
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


def merge_channel_totals(
    totals: DataFrame | None, delta: DataFrame
) -> DataFrame:
    """Per-channel credit totals plus one batch's credit delta: every
    non-channel column sums — the totals half of ``attribution_step``."""
    merged = delta if totals is None else totals.unionByName(delta)
    return merged.groupBy("channel").agg(
        *[F.sum(c).alias(c) for c in delta.columns if c != "channel"]
    )


#: State parts of a streaming attribution fold: the per-key touch state,
#: then the channel totals, which commit last and guard the pair.
ATTRIBUTION_PARTS = ("k", "c")


def attribution_step(fold=attribution_fold_batch):
    """Fold step over ``ATTRIBUTION_PARTS``, shared by the streaming fold
    driver (streaming/state.py) and the batch one (operators/rounds.py):
    ``fold`` (last-touch by default, or ``decay_attribution_fold_batch``)
    advances the key state, and its credit delta merges into the channel
    totals. ``prev=None`` starts both parts from scratch. Summing the
    deltas of any time-split batching equals the one-shot operator."""

    def step(prev, batch):
        keys, totals = prev or (None, None)
        state, delta = fold(keys, batch)
        return state, merge_channel_totals(totals, delta)

    return step


def decay_attribution_fold_batch(
    touch_state: DataFrame | None,
    batch: DataFrame,
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
    b = _attr_batch_state(batch)

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
        is_touch = e["t"].isin(*TOUCH_TYPES)
        tws = F.filter(
            acc["touches"],
            lambda t: e["us"] - t["us"] <= F.lit(WINDOW_US),
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
                e["t"] == CONVERSION,
                F.concat(acc["credits"], conv_credits),
            ).otherwise(acc["credits"]).alias("credits"),
        )

    folded = fold_ordered(
        touch_state,
        b,
        "decay_attribution_fold_batch",
        lambda prev: F.struct(
            F.coalesce(
                prev("touches"),
                F.array().cast("array<struct<us: bigint, tb: bigint, t: string>>"),
            ).alias("touches"),
            F.array().cast(_CREDITS_T).alias("credits"),
        ),
        step,
        lambda acc, prev: [acc.alias("__f")],
    )
    folded = folded.localCheckpoint()  # twice-consumed + raise surfaces here
    new_state = folded.select(
        "key",
        # WATERMARK eviction: touches older than frontier − window are
        # dead for every possible future event — the per-key state bound.
        F.filter(
            F.col("__f")["touches"],
            lambda t: t["us"] >= F.col("max_us") - F.lit(WINDOW_US),
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
