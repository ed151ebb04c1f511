"""Tumbling and hopping (sliding) time-window aggregation.

The streaming-native aggregation shape (Structured Streaming's
``F.window``), provided here as BATCH operators with exact cross-engine
semantics, plus a streaming twin built on the same bucket arithmetic so
batch backfill and the live stream produce identical rows — the
lambda-architecture equivalence a production pipeline has to prove.

Bucket arithmetic is integer microseconds end-to-end (``ts_us``, NTZ-safe):
``win_start_us = us div W * W`` — integer division on both engines, no
float quotient to disagree on, no timezone re-render (window bounds are
emitted as epoch-µs BIGINTs, not timestamps). A hopping window of length
``W = n*H`` (hop H) assigns each event to exactly n windows via an exploded
integer sequence of window starts — a bounded n-fold row expansion, NOT a
range join.

Scale shape: both are single partial+final hash aggregates on
(key, win_start) — map-side combine collapses each task to its distinct
window keys before the one shuffle; hopping multiplies pre-combine rows by
n (the window/hop ratio), which is the irreducible cost of overlap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import cents, ts_us


def tumbling_window_agg(
    events: DataFrame,
    window_minutes: int = 60,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per (key, tumbling window): event count and pinned-rounded value sum.
    Returns (key, win_start_us, n_events, value_sum)."""
    w_us = window_minutes * 60_000_000
    start = (ts_us(ts_col) - F.pmod(ts_us(ts_col), F.lit(w_us))).alias(
        "win_start_us"
    )
    return (
        events.select(F.col(key_col), start, F.col(value_col))
        .groupBy(key_col, "win_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents(value_col)).cast("double") / F.lit(100.0)).alias(
                "value_sum"
            ),
        )
    )


def hopping_window_agg(
    events: DataFrame,
    window_minutes: int = 60,
    hop_minutes: int = 15,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Overlapping windows: length W, advancing every H (W must be a
    multiple of H). Each event lands in W/H windows; window w covers
    [start, start+W). Returns (key, win_start_us, n_events, value_sum)."""
    if window_minutes % hop_minutes:
        raise ValueError("window_minutes must be a multiple of hop_minutes")
    w_us = window_minutes * 60_000_000
    h_us = hop_minutes * 60_000_000
    n = w_us // h_us
    us = ts_us(ts_col)
    # Latest window start containing the event is us div H * H; the n
    # containing windows step back from it by H.
    last_start = us - F.pmod(us, F.lit(h_us))
    starts = F.sequence(
        last_start - F.lit((n - 1) * h_us), last_start, F.lit(h_us)
    )
    return (
        events.select(
            F.col(key_col),
            F.explode(starts).alias("win_start_us"),
            F.col(value_col),
        )
        .groupBy(key_col, "win_start_us")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents(value_col)).cast("double") / F.lit(100.0)).alias(
                "value_sum"
            ),
        )
    )


def streaming_hopping_window(
    events_stream: DataFrame,
    window_minutes: int = 60,
    hop_minutes: int = 15,
    watermark_minutes: int = 120,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of ``hopping_window_agg``: the same bounded explode
    into the W/H containing window starts, then a watermarked grouped
    aggregate on the bucket timestamp. The explode happens BEFORE the
    stateful aggregation, so each window bucket is ordinary keyed state
    with watermark-bounded lifetime — no custom stateful operator needed.
    In-order availableNow replay equals the batch operator exactly
    (tested)."""
    if window_minutes % hop_minutes:
        raise ValueError("window_minutes must be a multiple of hop_minutes")
    w_us = window_minutes * 60_000_000
    h_us = hop_minutes * 60_000_000
    n = w_us // h_us
    us = ts_us(ts_col)
    last_start = us - F.pmod(us, F.lit(h_us))
    starts = F.sequence(
        last_start - F.lit((n - 1) * h_us), last_start, F.lit(h_us)
    )
    return (
        events_stream.select(
            F.col(key_col),
            F.explode(starts).alias("__start_us"),
            F.col(value_col),
        )
        .withColumn("__win", F.timestamp_micros(F.col("__start_us")))
        .withWatermark("__win", f"{watermark_minutes} minutes")
        .groupBy(key_col, "__win")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents(value_col)).cast("double") / F.lit(100.0)).alias(
                "value_sum"
            ),
        )
        .select(
            key_col,
            F.unix_micros(F.col("__win")).alias("win_start_us"),
            "n_events",
            "value_sum",
        )
    )


def streaming_tumbling_window(
    events_stream: DataFrame,
    window_minutes: int = 60,
    watermark_minutes: int = 120,
    key_col: str = "event_type",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of ``tumbling_window_agg``: same integer bucket
    arithmetic, windowed state bounded by the watermark (buckets older than
    the watermark are finalized and dropped from the state store).

    Groups on the derived bucket column rather than ``F.window`` so the
    emitted rows are schema- and value-identical to the batch operator
    (``F.window`` emits a (start, end) timestamp struct whose rendering is
    timezone-dependent; the epoch-µs BIGINT is not). The watermark rides on
    the event-time column, which Spark requires to appear in the grouping —
    the window() struct would satisfy that too, but a deterministic
    truncation of the raw timestamp works just as well and keeps one code
    path for batch and stream. For in-order availableNow replays the result
    equals the batch operator exactly (tested)."""
    w_us = window_minutes * 60_000_000
    bucket_ts = F.timestamp_micros(
        ts_us(ts_col) - F.pmod(ts_us(ts_col), F.lit(w_us))
    )
    return (
        events_stream.select(
            F.col(key_col), bucket_ts.alias("__win"), F.col(value_col)
        )
        .withWatermark("__win", f"{watermark_minutes} minutes")
        .groupBy(key_col, "__win")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # exact cent sum (order-insensitive; round-9 float-sum audit)
            (F.sum(cents(value_col)).cast("double") / F.lit(100.0)).alias(
                "value_sum"
            ),
        )
        .select(
            key_col,
            F.unix_micros(F.col("__win")).alias("win_start_us"),
            "n_events",
            "value_sum",
        )
    )


def streaming_session_window(
    events_stream: DataFrame,
    gap_minutes: int = 30,
    watermark_minutes: int = 120,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Streaming twin of the native session_window aggregation
    (__spark_entry__.q_session_window_native): dynamic gap-merged session
    state keyed by (user, session), finalized and emitted in APPEND mode
    once the watermark passes a session's end.

    Append-mode caveat (inherent to session windows, not this code):
    sessions still inside the watermark horizon when an availableNow
    replay ends remain in state and are NOT emitted — so "stream equals
    batch" holds as a sandwich: every emitted row IS a batch row, and
    every batch session that provably finalized (end < max event time -
    watermark) IS emitted (tested exactly that way). A continuous
    deployment flushes them as the watermark advances.
    """
    cents = F.floor(
        F.coalesce(F.col(value_col), F.lit(0.0)) * 100 + F.lit(0.5)
    ).cast("long")
    ev = events_stream.select(
        F.col(key_col),
        F.col(ts_col).cast("timestamp").alias("__ts"),
        cents.alias("__cents"),
    )
    return (
        ev.withWatermark("__ts", f"{watermark_minutes} minutes")
        .groupBy(key_col, F.session_window("__ts", f"{gap_minutes} minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__cents").alias("sum_cents"),
        )
        .select(
            key_col,
            F.unix_micros(F.col("session_window.start")).alias("start_us"),
            F.unix_micros(F.col("session_window.end")).alias("end_us"),
            "n_events",
            "sum_cents",
        )
    )
