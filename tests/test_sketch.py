"""Portable sketches (HLL, Count-Min) and time-window aggregation.

Cross-engine value parity is covered by test_oracle_parity (these entries
are oracle-paired); here we test the sketch/window SEMANTICS: error bounds,
the CMS one-sided guarantee under forced collisions, estimator branches,
merge associativity, and streaming/batch equivalence.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.sketch import (
    cms_counters,
    cms_heavy_hitters,
    hll_distinct,
)
from etl_pipeline_last_fm_spark.operators.timewindow import (
    hopping_window_agg,
    streaming_tumbling_window,
    tumbling_window_agg,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table


def test_hll_error_within_bound(spark):
    """Raw-branch estimate within 3 standard errors (3 * 1.04/sqrt(m))."""
    n, b = 5000, 6
    m = 1 << b
    df = spark.range(n).select(F.concat(F.lit("u"), F.col("id")).alias("v"))
    got = hll_distinct(df, "v", b=b).collect()[0]
    assert got["n_exact"] == n
    rel_err = abs(got["n_approx"] - n) / n
    assert rel_err < 3 * 1.04 / math.sqrt(m), got["n_approx"]


def test_hll_linear_counting_small_cardinality(spark):
    """Cardinality << m lands in the linear-counting branch, which is very
    accurate (here: exact after rounding to the nearest integer)."""
    df = spark.range(10).select(F.concat(F.lit("x"), F.col("id")).alias("v"))
    got = hll_distinct(df, "v", b=6).collect()[0]
    assert got["n_exact"] == 10
    assert abs(got["n_approx"] - 10) < 1.5


def test_hll_insensitive_to_duplication_and_partitioning(spark):
    """A sketch of a set must not move when rows duplicate 10x or the
    partitioning changes — distinct-ness is the whole point."""
    base = spark.range(800).select(F.concat(F.lit("k"), F.col("id")).alias("v"))
    dup = base.union(base).union(base).repartition(17)
    a = hll_distinct(base, "v", b=6).collect()[0]["n_approx"]
    c = hll_distinct(dup, "v", b=6).collect()[0]["n_approx"]
    assert a == c


def test_cms_never_underestimates_under_forced_collisions(spark):
    """Tiny grid (w=16) on a 200-token vocabulary forces collisions: every
    estimate must still be >= the true count (one-sided error), and the
    heavy hitter's estimate stays within n + eps*N (eps = e/w)."""
    import pandas as pd

    rows = []
    for i in range(200):
        rows += [f"tok{i}"] * (1 + i % 7)
    rows += ["hot"] * 500
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(1), "text": [" ".join(rows)]})
    )
    out = cms_heavy_hitters(docs, top_k=10, depth=4, width=16).collect()
    n_total = len(rows)
    eps = math.e / 16
    for r in out:
        assert r["n_cms"] >= r["n_exact"], r
        assert r["n_cms"] <= r["n_exact"] + eps * n_total + 1, r
    top = next(r for r in out if r["tok"] == "hot")
    assert top["rnk"] == 1 and top["n_exact"] == 500


def test_cms_grid_merges_across_partitions(spark):
    """Counter grids are mergeable by summing cells: grid(A ∪ B) ==
    cellwise-sum(grid(A), grid(B)) — the property that lets daily grids
    roll up without re-reading history."""
    a = spark.createDataFrame(
        [("x",), ("y",), ("x",)], "tok string"
    )
    b = spark.createDataFrame(
        [("x",), ("z",)], "tok string"
    )
    union_grid = {
        (r["__d"], r["__cell"]): r["__cnt"]
        for r in cms_counters(a.union(b), depth=2, width=8).collect()
    }
    merged: dict = {}
    for part in (a, b):
        for r in cms_counters(part, depth=2, width=8).collect():
            k = (r["__d"], r["__cell"])
            merged[k] = merged.get(k, 0) + r["__cnt"]
    assert union_grid == merged


def test_hopping_contains_tumbling(spark, sf_dir):
    """With hop == window, hopping degenerates to tumbling exactly."""
    ev = load_table(spark, sf_dir, "events")
    t = tumbling_window_agg(ev, window_minutes=30)
    h = hopping_window_agg(ev, window_minutes=30, hop_minutes=30)
    assert sorted(map(tuple, t.collect())) == sorted(map(tuple, h.collect()))


def test_hopping_each_event_in_n_windows(spark, sf_dir):
    """Total event count across hopping windows is exactly n x the input
    (every event appears in window/hop windows, no more, no fewer)."""
    ev = load_table(spark, sf_dir, "events")
    n_events = ev.count()
    h = hopping_window_agg(ev, window_minutes=60, hop_minutes=15)
    total = h.agg(F.sum("n_events")).collect()[0][0]
    assert total == 4 * n_events


def test_hopping_rejects_non_divisible_hop(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    with pytest.raises(ValueError):
        hopping_window_agg(ev, window_minutes=60, hop_minutes=25)


def test_streaming_tumbling_matches_batch(spark, sf_dir, tmp_path):
    """availableNow replay of the events table through the watermarked
    streaming twin produces exactly the batch operator's rows."""
    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_stream")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_tumbling_window(stream, window_minutes=60, watermark_minutes=120)
        .writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        map(tuple, spark.sql("SELECT * FROM tumbling_stream").collect())
    )
    want = sorted(map(tuple, tumbling_window_agg(ev, window_minutes=60).collect()))
    assert got == want


# ---------------------------------------------------------------------------
# KMV bottom-k sketch
# ---------------------------------------------------------------------------


def test_kmv_merge_equals_full_state(spark, sf_dir):
    """Merge of two half-corpus states == state over the full corpus (the
    mergeability contract), and partition layout cannot matter."""
    from etl_pipeline_last_fm_spark.operators.sketch import (
        kmv_state,
        merge_kmv_states,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v")
    )
    full = kmv_state(ev, "v", ["event_type"], k=32)
    a = kmv_state(ev.filter(F.col("v") % 2 == 0), "v", ["event_type"], k=32)
    b = kmv_state(ev.filter(F.col("v") % 2 != 0), "v", ["event_type"], k=32)
    merged = merge_kmv_states(a, b, ["event_type"], k=32)
    as_set = lambda df: set(map(tuple, df.select("event_type", "__v", "__h").collect()))
    assert as_set(merged) == as_set(full)
    # idempotence: merging a state with itself is a no-op
    again = merge_kmv_states(full, full, ["event_type"], k=32)
    assert as_set(again) == as_set(full)


def test_kmv_exact_below_k_and_estimate_above(spark):
    """Fewer distinct values than k -> n_distinct_est is EXACT; far more
    than k -> the (k-1)/U_(k) estimate lands within the ~1/sqrt(k) band."""
    from etl_pipeline_last_fm_spark.operators.sketch import kmv_state, kmv_summary

    small = spark.range(10).select(
        F.lit("g").alias("g"), (F.col("id") * 7).alias("v")
    )
    st = kmv_state(small, "v", ["g"], k=64)
    row = kmv_summary(st, ["g"], k=64, quantiles=(0.5,)).collect()[0]
    assert row["n_sample"] == 10 and row["n_distinct_est"] == 10
    # p50 of 10 distinct values 0,7,...,63: rank floor(.5*9+.5)+1 = 6 -> 35
    assert row["p50_est"] == 35

    big = spark.range(20000).select(F.lit("g").alias("g"), F.col("id").alias("v"))
    st = kmv_state(big, "v", ["g"], k=256)
    row = kmv_summary(st, ["g"], k=256, quantiles=(0.5,)).collect()[0]
    assert row["n_sample"] == 256
    assert 14000 <= row["n_distinct_est"] <= 28000, row["n_distinct_est"]


def test_kmv_state_uses_window_group_limit(spark, sf_dir):
    """row_number <= k must prune per-partition (WindowGroupLimit) so the
    state build never materializes more than k rows per group per task."""
    from etl_pipeline_last_fm_spark.operators.sketch import kmv_state
    from tests.test_plans import formatted_plan

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.col("user_id").alias("v")
    )
    plan = formatted_plan(kmv_state(ev, "v", ["event_type"], k=64))
    assert "WindowGroupLimit" in plan


def test_streaming_session_window_sandwich(spark, sf_dir, tmp_path):
    """Streaming session_window vs the batch native-session query:
    append mode only emits watermark-finalized sessions, so equality is
    a sandwich — emitted ⊆ batch, and batch-finalized ⊆ emitted."""
    import __spark_entry__ as entry
    from etl_pipeline_last_fm_spark.operators.timewindow import (
        streaming_session_window,
    )

    ev = load_table(spark, sf_dir, "events")
    src = str(tmp_path / "ev_sess_stream")
    ev.write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    q = (
        streaming_session_window(stream, gap_minutes=30, watermark_minutes=120)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = set(map(tuple, spark.sql("SELECT * FROM sess_stream").collect()))
    batch = set(
        map(tuple, entry.queries()["session_window_native"](spark, sf_dir).collect())
    )
    assert got <= batch, "streamed a session the batch operator disagrees with"
    from etl_pipeline_last_fm_spark.functions.scalar import ts_us as _ts_us

    max_us = ev.agg(F.max(_ts_us(F.col("ts")))).collect()[0][0]
    # Spark advances the event-time watermark at MILLISECOND resolution:
    # watermark = (floor(max/1ms) - delay_ms) * 1000, up to 999 us below
    # the naive max_us - delay — truncate the same way or a session ending
    # inside that sub-ms window reads as "provably finalized" while still
    # sitting un-emitted in state.
    horizon = (max_us // 1000 - 120 * 60_000) * 1000
    finalized = {t for t in batch if t[2] < horizon}  # end_us < horizon
    assert finalized <= got, "a provably-finalized session was not emitted"
    assert len(got) > 0
