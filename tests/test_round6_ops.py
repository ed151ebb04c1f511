"""Round-6 operator tests: MATCH_RECOGNIZE per-match MEASURES."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F


def _events(spark, seq: dict[int, list[str]]):
    rows = []
    eid = 0
    for uid, events in seq.items():
        for i, et in enumerate(events):
            rows.append((eid, uid, et, datetime(2024, 1, 1, 0, i, 0), 1.0))
            eid += 1
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, "
        "ts timestamp, value double",
    )


def test_measures_positions_on_crafted_stream(spark):
    """Hand-checked positions: user 1 = vcvcp — one match "vcp" over
    events 2..4 (leftmost attempt at 0 dies: c* needs CONSECUTIVE
    clicks); user 2 = vpvp — matches at events 5..6 and 7..8, including
    a match ending at string end; user 3 = pvc — no match, NO rows."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    ev = _events(
        spark,
        {
            1: ["view", "click", "view", "click", "purchase"],
            2: ["view", "purchase", "view", "purchase"],
            3: ["purchase", "view", "click"],
        },
    )
    got = sorted(
        (
            r["user_id"],
            r["match_no"],
            r["match_str"],
            r["start_event_id"],
            r["end_event_id"],
        )
        for r in match_event_pattern_measures(ev, "vc*p").collect()
    )
    assert got == [
        (1, 1, "vcp", 2, 4),
        (2, 1, "vp", 5, 6),
        (2, 2, "vp", 7, 8),
    ]


def test_measures_match_at_string_start_and_adjacent_matches(spark):
    """A match at position 1 (empty leading gap) and back-to-back
    matches (empty inter-match gaps) keep the prefix-sum arithmetic
    honest — split() yields empty segments there on both engines."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    ev = _events(spark, {7: ["view", "purchase", "view", "purchase"]})
    got = sorted(
        (r["match_no"], r["start_event_id"], r["end_event_id"])
        for r in match_event_pattern_measures(ev, "vp").collect()
    )
    assert got == [(1, 0, 1), (2, 2, 3)]


def test_measures_timestamps_come_from_boundary_events(spark):
    """start_us/end_us are the epoch-µs of the first/last event OF THE
    MATCH, not of the user's stream."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    ev = _events(spark, {1: ["error", "view", "click", "purchase", "error"]})
    [r] = match_event_pattern_measures(ev, "vc*p").collect()
    base = int(datetime(2024, 1, 1).timestamp() * 1_000_000)
    assert r["start_us"] == base + 1 * 60 * 1_000_000
    assert r["end_us"] == base + 3 * 60 * 1_000_000


def test_measures_rejects_zero_width_pattern(spark):
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    ev = _events(spark, {1: ["view"]})
    with pytest.raises(ValueError, match="empty string"):
        match_event_pattern_measures(ev, "c*")


def test_measures_consistent_with_summary_counts(spark, sf_dir):
    """Per-match rows aggregate back to the summary operator's
    n_matches on the real fixture (users with 0 matches absent here,
    present there)."""
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern,
        match_event_pattern_measures,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    summary = {
        r["user_id"]: r["n_matches"]
        for r in match_event_pattern(ev, "vc*p").collect()
    }
    per_match = {
        r["user_id"]: r["n"]
        for r in match_event_pattern_measures(ev, "vc*p")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per_match == {u: n for u, n in summary.items() if n > 0}
    # MEASURES rows are per match: match_no is dense 1..n per user.
    mx = {
        r["user_id"]: r["mx"]
        for r in match_event_pattern_measures(ev, "vc*p")
        .groupBy("user_id")
        .agg(F.max("match_no").alias("mx"))
        .collect()
    }
    assert mx == per_match


# --- Round-6 analytics wave: link prediction / EMA / attribution ------


def test_ema_halflife_hand_fold(spark):
    """s0=0; fold (s+v) div 2 over (ts, event_id) order: values 10,20,30
    dollars -> cents 1000,2000,3000 -> 500, 1250, 2125."""
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    ev = _events(spark, {1: ["view", "view", "view"]}).withColumn(
        "value", (F.col("event_id") + 1).cast("double") * 10
    )
    [r] = ema_halflife(ev).collect()
    assert (r["user_id"], r["n_events"], r["ema_cents"]) == (1, 3, 2125)


def test_ema_halflife_is_order_dependent(spark):
    """Reversing the event order changes the fold — the property that
    separates this class from commutative aggregation."""
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    ev = _events(spark, {1: ["view", "view", "view"]}).withColumn(
        "value", (F.col("event_id") + 1).cast("double") * 10
    )
    rev = ev.withColumn(
        "ts", F.timestamp_micros(F.lit(1_700_000_000_000_000) - F.col("event_id"))
    )
    [a] = ema_halflife(ev).collect()
    [b] = ema_halflife(rev).collect()
    assert a["ema_cents"] == 2125 and b["ema_cents"] == 1375  # 30,20,10 order


def test_last_touch_attribution_credit_rules(spark):
    """touch-in-window -> credited to the LAST touch's type; stale touch
    -> none; no touch -> none; touches after the purchase don't count."""
    from datetime import datetime

    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution,
    )

    day = 24 * 3600
    rows = [
        # user 1: view then click then purchase (click is last touch)
        (0, 1, "view", datetime.fromtimestamp(0), 1.0),
        (1, 1, "click", datetime.fromtimestamp(day), 1.0),
        (2, 1, "purchase", datetime.fromtimestamp(2 * day), 10.0),
        # user 2: touch 8 days before purchase -> stale -> none
        (3, 2, "view", datetime.fromtimestamp(0), 1.0),
        (4, 2, "purchase", datetime.fromtimestamp(9 * day), 20.0),
        # user 3: touch only AFTER the purchase -> none
        (5, 3, "purchase", datetime.fromtimestamp(0), 40.0),
        (6, 3, "click", datetime.fromtimestamp(day), 1.0),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    got = {
        r["channel"]: (r["n_conversions"], r["attributed_cents"])
        for r in last_touch_attribution(ev).collect()
    }
    assert got == {"click": (1, 1000), "none": (2, 6000)}


def test_link_prediction_on_square_graph(spark):
    """Cycle a-b-c-d-a: the two diagonals are the only non-adjacent
    pairs, each with cn=2 common neighbors and Jaccard 2/(2+2-2)=1."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        link_prediction_scores,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "a long, b long"
    )
    got = sorted(
        (r["u"], r["v"], r["cn"], r["jaccard_ppm"])
        for r in link_prediction_scores(edges).collect()
    )
    assert got == [(1, 3, 2, 1_000_000), (2, 4, 2, 1_000_000)]


def test_link_prediction_hub_cap_drops_hub_wedges(spark):
    """Star hub + one path: capping middle degree at 2 removes wedges
    through the hub but keeps those through degree-2 nodes."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        link_prediction_scores,
    )

    # hub 1 - {2,3,4,5}; path 2-6-7.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5), (2, 6), (6, 7)], "a long, b long"
    )
    full = {(r["u"], r["v"]) for r in link_prediction_scores(edges).collect()}
    capped = {
        (r["u"], r["v"])
        for r in link_prediction_scores(edges, max_middle_degree=2).collect()
    }
    assert (2, 3) in full and (2, 3) not in capped  # wedge through hub 1
    assert (2, 7) in full and (2, 7) in capped  # wedge through node 6


def test_ema_halflife_negative_values_match_duckdb(spark):
    """Refund-style negatives: the halve must TRUNCATE toward zero on
    both engines (floor would diverge by 1 cent) — Spark vs a direct
    DuckDB list_reduce replay on the same rows."""
    import duckdb

    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    vals = [-10.0, 3.0, -7.0, 5.0, -1.0]
    ev = _events(spark, {1: ["view"] * len(vals)})
    ev = ev.withColumn(
        "value",
        F.element_at(
            F.array(*[F.lit(v) for v in vals]), F.col("event_id").cast("int") + 1
        ),
    )
    [r] = ema_halflife(ev).collect()
    cents = [int(v * 100) for v in vals]
    [(want,)] = duckdb.sql(
        f"SELECT list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"{cents}::BIGINT[]), (acc, x) -> (acc + x) // 2)"
    ).fetchall()
    assert r["ema_cents"] == want


def test_ema_fold_batches_equal_one_shot(spark):
    """Ordered-fold maintenance identity: any time-split batching of the
    stream folds to the same state as the one-shot fold."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        ema_fold_batch,
        ema_halflife,
        present_ema_state,
    )

    ev = _events(
        spark, {1: ["view"] * 7, 2: ["click"] * 4}
    ).withColumn("value", (F.col("event_id") * 3 + 1).cast("double"))
    cut1, cut2 = datetime(2024, 1, 1, 0, 2, 30), datetime(2024, 1, 1, 0, 4, 30)
    batches = [
        ev.filter(F.col("ts") < cut1),
        ev.filter((F.col("ts") >= cut1) & (F.col("ts") < cut2)),
        ev.filter(F.col("ts") >= cut2),
    ]
    one_shot = {
        r["user_id"]: (r["n_events"], r["ema_cents"])
        for r in ema_halflife(ev).collect()
    }
    folded = {
        r["user_id"]: (r["n_events"], r["ema_cents"])
        for r in present_ema_state(fold_rounds(ema_fold_batch, batches)).collect()
    }
    assert folded == one_shot and len(folded) == 2


def _ordered_fold(name):
    """(step, present) of one order-dependent fold, as its registry
    queries pair them."""
    from etl_pipeline_last_fm_spark.operators import attribution as at
    from etl_pipeline_last_fm_spark.operators import segments as sg
    from etl_pipeline_last_fm_spark.operators import timeseries as ts
    from etl_pipeline_last_fm_spark.registry import round7 as r7

    return {
        "ema": (ts.ema_fold_batch, ts.present_ema_state),
        "cusum": (r7._cusum_step, ts.present_cusum_state),
        "holt": (ts.holt_fold_batch, ts.present_holt_state),
        "twap": (sg.twap_fold_batch, sg.present_twap_state),
        "attribution": (
            at.attribution_step(), lambda parts: r7._present_last_touch(parts[-1])
        ),
        "attribution_decay": (
            at.attribution_step(at.decay_attribution_fold_batch),
            lambda parts: r7._present_decay(parts[-1]),
        ),
    }[name]


@pytest.mark.parametrize(
    "fold", ["ema", "cusum", "holt", "twap", "attribution", "attribution_decay"]
)
def test_ordered_fold_raises_on_out_of_order_batch(spark, fold):
    """A batch at or before a key's fold frontier must FAIL LOUD — a
    non-commutative fold can't absorb late data silently. Each fold runs
    as its registry queries run it: the round driver, then the
    presentation of the graded columns."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    step, present = _ordered_fold(fold)
    ev = _events(spark, {1: ["view"] * 4})
    cut = datetime(2024, 1, 1, 0, 1, 30)
    late_then_early = [ev.filter(F.col("ts") >= cut), ev.filter(F.col("ts") < cut)]
    with pytest.raises(Exception, match="out-of-order"):
        present(fold_rounds(step, late_then_early)).collect()


def test_trend_fit_recovers_exact_linear_slope(spark):
    """Values exactly linear in the day index (y = 250 + 35 cents/day)
    -> slope_ppm = 35,000,000 exactly; a constant series -> slope 0."""
    from datetime import datetime, timedelta

    from etl_pipeline_last_fm_spark.operators.timeseries import trend_fit

    rows = []
    for d in range(10):
        ts = datetime(2024, 1, 1) + timedelta(days=d)
        rows.append((d, 1, "lin", ts, (250 + 35 * (ts - datetime(1970, 1, 1)).days) / 100.0))
        rows.append((100 + d, 1, "flat", ts, 7.77))
    ev = spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )
    got = {
        r["event_type"]: (r["n"], r["slope_ppm_cents_per_day"])
        for r in trend_fit(ev).collect()
    }
    assert got == {"lin": (10, 35_000_000), "flat": (10, 0)}


def test_trend_fit_single_day_group_yields_null_not_error(spark):
    """A group confined to one day index has OLS denominator 0 — slope
    must be NULL (no trend estimable), never DIVIDE_BY_ZERO under ANSI."""
    from etl_pipeline_last_fm_spark.operators.timeseries import trend_fit

    ev = _events(spark, {1: ["view", "view"]})  # same calendar day
    [r] = trend_fit(ev).collect()
    assert r["n"] == 2 and r["slope_ppm_cents_per_day"] is None


def test_collocations_lift_hand_computed(spark):
    """Corpus 'x y' x4 + 'x z' x4 + 'w w' x2: N=20 tokens; pair (x,y)
    has c_ab=4, c_x=8, c_y=4 -> lift = 20*4/(8*4) = 2.5 -> 2_500_000
    ppm; (w,w) c_ab=2, c_w=4 -> 20*2/16 = 2.5 too; tie broken by word."""
    from etl_pipeline_last_fm_spark.operators.text import collocations

    docs = spark.createDataFrame(
        [(i, "x y") for i in range(4)]
        + [(10 + i, "x z") for i in range(4)]
        + [(20 + i, "w w") for i in range(2)],
        "doc_id long, text string",
    )
    got = [
        (r["a"], r["b"], r["c_ab"], r["lift_ppm"])
        for r in collocations(docs, min_count=2, top_k=10).collect()
    ]
    assert got == [
        ("w", "w", 2, 2_500_000),
        ("x", "y", 4, 2_500_000),
        ("x", "z", 4, 2_500_000),
    ]


def test_interval_concurrency_hand_checked_with_carry(spark):
    """Three intervals: A [0,10], B [5,20], C [19,25] (minutes). At A's
    start 1 open; at B's start A still open -> 2; at C's start B open
    (point arithmetic: 19 < 20) -> 2. A tiny bucket (10 min) forces B
    and C to read their counts THROUGH the carry — the two-phase sweep's
    cross-bucket path — and a touching pair (D starts exactly when B
    ends) counts as concurrent (starts sort before ends)."""
    from datetime import datetime, timedelta

    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )

    t0 = datetime(2024, 1, 1)
    m = lambda x: t0 + timedelta(minutes=x)  # noqa: E731
    iv = spark.createDataFrame(
        [(1, 1, m(0), m(10)), (2, 1, m(5), m(20)), (3, 1, m(19), m(25)),
         (4, 1, m(20), m(30))],
        "user_id long, session_seq long, session_start timestamp,"
        " session_end timestamp",
    )
    got = {
        r["user_id"]: r["n_concurrent"]
        for r in interval_concurrency(
            iv, ["user_id", "session_seq"], bucket_us=600_000_000
        ).collect()
    }
    # D starts at B's end instant: closed intervals -> B,C,D all open.
    assert got == {1: 1, 2: 2, 3: 2, 4: 3}


def test_interval_concurrency_bucket_size_invariance(spark, sf_dir):
    """The sweep is a pure function of the interval set: bucket size
    (the parallelism knob) must not change a single count."""
    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )
    from etl_pipeline_last_fm_spark.operators.sessions import sessionize
    from etl_pipeline_last_fm_spark.sources.tables import load_table

    iv = sessionize(load_table(spark, sf_dir, "events"))
    keys = ["user_id", "session_seq"]
    a = {(r["user_id"], r["session_seq"]): r["n_concurrent"]
         for r in interval_concurrency(iv, keys).collect()}
    b = {(r["user_id"], r["session_seq"]): r["n_concurrent"]
         for r in interval_concurrency(iv, keys, bucket_us=3_600_000_000)
         .collect()}
    assert a == b and len(a) > 0


def test_interval_concurrency_simultaneous_starts(spark):
    """All intervals starting at the SAME microsecond are mutually open:
    each must report the full count, not an order-dependent prefix."""
    from datetime import datetime

    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )

    t0, t1 = datetime(2024, 1, 1), datetime(2024, 1, 1, 1)
    iv = spark.createDataFrame(
        [(u, 1, t0, t1) for u in (1, 2, 3)],
        "user_id long, session_seq long, session_start timestamp,"
        " session_end timestamp",
    )
    got = {r["user_id"]: r["n_concurrent"]
           for r in interval_concurrency(iv, ["user_id", "session_seq"])
           .collect()}
    assert got == {1: 3, 2: 3, 3: 3}


def test_contingency_chi2_hand_computed_with_zero_cell(spark):
    """2x2 with one empty cell: rows a:{x:4}, b:{x:2, y:2}; N=8.
    Cell (a,y): O=0, R=4, C=2 -> E_micro = 1_000_000,
    chi2_ppm = ((0-8)^2 div 8)*1e6 div 8 = 1_000_000."""
    from etl_pipeline_last_fm_spark.operators.profile import contingency_chi2

    docs = spark.createDataFrame(
        [(i, "a", "x") for i in range(4)]
        + [(10, "b", "x"), (11, "b", "x"), (12, "b", "y"), (13, "b", "y")],
        "doc_id long, lang string, source string",
    )
    got = {
        (r["lang"], r["source"]): (
            r["observed"], r["expected_micro"], r["cell_chi2_ppm"]
        )
        for r in contingency_chi2(docs).collect()
    }
    assert got[("a", "y")] == (0, 1_000_000, 1_000_000)
    # (a,x): O=4, R=4, C=6 -> O*N - R*C = 32-24 = 8; 64 div 24 = 2;
    # *1e6 div 8 = 250_000; E_micro = 24e6 div 8 = 3_000_000.
    assert got[("a", "x")] == (4, 3_000_000, 250_000)
    assert len(got) == 4  # full cross product incl. the zero cell


def test_cusum_closed_form_matches_recurrence(spark):
    """Hand fold of s = max(0, s + (v-k)) with k=$1, h=$2 over values
    3,-4,2,2,-5,4 dollars: s=200,0,100,200,0,300 cents ->
    final 300, max 300, upward crossings of 200: at i=1 (s=200, prev 0),
    i=4 (s=200, prev 100), i=6 (s=300, prev 0) -> 3 alarms."""
    from etl_pipeline_last_fm_spark.operators.timeseries import cusum_alarms

    vals = [3.0, -4.0, 2.0, 2.0, -5.0, 4.0]
    ev = _events(spark, {1: ["view"] * len(vals)})
    ev = ev.withColumn(
        "value",
        F.element_at(
            F.array(*[F.lit(v) for v in vals]), F.col("event_id").cast("int") + 1
        ),
    )
    [r] = cusum_alarms(ev, drift_cents=100, threshold_cents=200).collect()
    assert (r["n_events"], r["cusum_final"], r["cusum_max"], r["n_alarms"]) == (
        6, 300, 300, 3,
    )


def test_hashed_features_bucket_determinism_and_counts(spark):
    """Same token always lands in the same bucket; counts sum to the
    token count; buckets stay within [0, n_buckets)."""
    from etl_pipeline_last_fm_spark.operators.text import hashed_features

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "a a a"), (3, "b")],
        "doc_id long, text string",
    )
    rows = hashed_features(docs, n_buckets=8).collect()
    by_doc = {}
    for r in rows:
        assert 0 <= r["bucket"] < 8
        by_doc.setdefault(r["doc_id"], []).append((r["bucket"], r["cnt"]))
    assert sum(c for _, c in by_doc[1]) == 4
    # 'a' bucket identical across docs: doc2's single bucket equals the
    # bucket where doc1 counted 'a' twice.
    a_bucket_doc1 = next(b for b, c in by_doc[1] if c == 2)
    assert by_doc[2] == [(a_bucket_doc1, 3)]
