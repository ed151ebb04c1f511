"""Property-based laws for the round-7 operators, each checked against an
independent reference (the test_round6_properties.py model):

- cusum_fold_batch folded by fold_rounds == the one-shot cusum_alarms
  for ANY time-split batching (ordered-fold maintenance law, member #2)
- time_decay_attribution == a pure-Python credit walk (clamped
  power-of-two weights, truncating per-touch division, 'none' fallback)
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.event_streams import event_rows, mk_events, time_slices

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Wide inter-event gaps (minutes, up to ~2.8 days each) so the decay
# ages 0..6, the clamp bucket, AND the 7-day window edge all occur.
streams_strategy = st.dictionaries(
    st.integers(1, 3),  # user_id
    st.lists(
        st.tuples(
            st.integers(0, 4000),  # extra minutes since previous event
            st.integers(0, 4),  # event type index
            st.integers(-500, 500),  # value in cents
        ),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=3,
)


@given(streams=streams_strategy, cuts=st.lists(st.integers(0, 40_000), max_size=3))
@settings(**SETTINGS)
def test_cusum_fold_identity_for_any_time_split(spark, streams, cuts):
    """The ordered-fold maintenance law, CUSUM member: ANY ascending
    time-split batching folds to the one-shot detector's output."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms,
        cusum_fold_batch,
        present_cusum_state,
    )

    rows = event_rows(streams, min_gap=1)
    ev = mk_events(spark, rows)
    batches = time_slices(ev, cuts, drop_empty=True)
    kw = dict(drift_cents=10, threshold_cents=300)
    step = lambda st, b: cusum_fold_batch(st, b, **kw)  # noqa: E731
    got = sorted(map(tuple, present_cusum_state(fold_rounds(step, batches)).collect()))
    want = sorted(map(tuple, cusum_alarms(ev, **kw).collect()))
    assert got == want


def _py_decay(rows, window_us=7 * 86_400_000_000):
    """Reference credit walk: per purchase, every strictly-preceding
    in-window view/click gets cents·w div Σw with w = 2^(6 − min(age, 6));
    no touch => 'none' in full. div truncates toward zero."""
    out: dict[str, list[int]] = {}

    def trunc_div(a, b):
        return -((-a) // b) if a < 0 else a // b

    for c in (r for r in rows if r[2] == "purchase"):
        cents = int(c[4] * 100 + (0.5 if c[4] >= 0 else -0.5))
        c_us = int(c[3].timestamp() * 1_000_000)
        touches = []
        for t in rows:
            if t[1] != c[1] or t[2] not in ("view", "click"):
                continue
            t_us = int(t[3].timestamp() * 1_000_000)
            if (t_us, t[0]) < (c_us, c[0]) and c_us - t_us <= window_us:
                age = (c_us - t_us) // 86_400_000_000
                touches.append((t[2], 1 << (6 - min(age, 6))))
        if not touches:
            ch = out.setdefault("none", [0, 0])
            ch[0] += 1
            ch[1] += cents
            continue
        tot = sum(w for _, w in touches)
        for tt, w in touches:
            ch = out.setdefault(tt, [0, 0])
            ch[0] += 1
            ch[1] += trunc_div(cents * w, tot)
    return {k: tuple(v) for k, v in out.items()}


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_time_decay_attribution_matches_python_walk(spark, streams):
    from etl_pipeline_last_fm_spark.operators.attribution import (
        time_decay_attribution,
    )

    rows = event_rows(streams, min_gap=1)
    got = {
        r["channel"]: (r["n_credited_touches"], r["credited_cents"])
        for r in time_decay_attribution(mk_events(spark, rows)).collect()
    }
    assert got == _py_decay(rows)


@given(streams=streams_strategy, cuts=st.lists(st.integers(0, 40_000), max_size=3))
@settings(**SETTINGS)
def test_attribution_fold_identity_for_any_time_split(spark, streams, cuts):
    """The ordered-fold maintenance law, last-touch member: summing the
    per-batch credit deltas of ANY ascending time-split batching equals
    the one-shot attribution."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        attribution_step,
        last_touch_attribution,
    )
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    rows = event_rows(streams, min_gap=1)
    ev = mk_events(spark, rows)
    batches = time_slices(ev, cuts, drop_empty=True)
    got = sorted(map(tuple, fold_rounds(attribution_step(), batches)[-1].collect()))
    want = sorted(map(tuple, last_touch_attribution(ev).collect()))
    assert got == want


@given(streams=streams_strategy, cuts=st.lists(st.integers(0, 40_000), max_size=3))
@settings(**SETTINGS)
def test_decay_attribution_fold_identity_and_eviction_bound(spark, streams, cuts):
    """The ordered-fold maintenance law, time-decay member: summing the
    per-batch credit deltas of ANY ascending time-split batching equals
    the one-shot walk — AND the carried touch state stays bounded by the
    recency window (watermark eviction)."""
    from etl_pipeline_last_fm_spark.operators.attribution import (
        attribution_step,
        decay_attribution_fold_batch,
        time_decay_attribution,
    )
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds

    rows = event_rows(streams, min_gap=1)
    ev = mk_events(spark, rows)
    batches = time_slices(ev, cuts, drop_empty=True)
    step = attribution_step(decay_attribution_fold_batch)
    got = sorted(map(tuple, fold_rounds(step, batches)[-1].collect()))
    want = sorted(map(tuple, time_decay_attribution(ev).collect()))
    assert got == want
    # eviction bound: every carried touch sits within window of the frontier
    state, _ = decay_attribution_fold_batch(None, ev)
    overhang = state.select(
        F.max(
            F.col("max_us")
            # get() tolerates the empty array (a key with no surviving
            # touches), returning NULL -> span 0 via the coalesce.
            - F.coalesce(F.get("touches", F.lit(0))["us"], F.col("max_us"))
        ).alias("span")
    ).first()
    assert overhang.span is None or overhang.span <= 7 * 86_400_000_000
