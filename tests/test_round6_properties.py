"""Property-based laws for the round-6 operators, each checked against an
independent pure-Python reference (the test_operator_properties.py model):

- ema_halflife == the Python fold; incremental_ema_batches == the
  one-shot for ANY time-split batching (ordered-fold maintenance law)
- match_event_pattern_measures == re.finditer positions on the symbol
  string (leftmost non-overlapping, boundary event ids)
- last_touch_attribution == a Python credit walk
- link_prediction_scores == brute-force neighbor-set Jaccard
- BMP / WAV codecs round-trip arbitrary payloads bit-exactly
"""

from __future__ import annotations

import re
from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SYM = {"view": "v", "click": "c", "purchase": "p", "signup": "s", "error": "e"}

# streams: per-user lists of (minute_gap, type_idx, value_cents)
streams_strategy = st.dictionaries(
    st.integers(1, 3),  # user_id
    st.lists(
        st.tuples(
            st.integers(0, 3),  # extra minutes since previous event
            st.integers(0, 4),  # event type index
            st.integers(-500, 500),  # value in cents
        ),
        min_size=1,
        max_size=12,
    ),
    min_size=1,
    max_size=3,
)


def _event_rows(streams):
    rows, eid = [], 0
    for uid, evs in sorted(streams.items()):
        t = datetime(2024, 1, 1)
        for gap, ti, cents in evs:
            t = t + timedelta(minutes=1 + gap)
            rows.append((eid, uid, EVENT_TYPES[ti], t, cents / 100.0))
            eid += 1
    return rows


def _mk_events(spark, rows):
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, event_type string, ts timestamp,"
        " value double",
    )


def _py_ema(rows):
    """Reference fold: trunc-toward-zero halve over (ts, event_id) order."""
    out = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        acc = 0
        for r in evs:
            cents = int(r[4] * 100 + (0.5 if r[4] >= 0 else -0.5))
            # Python's int() on float truncates toward zero, like both engines
            acc = int((acc + cents) / 2)
        out[uid] = (len(evs), acc)
    return out


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_ema_one_shot_matches_python_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    rows = _event_rows(streams)
    got = {
        r["user_id"]: (r["n_events"], r["ema_cents"])
        for r in ema_halflife(_mk_events(spark, rows)).collect()
    }
    assert got == _py_ema(rows)


@given(streams=streams_strategy, cuts=st.lists(st.integers(0, 40), max_size=3))
@settings(**SETTINGS)
def test_ema_fold_identity_for_any_time_split(spark, streams, cuts):
    """The ordered-fold maintenance law: ANY ascending time-split
    batching folds to the one-shot result."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        ema_halflife,
        incremental_ema_batches,
    )

    rows = _event_rows(streams)
    ev = _mk_events(spark, rows)
    bounds = [datetime(2024, 1, 1) + timedelta(minutes=m) for m in sorted(cuts)]
    edges = [datetime(2023, 1, 1)] + bounds + [datetime(2025, 1, 1)]
    from pyspark.sql import functions as F

    batches = [
        ev.filter((F.col("ts") >= lo) & (F.col("ts") < hi))
        for lo, hi in zip(edges, edges[1:])
    ]
    # drop empty batches (a real scheduler never emits them)
    batches = [b for b in batches if b.count() > 0]
    got = {
        r["user_id"]: (r["n_events"], r["ema_cents"])
        for r in incremental_ema_batches(batches).collect()
    }
    want = {
        r["user_id"]: (r["n_events"], r["ema_cents"])
        for r in ema_halflife(ev).collect()
    }
    assert got == want


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_measures_match_re_finditer_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.patterns import (
        match_event_pattern_measures,
    )

    rows = _event_rows(streams)
    got = sorted(
        (r["user_id"], r["match_no"], r["match_str"],
         r["start_event_id"], r["end_event_id"])
        for r in match_event_pattern_measures(
            _mk_events(spark, rows), "vc*p"
        ).collect()
    )
    want = []
    for uid in sorted({r[1] for r in rows}):
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        s = "".join(SYM[r[2]] for r in evs)
        for i, m in enumerate(re.finditer("vc*p", s), start=1):
            want.append(
                (uid, i, m.group(0), evs[m.start()][0], evs[m.end() - 1][0])
            )
    assert got == sorted(want)


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_attribution_matches_python_walk(spark, streams):
    from etl_pipeline_last_fm_spark.operators.attribution import (
        last_touch_attribution,
    )

    window_us = 2 * 60 * 1_000_000  # 2 minutes: both branches reachable
    rows = _event_rows(streams)
    got = {
        r["channel"]: (r["n_conversions"], r["attributed_cents"])
        for r in last_touch_attribution(
            _mk_events(spark, rows), window_us=window_us
        ).collect()
    }
    want: dict = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        last_touch = None
        for r in evs:
            if r[2] == "purchase":
                us = int(r[3].timestamp() * 1_000_000)
                ch = (
                    last_touch[1]
                    if last_touch and us - last_touch[0] <= window_us
                    else "none"
                )
                cents = int(r[4] * 100 + (0.5 if r[4] >= 0 else -0.5))
                n, c = want.get(ch, (0, 0))
                want[ch] = (n + 1, c + cents)
            if r[2] in ("view", "click"):
                last_touch = (int(r[3].timestamp() * 1_000_000), r[2])
    assert got == want


edges_strategy = st.sets(
    st.tuples(st.integers(1, 7), st.integers(1, 7)).filter(lambda e: e[0] < e[1]),
    min_size=1,
    max_size=12,
)


@given(edges=edges_strategy)
@settings(**SETTINGS)
def test_link_prediction_matches_bruteforce_jaccard(spark, edges):
    from etl_pipeline_last_fm_spark.operators.graph import (
        link_prediction_scores,
    )

    df = spark.createDataFrame(sorted(edges), "a long, b long")
    got = sorted(
        (r["u"], r["v"], r["cn"], r["jaccard_ppm"])
        for r in link_prediction_scores(df, top_k=1000).collect()
    )
    nbr: dict = {}
    for a, b in edges:
        nbr.setdefault(a, set()).add(b)
        nbr.setdefault(b, set()).add(a)
    want = []
    nodes = sorted(nbr)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1:]:
            if (u, v) in edges:
                continue
            cn = len(nbr[u] & nbr[v])
            if cn:
                want.append(
                    (u, v, cn, cn * 1_000_000 // len(nbr[u] | nbr[v]))
                )
    assert got == sorted(want)


intervals_strategy = st.lists(
    st.tuples(st.integers(0, 50), st.integers(0, 30)),  # (start_min, len_min)
    min_size=1,
    max_size=12,
)


@given(iv=intervals_strategy, bucket_min=st.sampled_from([7, 60, 10_000]))
@settings(**SETTINGS)
def test_interval_concurrency_matches_bruteforce(spark, iv, bucket_min):
    """Sweep == brute force (count intervals j with start_j <= start_i
    <= end_j, closed semantics) for ANY bucket size — including buckets
    smaller than typical intervals, maximally exercising the carry."""
    from etl_pipeline_last_fm_spark.operators.intervals import (
        interval_concurrency,
    )

    rows = [
        (i, 1,
         datetime(2024, 1, 1) + timedelta(minutes=s),
         datetime(2024, 1, 1) + timedelta(minutes=s + l))
        for i, (s, l) in enumerate(iv)
    ]
    df = spark.createDataFrame(
        rows,
        "user_id long, session_seq long, session_start timestamp,"
        " session_end timestamp",
    )
    got = {
        r["user_id"]: r["n_concurrent"]
        for r in interval_concurrency(
            df, ["user_id", "session_seq"], bucket_us=bucket_min * 60_000_000
        ).collect()
    }
    want = {}
    for i, (s, l) in enumerate(iv):
        want[i] = sum(1 for (s2, l2) in iv if s2 <= s <= s2 + l2)
    assert got == want


docs_strategy = st.lists(
    st.text(alphabet="abc ", min_size=1, max_size=12),
    min_size=1,
    max_size=8,
)


@given(texts=docs_strategy)
@settings(**SETTINGS)
def test_collocations_match_bruteforce_lift(spark, texts):
    from etl_pipeline_last_fm_spark.operators.text import collocations

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r["a"], r["b"], r["c_ab"], r["lift_ppm"])
        for r in collocations(docs, min_count=1, top_k=1000).collect()
    )
    uni: dict = {}
    bi: dict = {}
    for t in texts:
        toks = t.strip().split(" ")  # mirrors split(trim(text), ' ')
        for w in toks:
            uni[w] = uni.get(w, 0) + 1
        for x, y in zip(toks, toks[1:]):
            bi[(x, y)] = bi.get((x, y), 0) + 1
    n = sum(uni.values())
    want = sorted(
        (x, y, c, c * n * 1_000_000 // (uni[x] * uni[y]))
        for (x, y), c in bi.items()
    )
    assert got == want


@given(streams=streams_strategy, k=st.integers(-200, 200), h=st.integers(1, 400))
@settings(**SETTINGS)
def test_cusum_closed_form_matches_recurrence_fold(spark, streams, k, h):
    """Closed form == the literal recurrence s = max(0, s + (v - k)),
    with path max and upward h-crossing count, for arbitrary drift and
    threshold."""
    from etl_pipeline_last_fm_spark.operators.timeseries import cusum_alarms

    rows = _event_rows(streams)
    got = {
        r["user_id"]: (r["cusum_final"], r["cusum_max"], r["n_alarms"])
        for r in cusum_alarms(
            _mk_events(spark, rows), drift_cents=k, threshold_cents=h
        ).collect()
    }
    want = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        s = mx = alarms = 0
        prev = 0
        for r in evs:
            cents = int(r[4] * 100 + (0.5 if r[4] >= 0 else -0.5))
            s = max(0, s + cents - k)
            mx = max(mx, s)
            if s >= h and prev < h:
                alarms += 1
            prev = s
        want[uid] = (s, mx, alarms)
    assert got == want
