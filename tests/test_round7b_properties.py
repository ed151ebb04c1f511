"""Property-based laws for the round-7b analytics wave, each checked
against an independent pure-Python reference:

- time_weighted_avg == the Python LOCF integral with truncating
  division (toward zero — Spark decimal ``div`` and DuckDB HUGEINT
  ``//`` both truncate, verified on negatives)
- token_entropy == the Python micro-nat computation (same floor
  quantization on the type census)
- rfm_segments tiles == a Python ntile (equal groups, earlier groups
  take the remainder, the (metric, user_id) total order)
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from tests.event_streams import event_rows, mk_events, time_slices

SETTINGS = dict(
    max_examples=16,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# All-refund corpora pinning the two round-8 rank-device failure modes
# (VERDICT r8 #1/#2: a fresh hypothesis seed found them, so the known
# hard shapes are committed as @example pins to keep green claims
# falsifiable). Monetary totals per user:
#   DIVZERO:  u1 -1500, u2 -1600, u3 -2047  -> vmax = -1500 in
#             [-2047, -1024], the old width "vmax div 1024 + 1" == 0
#             (ANSI DIVIDE_BY_ZERO).
#   INVERTED: u1 -2500, u2 -3000, u3 -2048  -> vmax = -2048 <= -2048,
#             the old width was NEGATIVE -> silently inverted ranks.
REFUNDS_DIVZERO = {
    1: [(0, -500), (1, -500), (1, -500)],
    2: [(0, -500), (0, -500), (1, -500), (1, -100)],
    3: [(0, -500), (1, -500), (1, -500), (2, -500), (2, -47)],
}
REFUNDS_INVERTED = {
    1: [(0, -500), (1, -500), (1, -500), (2, -500), (2, -500)],
    2: [(0, -500), (0, -500), (1, -500), (1, -500), (2, -500), (2, -500)],
    3: [(0, -500), (1, -500), (1, -500), (2, -500), (2, -48)],
}

# per-user lists of (minute_gap, value_cents) — gap 0 keeps same-us ties
# (tiebreak path) live, negative cents keep the sign semantics honest.
streams_strategy = st.dictionaries(
    st.integers(1, 4),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(-500, 500)),
        min_size=1,
        max_size=10,
    ),
    min_size=1,
    max_size=4,
)


def _trunc_div(a: int, b: int) -> int:
    """Truncation toward zero — Spark decimal div == DuckDB // (both
    verified; Python // floors, so it is NOT the reference op)."""
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _py_twap(rows):
    out = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        if len(evs) < 2:
            continue
        us = [int(e[3].timestamp() * 1_000_000) for e in evs]
        cents = [round(e[4] * 100) for e in evs]
        num = sum(c * (us[i + 1] - us[i]) for i, c in enumerate(cents[:-1]))
        den = us[-1] - us[0]
        if den <= 0:
            continue
        out[uid] = (len(evs), den, _trunc_div(num, den))
    return out


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_time_weighted_avg_matches_python_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.segments import (
        time_weighted_avg,
    )

    rows = event_rows(streams)
    got = {
        r["user_id"]: (r["n_events"], r["span_us"], r["twap_cents"])
        for r in time_weighted_avg(mk_events(spark, rows)).collect()
    }
    assert got == _py_twap(rows)


WORDS = ["aa", "bb", "cc", "dd", "ee"]

docs_strategy = st.dictionaries(
    st.integers(1, 5),
    st.lists(st.integers(0, 4), min_size=0, max_size=15),
    min_size=1,
    max_size=5,
)


def _py_entropy(docs):
    out = {}
    for did, idxs in docs.items():
        toks = [WORDS[i] for i in idxs]
        if not toks:
            continue
        n = len(toks)
        counts = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        s = sum(c * math.floor(math.log(c) * 1_000_000.0) for c in counts.values())
        h = math.floor(math.log(n) * 1_000_000.0) - s // n  # all operands >= 0
        out[did] = (n, len(counts), h)
    return out


@given(docs=docs_strategy)
@settings(**SETTINGS)
def test_token_entropy_matches_python_reference(spark, docs):
    from etl_pipeline_last_fm_spark.operators.text import token_entropy

    df = spark.createDataFrame(
        [(did, " ".join(WORDS[i] for i in idxs)) for did, idxs in docs.items()],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_types"], r["entropy_micronats"])
        for r in token_entropy(df).collect()
    }
    assert got == _py_entropy(docs)


def _py_ntile(ordered_ids, k):
    """Spark/DuckDB ntile: equal groups, the first n%k groups one larger."""
    n = len(ordered_ids)
    base, rem = divmod(n, k)
    out, pos = {}, 0
    for tile in range(1, k + 1):
        size = base + (1 if tile <= rem else 0)
        for uid in ordered_ids[pos : pos + size]:
            out[uid] = tile
        pos += size
    return out


@given(streams=streams_strategy)
@example(streams=REFUNDS_DIVZERO)
@example(streams=REFUNDS_INVERTED)
@settings(**SETTINGS)
def test_rfm_tiles_match_python_ntile(spark, streams):
    from etl_pipeline_last_fm_spark.operators.segments import rfm_segments

    rows = event_rows(streams)
    res = rfm_segments(mk_events(spark, rows), n_tiles=5).collect()
    by_user = {r["user_id"]: r for r in res}
    # Recompute the three metrics in Python...
    last_us, freq, money = {}, {}, {}
    for eid, uid, _t, ts, v in rows:
        us = int(ts.timestamp() * 1_000_000)
        last_us[uid] = max(last_us.get(uid, 0), us)
        freq[uid] = freq.get(uid, 0) + 1
        money[uid] = money.get(uid, 0) + round(v * 100)
    corpus = max(last_us.values())
    rec = {u: (corpus - lu) // 86_400_000_000 for u, lu in last_us.items()}
    for u in last_us:
        assert (
            by_user[u]["recency_days"],
            by_user[u]["frequency"],
            by_user[u]["monetary_cents"],
        ) == (rec[u], freq[u], money[u])
    # ...and the tie-pinned ntile orders.
    users = sorted(last_us)
    r_order = sorted(users, key=lambda u: (rec[u], u))
    f_order = sorted(users, key=lambda u: (-freq[u], u))
    m_order = sorted(users, key=lambda u: (-money[u], u))
    want_r = _py_ntile(r_order, 5)
    want_f = _py_ntile(f_order, 5)
    want_m = _py_ntile(m_order, 5)
    for u in users:
        assert by_user[u]["r_tile"] == want_r[u]
        assert by_user[u]["f_tile"] == want_f[u]
        assert by_user[u]["m_tile"] == want_m[u]
        assert (
            by_user[u]["rfm_code"]
            == want_r[u] * 100 + want_f[u] * 10 + want_m[u]
        )


@given(streams=streams_strategy, cut=st.integers(0, 12))
@settings(**SETTINGS)
def test_twap_fold_maintenance_identity_any_split(spark, streams, cut):
    """Ordered-fold member #5: for ANY ascending time split, the folded
    TWAP state presents exactly the one-shot time_weighted_avg (the
    integral telescopes across the batch boundary through the bridge
    segment) — including empty slices and the negative-cents path."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        time_weighted_avg,
        twap_fold_batch,
    )

    rows = event_rows(streams)
    df = mk_events(spark, rows)
    batches = time_slices(df, [cut])
    got = sorted(map(tuple, present_twap_state(fold_rounds(twap_fold_batch, batches)).collect()))
    want = sorted(map(tuple, time_weighted_avg(df).collect()))
    assert got == want
