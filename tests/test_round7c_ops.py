"""Round-7c operators, each pinned against an independent reference:

- holt_linear == a pure-Python (level, trend) walk with truncating
  division (the recurrence the engines fold in codegen / recursive CTE)
- holt_fold: the maintenance identity holds for ANY ascending time split
  (hypothesis), and the streaming twin rides the single-state
  versioned-commit protocol (identity, replay no-op, raise without
  commit); the batch fold's out-of-order raise is one case of
  test_round6_ops::test_ordered_fold_raises_on_out_of_order_batch
- durbin_watson == the pure-Python integer closed form
- clustering_coefficients == hand-computed values on a known graph
- skyline_2d == the brute-force dominance definition, for EVERY bucket
  width (width is parallelism, never semantics)
"""

from __future__ import annotations

from datetime import datetime

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tests.event_streams import event_rows, mk_events, time_slices

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

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
    q = abs(a) // abs(b)
    return -q if (a < 0) != (b < 0) else q


def _py_holt(rows):
    out = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        lvl = trd = 0
        for e in evs:
            v = round(e[4] * 100)
            l2 = _trunc_div(lvl + trd + v, 2)
            t2 = _trunc_div(l2 - lvl + trd, 2)
            lvl, trd = l2, t2
        out[uid] = (len(evs), lvl, trd, lvl + trd)
    return out


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_holt_linear_matches_python_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.timeseries import holt_linear

    rows = event_rows(streams)
    got = {
        r["user_id"]: (
            r["n_events"], r["level_cents"], r["trend_cents"],
            r["forecast_cents"],
        )
        for r in holt_linear(mk_events(spark, rows)).collect()
    }
    assert got == _py_holt(rows)


@given(streams=streams_strategy, cut=st.integers(0, 12))
@settings(**SETTINGS)
def test_holt_fold_maintenance_identity_any_split(spark, streams, cut):
    """Ordered-fold member #6: for ANY ascending time split, the folded
    (level, trend) state presents exactly the one-shot holt_linear —
    including empty slices and the negative-cents path."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        holt_fold_batch,
        holt_linear,
        present_holt_state,
    )

    rows = event_rows(streams)
    df = mk_events(spark, rows)
    batches = time_slices(df, [cut])
    got = sorted(map(tuple, present_holt_state(fold_rounds(holt_fold_batch, batches)).collect()))
    want = sorted(map(tuple, holt_linear(df).collect()))
    assert got == want


def _ev(spark, rows):
    """rows: (user_id, event_id, day, value)."""
    return spark.createDataFrame(
        [(u, e, f"2024-01-{d:02d}", v) for u, e, d, v in rows],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _holt_slices(spark):
    s0 = _ev(spark, [(1, 10, 1, 4.00), (1, 11, 2, 8.00), (2, 20, 3, 6.00)])
    s1 = _ev(spark, [(1, 12, 11, 2.00)])
    s2 = _ev(spark, [(1, 13, 21, 10.00), (2, 21, 22, 2.00), (3, 30, 23, 5.00)])
    return [s0, s1, s2]


def _want_holt(spark, slices):
    from etl_pipeline_last_fm_spark.operators.timeseries import holt_linear

    union = slices[0]
    for s in slices[1:]:
        union = union.unionByName(s)
    return sorted(map(tuple, holt_linear(union).collect()))


def test_holt_stream_fold_identity_replay_and_out_of_order(spark, tmp_path):
    """The Holt twin under the single-state versioned-commit protocol:
    folded state == the one-shot; replays no-op (the recurrence is NOT
    idempotent); an out-of-order batch raises WITHOUT committing, and a
    corrected batch then lands on the pre-violation state."""
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        holt_fold_batch,
        present_holt_state,
    )
    from etl_pipeline_last_fm_spark.streaming.state import (
        fold_batch,
        read_state,
    )

    path = str(tmp_path / "holt")
    slices = _holt_slices(spark)
    fold_batch(slices[0], 0, path, holt_fold_batch)
    fold_batch(slices[0], 0, path, holt_fold_batch)  # replay
    stale = _ev(spark, [(1, 9, 1, 99.0)])
    with pytest.raises(Exception, match="out-of-order"):
        fold_batch(stale, 1, path, holt_fold_batch)
    fold_batch(slices[1], 1, path, holt_fold_batch)  # corrected batch, same bid
    fold_batch(slices[1].limit(0), 2, path, holt_fold_batch)  # empty advances
    fold_batch(slices[2], 3, path, holt_fold_batch)
    fold_batch(slices[2], 3, path, holt_fold_batch)  # replay
    got = sorted(
        map(tuple, present_holt_state(read_state(spark, path)).collect())
    )
    assert got == _want_holt(spark, slices)


def _py_dw(rows):
    out = {}
    for uid in {r[1] for r in rows}:
        evs = sorted((r for r in rows if r[1] == uid), key=lambda r: (r[3], r[0]))
        y = [round(e[4] * 100) for e in evs]
        n = len(y)
        sd2 = sum((y[i] - y[i - 1]) ** 2 for i in range(1, n))
        den = n * sum(v * v for v in y) - sum(y) ** 2
        dw = _trunc_div(n * sd2 * 1_000_000, den) if den != 0 else None
        out[uid] = (n, dw)
    return out


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_durbin_watson_matches_python_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.timeseries import durbin_watson

    rows = event_rows(streams)
    got = {
        r["user_id"]: (r["n_events"], r["dw_ppm"])
        for r in durbin_watson(mk_events(spark, rows)).collect()
    }
    assert got == _py_dw(rows)


def test_clustering_coefficients_hand_graph(spark):
    """Triangle {1,2,3} plus the tail 3-4-5: lcc(1)=lcc(2)=1, lcc(3)=1/3
    (one closed pair of three), lcc(4)=0, node 5 (degree 1) not emitted."""
    from etl_pipeline_last_fm_spark.operators.graph import (
        clustering_coefficients,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], "a long, b long"
    )
    got = {
        r["node"]: (r["degree"], r["triangles"], r["lcc_ppm"])
        for r in clustering_coefficients(edges).collect()
    }
    assert got == {
        1: (2, 1, 1_000_000),
        2: (2, 1, 1_000_000),
        3: (3, 1, 333_333),
        4: (2, 0, 0),
    }


points_strategy = st.lists(
    st.tuples(st.integers(0, 40), st.integers(0, 40)),
    min_size=1,
    max_size=30,
)


def _py_skyline(pts):
    keep = []
    for pid, c, g in pts:
        dominated = any(
            qc <= c and qg >= g and (qc < c or qg > g) for _q, qc, qg in pts
        )
        if not dominated:
            keep.append((pid, c, g))
    return sorted(keep)


@given(points=points_strategy, width=st.sampled_from([1, 3, 7, 1000]))
@settings(**SETTINGS)
def test_skyline_matches_bruteforce_for_every_bucket_width(
    spark, points, width
):
    """skyline_2d == the dominance definition, for every bucket width —
    width tunes parallelism, never the frontier. Duplicate (cost, gain)
    points survive together (neither strictly dominates)."""
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_2d

    pts = [(i, c, g) for i, (c, g) in enumerate(points)]
    df = spark.createDataFrame(pts, "id long, cost long, gain long")
    got = sorted(
        map(tuple, skyline_2d(df, "id", "cost", "gain",
                              bucket_width=width).collect())
    )
    assert got == _py_skyline(pts)


def _py_km(rows, censor_days=7):
    """Pure-Python KM reference: lifetimes in whole days, churn if the
    last event is > censor_days before the corpus frontier, truncating
    integer ppm product."""
    per = {}
    for _eid, uid, _t, ts, _v in rows:
        us = int(ts.timestamp() * 1_000_000)
        lo, hi = per.get(uid, (us, us))
        per[uid] = (min(lo, us), max(hi, us))
    frontier = max(hi for _lo, hi in per.values())
    day = 86_400_000_000
    lifet = [
        ((hi - lo) // day, (frontier - hi) > censor_days * day)
        for lo, hi in per.values()
    ]
    days = sorted({t for t, _ in lifet})
    out, s, left = {}, 1_000_000, len(lifet)
    for t in days:
        d = sum(1 for tt, ch in lifet if tt == t and ch)
        c = sum(1 for tt, ch in lifet if tt == t and not ch)
        n = left
        s = (s * (n - d)) // n  # all terms non-negative: // == trunc
        out[t] = (n, d, c, s)
        left -= d + c
    return out


@given(streams=streams_strategy)
@settings(**SETTINGS)
def test_km_survival_matches_python_reference(spark, streams):
    from etl_pipeline_last_fm_spark.operators.survival import km_survival

    rows = event_rows(streams)
    got = {
        r["t_day"]: (r["n_risk"], r["n_churned"], r["n_censored"],
                     r["survival_ppm"])
        for r in km_survival(mk_events(spark, rows), censor_days=0).collect()
    }
    # censor_days=0: anyone not ending AT the frontier churns — the
    # densest churn pattern the minute-scale streams can produce.
    assert got == _py_km(rows, censor_days=0)


def test_km_survival_textbook_example(spark):
    """Hand-checked: 4 users with lifetimes 0,0,1,2 days; frontier user
    censored. Day 0: n=4 d=1 c=1 (one churned, one zero-lifetime user
    whose last event IS the frontier day... pinned numerically below)."""
    from etl_pipeline_last_fm_spark.operators.survival import km_survival

    rows = [
        # user 1: one event day 1 (lifetime 0, churned: 9 days before max)
        (1, 1, "e", datetime(2024, 1, 1), 1.0),
        # user 2: days 1-2 (lifetime 1, churned)
        (2, 2, "e", datetime(2024, 1, 1), 1.0),
        (3, 2, "e", datetime(2024, 1, 2), 1.0),
        # user 3: days 1-3 (lifetime 2, churned)
        (4, 3, "e", datetime(2024, 1, 1), 1.0),
        (5, 3, "e", datetime(2024, 1, 3), 1.0),
        # user 4: one event at the frontier (lifetime 0, censored)
        (6, 4, "e", datetime(2024, 1, 10), 1.0),
    ]
    got = sorted(
        map(tuple, km_survival(mk_events(spark, rows),
                               censor_days=5).collect())
    )
    # day 0: n=4, d=1 (user1), c=1 (user4) -> s = 1e6*3//4 = 750000
    # day 1: n=2, d=1 (user2)            -> s = 750000*1//2 = 375000
    # day 2: n=1, d=1 (user3)            -> s = 0
    assert got == [(0, 4, 1, 1, 750_000), (1, 2, 1, 0, 375_000),
                   (2, 1, 1, 0, 0)]


def test_oracle_builders_escape_quoted_terms():
    """ADVICE r7: a query term / group name containing a single quote
    must still yield parseable oracle SQL (DuckDB PREPARE = parse+bind
    without executing against real tables)."""
    import duckdb

    from grading.evalmetrics import rank_sum_test_oracle_sql
    from grading.text import bm25_topk_oracle_sql

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.execute(
        "CREATE TABLE events(event_type VARCHAR, value DOUBLE)"
    )
    sql = bm25_topk_oracle_sql(("rock'n'roll", "plain"), k=5)
    assert "'rock''n''roll'" in sql
    con.execute(sql)  # parses and runs on the empty table
    sql = rank_sum_test_oracle_sql("o'clock", "b")
    assert "'o''clock'" in sql
    con.execute(sql)
    con.close()


def test_km_step_exact_beyond_double_precision(spark):
    """ADVICE r7 (survival.py): the KM step must be exact past 2^53.
    Each triple below makes Spark's old long·long→double `/` path return
    q−1 (verified by simulating Divide(cast double) with np.float64);
    the decimal(38,0) mod-subtract-divide step must return the true
    truncating quotient s·(n−d) // n."""
    from etl_pipeline_last_fm_spark.operators.survival import _km_step

    triples = [
        (372_156, 3_458_456_438_978, 0),
        (494_982, 609_879_827_108, 0),
        (900_235, 6_445_554_632_066, 0),
        (1_000_000, 9_200_000_000_033, 7),  # near the long-product edge
        (1, 3, 1),  # tiny sanity: 1*2//3 == 0
    ]
    df = spark.createDataFrame(triples, "s long, n long, d long")
    got = [
        r["q"]
        for r in df.select(
            _km_step(F.col("s"), F.col("n"), F.col("d")).alias("q")
        ).collect()
    ]
    assert got == [s * (n - d) // n for s, n, d in triples]


def _py_gini(vals):
    xs = sorted(vals)
    n = len(xs)
    sx = sum(xs)
    if n * sx == 0:
        return None
    six = sum((i + 1) * x for i, x in enumerate(xs))
    num = (2 * six - (n + 1) * sx) * 1_000_000
    den = n * sx
    q = abs(num) // den
    return -q if num < 0 else q


@given(vals=st.lists(st.integers(0, 10_000), min_size=1, max_size=20))
@settings(**SETTINGS)
def test_gini_closed_form_matches_python(spark, vals):
    """The registered query's rank closed form, checked on a synthetic
    single-nation table against the python reference (equal values tie-
    pinned by key never change Σ i·x when the values are equal)."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "k long, x long"
    )
    w = Window.orderBy(F.col("x").asc(), F.col("k").asc())
    ranked = df.select("x", F.row_number().over(w).cast("long").alias("i"))
    [r] = (
        ranked.agg(
            F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum((F.col("i") * F.col("x")).cast("decimal(38,0)")).alias("six"),
        )
        .select(
            F.expr(
                "CAST((2 * six - (n + 1) * sx) * 1000000"
                " div NULLIF(n * sx, 0) AS BIGINT)"
            ).alias("g")
        )
        .collect()
    )
    assert r["g"] == _py_gini(vals)


@given(docs=st.lists(st.lists(st.integers(0, 4), min_size=1, max_size=12),
                     min_size=1, max_size=6))
@settings(**SETTINGS)
def test_zipf_fit_matches_python_reference(spark, docs):
    import math

    from etl_pipeline_last_fm_spark.operators.text import zipf_fit

    words = ["aa", "bb", "cc", "dd", "ee"]
    rows = [(i, " ".join(words[j] for j in idxs))
            for i, idxs in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    [r] = zipf_fit(df).collect()
    counts = {}
    for _i, t in rows:
        for w in t.split(" "):
            counts[w] = counts.get(w, 0) + 1
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    pts = [
        (math.floor(math.log(i + 1) * 1_000_000.0),
         math.floor(math.log(c) * 1_000_000.0))
        for i, (_w, c) in enumerate(ranked)
    ]
    n = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    den = n * sxx - sx * sx
    want = _trunc_div((n * sxy - sx * sy) * 1_000_000, den) if den else None
    assert (r["n_types"], r["n_tokens"], r["zipf_slope_ppm"]) == (
        n, sum(counts.values()), want,
    )


@given(docs=st.lists(st.lists(st.integers(0, 4), min_size=1, max_size=12),
                     min_size=2, max_size=8))
@settings(**SETTINGS)
def test_bm25_matches_python_reference(spark, docs):
    import math

    from etl_pipeline_last_fm_spark.operators.text import bm25_topk

    words = ["aa", "bb", "cc", "dd", "ee"]
    rows = [(i, " ".join(words[j] for j in idxs))
            for i, idxs in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    terms = ("aa", "cc")
    got = [
        (r["doc_id"], r["n_terms_matched"], r["bm25_micro"])
        for r in bm25_topk(df, terms, k=100).collect()
    ]
    # python reference: same cleared-denominator integer arithmetic
    dl = {i: len(t.split(" ")) for i, t in rows}
    n, total = len(rows), sum(dl.values())
    tf = {}
    for i, t in rows:
        for w in t.split(" "):
            if w in terms:
                tf[(i, w)] = tf.get((i, w), 0) + 1
    dfc = {}
    for (i, w) in tf:
        dfc[w] = dfc.get(w, 0) + 1
    idf = {w: math.floor(math.log((n - c + 0.5) / (c + 0.5) + 1.0)
                         * 1_000_000.0) for w, c in dfc.items()}
    scores = {}
    for (i, w), f in tf.items():
        num = idf[w] * 44 * f * total
        den = 20 * total * f + 6 * total + 18 * dl[i] * n
        s = _trunc_div(num, den)
        cnt, tot = scores.get(i, (0, 0))
        scores[i] = (cnt + 1, tot + s)
    want = sorted(
        ((i, c, s) for i, (c, s) in scores.items()),
        key=lambda x: (-x[2], x[0]),
    )
    assert got == want


@given(points=points_strategy,
       assign=st.lists(st.integers(0, 2), min_size=1, max_size=30),
       width=st.sampled_from([1, 7, 1000]))
@settings(**SETTINGS)
def test_skyline_fold_identity_any_partition(spark, points, assign, width):
    """The frontier-maintenance identity skyline(A∪B) =
    skyline(skyline(A)∪B): folding ANY 3-way partition of the points,
    in the given order, equals the one-shot skyline — at every bucket
    width (the identity is set-algebraic, no delivery contract)."""
    from etl_pipeline_last_fm_spark.operators.rounds import fold_rounds
    from etl_pipeline_last_fm_spark.operators.skyline import (
        skyline_2d,
        skyline_step,
    )

    pts = [(i, c, g) for i, (c, g) in enumerate(points)]
    df = spark.createDataFrame(pts, "id long, cost long, gain long")
    batches = [
        df.filter(F.pmod(F.col("id"), F.lit(3)) == i) for i in range(3)
    ]
    got = sorted(map(tuple, fold_rounds(skyline_step(
        "id", "cost", "gain", bucket_width=width
    ), batches).collect()))
    want = sorted(map(tuple, skyline_2d(
        df, "id", "cost", "gain", bucket_width=width
    ).collect()))
    assert got == want


def test_skyline_stream_fold_identity_replay_and_commutativity(
    spark, tmp_path
):
    """The frontier twin under the single-state protocol: maintained
    frontier == the one-shot skyline; replays no-op; and — unique to
    this member — ANY batch order yields the same frontier (the fold is
    commutative set algebra, no delivery contract)."""
    from etl_pipeline_last_fm_spark.operators.skyline import (
        skyline_2d,
        skyline_step,
    )
    from etl_pipeline_last_fm_spark.streaming.state import (
        fold_batch,
        read_state,
    )

    pts = [(i, (i * 37) % 50, (i * 23) % 40) for i in range(60)]
    df = spark.createDataFrame(pts, "id long, cost long, gain long")
    slices = [
        df.filter(F.pmod(F.col("id"), F.lit(3)) == i) for i in range(3)
    ]
    want = sorted(
        map(tuple, skyline_2d(df, "id", "cost", "gain", 7).collect())
    )
    step = skyline_step("id", "cost", "gain", 7)
    for order, sub in (((0, 1, 2), "fwd"), ((2, 0, 1), "scrambled")):
        path = str(tmp_path / f"sky_{sub}")
        for bid, s in enumerate(order):
            fold_batch(slices[s], bid, path, step)
            if bid == 1:  # replay mid-sequence must no-op
                fold_batch(slices[s], bid, path, step)
        got = sorted(
            map(tuple, read_state(spark, path).collect())
        )
        assert got == want, sub


@given(a=st.lists(st.integers(-20, 20), min_size=1, max_size=15),
       b=st.lists(st.integers(-20, 20), min_size=1, max_size=15))
@settings(**SETTINGS)
def test_rank_sum_matches_python_reference(spark, a, b):
    """Mann–Whitney with doubled midranks == a pure-Python rank walk,
    including heavy ties and the identity u2_a + u2_b == 2·n_a·n_b."""
    from etl_pipeline_last_fm_spark.operators.timeseries import rank_sum_test

    rows = [(i, 0, "purchase", datetime(2024, 1, 1), v / 100.0)
            for i, v in enumerate(a)]
    rows += [(len(a) + i, 0, "view", datetime(2024, 1, 1), v / 100.0)
             for i, v in enumerate(b)]
    df = mk_events(spark, rows)
    [r] = rank_sum_test(df, "purchase", "view").collect()
    # python reference: sum of doubled midranks of group a
    allv = sorted(a + b)
    first = {}
    for i, v in enumerate(allv):
        first.setdefault(v, i + 1)
    def mr2(v):
        lo = first[v]
        hi = lo + allv.count(v) - 1
        return lo + hi  # 2 * midrank
    r2a = sum(mr2(v) for v in a)
    na, nb = len(a), len(b)
    u2a = r2a - na * (na + 1)
    assert (r["n_a"], r["n_b"], r["u2_a"], r["u2_b"]) == (
        na, nb, u2a, 2 * na * nb - u2a,
    )
