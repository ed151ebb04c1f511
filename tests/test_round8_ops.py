"""Round-8 model-evaluation metrics (operators/evalmetrics.py):
hand-pinned textbook values plus property tests against pure-Python
references — ties, negative statistics, and degenerate inputs included.
Oracle parity at sf0.001 additionally runs for all five registry
entries in test_oracle_parity.py every pytest run."""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
    derandomize=True,
)


def _scored(spark, rows):
    """rows: (event_id, label, cents) -> the events-shaped frame the
    operators consume (value back in dollars so the cents round-trip
    through half_up_round is exercised)."""
    return spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1) + timedelta(hours=i), 1,
             "purchase" if lab else "view", c / 100.0)
            for i, (lab, c) in enumerate(rows)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )


def _py_auc(rows):
    """Exact midrank AUC in ppm (truncated), ties counting half."""
    pos = sorted(c for lab, c in rows if lab)
    neg = sorted(c for lab, c in rows if not lab)
    if not pos or not neg:
        return None
    wins2 = 0  # doubled: 2 per win, 1 per tie
    for p in pos:
        for q in neg:
            wins2 += 2 if p > q else (1 if p == q else 0)
    return wins2 * 1_000_000 // (2 * len(pos) * len(neg))


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(0, 50)),
        min_size=2,
        max_size=30,
    ).filter(lambda r: any(l for l, _ in r) and any(not l for l, _ in r))
)
@settings(**SETTINGS)
def test_roc_auc_matches_python_reference(spark, rows):
    from etl_pipeline_last_fm_spark.operators.evalmetrics import roc_auc

    got = roc_auc(_scored(spark, rows)).first()
    assert got["n_pos"] == sum(1 for l, _ in rows if l)
    assert got["n_neg"] == sum(1 for l, _ in rows if not l)
    assert got["auc_ppm"] == _py_auc(rows)


def test_roc_auc_pinned_extremes(spark):
    """Perfect separation -> 1e6; inverted -> 0; all tied -> exactly
    500000 (every pos-neg pair counts half)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import roc_auc

    perfect = [(True, 90), (True, 80), (False, 20), (False, 10)]
    assert roc_auc(_scored(spark, perfect)).first()["auc_ppm"] == 1_000_000
    inverted = [(lab, 100 - c) for lab, c in perfect]
    assert roc_auc(_scored(spark, inverted)).first()["auc_ppm"] == 0
    tied = [(True, 42), (True, 42), (False, 42)]
    assert roc_auc(_scored(spark, tied)).first()["auc_ppm"] == 500_000


def _py_kappa(pairs):
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    a1 = sum(1 for a, _ in pairs if a)
    b1 = sum(1 for _, b in pairs if b)
    pe_num = a1 * b1 + (n - a1) * (n - b1)  # / n^2
    den = n * n - pe_num
    if den == 0:
        return None
    num = (agree * n - pe_num) * 1_000_000
    q = abs(num) // den
    return -q if num < 0 else q


@given(
    pairs=st.lists(st.tuples(st.booleans(), st.booleans()), min_size=1,
                   max_size=40)
)
@settings(**SETTINGS)
def test_cohens_kappa_matches_python_reference(spark, pairs):
    from etl_pipeline_last_fm_spark.operators.evalmetrics import cohens_kappa

    df = spark.createDataFrame(pairs, "a boolean, b boolean")
    got = cohens_kappa(df, "a", "b").first()
    n = len(pairs)
    agree = sum(1 for a, b in pairs if a == b)
    assert got["n"] == n and got["n_agree"] == agree
    assert got["po_ppm"] == agree * 1_000_000 // n
    assert got["kappa_ppm"] == _py_kappa(pairs)


def test_cohens_kappa_pinned_cases(spark):
    """Textbook 2x2: po=0.7, pe=0.5 -> kappa=0.4 exactly; perfect
    disagreement on a balanced table -> kappa=-1; both raters constant
    and equal -> NULL (pe=1, chance correction undefined)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import cohens_kappa

    # 10 items: a1=5, b1=5, agree=7 (4 TT, 3 FF, 2 TF, 1 FT)
    pairs = [(True, True)] * 4 + [(False, False)] * 3 + \
        [(True, False)] * 2 + [(False, True)]
    df = spark.createDataFrame(pairs, "a boolean, b boolean")
    got = cohens_kappa(df, "a", "b").first()
    assert got["po_ppm"] == 700_000 and got["pe_ppm"] == 500_000
    assert got["kappa_ppm"] == 400_000
    flip = spark.createDataFrame(
        [(True, False), (False, True)], "a boolean, b boolean"
    )
    assert cohens_kappa(flip, "a", "b").first()["kappa_ppm"] == -1_000_000
    const = spark.createDataFrame([(True, True)] * 3, "a boolean, b boolean")
    assert cohens_kappa(const, "a", "b").first()["kappa_ppm"] is None


def _py_mann_kendall(daily):
    """daily: list of (day, rev) -> (n, c, d, s, tau_ppm, var18)."""
    daily = sorted(daily)
    n = len(daily)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            if daily[j][1] > daily[i][1]:
                c += 1
            elif daily[j][1] < daily[i][1]:
                d += 1
    s = c - d
    tau = None
    if n >= 2:
        q = abs(s) * 2_000_000 // (n * (n - 1))
        tau = -q if s < 0 else q
    from collections import Counter

    tie = sum(
        t * (t - 1) * (2 * t + 5)
        for t in Counter(r for _, r in daily).values()
    )
    return n, c, d, s, tau, n * (n - 1) * (2 * n + 5) - tie


@given(
    revs=st.lists(st.integers(0, 5), min_size=2, max_size=15)
)
@settings(**SETTINGS)
def test_mann_kendall_matches_python_reference(spark, revs):
    """One event per day with a controlled per-day value (small domain
    forces ties); the decreasing construction also exercises negative S
    and the ABS+sign truncation."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import mann_kendall

    ev = spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1) + timedelta(days=i), 1, "view", r / 1.0)
            for i, r in enumerate(revs)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    )
    got = mann_kendall(ev).first()
    n, c, d, s, tau, var18 = _py_mann_kendall(
        [(i, int(r * 100)) for i, r in enumerate(revs)]
    )
    assert (got["n_days"], got["n_concordant"], got["n_discordant"],
            got["s_stat"], got["tau_a_ppm"], got["var_s_x18"]) == (
        n, c, d, s, tau, var18)


def test_calibration_bins_pinned(spark):
    """4 scores over [0, 100] cents in k=2 bins: bin = cents*2 div 101.
    Low bin {10, 50}: mean = 60*1e6 div (2*100) ppm of max; high bin
    {60 (pos), 100 (pos)}: pos_rate 1e6."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins,
    )

    rows = [(False, 10), (False, 50), (True, 60), (True, 100)]
    got = sorted(
        map(tuple, calibration_bins(_scored(spark, rows), k=2).collect())
    )
    assert got == [
        (0, 2, 0, 60 * 1_000_000 // (2 * 100), 0),
        (1, 2, 2, 160 * 1_000_000 // (2 * 100), 1_000_000),
    ]


def test_lift_deciles_matches_global_ntile(spark):
    """The device-cut deciles must equal a plain global ntile cut, and
    lift must be exact: top tile all-positive at a 25% base rate ->
    4x lift (4_000_000 ppm)."""
    from pyspark.sql import Window

    from etl_pipeline_last_fm_spark.operators.evalmetrics import lift_deciles

    # 20 rows, 5 positives holding the top-5 scores -> with k=4 tiles:
    # tile 1 = 5 rows all positive; base rate 5/20.
    rows = [(True, 100 - i) for i in range(5)] + [
        (False, 50 - i) for i in range(15)
    ]
    got = sorted(
        map(tuple, lift_deciles(_scored(spark, rows), k=4).collect())
    )
    assert got[0] == (1, 5, 5, 4_000_000)
    assert [g[0] for g in got] == [1, 2, 3, 4]
    assert all(g[2] == 0 and g[3] == 0 for g in got[1:])
    # cross-check every tile assignment against the plain global window
    naive = (
        _scored(spark, rows)
        .select(
            "event_id",
            F.ntile(4)
            .over(
                Window.orderBy(
                    F.expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").desc(),
                    F.col("event_id").asc(),
                )
            )
            .alias("tile"),
        )
        .groupBy("tile")
        .count()
    )
    want = sorted(map(tuple, naive.collect()))
    assert [(g[0], g[1]) for g in got] == want


def test_lift_deciles_negative_scores(spark):
    """VERDICT r8 #1 caller-level pin: logprob-style ALL-NEGATIVE scores
    must cut correctly through the sign-fixed rank device. Score cents
    land in both old failure windows across the two shapes:
    vmax = -1100 in [-2047, -1024] (was DIVIDE_BY_ZERO) and
    vmax = -2500 <= -2048 (was silently inverted ranks)."""
    from pyspark.sql import Window

    from etl_pipeline_last_fm_spark.operators.evalmetrics import lift_deciles

    for top in (-1100, -2500):
        # 12 rows, descending scores from `top`; 3 positives hold the
        # top-3 scores -> k=4: tile 1 all-positive at 25% base rate.
        rows = [(True, top - i) for i in range(3)] + [
            (False, top - 100 - i) for i in range(9)
        ]
        got = sorted(
            map(tuple, lift_deciles(_scored(spark, rows), k=4).collect())
        )
        assert got[0] == (1, 3, 3, 4_000_000), top
        assert all(g[2] == 0 and g[3] == 0 for g in got[1:]), top
        naive = (
            _scored(spark, rows)
            .select(
                "event_id",
                F.ntile(4)
                .over(
                    Window.orderBy(
                        F.expr(
                            "CAST(FLOOR(value * 100 + 0.5) AS BIGINT)"
                        ).desc(),
                        F.col("event_id").asc(),
                    )
                )
                .alias("tile"),
            )
            .groupBy("tile")
            .count()
        )
        want = sorted(map(tuple, naive.collect()))
        assert [(g[0], g[1]) for g in got] == want, top


def test_calibration_rejects_negative_scores(spark):
    """ADVICE r8: the calibration family normalizes over [0, max], so a
    negative score must FAIL LOUDLY (raise_error through _bin_census)
    instead of silently diverging from the oracle's flooring //."""
    import pytest
    from pyspark.errors import PySparkException

    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins,
        calibration_ece,
        isotonic_calibration,
    )

    rows = [(True, 120), (False, -5), (False, 60)]
    for fn in (calibration_bins, calibration_ece, isotonic_calibration):
        with pytest.raises(PySparkException, match="score cents >= 0"):
            fn(_scored(spark, rows)).collect()
    # non-negative input is untouched by the guard
    ok = [(True, 120), (False, 0), (False, 60)]
    assert calibration_bins(_scored(spark, ok)).count() > 0


def test_streaming_auc_census_fold(spark, tmp_path):
    """The AUC census fold must equal the one-shot roc_auc after ANY
    batching — including replayed batches (guard no-ops) and
    SCRAMBLED batch order (the census is additive and order-free,
    unlike the ordered-fold IVM tier)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import roc_auc
    from etl_pipeline_last_fm_spark.streaming.drift import auc_step, read_auc
    from etl_pipeline_last_fm_spark.streaming.state import fold_batch

    rows = [(i % 3 == 0, (i * 17) % 40) for i in range(30)]
    df = _scored(spark, rows)
    slices = [
        df.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    want = tuple(roc_auc(df).first())

    path = str(tmp_path / "auc")
    # scrambled delivery: slice 2 as batch 0, slice 0 as 1, slice 1 as 2
    fold_batch(slices[2], 0, path, auc_step())
    fold_batch(slices[2], 0, path, auc_step())  # replay no-ops
    fold_batch(slices[0], 1, path, auc_step())
    fold_batch(slices[1], 2, path, auc_step())
    fold_batch(slices[1], 2, path, auc_step())  # replay no-ops
    assert tuple(read_auc(spark, path).first()) == want


def test_calibration_ece_pinned_and_reference(spark):
    """ECE with common denominator n*vmax: rows (False,10),(False,50),
    (True,60),(True,100), k=2 -> bins {10,50} gap |0*100-60|=60 and
    {60,100} gap |2*100-160|=40 -> ece = (60+40)*1e6 div (4*100);
    mce = max(60*1e6 div 200, 40*1e6 div 200)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_ece,
    )

    rows = [(False, 10), (False, 50), (True, 60), (True, 100)]
    got = calibration_ece(_scored(spark, rows), k=2).first()
    assert got["n"] == 4
    assert got["ece_ppm"] == 100 * 1_000_000 // 400
    assert got["mce_ppm"] == 60 * 1_000_000 // 200


def _py_pr_curve(rows):
    """Exact PR points per distinct threshold, descending."""
    from collections import Counter

    cnt_pos = Counter(c for lab, c in rows if lab)
    cnt_all = Counter(c for _, c in rows)
    total_pos = sum(cnt_pos.values())
    out, n_pred, n_tp = [], 0, 0
    for v in sorted(cnt_all, reverse=True):
        n_pred += cnt_all[v]
        n_tp += cnt_pos.get(v, 0)
        out.append((v, n_pred, n_tp,
                    n_tp * 1_000_000 // n_pred,
                    n_tp * 1_000_000 // total_pos))
    return out


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(0, 20)),
        min_size=2,
        max_size=30,
    ).filter(lambda r: any(l for l, _ in r))
)
@settings(**SETTINGS)
def test_pr_curve_matches_python_reference(spark, rows):
    from etl_pipeline_last_fm_spark.operators.evalmetrics import pr_curve

    got = [tuple(r) for r in pr_curve(_scored(spark, rows)).collect()]
    assert got == _py_pr_curve(rows)


def _py_pav_bins(rows, k=20):
    """Pure-Python reference: bin like the operator, then stack PAV.
    Returns [(bin, n, p, raw_ppm, iso_ppm)] ascending."""
    cents = [(lab, c) for lab, c in rows]
    vmax = max(c for _, c in cents)
    per = {}
    for lab, c in cents:
        b = c * k // (vmax + 1)
        n, p = per.get(b, (0, 0))
        per[b] = (n + 1, p + (1 if lab else 0))
    bins = sorted(per)
    blocks = []
    for b in bins:
        n, p = per[b]
        blocks.append([b, b, n, p])
        while len(blocks) >= 2 and \
                blocks[-1][3] * blocks[-2][2] <= blocks[-2][3] * blocks[-1][2]:
            _lo, hi, n2, p2 = blocks.pop()
            blocks[-1][1] = hi
            blocks[-1][2] += n2
            blocks[-1][3] += p2
    out = []
    for b in bins:
        n, p = per[b]
        for lo, hi, pn, pp in blocks:
            if lo <= b <= hi:
                out.append((b, n, p, p * 1_000_000 // n,
                            pp * 1_000_000 // pn))
    return out


@given(
    rows=st.lists(
        st.tuples(st.booleans(), st.integers(0, 60)),
        min_size=1,
        max_size=40,
    )
)
@settings(**SETTINGS)
def test_isotonic_calibration_matches_python_pav(spark, rows):
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        isotonic_calibration,
    )

    got = [tuple(r) for r in
           isotonic_calibration(_scored(spark, rows)).collect()]
    assert got == _py_pav_bins(rows)
    # the defining property: fitted rates are non-decreasing in bin
    iso = [g[4] for g in got]
    assert iso == sorted(iso)


def test_isotonic_calibration_worst_cases(spark):
    """All-decreasing rates pool into ONE block (the longest possible
    cascade — exercises the padded inner fold end to end); an already
    monotone input is returned unchanged (iso == raw)."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        isotonic_calibration,
    )

    # decreasing: bin rates 1.0, then 0 everywhere -> global pool
    dec = [(True, 1), (True, 2)] + [(False, c) for c in range(10, 60)]
    got = isotonic_calibration(_scored(spark, dec), k=10).collect()
    iso = {r["bin"]: r["iso_rate_ppm"] for r in got}
    assert len(set(iso.values())) == 1  # one pooled rate everywhere
    assert set(iso.values()) == {2 * 1_000_000 // 52}
    # already isotonic: low bin all-neg, high bin all-pos
    mono = [(False, 1), (False, 2), (True, 50), (True, 59)]
    got = isotonic_calibration(_scored(spark, mono), k=2).collect()
    for r in got:
        assert r["iso_rate_ppm"] == r["raw_rate_ppm"]


def test_degenerate_inputs_yield_nulls_on_both_engines(spark):
    """One-class / all-zero / single-day / empty inputs must produce
    explicit NULLs (never a crash, and never a Spark-NULL-vs-DuckDB-
    error divergence): run each operator AND its oracle side by side on
    the degenerate frame and compare."""
    import duckdb

    from etl_pipeline_last_fm_spark.operators.evalmetrics import (
        calibration_bins,
        calibration_ece,
        cohens_kappa,
        lift_deciles,
        mann_kendall,
        roc_auc,
    )
    from grading.evalmetrics import (
        calibration_bins_oracle_sql,
        calibration_ece_oracle_sql,
        cohens_kappa_oracle_sql,
        lift_deciles_oracle_sql,
        mann_kendall_oracle_sql,
        roc_auc_oracle_sql,
    )

    def both(df, op, sql):
        got = sorted(
            tuple(None if v is None else v for v in r)
            for r in op(df).collect()
        )
        con = duckdb.connect()
        con.register("events_arrow", df.toPandas())
        con.execute("CREATE VIEW events AS SELECT * FROM events_arrow")
        want = sorted(map(tuple, con.execute(sql).fetchall()))
        con.close()
        assert got == want, (got, want)
        return got

    # one-class: every event positive -> AUC NULL, lift NULL
    one_class = _scored(spark, [(True, 10), (True, 20), (True, 30)])
    got = both(one_class, roc_auc, roc_auc_oracle_sql())
    assert got[0][2] is None
    all_neg = _scored(spark, [(False, 10), (False, 20)])
    got = both(all_neg, lift_deciles, lift_deciles_oracle_sql())
    assert all(r[3] is None for r in got)
    # all-zero scores -> normalized mean / ECE / MCE NULL
    zeros = _scored(spark, [(True, 0), (False, 0), (False, 0)])
    got = both(zeros, calibration_bins, calibration_bins_oracle_sql())
    assert all(r[3] is None for r in got)
    got = both(zeros, calibration_ece, calibration_ece_oracle_sql())
    assert got[0][1] is None and got[0][2] is None
    # all-negative corpus -> precision defined, recall NULL
    from etl_pipeline_last_fm_spark.operators.evalmetrics import pr_curve
    from grading.evalmetrics import pr_curve_oracle_sql

    got = both(all_neg, pr_curve, pr_curve_oracle_sql())
    assert all(r[3] == 0 and r[4] is None for r in got)
    # single-day input -> ZERO pairs (not NULL counts), tau NULL
    one_day = _scored(spark, [(True, 10)])
    got = both(one_day, mann_kendall, mann_kendall_oracle_sql())
    assert got[0][:4] == (1, 0, 0, 0) and got[0][4] is None
    # empty rater table -> NULL ratios
    empty = spark.createDataFrame([], "a boolean, b boolean")
    res = cohens_kappa(empty, "a", "b").first()
    assert (res["n"], res["po_ppm"], res["pe_ppm"], res["kappa_ppm"]) == (
        0, None, None, None)
    con = duckdb.connect()
    con.execute("CREATE TABLE documents(a boolean, b boolean)")
    want = con.execute(cohens_kappa_oracle_sql("a", "b")).fetchall()
    con.close()
    assert want[0][2] is None and want[0][4] is None
