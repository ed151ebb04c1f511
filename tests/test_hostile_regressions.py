"""Fast unit pins for the round-9 hostile-parity sweep findings.

The full sweep (scripts/hostile_parity.py, three variants x 205 oracle
pairs) is the per-round artifact; these are its second-scale distillates
— tiny in-memory frames exercising each fixed operator-level behavior so
a regression fails in pytest before the next sweep run.
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import cents


def test_cent_sum_is_partitioning_invariant(spark):
    """The float-sum finding: SUM over cents must be identical for any
    partitioning/order of the same rows. The values are chosen so the
    FLOAT sum sits exactly on a .xx5 rounding boundary where a one-ulp
    reordering artifact flips the rounded cent."""
    vals = [0.1] * 7 + [0.005] + [123.455]  # float-sum lands near .xx5
    df = spark.createDataFrame([(v,) for v in vals], "value double")
    sums = set()
    for n_parts in (1, 3, 9):
        row = (
            df.repartition(n_parts)
            .agg((F.sum(cents("value")).cast("double") / F.lit(100.0)).alias("s"))
            .collect()[0]
        )
        sums.add(row["s"])
    assert len(sums) == 1


def test_salted_avg_skips_nulls_like_sql_avg(spark):
    """salted_aggregate's avg must use COUNT(col), not COUNT(*): SQL AVG
    skips NULLs in both legs."""
    from etl_pipeline_last_fm_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [("a", 2.0), ("a", None), ("a", 4.0)], "k string, v double"
    )
    out = salted_aggregate(df, ["k"], {"m": ("avg", "v")}, buckets=4).collect()
    assert out[0]["m"] == pytest.approx(3.0)


def test_bloom_ledger_counts_null_group(spark):
    """bloom_prune_join_stats: the NULL group's true-match count survives
    (the old two-aggregate re-join on the nullable group key zeroed it:
    join NULL != NULL, groupBy NULL = a group)."""
    from etl_pipeline_last_fm_spark.operators.bloom import bloom_prune_join_stats

    fact = spark.createDataFrame(
        [(1, None), (2, None), (1, "g")], "fk long, grp string"
    )
    dim = spark.createDataFrame([(1,)], "dk long")
    rows = {
        r["grp"]: (r["n_bloom_pass"], r["n_true_match"])
        for r in bloom_prune_join_stats(fact, "fk", dim, "dk", "grp").collect()
    }
    # fk=2 may or may not bloom-pass (false positive), but fk=1 must
    # truly match in BOTH the NULL group and the 'g' group.
    assert rows[None][1] == 1
    assert rows["g"] == (1, 1)


def test_minhash_null_texts_pair_with_nothing(spark):
    """NULL-text docs share the identical all-NULL signature; left in,
    they emit a quadratic blob of bogus 'pairs'."""
    from etl_pipeline_last_fm_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(1, None), (2, None), (3, None), (4, "a b c d e f g h")],
        "doc_id long, text string",
    )
    assert minhash_lsh_pairs(docs).count() == 0


def test_skyline_excludes_null_coordinates(spark):
    """A point with a NULL coordinate is incomparable — never in the
    frontier, never a dominator."""
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_2d

    pts = spark.createDataFrame(
        [(1, 10, 10), (2, None, 99), (3, 5, None), (4, 5, 20)],
        "id long, cost int, gain int",
    )
    ids = {r["id"] for r in skyline_2d(pts, "id", "cost", "gain").collect()}
    assert ids == {4}  # (5, 20) dominates (10, 10); NULL rows excluded


def test_fold_batch_state_drops_null_observations(spark):
    """The ordered-fold scaffold's batch state excludes NULL value/key/ts
    rows — a NULL would poison the fold accumulator into NaN."""
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    t0 = datetime(2024, 1, 1)
    batch = spark.createDataFrame(
        [
            (1, t0, 2.0, 10),
            (1, datetime(2024, 1, 2), None, 11),
            (None, datetime(2024, 1, 3), 4.0, 12),
        ],
        "user_id long, ts timestamp, value double, event_id long",
    )
    out = ema_fold_batch(None, batch).collect()
    assert len(out) == 1
    r = out[0]
    # one observation (2.00 -> fold (0+200) div 2 = 100 cents), not NaN
    assert (r["key"], r["n_events"], r["ema_cents"]) == (1, 1, 100)


def test_shipmode_null_priority_counts_as_low(spark, tmp_path):
    """COALESCE pins the TPC-H Q12 CASE..ELSE convention: a late line on
    an order of UNKNOWN (NULL) priority is "other", not dropped. The
    benign testdata has no NULL priorities, so this builds its own tiny
    tables with one — the counter assertions must actually exercise the
    COALESCE (ADVICE r9)."""
    from grading.warehouse import q_shipmode_priority

    t_order = datetime(1996, 1, 1)
    t_late = datetime(1996, 6, 1)  # > 60 days after the order date
    orders = spark.createDataFrame(
        [(1, t_order, None), (2, t_order, "1-URGENT"), (3, t_order, "5-LOW")],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    li = spark.createDataFrame(
        [(1, t_late, "O"), (2, t_late, "O"), (3, t_late, "O")],
        "l_orderkey long, l_shipdate timestamp, l_linestatus string",
    )
    orders.write.parquet(str(tmp_path / "orders.parquet"))
    li.write.parquet(str(tmp_path / "lineitem.parquet"))
    out = q_shipmode_priority(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # urgent -> high; 5-LOW and the NULL priority both -> low
    assert (r["high_line_count"], r["low_line_count"]) == (1, 2)
