"""Incremental aggregate maintenance: split-invariance and associativity.

The module contract — present(merge(state(A), state(B))) equals
present(state(A ∪ B)) for ANY split — is exactly what makes late data and
backfill safe without history recompute.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_state,
    merge_states,
    present,
)
from etl_pipeline_last_fm_spark.sources.tables import load_table

KEYS = ["event_type"]


def _mart(df):
    return sorted(map(tuple, present(additive_state(df, KEYS, "value"), KEYS).collect()))


def test_merge_equals_full_rebuild_for_arbitrary_splits(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    full = _mart(ev)
    for frac in (2, 3, 7):
        parts = [
            additive_state(
                ev.filter(F.pmod(F.col("event_id"), F.lit(frac)) == i), KEYS, "value"
            )
            for i in range(frac)
        ]
        got = sorted(map(tuple, present(merge_states(parts, KEYS), KEYS).collect()))
        assert got == full, frac


def test_merge_is_associative(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = additive_state(ev.filter(F.pmod("event_id", F.lit(3)) == 0), KEYS, "value")
    b = additive_state(ev.filter(F.pmod("event_id", F.lit(3)) == 1), KEYS, "value")
    c = additive_state(ev.filter(F.pmod("event_id", F.lit(3)) == 2), KEYS, "value")
    left = merge_states([merge_states([a, b], KEYS), c], KEYS)
    right = merge_states([a, merge_states([b, c], KEYS)], KEYS)
    rows = lambda s: sorted(map(tuple, present(s, KEYS).collect()))
    assert rows(left) == rows(right)


def test_avg_maintained_as_sum_count_not_avg_of_avgs(spark):
    """Skewed split sizes: groupwise avg-of-avgs would be wrong; the
    (sum, count) state must give the true mean."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": range(10),
                "event_type": ["a"] * 10,
                "value": [float(100)] + [0.0] * 9,
            }
        )
    )
    # Split: 1 heavy row vs 9 zeros — avg-of-avgs would be 50.
    s1 = additive_state(df.filter("event_id = 0"), KEYS, "value")
    s2 = additive_state(df.filter("event_id > 0"), KEYS, "value")
    got = present(merge_states([s1, s2], KEYS), KEYS).collect()[0]
    assert got["value_avg"] == 10.0
    assert got["n_rows"] == 10


def test_streaming_mart_equals_batch_rebuild(spark, sf_dir, tmp_path):
    from etl_pipeline_last_fm_spark.operators.incremental import (
        additive_state,
        mart_step,
        present,
    )
    from etl_pipeline_last_fm_spark.sources.tables import load_table
    from etl_pipeline_last_fm_spark.streaming.state import maintain, read_state

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    src = str(tmp_path / "ev_files")
    ev.repartition(3).write.parquet(src)

    state = str(tmp_path / "mart_state")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        maintain(
            stream, state, mart_step(keys=["event_type"], value_col="value"),
            checkpoint=str(tmp_path / "ck"),
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        map(tuple, present(read_state(spark, state), ["event_type"]).collect())
    )
    want = sorted(
        map(
            tuple,
            present(additive_state(ev, ["event_type"], "value"), ["event_type"]).collect(),
        )
    )
    assert got == want
