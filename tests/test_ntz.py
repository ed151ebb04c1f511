"""TIMESTAMP vs TIMESTAMP_NTZ regression guard.

Round-2 breakage: the testdata parquet was regenerated without the
``isAdjustedToUTC`` flag, Spark 4.x inferred ``TIMESTAMP_NTZ``, and every
raw ``unix_micros(ts)`` call site threw DATATYPE_MISMATCH. This test writes
the SAME events fixture in both parquet flavors (tz-naive -> TIMESTAMP_NTZ,
UTC-aware -> TIMESTAMP) and runs every timestamp-consuming operator on
both, asserting identical results — so a ts-arithmetic call site that only
works for one flavor can never ship again.
"""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.asof import asof_join, time_range_join
from etl_pipeline_last_fm_spark.operators.funnel import funnel_stages
from etl_pipeline_last_fm_spark.operators.sessions import sessionize


def _write_events(path: str, tz: str | None,
                  base: dt.datetime = dt.datetime(2024, 5, 1, 10, 0, 0)) -> None:
    rows = [
        (i, base + dt.timedelta(minutes=7 * i + (i % 3)), i % 4 + 1,
         ["view", "click", "purchase"][i % 3], float(i))
        for i in range(60)
    ]
    ts_type = pa.timestamp("us", tz=tz)
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], ts_type),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, path)


@pytest.fixture(scope="module")
def flavors(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("ntz")
    ntz_path = str(d / "events_ntz.parquet")
    ltz_path = str(d / "events_ltz.parquet")
    _write_events(ntz_path, tz=None)   # no UTC flag -> TIMESTAMP_NTZ
    _write_events(ltz_path, tz="UTC")  # UTC flag    -> TIMESTAMP (LTZ)
    ntz = spark.read.parquet(ntz_path)
    ltz = spark.read.parquet(ltz_path)
    assert dict(ntz.dtypes)["ts"] == "timestamp_ntz", dict(ntz.dtypes)
    assert dict(ltz.dtypes)["ts"] == "timestamp", dict(ltz.dtypes)
    return ntz, ltz


def _rows(df, drop_ts_cols=()):
    cols = [c for c in df.columns if c not in drop_ts_cols]
    return sorted(map(tuple, df.select(cols).collect()))


def test_sessionize_both_flavors(flavors):
    ntz, ltz = flavors
    # session_start/end inherit the input flavor; compare the arithmetic
    # outputs plus epoch-cast boundaries (the flavor-independent content).
    out = []
    for ev in flavors:
        s = sessionize(ev, gap_minutes=30).select(
            "user_id", "session_seq", "n_events", "session_value",
            F.unix_micros(F.col("session_start").cast("timestamp")).alias("start_us"),
            F.unix_micros(F.col("session_end").cast("timestamp")).alias("end_us"),
        )
        out.append(_rows(s))
    assert out[0] == out[1]
    assert len(out[0]) > 0


def test_asof_join_both_flavors(flavors):
    out = []
    for ev in flavors:
        clicks = ev.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        views = ev.filter(F.col("event_type") == "view").select(
            "user_id", "ts", "value"
        )
        j = asof_join(clicks, views, key_col="user_id", right_value_cols=["value"])
        out.append(_rows(j, drop_ts_cols=("ts",)))
    assert out[0] == out[1]
    assert len(out[0]) > 0


def test_range_join_both_flavors(flavors):
    out = []
    for ev in flavors:
        a = ev.filter(F.col("event_type") == "click")
        b = ev.filter(F.col("event_type") == "purchase")
        out.append(_rows(time_range_join(a, b, key_col="user_id",
                                         max_gap_us=1_800_000_000)))
    assert out[0] == out[1]
    assert len(out[0]) > 0


def test_funnel_both_flavors(flavors):
    out = [_rows(funnel_stages(ev)) for ev in flavors]
    assert out[0] == out[1]
    assert len(out[0]) > 0


def test_lead_lag_query_both_flavors(flavors, spark, tmp_path):
    """q_lead_lag reads from a directory — point it at each flavor."""
    import __spark_entry__ as entrymod

    for name, ev in zip(("ntz", "ltz"), flavors):
        d = tmp_path / name
        ev.write.parquet(str(d / "events.parquet"))
        got = entrymod.queries()["lead_lag"](spark, str(d))
        assert got.count() == 60  # must not throw on either flavor


def test_date_partition_agg_days_stay_utc_after_a_timezone_switch(spark, tmp_path):
    """``load_table`` turns an instant ``ts`` into UTC days, as the
    timezone-naive oracle does. A caller that switches the session
    timezone after the table's first load must still get UTC days: the
    events below run from 00:00 to 07:00 UTC, which is the previous
    evening in Los Angeles."""
    from grading.warehouse import q_date_partition_agg

    _write_events(str(tmp_path / "events.parquet"), tz="UTC",
                  base=dt.datetime(2024, 5, 1, 0, 0, 0))
    sf_dir = str(tmp_path)
    first = sorted(map(tuple, q_date_partition_agg(spark, sf_dir).collect()))
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        again = sorted(map(tuple, q_date_partition_agg(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert [r[0] for r in first] == ["2024-05-01"]
    assert again == first
