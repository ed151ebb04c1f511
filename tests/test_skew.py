"""Salted aggregation must be result-identical to its plain form."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.skew import salted_aggregate
from etl_pipeline_last_fm_spark.sources.tables import load_table


def test_salted_aggregate_matches_plain(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    got = {
        r.event_type: (r.n, round(r.total, 6), round(r.mean, 9), r.lo, r.hi)
        for r in salted_aggregate(
            ev,
            ["event_type"],
            {
                "n": ("count", "value"),
                "total": ("sum", "value"),
                "mean": ("avg", "value"),
                "lo": ("min", "value"),
                "hi": ("max", "value"),
            },
            buckets=8,
        ).collect()
    }
    want = {
        r.event_type: (r.n, round(r.total, 6), round(r.mean, 9), r.lo, r.hi)
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("total"),
            F.avg("value").alias("mean"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .collect()
    }
    assert got == want
