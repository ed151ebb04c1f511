"""Streaming ingest: availableNow runs, checkpoint-based file dedupe,
row-level idempotence, late-arriving partition pickup."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart
from etl_pipeline_last_fm_spark.streaming.ingest import stream_raw_to_ods
from tests.test_pipeline import CHARTS, D1, D2, fetch_for


def _run_stream(spark, raw, ods, ckpt):
    q = stream_raw_to_ods(spark, raw, ods, ckpt)
    q.awaitTermination(120)


def test_stream_ingest_idempotent_and_incremental(spark, tmp_path):
    raw, ods = str(tmp_path / "raw"), str(tmp_path / "ods")
    ckpt1, ckpt2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    write_raw_chart(
        fetch_charts(spark, D1, countries=list(CHARTS[D1]), fetch_fn=fetch_for(D1)), raw
    )
    _run_stream(spark, raw, ods, ckpt1)
    first = spark.read.parquet(ods)
    assert first.count() == 6  # 5 Testland (1 rank-dup dropped) + 2 Otherland - dup
    countries = {r.country for r in first.select("country").distinct().collect()}
    assert countries == {"Testland", "Otherland"}

    # Re-run with the SAME checkpoint: no new files -> no-op.
    _run_stream(spark, raw, ods, ckpt1)
    assert spark.read.parquet(ods).count() == 6

    # Re-run with a FRESH checkpoint (files re-processed): the row-level
    # conflict-key anti-join still makes it a no-op.
    _run_stream(spark, raw, ods, ckpt2)
    assert spark.read.parquet(ods).count() == 6

    # A new date lands (late, even) -> picked up incrementally.
    write_raw_chart(
        fetch_charts(spark, D2, countries=list(CHARTS[D2]), fetch_fn=fetch_for(D2)), raw
    )
    _run_stream(spark, raw, ods, ckpt1)
    assert spark.read.parquet(ods).count() == 7
