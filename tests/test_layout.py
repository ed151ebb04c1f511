"""Output-layout writers: global order across files, bounded file counts."""

from __future__ import annotations

import glob
import math

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.layout import write_compacted, write_sorted


def test_write_sorted_is_globally_ordered(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    path = str(tmp_path / "sorted")
    write_sorted(li, path, ["l_orderkey", "l_linenumber"], n_files=4)

    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert 1 < len(files) <= 4
    # each file internally sorted, and file ranges are disjoint & ascending
    prev_max = None
    ranges = []
    for f in files:
        rows = spark.read.parquet(f).select("l_orderkey", "l_linenumber").collect()
        keys = [(r[0], r[1]) for r in rows]
        assert keys == sorted(keys), f
        ranges.append((keys[0], keys[-1]))
    for (lo, hi), (lo2, _hi2) in zip(ranges, ranges[1:]):
        assert hi <= lo2, (hi, lo2)

    # content preserved
    out = spark.read.parquet(path)
    assert out.count() == li.count()
    assert out.exceptAll(li).count() == 0


def test_write_sorted_plan_has_rangepartitioning(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    plan = (
        li.repartitionByRange(4, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()


def _rows_per_file(spark, files):
    return [spark.read.parquet(f).count() for f in files]


def test_write_compacted_hits_target_file_count(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").coalesce(1)
    n = li.count()
    target = max(1, n // 3)
    path = str(tmp_path / "compact")
    write_compacted(li, path, target_rows_per_file=target)
    files = glob.glob(f"{path}/part-*.parquet")
    # A one-task input: at most ceil(n/target) files, none over target.
    assert 1 <= len(files) <= math.ceil(n / target)
    assert max(_rows_per_file(spark, files)) <= target
    assert spark.read.parquet(path).count() == n


def _write_stage_tasks(spark, group: str) -> int:
    """Tasks of the last stage of the last job run under ``group`` — the
    stage that writes the files. Status-tracker reads, no Spark action."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    job = max(tracker.getJobIdsForGroup(group))
    stage = max(tracker.getJobInfo(job).stageIds)
    return tracker.getStageInfo(stage).numTasks


def test_write_compacted_partitioned_single_date_stays_parallel(spark, tmp_path):
    """The round-11 fix class: a single-date daily mart/delta must not
    collapse to one write task (which is what both coalesce(1) and
    repartition(partition_col) did). Files stay row-capped at the target,
    and once AQE's advisory partition size is below the data size, the
    round-robin rebalance of a multi-task input writes the single date in
    several tasks."""
    import uuid

    from etl_pipeline_last_fm_spark.sources.layout import (
        write_compacted_partitioned,
    )
    from pyspark.sql import functions as F

    def one_date(n, tasks):
        return spark.range(0, n, 1, tasks).select(
            F.lit("2024-04-01").alias("date"), F.col("id")
        )

    path = str(tmp_path / "mart")
    write_compacted_partitioned(
        one_date(90, 1), path, partition_cols=["date"], target_rows_per_file=30
    )
    files = glob.glob(f"{path}/date=2024-04-01/part-*.parquet")
    # A one-task input: at most ceil(90/30) files, none over target.
    assert len(files) <= 3
    assert max(_rows_per_file(spark, files)) <= 30
    assert spark.read.parquet(path).count() == 90

    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    old = spark.conf.get(key)
    group = f"single-date-{uuid.uuid4().hex}"
    spark.conf.set(key, "1k")
    spark.sparkContext.setJobGroup(group, group)
    try:
        write_compacted_partitioned(
            one_date(9000, 4), str(tmp_path / "big"), partition_cols=["date"]
        )
    finally:
        spark.sparkContext._jsc.clearJobGroup()
        spark.conf.set(key, old)
    assert _write_stage_tasks(spark, group) > 1
    assert spark.read.parquet(str(tmp_path / "big")).count() == 9000


def test_write_compacted_partitioned_append_and_dynamic_overwrite(spark, tmp_path):
    from etl_pipeline_last_fm_spark.sources.layout import (
        write_compacted_partitioned,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")

    def day(d, lo, hi):
        return spark.range(lo, hi).select(F.lit(d).alias("date"), F.col("id"))

    # append two days
    write_compacted_partitioned(day("d1", 0, 10), path, ["date"],
                                mode="append", dynamic_overwrite=False)
    write_compacted_partitioned(day("d2", 10, 30), path, ["date"],
                                mode="append", dynamic_overwrite=False)
    assert spark.read.parquet(path).count() == 30
    # dynamic overwrite of ONE date leaves the other intact
    write_compacted_partitioned(day("d2", 100, 105), path, ["date"],
                                mode="overwrite", dynamic_overwrite=True)
    out = spark.read.parquet(path)
    assert out.filter(F.col("date") == "d1").count() == 10
    assert out.filter(F.col("date") == "d2").count() == 5
    # empty delta: no-op append, no crash
    write_compacted_partitioned(day("d3", 0, 0), path, ["date"],
                                mode="append", dynamic_overwrite=False)
    assert spark.read.parquet(path).count() == 15


def test_compacted_writers_respect_caller_cache(spark, tmp_path):
    """ADVICE r11: write_compacted/write_compacted_partitioned persist
    around the count+write pair; when the CALLER already persisted the
    frame they must not steal its cache (Spark persistence is not
    refcounted — an unconditional unpersist would silently evict it)."""
    from etl_pipeline_last_fm_spark.sources.layout import (
        write_compacted_partitioned,
    )
    df = spark.range(100).withColumn("k", (F.col("id") % 3).cast("string"))
    df = df.persist()
    try:
        df.count()
        write_compacted(df, str(tmp_path / "flat"))
        assert df.is_cached, "write_compacted evicted a caller-owned cache"
        write_compacted_partitioned(df, str(tmp_path / "part"), partition_cols=["k"])
        assert df.is_cached, "write_compacted_partitioned evicted a caller-owned cache"
    finally:
        df.unpersist()
    # And an un-cached frame is left un-cached (the helper releases its own).
    df2 = spark.range(10)
    write_compacted(df2, str(tmp_path / "flat2"))
    assert not df2.is_cached


def test_pipeline_write_sites_follow_file_count_policy(spark, tmp_path, monkeypatch):
    """VERDICT r11 item 6: the file-count policy (bounded dims coalesce(1);
    corpus-scaled tables size-target-compacted; partitioned appends
    round-robin-parallel) lived in SCALING.md prose and call-site comments
    — this pins it BEHAVIORALLY on the pipeline's own write sites. The
    policy knob is shrunk so a fixture-sized day exposes the parallelism:
    every corpus-scaled sink must emit >1 file for its single date, while
    the bounded dims emit exactly one file per snapshot."""
    import glob as _glob

    from etl_pipeline_last_fm_spark import pipeline as pl
    from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
    from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart

    monkeypatch.setattr(pl, "TARGET_ROWS_PER_FILE", 3)

    def _track(i, country):
        return {
            "name": f"song{i}_{country}",
            "artist": {"name": f"artist{i}_{country}"},
            "duration": str(60 + i),
            "listeners": str(100 + i),
            "@attr": {"rank": str(i + 1)},
        }

    def fetch(country):
        return {"tracks": {"track": [_track(i, country) for i in range(9)],
                           "@attr": {"country": country}}}

    d = "2024-05-01"
    root = str(tmp_path / "wh_policy")
    wh = pl.Warehouse(root)
    raw = fetch_charts(spark, d, countries=["X", "Y"], fetch_fn=fetch)
    write_raw_chart(raw, wh.raw)
    pl.run_pipeline(spark, root, d)

    def files(path):
        return _glob.glob(f"{path}/**/*.parquet", recursive=True)

    snap = _glob.glob(f"{root}/dds/dim_snapshots/v=*")
    assert len(snap) == 1
    snap = snap[0]
    # Bounded dims: exactly one broadcast-friendly file per snapshot.
    assert len(files(f"{snap}/dim_country")) == 1
    assert len(files(f"{snap}/dim_artist")) == 1
    # Corpus-scaled sinks: 18 rows at target=3 must spread across >1 file
    # even though the whole day is ONE partition value — the exact
    # single-task funnel the round-11 fixes removed.
    assert len(files(f"{snap}/dim_song")) > 1               # write_compacted
    assert len(files(f"{root}/ods_daily_data/source_date={d}")) > 1
    assert len(files(f"{root}/dds/fact_daily_top_100/date={d}")) > 1
    assert len(files(f"{root}/dm/artist_appearances_by_date/date={d}")) > 1
    # And the policy did not distort values: the star is intact.
    assert spark.read.parquet(f"{root}/dds/fact_daily_top_100").count() == 18
