"""End-to-end domain pipeline tests over Last.fm-shaped fixtures.

Covers FIXTURES.md A5's edge-case list: zero-duration imputation, an
all-zero day (NULL mean), duplicate conflict keys within a batch, re-run
idempotence, same song with two durations, cross-country artist overlap,
and incremental surrogate-key stability.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.pipeline import Warehouse, load_dds, run_pipeline
from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart

D1, D2 = "2024-03-01", "2024-03-02"


def _track(name, artist, duration, listeners, rank):
    return {
        "name": name,
        "artist": {"name": artist},
        "duration": str(duration),
        "listeners": str(listeners),
        "@attr": {"rank": str(rank)},
    }


# Day 1: Testland has a zero duration (Beta), a same-name/different-duration
# pair (Alpha 100 / Alpha 200), and a duplicated rank 4 (Gamma vs Delta —
# first-writer-wins must keep Delta, the tiebreak minimum). Otherland
# overlaps artist A1 and adds another zero (Epsilon).
CHARTS = {
    D1: {
        "Testland": [
            _track("Alpha", "A1", 100, 1000, 1),
            _track("Beta", "A2", 0, 2000, 2),
            _track("Alpha", "A1", 200, 500, 3),
            _track("Gamma", "A2", 999, 50, 4),
            _track("Delta", "A2", 60, 40, 4),
        ],
        "Otherland": [
            _track("Alpha", "A1", 100, 300, 1),
            _track("Epsilon", "A3", 0, 700, 2),
        ],
    },
    # Day 2: ALL durations zero -> imputation mean is NULL.
    D2: {
        "Testland": [
            _track("Zeta", "A4", 0, 100, 1),
        ],
    },
}
# Non-zero durations on D1: 100, 200, 60, 100 -> mean 115.
D1_IMPUTED = 115


def fetch_for(date):
    def fetch(country):
        return {"tracks": {"track": CHARTS[date].get(country, []), "@attr": {"country": country}}}

    return fetch


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("wh"))
    wh = Warehouse(root)
    for date in (D1, D2):
        raw = fetch_charts(spark, date, countries=list(CHARTS[date]), fetch_fn=fetch_for(date))
        write_raw_chart(raw, wh.raw)
        run_pipeline(spark, root, date)
    return wh


def test_ods_dedupes_conflict_key(spark, warehouse):
    ods = spark.read.parquet(warehouse.ods)
    # 5 Testland tracks collapse to 4 (rank-4 dup), + 2 Otherland + 1 on D2.
    assert ods.count() == 7
    dup = ods.groupBy("song_rank", "source_date", "country").count().filter("count > 1")
    assert dup.count() == 0
    # First-writer-wins tiebreak kept Delta, not Gamma.
    names = {r.song_name for r in ods.select("song_name").collect()}
    assert "Delta" in names and "Gamma" not in names


def test_dim_song_imputation(spark, warehouse):
    dds = load_dds(spark, warehouse)
    songs = {(r.song_name, r.duration_sec) for r in dds.dim_song.collect()}
    assert ("Alpha", 100) in songs and ("Alpha", 200) in songs  # two durations
    assert ("Beta", D1_IMPUTED) in songs and ("Epsilon", D1_IMPUTED) in songs
    assert ("Zeta", None) in songs  # all-zero day -> NULL mean, kept as NULL


def test_fact_complete_no_zero_duration_loss(spark, warehouse):
    """The engine's documented fix of reference Appendix A.1: every ODS row
    reaches the fact, including zero-duration and NULL-imputed ones."""
    dds = load_dds(spark, warehouse)
    assert dds.fact.count() == 7
    assert dds.fact.select("fact_id").distinct().count() == 7


def test_surrogate_keys_stable_and_dense(spark, warehouse):
    dds = load_dds(spark, warehouse)
    artists = {r.artist_name: r.artist_id for r in dds.dim_artist.collect()}
    # D1 artists numbered by natural order; A4 (arriving D2) extends from max.
    assert artists == {"A1": 1, "A2": 2, "A3": 3, "A4": 4}


def test_marts_values(spark, warehouse):
    avg = {
        (str(r.date), r.country_name): r.avg_duration_sec
        for r in spark.read.parquet(warehouse.dm("avg_song_duration_by_country")).collect()
    }
    assert avg[(D1, "Testland")] == pytest.approx((100 + D1_IMPUTED + 200 + 60) / 4)
    assert avg[(D1, "Otherland")] == pytest.approx((100 + D1_IMPUTED) / 2)
    assert avg[(D2, "Testland")] is None  # AVG over single NULL duration

    app = {
        (str(r.date), r.artist_name): r.cnt_appearance
        for r in spark.read.parquet(warehouse.dm("artist_appearances_by_date")).collect()
    }
    assert app[(D1, "A1")] == 3  # Alpha x2 Testland + Alpha Otherland
    assert app[(D1, "A2")] == 2  # Beta + Delta
    assert app[(D2, "A4")] == 1

    roy = {
        (str(r.date), r.artist_name): r.royalties
        for r in spark.read.parquet(warehouse.dm("expected_artist_royalties_by_date")).collect()
    }
    assert roy[(D1, "A1")] == pytest.approx((1000 + 500 + 300) * 0.003)
    assert roy[(D1, "A2")] == pytest.approx((2000 + 40) * 0.003)
    assert roy[(D1, "A3")] == pytest.approx(700 * 0.003)


def test_rerun_is_idempotent(spark, warehouse):
    """ON CONFLICT DO NOTHING semantics (SURVEY.md §2.7) + idempotent marts
    (engine fix of reference Appendix A.4): re-running a day changes nothing
    — including the all-zero day whose conflict key contains a NULL."""
    before = {
        "ods": spark.read.parquet(warehouse.ods).count(),
        "fact": load_dds(spark, warehouse).fact.count(),
        "songs": sorted(
            (r.song_name, r.duration_sec) for r in load_dds(spark, warehouse).dim_song.collect()
        ),
    }
    for date in (D1, D2):
        run_pipeline(spark, warehouse.root, date)
    after_dds = load_dds(spark, warehouse)
    assert spark.read.parquet(warehouse.ods).count() == before["ods"]
    assert after_dds.fact.count() == before["fact"]
    assert (
        sorted((r.song_name, r.duration_sec) for r in after_dds.dim_song.collect())
        == before["songs"]
    )
    roy = spark.read.parquet(warehouse.dm("expected_artist_royalties_by_date"))
    assert roy.filter(F.col("date") == D1).count() == 3


def test_empty_first_run_does_not_brick_warehouse(spark, tmp_path):
    """A first run over a date with NO raw data writes committed dims but
    an empty fact (partitionBy of empty emits no parquet). The warehouse
    must stay usable: load_dds returns an empty fact, and a later real run
    proceeds normally."""
    root = str(tmp_path / "wh_empty_first")
    wh = Warehouse(root)
    d_empty, d_real = "2024-03-01", "2024-03-02"
    # land raw for BOTH dates (ODS path must exist), but the empty date has
    # an empty chart -> zero ODS rows for it
    raw0 = fetch_charts(spark, d_empty, countries=["Testland"],
                        fetch_fn=lambda c: {"tracks": {"track": [], "@attr": {"country": c}}})
    write_raw_chart(raw0, wh.raw)
    run_pipeline(spark, root, d_empty)

    dds = load_dds(spark, wh)
    assert dds is not None
    assert dds.fact.count() == 0  # empty, not an error

    raw1 = fetch_charts(spark, d_real, countries=list(CHARTS[D1]), fetch_fn=fetch_for(D1))
    write_raw_chart(raw1, wh.raw)
    run_pipeline(spark, root, d_real)
    assert load_dds(spark, wh).fact.count() > 0


# ---------------------------------------------------------------------------
# Streaming pipeline variant (SURVEY §2.11 at pipeline level)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def warehouse_streaming(spark, tmp_path_factory):
    """Same two fixture days as `warehouse`, driven end-to-end through
    run_pipeline_streaming: availableNow ingest -> batch star -> streaming
    additive-state DM folds."""
    from etl_pipeline_last_fm_spark.pipeline import run_pipeline_streaming

    root = str(tmp_path_factory.mktemp("wh_stream"))
    wh = Warehouse(root)
    for date in (D1, D2):
        raw = fetch_charts(spark, date, countries=list(CHARTS[date]), fetch_fn=fetch_for(date))
        write_raw_chart(raw, wh.raw)
        run_pipeline_streaming(spark, root, date)
    return wh


_MART_COLS = {
    "avg_song_duration_by_country": ["date", "country_name", "avg_duration_sec"],
    "artist_appearances_by_date": ["date", "artist_name", "cnt_appearance"],
    "expected_artist_royalties_by_date": ["date", "artist_name", "royalties"],
}


def _mart_rows(spark, wh, name):
    return sorted(
        map(tuple, spark.read.parquet(wh.dm(name)).select(*_MART_COLS[name]).collect())
    )


def test_streaming_pipeline_equals_batch(spark, warehouse, warehouse_streaming):
    """The streaming DM path must equal the batch rebuild ROW FOR ROW,
    doubles included: the centi-unit state sum is 100*SUM exactly (integer
    inputs), and IEEE division of the same true rational rounds identically
    however it is written (s/(100c) vs S/c) — so no approx() here."""
    for name in _MART_COLS:
        assert _mart_rows(spark, warehouse_streaming, name) == _mart_rows(
            spark, warehouse, name
        ), name


def test_streaming_pipeline_rerun_is_noop(spark, warehouse, warehouse_streaming):
    """Re-running a day through the streaming path changes nothing: the
    file-source checkpoint skips seen raw/fact files, the conflict-key
    anti-join skips seen rows, and the batch_id guard skips replayed folds."""
    from etl_pipeline_last_fm_spark.pipeline import run_pipeline_streaming

    before = {n: _mart_rows(spark, warehouse_streaming, n) for n in _MART_COLS}
    ods_before = spark.read.parquet(warehouse_streaming.ods).count()
    run_pipeline_streaming(spark, warehouse_streaming.root, D2)
    assert spark.read.parquet(warehouse_streaming.ods).count() == ods_before
    for name in _MART_COLS:
        assert _mart_rows(spark, warehouse_streaming, name) == before[name], name


def test_pipeline_accepts_file_uri_root(spark, warehouse, tmp_path):
    """Every warehouse read probes through the Hadoop FS API, so a
    scheme-qualified root (file://, as s3a:// would be) runs the same
    days to the same marts as a plain local path."""
    wh = Warehouse(f"file://{tmp_path / 'wh_uri'}")
    for date in (D1, D2):
        raw = fetch_charts(
            spark, date, countries=list(CHARTS[date]), fetch_fn=fetch_for(date)
        )
        write_raw_chart(raw, wh.raw)
        run_pipeline(spark, wh.root, date)
    for name in _MART_COLS:
        assert _mart_rows(spark, wh, name) == _mart_rows(spark, warehouse, name), name


def test_pipeline_leaves_no_pinned_rdds(spark, tmp_path):
    """VERDICT r11 item 3: run_dds must leave no pinned RDD behind, or a
    multi-day driver session accumulates one cached fact delta per day.
    The fact ids are numbered inside the write's own plan, with no
    persist. Delta-asserted (before vs after), not globally-zero: other
    suites in the same session may hold their own documented caches."""
    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    root = str(tmp_path / "wh_nopin")
    wh = Warehouse(root)
    before = pinned_ids()
    for date in (D1, D2):
        raw = fetch_charts(
            spark, date, countries=list(CHARTS[date]), fetch_fn=fetch_for(date)
        )
        write_raw_chart(raw, wh.raw)
        run_pipeline(spark, root, date)
    leaked = pinned_ids() - before
    assert not leaked, f"run_pipeline leaked pinned RDD ids: {sorted(leaked)}"
    # And the release was not a value-changing shortcut: the star is intact.
    dds = load_dds(spark, wh)
    assert dds.fact.count() > 0
    ids = [r[0] for r in dds.fact.select("fact_id").orderBy("fact_id").collect()]
    assert ids == list(range(1, len(ids) + 1))  # dense, gap-free


def _budget_fetch(day):
    def fetch(country):
        tracks = [
            _track(f"song{(i + 7 * day) % 45}", f"artist{(i + day) % 13}",
                   0 if i % 10 == 0 else 120 + i, 100 * (i + 1), i + 1)
            for i in range(30)
        ]
        return {"tracks": {"track": tracks, "@attr": {"country": country}}}
    return fetch


def _count_jobs(spark, label, fn):
    """Spark jobs ``fn`` launches, counted through a job group and the
    status tracker (neither is a Spark action)."""
    import uuid

    sc = spark.sparkContext
    group = f"budget-{label}-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_daily_job_budget(spark, tmp_path):
    """Spark jobs a new day costs per layer, after one warm-up day. At the
    daily chart's size each job is fixed overhead, so the count is the
    cost: one action per sink, declared read schemas (no inference job),
    a fact built against the committed dim snapshot, conflict checks
    pruned by the run date and a fact numbered inside its write keep it
    near ODS 4 / DDS 32 / DM 13; the upper bounds leave headroom for AQE.
    The lower bounds catch concurrent sink writes whose threads lose the
    caller's job group: DM would count 0 and DDS would lose the dim
    writes' ~20 jobs. Counted with ``_count_jobs``."""
    from etl_pipeline_last_fm_spark.pipeline import run_dds, run_dm, run_ods

    wh = Warehouse(str(tmp_path / "wh_budget"))
    counts = {}
    for day, date in enumerate(("2024-06-01", "2024-06-02")):
        raw = fetch_charts(spark, date, countries=["XA", "XB", "XC"],
                           fetch_fn=_budget_fetch(day))
        write_raw_chart(raw, wh.raw)
        counts = {
            "ods": _count_jobs(spark, "ods", lambda: run_ods(spark, wh, date)),
            "dds": _count_jobs(spark, "dds", lambda: run_dds(spark, wh, date)),
            "dm": _count_jobs(spark, "dm", lambda: run_dm(spark, wh, date)),
        }
    budget = {"ods": 5, "dds": 37, "dm": 16}
    assert all(counts[k] <= budget[k] for k in budget), (counts, budget)
    floor = {"dds": 20, "dm": 3}
    assert all(counts[k] >= floor[k] for k in floor), (counts, floor)
    assert load_dds(spark, wh).fact.count() == 180


def test_building_dds_frames_launches_no_job(spark, tmp_path):
    """The dim ids take their max-id offset from an in-plan aggregate and
    the fact is numbered inside its own plan, so building the next day's
    DDS frames on a loaded warehouse launches no Spark job: every job
    belongs to a write."""
    from etl_pipeline_last_fm_spark.pipeline import run_ods
    from etl_pipeline_last_fm_spark.plans.star_build import build_dims, build_fact

    wh = Warehouse(str(tmp_path / "wh_nojob"))
    d1, d2 = "2024-06-01", "2024-06-02"
    for day, date in enumerate((d1, d2)):
        raw = fetch_charts(spark, date, countries=["XA", "XB", "XC"],
                           fetch_fn=_budget_fetch(day))
        write_raw_chart(raw, wh.raw)
    run_pipeline(spark, wh.root, d1)
    run_ods(spark, wh, d2)
    ods = spark.read.parquet(wh.ods).filter(F.col("source_date") == F.lit(d2))
    existing = load_dds(spark, wh)

    def build():
        dims = build_dims(ods, existing=existing)
        build_fact(ods, dims, existing_fact=existing.fact)

    assert _count_jobs(spark, "build", build) == 0


def test_failed_dim_write_leaves_day_uncommitted(spark, warehouse, tmp_path, monkeypatch):
    """The three dim snapshot writes run at once. When one fails, run_dds
    waits for the other two, raises the failure, and writes neither the
    ``_COMMITTED`` marker nor the day's fact rows; a clean re-run of the
    day then gives the marts of a run that never failed."""
    import threading

    from etl_pipeline_last_fm_spark import pipeline
    from etl_pipeline_last_fm_spark.pipeline import (
        _committed_versions,
        _snapshot_dir,
        run_dds,
        run_dm,
        run_ods,
    )
    from etl_pipeline_last_fm_spark.sources import fs

    wh = Warehouse(str(tmp_path / "wh_crash"))
    for date in (D1, D2):
        raw = fetch_charts(spark, date, countries=list(CHARTS[date]), fetch_fn=fetch_for(date))
        write_raw_chart(raw, wh.raw)
    run_pipeline(spark, wh.root, D1)
    run_ods(spark, wh, D2)

    class InjectedWriteError(RuntimeError):
        pass

    def fail_write(*args, **kwargs):
        raise InjectedWriteError("dim_song write failed")

    monkeypatch.setattr(pipeline, "write_compacted", fail_write)
    threads_before = set(threading.enumerate())
    with pytest.raises(InjectedWriteError):
        run_dds(spark, wh, D2)
    assert set(threading.enumerate()) <= threads_before
    monkeypatch.undo()

    snap = _snapshot_dir(wh, 2)
    assert _committed_versions(spark, wh) == [1]
    assert not fs.exists(spark, os.path.join(snap, "_COMMITTED"))
    # The sibling writes had ended before run_dds raised.
    for name in ("dim_country", "dim_artist"):
        assert fs.exists(spark, os.path.join(snap, name, "_SUCCESS")), name
    fact = load_dds(spark, wh).fact
    assert fact.filter(F.col("date") == F.lit(D2)).count() == 0

    run_dds(spark, wh, D2)
    run_dm(spark, wh, D2)
    for name in _MART_COLS:
        assert _mart_rows(spark, wh, name) == _mart_rows(spark, warehouse, name), name
