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
from tests.spark_jobs import count_jobs

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
    doubles included: both paths present the same additive states with one
    expression per mart (plans/marts.present_marts), so no approx() here."""
    for name in _MART_COLS:
        assert _mart_rows(spark, warehouse_streaming, name) == _mart_rows(
            spark, warehouse, name
        ), name


def test_streaming_dm_state_format_is_pinned(spark, warehouse_streaming):
    """A warehouse streamed by an earlier version keeps folding, so the
    committed dm_state format must not move: ``(date, <id>, s, c)`` with
    longs for the id, ``s`` and ``c``, and the listeners ``s`` in
    centi-units, 100 × SUM(listeners_count) per (date, artist_id)."""
    from pyspark.sql.types import DateType, LongType

    from etl_pipeline_last_fm_spark.streaming.state import read_state

    root = os.path.join(warehouse_streaming.root, "dm_state")
    states = {
        "listeners_by_date_artist": "artist_id",
        "duration_by_date_country": "country_id",
    }
    for name, key in states.items():
        fields = read_state(spark, os.path.join(root, name)).schema.fields
        assert [(f.name, f.dataType) for f in fields] == [
            ("date", DateType()), (key, LongType()), ("s", LongType()), ("c", LongType())
        ], name
    listeners = read_state(spark, os.path.join(root, "listeners_by_date_artist"))
    expected = (
        load_dds(spark, warehouse_streaming).fact.groupBy("date", "artist_id")
        .agg((F.sum("listeners_count") * 100).alias("s"))
    )
    assert sorted(map(tuple, listeners.select("date", "artist_id", "s").collect())) == sorted(
        map(tuple, expected.collect())
    )


def test_null_listeners_give_null_royalties_on_both_dm_paths(spark, tmp_path):
    """A chart row whose listeners do not parse ("n/a" -> NULL, README
    deviation 4) still counts as an appearance, and its artist's royalties
    are NULL, as SQL SUM over only NULLs is. The batch and the streaming DM
    path agree, row for row."""
    from etl_pipeline_last_fm_spark.pipeline import run_pipeline_streaming

    chart = [_track("Quiet", "N1", 120, "n/a", 1), _track("Loud", "L1", 180, 900, 2)]

    def fetch(country):
        return {"tracks": {"track": chart, "@attr": {"country": country}}}

    whs = []
    for name, run in (("batch", run_pipeline), ("streaming", run_pipeline_streaming)):
        wh = Warehouse(str(tmp_path / name))
        write_raw_chart(fetch_charts(spark, D1, countries=["Testland"], fetch_fn=fetch), wh.raw)
        run(spark, wh.root, D1)
        whs.append(wh)
    for wh in whs:
        app = dict(r[1:] for r in _mart_rows(spark, wh, "artist_appearances_by_date"))
        roy = dict(r[1:] for r in _mart_rows(spark, wh, "expected_artist_royalties_by_date"))
        assert app == {"N1": 1, "L1": 1}, wh.root
        assert roy["N1"] is None, wh.root
        assert roy["L1"] == pytest.approx(900 * 0.003), wh.root
    for name in _MART_COLS:
        assert _mart_rows(spark, whs[1], name) == _mart_rows(spark, whs[0], name), name


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


def test_cli_stream_shares_the_pipeline_ingest_checkpoint(spark, tmp_path, monkeypatch):
    """The CLI ``stream`` command and ``run_pipeline_streaming`` run the
    same raw -> ODS stream, so they share its checkpoint: files the CLI
    ingested are not read again by the pipeline's stream."""
    from etl_pipeline_last_fm_spark.__main__ import main
    from etl_pipeline_last_fm_spark.pipeline import stream_raw_to_ods_pipeline

    # main() fetches the session through get_spark, which re-applies the
    # engine's shuffle default to this shared test session.
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions")
    )
    root = str(tmp_path / "wh_cli")
    assert main(["ingest-sample", "--warehouse", root, "--date", D1]) == 0
    assert main(["stream", "--warehouse", root]) == 0
    wh = Warehouse(root)
    ods_rows = spark.read.parquet(wh.ods).count()
    assert ods_rows > 0
    q = stream_raw_to_ods_pipeline(spark, wh)
    q.awaitTermination()
    assert sum(p["numInputRows"] for p in q.recentProgress) == 0
    assert spark.read.parquet(wh.ods).count() == ods_rows


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


def _count_compiled(spark, fn):
    """Classes Spark's code generator compiles while ``fn`` runs, read from
    the JVM's ``CodegenMetrics`` counter (not a Spark action). A plan whose
    classes are still in the codegen cache compiles none."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    fn()
    return metrics.METRIC_COMPILATION_TIME().getCount() - before


def test_daily_job_budget(spark, tmp_path):
    """Spark jobs a new day costs per layer, after one warm-up day. At the
    daily chart's size each job is fixed overhead, so the count is the
    cost: one action per sink, declared read schemas (no inference job),
    a fact built against the committed dim snapshot, conflict checks
    pruned by the run date, one aggregate per dim merge and a fact
    numbered inside its write keep it near ODS 4 / DDS 26 / DM 13; the
    upper bounds leave headroom for AQE. The lower bounds catch concurrent
    sink writes whose threads lose the caller's job group: DM would count
    0 and DDS would lose the dim writes' ~17 jobs, leaving about 9.
    Counted with ``count_jobs``."""
    from etl_pipeline_last_fm_spark.pipeline import run_dds, run_dm, run_ods

    wh = Warehouse(str(tmp_path / "wh_budget"))
    counts = {}
    for day, date in enumerate(("2024-06-01", "2024-06-02")):
        raw = fetch_charts(spark, date, countries=["XA", "XB", "XC"],
                           fetch_fn=_budget_fetch(day))
        write_raw_chart(raw, wh.raw)
        counts = {
            "ods": count_jobs(spark, lambda: run_ods(spark, wh, date)),
            "dds": count_jobs(spark, lambda: run_dds(spark, wh, date)),
            "dm": count_jobs(spark, lambda: run_dm(spark, wh, date)),
        }
    budget = {"ods": 5, "dds": 30, "dm": 16}
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
        build_fact(ods, dims, run_date=d2, existing_fact=existing.fact)

    assert count_jobs(spark, build) == 0


def test_any_day_order_converges_to_date_order(spark, tmp_path):
    """Days arrive in any order: a new day, a day whose charts have no
    tracks, an out-of-order backfill, a re-run, then another new day. The
    marts equal those of a warehouse loaded once in date order, the fact
    ids are dense and unique, and no natural key's dim id changes after
    the run that first loaded it."""
    dates = ["2024-07-01", "2024-07-02", "2024-07-03", "2024-07-04"]
    empty = dates[2]

    def no_tracks(country):
        return {"tracks": {"track": [], "@attr": {"country": country}}}

    def land(wh, date):
        fetch = no_tracks if date == empty else _budget_fetch(dates.index(date))
        write_raw_chart(
            fetch_charts(spark, date, countries=["XA", "XB"], fetch_fn=fetch), wh.raw
        )

    def dim_ids(wh):
        dds = load_dds(spark, wh)
        return {
            (name, tuple(r[1:])): r[0]
            for name in ("dim_country", "dim_artist", "dim_song")
            for r in getattr(dds, name).collect()
        }

    wh = Warehouse(str(tmp_path / "wh_any_order"))
    first_ids: dict = {}
    landed: set = set()
    for date in (dates[1], empty, dates[0], dates[1], dates[3]):
        if date not in landed:
            land(wh, date)
            landed.add(date)
        run_pipeline(spark, wh.root, date)
        ids = dim_ids(wh)
        assert all(ids[k] == v for k, v in first_ids.items()), date
        first_ids = ids | first_ids

    in_order = Warehouse(str(tmp_path / "wh_date_order"))
    for date in dates:
        land(in_order, date)
        run_pipeline(spark, in_order.root, date)

    for name in _MART_COLS:
        assert _mart_rows(spark, wh, name) == _mart_rows(spark, in_order, name), name
    ids = sorted(r[0] for r in load_dds(spark, wh).fact.select("fact_id").collect())
    assert ids == list(range(1, len(ids) + 1)) and len(ids) == 3 * 2 * 30


def test_rerun_day_compiles_no_new_code(spark, tmp_path):
    """A re-run of a loaded day runs plan shapes the session has already
    compiled. The session's codegen cache holds the engine's working set
    (``session.CODEGEN_CACHE_ENTRIES``), so the second re-run finds every
    class there; at Spark's default of 100 entries a day evicted its own
    classes and each re-run recompiled ~130. The first re-run may compile
    a few: AQE plans the empty delta differently from the day's first
    run."""
    wh = Warehouse(str(tmp_path / "wh_codegen"))
    d1, d2 = "2024-06-01", "2024-06-02"
    for day, date in enumerate((d1, d2)):
        raw = fetch_charts(spark, date, countries=["XA", "XB", "XC"],
                           fetch_fn=_budget_fetch(day))
        write_raw_chart(raw, wh.raw)
        run_pipeline(spark, wh.root, date)
    first = _count_compiled(spark, lambda: run_pipeline(spark, wh.root, d2))
    second = _count_compiled(spark, lambda: run_pipeline(spark, wh.root, d2))
    assert second <= 10, (first, second)


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
