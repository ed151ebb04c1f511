"""JDBC egress sink round-trip (SURVEY.md §2.1 S9 — the reference's
Metabase-on-Postgres BI handoff, reference docker-compose.yaml:66-68).

Runs against embedded Derby (in-JVM, ships with Spark) so the test is
hermetic: write a mart-shaped frame through the parallel JDBC sink, read
it back through Spark's JDBC source, assert row equality; then exercise the
overwrite mode the BI refresh path uses."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.sources.jdbc import write_jdbc

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby_available(spark) -> bool:
    try:
        spark._jvm.java.lang.Class.forName(DERBY)
        return True
    except Exception:  # noqa: BLE001
        return False


@pytest.fixture(scope="module")
def derby_url(spark):
    if not _derby_available(spark):
        pytest.skip("Derby driver not on the Spark classpath")
    return "jdbc:derby:memory:etl_bi_test;create=true"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _read(spark, url, table):
    return (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("driver", DERBY)
        .load()
    )


def test_jdbc_round_trip(spark, derby_url):
    mart = spark.createDataFrame(
        [("2021-04-01", "artist a", 3), ("2021-04-01", "artist b", 1),
         ("2021-04-02", "artist a", 2)],
        "date string, artist_name string, cnt_appearance int",
    )
    write_jdbc(mart, derby_url, "appearances", mode="overwrite", driver=DERBY)
    back = _read(spark, derby_url, "appearances")
    assert sorted(back.columns) == sorted(mart.columns)
    assert _rows(back.select(*mart.columns)) == _rows(mart)


def test_jdbc_overwrite_replaces(spark, derby_url):
    df1 = spark.createDataFrame([(1, "x")], "id int, v string")
    df2 = spark.createDataFrame([(2, "y"), (3, "z")], "id int, v string")
    write_jdbc(df1, derby_url, "ow", mode="overwrite", driver=DERBY)
    write_jdbc(df2, derby_url, "ow", mode="overwrite", driver=DERBY)
    back = _read(spark, derby_url, "ow")
    assert _rows(back.select("id", "v")) == [(2, "y"), (3, "z")]


def test_jdbc_append_and_connection_cap(spark, derby_url):
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("id"), F.lit("r").alias("v")
    ).repartition(16)
    write_jdbc(df, derby_url, "caps", mode="overwrite", driver=DERBY,
               num_partitions=4)
    write_jdbc(df, derby_url, "caps", mode="append", driver=DERBY,
               num_partitions=4)
    back = _read(spark, derby_url, "caps")
    assert back.count() == 200


def test_jdbc_staged_swap_round_trip(spark, derby_url):
    """VERDICT r11 item 4: write_jdbc_staged writes <table>__stage then
    swaps server-side in one transaction — target flips old -> new
    wholesale, and the stage table is gone after the swap."""
    from etl_pipeline_last_fm_spark.sources.jdbc import (
        _jdbc_table_exists,
        write_jdbc_staged,
    )

    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    v2 = spark.createDataFrame([(3, "c"), (4, "d"), (5, "e")], "id int, v string")
    write_jdbc_staged(v1, derby_url, "bi_mart", driver=DERBY)
    back = _read(spark, derby_url, "bi_mart")
    assert _rows(back.select("id", "v")) == [(1, "a"), (2, "b")]
    # refresh: target existed — drop + rename happen in one transaction
    write_jdbc_staged(v2, derby_url, "bi_mart", driver=DERBY)
    back = _read(spark, derby_url, "bi_mart")
    assert _rows(back.select("id", "v")) == [(3, "c"), (4, "d"), (5, "e")]
    assert not _jdbc_table_exists(spark, derby_url, "bi_mart__stage", DERBY)


def test_jdbc_staged_mid_write_failure_never_corrupts_target(spark, derby_url):
    """The reason the helper exists: a failure DURING the parallel stage
    write (simulated with a task-level raise_error half-way through the
    rows) must leave the live target byte-identical to its pre-refresh
    content — the failed run touched only the stage table. A plain
    write_jdbc overwrite would have already dropped the target."""
    from etl_pipeline_last_fm_spark.sources.jdbc import write_jdbc_staged

    good = spark.createDataFrame([(1, "keep"), (2, "keep")], "id int, v string")
    write_jdbc_staged(good, derby_url, "bi_guard", driver=DERBY)

    poison = spark.range(0, 100).select(
        F.col("id").cast("int").alias("id"),
        F.when(F.col("id") < 50, F.lit("r")).otherwise(
            F.raise_error(F.lit("mid-write failure"))
        ).alias("v"),
    )
    with pytest.raises(Exception, match="mid-write failure"):
        write_jdbc_staged(poison, derby_url, "bi_guard", driver=DERBY)
    back = _read(spark, derby_url, "bi_guard")
    assert _rows(back.select("id", "v")) == [(1, "keep"), (2, "keep")]
    # and the next successful refresh replaces the leftover stage cleanly
    v2 = spark.createDataFrame([(9, "new")], "id int, v string")
    write_jdbc_staged(v2, derby_url, "bi_guard", driver=DERBY)
    back = _read(spark, derby_url, "bi_guard")
    assert _rows(back.select("id", "v")) == [(9, "new")]


def test_publish_dm_to_bi_daily_and_full(spark, derby_url, tmp_path):
    """End-to-end S9 (round 12): the DM marts flow to the BI database via
    publish_dm_to_bi — full-history mirror through the staged swap, then a
    reference-parity per-date refresh (delete+append) that is
    retry-idempotent and leaves other dates untouched."""
    from etl_pipeline_last_fm_spark.pipeline import (
        Warehouse,
        publish_dm_to_bi,
        run_pipeline,
    )
    from etl_pipeline_last_fm_spark.sources.lastfm_api import fetch_charts
    from etl_pipeline_last_fm_spark.sources.raw_json import write_raw_chart

    def _track(i, country):
        return {
            "name": f"s{i}_{country}",
            "artist": {"name": f"a{i}_{country}"},
            "duration": str(60 + i),
            "listeners": str(100 + i),
            "@attr": {"rank": str(i + 1)},
        }

    def fetch(country):
        return {"tracks": {"track": [_track(i, country) for i in range(4)],
                           "@attr": {"country": country}}}

    root = str(tmp_path / "wh_bi")
    wh = Warehouse(root)
    for d in ("2024-06-01", "2024-06-02"):
        raw = fetch_charts(spark, d, countries=["X"], fetch_fn=fetch)
        write_raw_chart(raw, wh.raw)
        run_pipeline(spark, root, d)

    mart = "artist_appearances_by_date"
    # full mirror: staged swap, atomic
    publish_dm_to_bi(spark, wh, derby_url, driver=DERBY)
    bi = _read(spark, derby_url, mart)
    pq = spark.read.parquet(wh.dm(mart))
    assert _rows(bi.select(*sorted(pq.columns))) == _rows(pq.select(*sorted(pq.columns)))

    # daily refresh of ONE date: re-publishing is idempotent (delete+append)
    # and the other date is untouched
    publish_dm_to_bi(spark, wh, derby_url, run_date="2024-06-02", driver=DERBY)
    bi2 = _read(spark, derby_url, mart)
    assert _rows(bi2.select(*sorted(pq.columns))) == _rows(pq.select(*sorted(pq.columns)))

    # malformed date cannot reach the server-side SQL
    with pytest.raises(ValueError, match="ISO"):
        publish_dm_to_bi(spark, wh, derby_url,
                         run_date="2024-06-02' OR '1'='1", driver=DERBY)


def test_cli_run_publishes_the_days_marts_to_bi(spark, derby_url, tmp_path, monkeypatch):
    """``run --bi-url`` publishes the day's marts after the DM write, with
    no driver class given: it is resolved from the URL. Each BI table
    equals its parquet mart for that date."""
    from etl_pipeline_last_fm_spark.__main__ import main
    from etl_pipeline_last_fm_spark.pipeline import Warehouse
    from etl_pipeline_last_fm_spark.schemas import DM_SCHEMAS

    # main() fetches the session through get_spark, which re-applies the
    # engine's shuffle default to this shared test session.
    monkeypatch.setenv(
        "SPARK_GRAFT_SHUFFLE", spark.conf.get("spark.sql.shuffle.partitions")
    )
    root, day = str(tmp_path / "wh_cli_bi"), "2024-07-01"
    url = "jdbc:derby:memory:etl_bi_cli;create=true"
    common = ["--warehouse", root, "--date", day, "--countries", "X", "Y"]
    assert main(["ingest-sample", *common]) == 0
    assert main(["run", *common, "--bi-url", url]) == 0

    wh = Warehouse(root)
    for name, schema in DM_SCHEMAS.items():
        pq = spark.read.schema(schema).parquet(wh.dm(name)).filter(
            F.col("date") == day
        )
        cols = sorted(pq.columns)
        bi = _read(spark, url, name)
        assert sorted(bi.columns) == cols, name
        assert pq.count() > 0, name
        assert _rows(bi.select(*cols)) == _rows(pq.select(*cols)), name
