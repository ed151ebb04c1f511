"""HTTP ingest source: Last.fm ``geo.getTopTracks`` -> raw-zone DataFrame.

The reference fetches 3 countries x 100 tracks on the driver (reference
dags/raw_from_api_to_s3.py:21-30, call loop :37-44) — fine at 300 rows/day,
and the engine keeps that driver-side shape.

Network access and the ``requests`` dependency are optional: tests inject a
``fetch_fn`` fixture instead (SURVEY.md §2.1 S1: "test fixtures replace it").
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from datetime import date as Date

from pyspark.sql import DataFrame, Row, SparkSession

API_URL = "https://ws.audioscrobbler.com/2.0/"
DEFAULT_COUNTRIES = ["Russian Federation", "United States", "Kazakhstan"]  # raw_from_api_to_s3.py:14-18
CHART_LIMIT = 100  # raw_from_api_to_s3.py:42

# fetch_fn(country) -> parsed JSON document (dict shaped like RAW_SCHEMA)
FetchFn = Callable[[str], dict]


def _default_fetch(api_key: str) -> FetchFn:
    def fetch(country: str) -> dict:
        try:
            import requests  # noqa: PLC0415 — optional dependency, gated
        except ImportError as exc:  # pragma: no cover
            raise RuntimeError(
                "the 'requests' package is required for live API ingest; "
                "tests should pass fetch_fn instead"
            ) from exc

        resp = requests.get(
            API_URL,
            params={
                "method": "geo.getTopTracks",
                "country": country,
                "limit": CHART_LIMIT,
                "page": 1,
                "api_key": api_key,
                "format": "json",
            },
            timeout=30,
        )
        resp.raise_for_status()
        return resp.json()

    return fetch


def fetch_charts(
    spark: SparkSession,
    ingest_date: str | Date,
    countries: Iterable[str] = tuple(DEFAULT_COUNTRIES),
    fetch_fn: FetchFn | None = None,
    api_key: str | None = None,
) -> DataFrame:
    """Driver-side fetch -> DataFrame[tracks, ingest_date, country].

    Mirrors the reference loop (dags/raw_from_api_to_s3.py:33-55) but lands
    rows straight into a DataFrame instead of S3 strings.
    """
    fetch = fetch_fn or _default_fetch(api_key or "")
    rows = []
    for country in countries:
        doc = fetch(country)
        rows.append(Row(tracks=_tracks_struct(doc), ingest_date=str(ingest_date), country=country))
    return spark.createDataFrame(rows, _raw_plus_partition_schema())


def _raw_plus_partition_schema():
    """RAW_SCHEMA + (ingest_date, country), built as a COPY — StructType.add
    mutates in place, so extending the shared constant would corrupt it for
    every later caller."""
    from pyspark.sql.types import StringType, StructField, StructType

    from etl_pipeline_last_fm_spark.schemas import RAW_SCHEMA

    return StructType(
        list(RAW_SCHEMA.fields)
        + [StructField("ingest_date", StringType()), StructField("country", StringType())]
    )


def _tracks_struct(doc: dict):
    """Normalize a parsed API document into the RAW_SCHEMA 'tracks' value.

    Builds the ``Row``s directly from the dict. Every numeric field goes
    through ``_as_str``, so numerics stay strings exactly as the API ships
    them (casting happens in operators.flatten, mirroring reference
    dags/transformed_from_s3_to_pg.py:38-40)."""
    tracks = doc.get("tracks", {})
    track_rows = []
    for t in tracks.get("track", []) or []:
        track_rows.append(
            Row(
                name=t.get("name"),
                artist=Row(name=(t.get("artist") or {}).get("name")),
                duration=_as_str(t.get("duration")),
                listeners=_as_str(t.get("listeners")),
                **{"@attr": Row(rank=_as_str((t.get("@attr") or {}).get("rank")))},
            )
        )
    attr = tracks.get("@attr") or {}
    return Row(
        track=track_rows,
        **{
            "@attr": Row(
                country=_as_str(attr.get("country")),
                page=_as_str(attr.get("page")),
                perPage=_as_str(attr.get("perPage")),
                totalPages=_as_str(attr.get("totalPages")),
                total=_as_str(attr.get("total")),
            )
        },
    )


def _as_str(v) -> str | None:
    return None if v is None else str(v)
