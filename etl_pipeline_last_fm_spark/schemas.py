"""Declared schemas for every layer of the pipeline.

The reference declares its schemas in DDL run manually (reference
scripts/ddl_ods.sql, scripts/ddl_dds.sql; SURVEY.md §1.4). Here they are
first-class StructTypes: supplied to readers (schema-on-read — never infer in
production paths; inference at 100 TB means an extra full scan) and asserted
by tests.

Type mapping notes (SURVEY.md §1.3):
- ``serial``   -> LongType surrogate assigned by ``operators.surrogate``
- ``char(50)`` -> StringType (no blank-padding; Appendix A.5 deviation)
- ``smallint`` -> IntegerType (Spark shorts buy nothing in Parquet and
  complicate oracle comparison)
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

# ---------------------------------------------------------------------------
# RAW zone: the Last.fm geo.getTopTracks chart document
# (field accesses: reference dags/transformed_from_s3_to_pg.py:31-45;
#  shape documented in SURVEY.md §1.2). Numbers arrive string-encoded.
# ---------------------------------------------------------------------------
TRACK_SCHEMA = StructType(
    [
        StructField("name", StringType()),
        StructField("artist", StructType([StructField("name", StringType())])),
        StructField("duration", StringType()),
        StructField("listeners", StringType()),
        # The API field is literally named "@attr"; needs backtick quoting in
        # Spark SQL, plain bracket access in the DataFrame API.
        StructField("@attr", StructType([StructField("rank", StringType())])),
    ]
)

RAW_SCHEMA = StructType(
    [
        StructField(
            "tracks",
            StructType(
                [
                    StructField("track", ArrayType(TRACK_SCHEMA)),
                    StructField(
                        "@attr",
                        StructType(
                            [
                                StructField("country", StringType()),
                                StructField("page", StringType()),
                                StructField("perPage", StringType()),
                                StructField("totalPages", StringType()),
                                StructField("total", StringType()),
                            ]
                        ),
                    ),
                ]
            ),
        ),
    ]
)

# ---------------------------------------------------------------------------
# ODS: flattened daily chart rows (reference scripts/ddl_ods.sql:14-24).
# The staging twin ods.temp_daily_data (ddl_ods.sql:2-11) has no equivalent:
# a transient DataFrame IS the staging area (SURVEY.md §1.6).
# ---------------------------------------------------------------------------
ODS_SCHEMA = StructType(
    [
        StructField("song_name", StringType()),
        StructField("artist_name", StringType()),
        StructField("duration_sec", IntegerType()),
        StructField("listeners_count", IntegerType()),
        StructField("song_rank", IntegerType()),
        StructField("source_date", DateType()),
        StructField("country", StringType()),
    ]
)
ODS_CONFLICT_KEY = ["song_rank", "source_date", "country"]  # ddl_ods.sql:23

# ---------------------------------------------------------------------------
# DDS: Kimball star (reference scripts/ddl_dds.sql).
# ---------------------------------------------------------------------------
DIM_ARTIST_SCHEMA = StructType(
    [
        StructField("artist_id", LongType(), False),
        StructField("artist_name", StringType(), False),  # UNIQUE ddl_dds.sql:4
    ]
)
DIM_COUNTRY_SCHEMA = StructType(
    [
        StructField("country_id", LongType(), False),
        StructField("country_name", StringType(), False),  # UNIQUE ddl_dds.sql:10
    ]
)
DIM_SONG_SCHEMA = StructType(
    [
        StructField("song_id", LongType(), False),
        StructField("song_name", StringType(), False),
        StructField("duration_sec", IntegerType()),  # UNIQUE(song,dur) ddl_dds.sql:18
    ]
)
FACT_SCHEMA = StructType(
    [
        StructField("fact_id", LongType(), False),
        StructField("date", DateType(), False),
        StructField("country_id", LongType(), False),
        StructField("song_id", LongType(), False),
        StructField("artist_id", LongType(), False),
        StructField("song_rank", IntegerType(), False),
        StructField("listeners_count", IntegerType()),
    ]
)
FACT_CONFLICT_KEY = ["date", "country_id", "song_rank"]  # ddl_dds.sql:31

# Each dim's directory name in a snapshot (dim_snapshots/v=N/<name>).
DIM_SCHEMAS = {
    "dim_country": DIM_COUNTRY_SCHEMA,
    "dim_artist": DIM_ARTIST_SCHEMA,
    "dim_song": DIM_SONG_SCHEMA,
}

# ---------------------------------------------------------------------------
# DM: aggregate marts (reference scripts/ddl_dm.sql, CTAS-inferred there).
# ---------------------------------------------------------------------------
DM_AVG_DURATION_SCHEMA = StructType(
    [
        StructField("date", DateType()),
        StructField("country_name", StringType()),
        StructField("avg_duration_sec", DoubleType()),
    ]
)
DM_APPEARANCES_SCHEMA = StructType(
    [
        StructField("date", DateType()),
        StructField("artist_name", StringType()),
        StructField("cnt_appearance", LongType()),
    ]
)
DM_ROYALTIES_SCHEMA = StructType(
    [
        StructField("date", DateType()),
        StructField("artist_name", StringType()),
        StructField("royalties", DoubleType()),
    ]
)

# Each mart's directory name under <warehouse>/dm.
DM_SCHEMAS = {
    "avg_song_duration_by_country": DM_AVG_DURATION_SCHEMA,
    "artist_appearances_by_date": DM_APPEARANCES_SCHEMA,
    "expected_artist_royalties_by_date": DM_ROYALTIES_SCHEMA,
}

# Royalty rate: reference scripts/ddl_dm.sql:17 ("example price per listen").
ROYALTY_RATE = 0.003

# Driver-provided TPC-H-ish test tables (TESTDATA.md).
TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]
