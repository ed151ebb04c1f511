"""RAW-zone JSON source & sink.

Reference layout: one pretty-printed JSON document per (date, country) at
``top_100/raw/{date}/{country}_{date}.json`` (reference
dags/raw_from_api_to_s3.py:47-54, ``json.dumps(..., indent=4)`` at :50).

Engine layout: Hive-partitioned ``raw/ingest_date=<date>/country=<c>/*.json``
so that (a) the partition columns materialize for free on read, (b) a date
filter prunes directories before any file is opened — the property that keeps
this scan viable when the raw zone is 100 TB — and (c) the reference's
"parse country out of the filename" step (dags/transformed_from_s3_to_pg.py:64)
disappears entirely.

Pretty-printed documents span lines, so ``multiLine=True`` is mandatory
(SURVEY.md §1.2); each file is then one record, which is fine because raw
chart documents are small. For genuinely huge JSON, the engine would land
JSONL instead — the writer below supports both.
"""

from __future__ import annotations

from datetime import date as Date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.schemas import RAW_SCHEMA


def read_raw_chart(
    spark: SparkSession,
    raw_root: str,
    ingest_date: str | Date | None = None,
) -> DataFrame:
    """Scan the raw zone with the declared schema (never infer: schema
    inference is an extra full pass over the data).

    Returns columns: ``tracks`` (nested struct), ``ingest_date``, ``country``
    (partition columns), every country of ``ingest_date`` (or of every date
    when it is None). The date filter becomes directory pruning
    (``PartitionFilters`` in the scan node), the Spark-native equivalent of
    the reference's prefix-scoped S3 LIST
    (dags/transformed_from_s3_to_pg.py:24).
    """
    reader = (
        spark.read.schema(RAW_SCHEMA)
        .option("multiLine", "true")
        # basePath lets us keep partition columns even when pointing at one
        # partition subtree.
        .option("basePath", raw_root)
    )
    df = reader.json(raw_root)
    if ingest_date is not None:
        df = df.filter(F.col("ingest_date") == F.lit(str(ingest_date)))
    return df


def write_raw_chart(df: DataFrame, raw_root: str) -> None:
    """Land raw chart documents partitioned by (ingest_date, country).

    ``mode("overwrite")`` + dynamic partition overwrite replicates the
    reference's ``replace=True`` per-key overwrite
    (dags/raw_from_api_to_s3.py:49-54) without clobbering other dates.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest_date", "country")
        .json(raw_root)
    )
