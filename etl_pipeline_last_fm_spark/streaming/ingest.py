"""Streaming ingest: raw-zone file source -> idempotent ODS merge.

The reference's daily cron + date-partition filter + ON CONFLICT insert
(SURVEY.md §2.11) maps onto Structured Streaming as:

- file source discovering new ``ingest_date=<d>/country=<c>`` drops,
- ``trigger(availableNow=True)`` = "process everything that has landed,
  then stop" — the daily batch, minus the scheduler,
- ``foreachBatch(idempotent_append + append)`` = exactly-once sink
  semantics: checkpointing dedupes *files* across restarts, the conflict-key
  anti-join dedupes *rows* across overlapping drops — together they make
  replays no-ops, which is precisely what ON CONFLICT buys the reference.

Late data: the reference silently drops late files (its LIST is scoped to
the current date, dags/transformed_from_s3_to_pg.py:24). The streaming
variant is strictly better: a file landing under an old ingest_date is still
picked up by the next trigger and lands in the right partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.flatten import flatten_raw_chart
from etl_pipeline_last_fm_spark.operators.idempotent import idempotent_append
from etl_pipeline_last_fm_spark.schemas import ODS_CONFLICT_KEY, ODS_SCHEMA, RAW_SCHEMA


def stream_raw_to_ods(
    spark: SparkSession,
    raw_root: str,
    ods_path: str,
    checkpoint: str,
    available_now: bool = True,
):
    """Start (and with ``available_now`` run to completion) the streaming
    raw -> ODS merge. Returns the StreamingQuery.

    Partition columns are recovered from the file path (the reference's
    filename-parse operator P5, dags/transformed_from_s3_to_pg.py:64, done
    once here instead of per-row in Python)."""
    raw = (
        spark.readStream.schema(RAW_SCHEMA)
        .option("multiLine", "true")
        .option("pathGlobFilter", "*.json")
        .json(f"{raw_root}/*/*")
    )
    fname = F.input_file_name()
    raw = raw.withColumn(
        "ingest_date", F.regexp_extract(fname, r"ingest_date=([^/]+)", 1)
    ).withColumn("country", F.regexp_extract(fname, r"country=([^/]+)", 1))
    # Directory names are URL-encoded by the partitioned writer (spaces etc.).
    raw = raw.withColumn("country", F.url_decode("country"))

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from etl_pipeline_last_fm_spark.sources.fs import has_files_with_suffix

        spark_b = batch_df.sparkSession
        ods_batch = flatten_raw_chart(batch_df)
        existing = None
        # Hadoop FS probe, not os.walk: the ODS path may be an
        # object-store URI (sources/fs.py, round 11).
        if has_files_with_suffix(spark_b, ods_path, ".parquet"):
            existing = spark_b.read.schema(ODS_SCHEMA).parquet(ods_path)
        delta = idempotent_append(
            ods_batch,
            existing,
            keys=ODS_CONFLICT_KEY,
            tiebreaker=["song_name", "artist_name"],
            prune_on=["source_date"],
        )
        # Round-robin compaction, not repartition on the partition column:
        # a single-date micro-batch would collapse to one write task
        # (SCALING.md file-count policy, round 11).
        from etl_pipeline_last_fm_spark.sources.layout import (
            write_compacted_partitioned,
        )

        write_compacted_partitioned(
            delta, ods_path, partition_cols=["source_date"], mode="append"
        )

    writer = (
        raw.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
