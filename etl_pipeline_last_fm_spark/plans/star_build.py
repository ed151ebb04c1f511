"""ODS -> DDS star build (reference dags/from_ods_to_dds_pg.py).

Stage order matters exactly as in the reference (`:110` — dims before fact,
because the fact build looks up the ids the dim loads just created):

1. dim_country  — DISTINCT country,                 conflict key (country_name)   (:42-53)
2. dim_artist   — DISTINCT artist_name,             conflict key (artist_name)    (:55-66)
3. dim_song     — DISTINCT song_name + imputed dur, conflict key (song,duration)  (:68-83)
4. fact         — 3-way star join on natural keys,  conflict key (date,ctry,rank) (:85-104)

Steps 1-3 are ``build_dims``, one ``merge_dim`` per dim, and step 4 is
``build_fact``; the pipeline commits the dims between the two and builds
the fact against the committed snapshot.

Appendix A.1 (zero-duration fact-row loss): the reference joins the fact on
the RAW ODS duration while dim_song stores the IMPUTED duration
(dags/from_ods_to_dds_pg.py:98 vs :74-77), silently dropping zero-duration
chart rows. This engine FIXES the bug — the fact build joins on the imputed
duration on both sides.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import date as Date

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.idempotent import idempotent_append
from etl_pipeline_last_fm_spark.operators.impute import impute_zero_with_partition_mean
from etl_pipeline_last_fm_spark.operators.surrogate import (
    assign_surrogate_keys,
    offset_by_max,
)
from etl_pipeline_last_fm_spark.operators.star import star_join


@dataclass
class DdsDims:
    dim_country: DataFrame
    dim_artist: DataFrame
    dim_song: DataFrame


@dataclass
class DdsTables(DdsDims):
    fact: DataFrame


def _impute_duration(ods: DataFrame) -> DataFrame:
    # P8/P9: zero durations -> the day's half-up mean of the non-zero ones.
    return impute_zero_with_partition_mean(
        ods,
        value_col="duration_sec",
        partition_cols=["source_date"],
        out_col="duration_imputed",
    )


def merge_dim(keys: DataFrame, existing: DataFrame | None, id_col: str) -> DataFrame:
    """``existing`` (``id_col`` + the key columns of ``keys``) extended by
    the natural keys of ``keys`` it lacks: ``INSERT … SELECT DISTINCT …
    ON CONFLICT DO NOTHING`` into a ``serial`` id (reference
    dags/from_ods_to_dds_pg.py:42-83).

    One aggregate merges the batch into the dim: union ``existing`` with
    the batch's keys under a NULL id and take ``max(id)`` per key. A key
    that already has an id keeps it; the NULL-id groups are the new keys,
    numbered in key order above the max id of ``existing``. ``groupBy``
    puts NULL keys in one group, so a key holding NULL (an all-sentinel
    day's imputed duration, FIXTURES.md A5.2) matches its own earlier
    load instead of being appended again."""
    key_cols = keys.columns
    merged = keys.select(F.lit(None).cast("long").alias(id_col), *key_cols)
    if existing is not None:
        merged = existing.select(id_col, *key_cols).unionByName(merged)
    groups = merged.groupBy(*key_cols).agg(F.max(id_col).alias(id_col))
    known = groups.filter(F.col(id_col).isNotNull()).select(id_col, *key_cols)
    new = assign_surrogate_keys(
        groups.filter(F.col(id_col).isNull()).drop(id_col), id_col, key_cols,
        existing=existing,
    ).select(id_col, *key_cols)
    return known.unionByName(new)


def build_dims(ods: DataFrame, existing: DdsDims | None = None) -> DdsDims:
    """Extend the three dims with the natural keys of an ODS slice.

    ``ods`` is the slice to load — in the daily pipeline, one date partition
    (the reference filters ``source_date = <d>`` in every statement,
    dags/from_ods_to_dds_pg.py:49,62,79,100; callers pre-filter here, which
    Catalyst turns into partition pruning on the ODS scan).

    Returns the *new full* dims (existing ∪ appended delta), ready to be
    written as the next snapshot.
    """
    return DdsDims(
        dim_country=merge_dim(
            ods.select(F.col("country").alias("country_name")),
            existing.dim_country if existing else None,
            "country_id",
        ),
        dim_artist=merge_dim(
            ods.select("artist_name"),
            existing.dim_artist if existing else None,
            "artist_id",
        ),
        # P8/P9: dim_song stores the imputed duration.
        dim_song=merge_dim(
            _impute_duration(ods).select(
                "song_name", F.col("duration_imputed").alias("duration_sec")
            ),
            existing.dim_song if existing else None,
            "song_id",
        ),
    )


def build_fact(
    ods: DataFrame,
    dims: DdsDims,
    run_date: str | Date,
    existing_fact: DataFrame | None = None,
) -> DataFrame:
    """The fact delta of the ``run_date`` rows of ``ods``, looked up
    against ``dims`` (in the pipeline: the committed snapshot, so it joins
    exactly the persisted ids) and numbered above the max ``fact_id`` of
    ``existing_fact``.

    Only the ``run_date`` partition of ``existing_fact`` can hold a
    conflicting key, so the conflict check reads it alone, through a
    literal partition filter."""
    day = F.lit(str(run_date))
    ods = ods.filter(F.col("source_date") == day)
    # --- fact (J1-J3 star join + U5) ---
    song_side = dims.dim_song.select(
        "song_id",
        F.col("song_name").alias("__song_name"),
        F.col("duration_sec").alias("__song_duration"),
    )
    joined = star_join(
        _impute_duration(ods),
        [(dims.dim_artist, "artist_name")],
    ).join(
        # J2 composite key; null-safe on duration so an all-sentinel day
        # (imputed duration NULL, FIXTURES.md A5.2) still reaches the fact —
        # the engine's documented fix over the reference's row loss.
        # UNHINTED: dim_song is corpus-scaled, so a forced broadcast OOMs
        # at 100 TB; size-based planning (plus AQE) broadcasts it exactly
        # when it actually fits.
        song_side,
        (F.col("song_name") == F.col("__song_name"))
        & F.col("duration_imputed").eqNullSafe(F.col("__song_duration")),
        "inner",
    ).drop("__song_name", "__song_duration").join(
        # J3 has mismatched key names (dc.country_name = dr.country,
        # reference dags/from_ods_to_dds_pg.py:99) -> explicit join Column.
        F.broadcast(dims.dim_country),
        F.col("country") == F.col("country_name"),
        "inner",
    )

    new_fact = idempotent_append(
        joined.select(
            F.col("source_date").alias("date"),
            "country_id",
            "song_id",
            "artist_id",
            "song_rank",
            "listeners_count",
        ),
        existing_fact.filter(F.col("date") == day) if existing_fact is not None else None,
        keys=["date", "country_id", "song_rank"],
        tiebreaker=["song_id", "artist_id"],
    )
    # Fact ids: the day's rows in natural-key order above max(fact_id).
    # Partitioned by the date, the window rides the imputation window's
    # exchange on source_date; an unpartitioned one would add an exchange
    # to a single partition.
    in_day = Window.partitionBy("date").orderBy("country_id", "song_rank")
    return offset_by_max(
        new_fact.withColumn("__rn", F.row_number().over(in_day)),
        "fact_id",
        existing_fact,
    ).select(
        "fact_id", "date", "country_id", "song_id", "artist_id", "song_rank", "listeners_count"
    )
