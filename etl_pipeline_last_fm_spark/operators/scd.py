"""Type-2 slowly-changing-dimension history building.

The reference warehouse keeps only current-state dims (dds dim_country /
dim_artist / dim_song, reference sql/init_dds.sql); the standard upgrade
path when history matters is SCD2 — one row per (entity, attribute-value
run) with a validity interval. Building SCD2 from an event/transaction log
is the gaps-and-islands pattern:

1. per entity, order observations by (event time, tiebreak id);
2. a change flag where the tracked attribute differs from its lag;
3. a running sum of change flags numbers the islands (versions);
4. per island: valid_from = first observation, valid_to = the NEXT
   island's valid_from (half-open intervals, so intervals tile with no
   gaps), NULL for the current version.

All windows partition on the entity key — one shuffle, full parallelism,
no global ordering. At 100 TB the only care is entity-key skew, and a
dimension entity with enough observations to skew a partition is a data
bug, not a plan bug.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def scd2_history(log: DataFrame) -> DataFrame:
    """Collapse an orders log into SCD2 rows of each customer's order
    priority, ordered by (o_orderdate, o_orderkey).

    Returns (o_custkey, o_orderpriority, version, valid_from, valid_to,
    is_current) with version numbering from 1 per entity, valid_from/valid_to formatted
    yyyy-MM-dd (half-open; valid_to NULL on the current row).
    """
    obs = log.select(
        "o_custkey",
        "o_orderpriority",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("__d"),
        F.col("o_orderkey").cast("long").alias("__tb"),
    )
    return _scd2_from_obs(obs, "o_custkey", "o_orderpriority")


def _scd2_from_obs(obs: DataFrame, key: str, attr: str) -> DataFrame:
    """Gaps-and-islands core over prepared observations
    (key, attr, __d yyyy-MM-dd string, __tb long)."""
    flagged = obs.withColumn(
        "__chg",
        F.when(
            F.lag(attr).over(
                Window.partitionBy(key).orderBy("__d", "__tb")
            ).eqNullSafe(F.col(attr)),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    wrun = Window.partitionBy(key).orderBy("__d", "__tb").rowsBetween(
        Window.unboundedPreceding, 0
    )
    islands = flagged.withColumn("__ver", F.sum("__chg").over(wrun))
    wver = Window.partitionBy(key).orderBy("__ver")
    return (
        islands.groupBy(key, "__ver")
        .agg(
            F.first(attr).alias(attr),
            F.min("__d").alias("valid_from"),
        )
        .withColumn("valid_to", F.lead("valid_from").over(wver))
        .select(
            key,
            attr,
            F.col("__ver").cast("int").alias("version"),
            "valid_from",
            "valid_to",
            F.col("valid_to").isNull().alias("is_current"),
        )
    )


def scd2_as_of(history: DataFrame, as_of: str) -> DataFrame:
    """Point-in-time lookup over an SCD2 table: each entity's attribute
    value as of a date — the query SCD2 exists to answer. Half-open
    interval semantics (valid_from <= d < valid_to, NULL valid_to = open):
    a pure filter over the history, no join, no window; at 100 TB this is
    a partition-prunable scan if the history is written partitioned on
    valid_from ranges."""
    d = F.lit(as_of)
    return history.filter(
        (F.col("valid_from") <= d)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > d))
    ).select("o_custkey", "o_orderpriority", "version", "valid_from")


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Table-snapshot diff: classify every key as added / removed / changed
    between two snapshots, with old and new values side by side (unchanged
    rows are omitted — at warehouse scale they are almost everything, and
    emitting them would make the diff as big as the table).

    This is the audit/CDC primitive the reference's append-only layers
    imply but never materialize: ON CONFLICT DO NOTHING (reference
    dags/from_ods_to_dds_pg.py:46-102) silently skips changed rows, so
    drift between a re-pull and the stored snapshot is invisible; the diff
    makes it a first-class query.

    Plan shape: one full outer join on the key (shuffle both sides on the
    same key — co-partitioned), per-row classification expressions, a
    selective filter. Comparison is null-safe (a column going NULL <-> a
    value counts as changed).
    """
    o = old.select(
        *[F.col(k).alias(f"__ko_{k}") for k in key_cols],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(k).alias(f"__kn_{k}") for k in key_cols],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
    )
    cond = None
    for k in key_cols:
        e = F.col(f"__ko_{k}") == F.col(f"__kn_{k}")
        cond = e if cond is None else (cond & e)
    j = o.join(n, cond, "full_outer")

    in_old = F.col(f"__ko_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__kn_{key_cols[0]}").isNotNull()
    differs = None
    for c in compare_cols:
        d = ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
        differs = d if differs is None else (differs | d)
    change = (
        F.when(~in_old, F.lit("added"))
        .when(~in_new, F.lit("removed"))
        .when(differs, F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    keys = [
        F.coalesce(F.col(f"__ko_{k}"), F.col(f"__kn_{k}")).alias(k) for k in key_cols
    ]
    return (
        j.withColumn("change", change)
        .filter(F.col("change") != "unchanged")
        .select(
            *keys,
            "change",
            *[F.col(f"old_{c}") for c in compare_cols],
            *[F.col(f"new_{c}") for c in compare_cols],
        )
    )


MERGE_CUTOFF_US = 1705363200000000  # 2024-01-16T00:00:00Z

# ---------------------------------------------------------------------------
# MERGE INTO (upsert + delete) semantics
# ---------------------------------------------------------------------------


def merge_upsert(events: DataFrame, cutoff_us: int = MERGE_CUTOFF_US) -> DataFrame:
    """ANSI ``MERGE INTO`` semantics over the event log — the general
    upsert the reference's ``ON CONFLICT DO NOTHING`` (SURVEY §2.7) is
    the insert-only special case of:

        target:  latest pre-cutoff event per user  -> (user_id, value, ...)
        source:  post-cutoff events, compacted to the latest op per user;
                 ``error`` events are DELETEs, all others UPSERTs
        WHEN MATCHED     AND op = delete -> DELETE
        WHEN MATCHED     AND op = upsert -> UPDATE value, updated_us
        WHEN NOT MATCHED AND op = upsert -> INSERT
        WHEN NOT MATCHED AND op = delete -> no-op

    Expressed as: two per-key latest-row compactions (one window shuffle
    each on user_id) + one full-outer join + CASE — the exact plan a
    Delta/Iceberg MERGE lowers to, minus the file-level commit protocol
    (the table-format layer; ``pipeline.py``'s idempotent append owns the
    commit story here). Determinism: "latest" ties break by event_id;
    timestamps are integer epoch-µs (NTZ-safe).

    Scale: both compactions and the join shuffle on user_id — at cluster
    scale all three co-partition, so the merge is one shuffle of each
    input. No driver state.
    """
    from etl_pipeline_last_fm_spark.functions.scalar import ts_us

    ev = events.select(
        "user_id",
        "event_id",
        "event_type",
        "value",
        ts_us(F.col("ts")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("us").desc(), F.col("event_id").desc())
    target = (
        ev.filter(F.col("us") < cutoff_us)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("t_uid"),
            F.col("value").alias("t_value"),
            F.col("us").alias("t_us"),
        )
    )
    source = (
        ev.filter(F.col("us") >= cutoff_us)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("user_id").alias("s_uid"),
            (F.col("event_type") == "error").alias("s_del"),
            F.col("value").alias("s_value"),
            F.col("us").alias("s_us"),
        )
    )
    merged = target.join(source, target.t_uid == source.s_uid, "full_outer")
    return (
        merged.filter(~F.coalesce(F.col("s_del"), F.lit(False)))
        .select(
            F.coalesce(F.col("t_uid"), F.col("s_uid")).alias("user_id"),
            # Branch on source-row PRESENCE, not value nullability: an
            # upsert carrying a NULL value must overwrite (events.value is
            # genuinely nullable; coalesce(s_value, t_value) would
            # silently keep the stale target value).
            F.when(F.col("s_uid").isNotNull(), F.col("s_value"))
            .otherwise(F.col("t_value"))
            .alias("value"),
            F.coalesce(F.col("s_us"), F.col("t_us")).alias("updated_us"),
        )
    )
