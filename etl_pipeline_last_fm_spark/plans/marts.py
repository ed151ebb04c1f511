"""DM aggregate marts (reference dags/from_dds_to_dm_pg.py, scripts/ddl_dm.sql).

Each mart is one additive state plus one presentation, used by both DM
drivers: ``run_dm`` presents the states of the day's fact rows (the step
from no state), ``run_dm_streaming`` the states it folds over the fact
stream. Both states are ``(date, <id>, s, c)`` in exact centi-unit longs
(operators/incremental.py), so any merge order gives the same sums. The
marts overwrite their date partitions, so re-runs are no-ops, unlike the
reference's INSERTs (dags/from_dds_to_dm_pg.py:46-79; Appendix A.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.functions.scalar import round2
from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_step,
    mart_step,
    sum_by,
)
from etl_pipeline_last_fm_spark.schemas import ROYALTY_RATE

_ARTIST_KEYS = ["date", "artist_id"]


def listeners_state(fact: DataFrame) -> DataFrame:
    """``(date, artist_id, s, c)``: ``s`` = 100 × SUM(listeners_count),
    ``c`` = COUNT(*). ``s`` is NULL when every listeners count of the
    group is NULL, as SQL SUM is, so such an artist's royalties stay
    NULL (README deviation 4) while it still counts its appearances."""
    return fact.groupBy(*_ARTIST_KEYS).agg(
        F.sum(F.col("listeners_count").cast("long") * F.lit(100)).alias("s"),
        F.count(F.lit(1)).alias("c"),
    )


LISTENERS_STEP = additive_step(listeners_state, sum_by(_ARTIST_KEYS))
DURATION_STEP = mart_step(["date", "country_id"], "duration_sec")


def song_durations(fact: DataFrame, dim_song: DataFrame) -> DataFrame:
    """The input of ``DURATION_STEP``, and the DM layer's one join of
    dim_song. Unhinted: dim_song is corpus-scaled, so a forced broadcast
    OOMs the driver at 100 TB; size-based planning and AQE decide."""
    return fact.join(dim_song, "song_id").select("date", "country_id", "duration_sec")


def present_marts(
    listeners: DataFrame,
    durations: DataFrame,
    dim_artist: DataFrame,
    dim_country: DataFrame,
) -> dict[str, DataFrame]:
    """The three marts from the two states, each joined to its bounded
    dim (hint-broadcast). ``merge_dim`` keeps one id per name, so a
    ``(date, artist_id)`` state row is a ``(date, artist_name)`` mart row
    and no second aggregate is needed.

    - avg_song_duration_by_country (A1/J4/J5): ``s / (100c)``. The sum is
      an exact long, so this is one IEEE division of the true rational
      SUM/COUNT, correctly rounded, and bit-identical to any other way of
      writing it (round-9 float-sum audit). A country whose durations are
      all NULL has ``s`` NULL and ``c`` 0, and its average is NULL.
    - artist_appearances_by_date (A2/J6): ``c``, i.e. COUNT(*).
    - expected_artist_royalties_by_date (A3/F2/F3): ``round2(s / 100 ×
      rate)``. ``s / 100`` is the exact integer SUM, so this equals the
      reference's ROUND(SUM(listeners_count) * rate, 2). The rows carry
      no order (README deviation 5).
    """
    artists = listeners.join(F.broadcast(dim_artist), "artist_id")
    return {
        "avg_song_duration_by_country": durations.join(
            F.broadcast(dim_country), "country_id"
        ).select(
            "date",
            "country_name",
            (F.col("s").cast("double") / (F.col("c") * F.lit(100)).cast("double")).alias(
                "avg_duration_sec"
            ),
        ),
        "artist_appearances_by_date": artists.select(
            "date", "artist_name", F.col("c").alias("cnt_appearance")
        ),
        "expected_artist_royalties_by_date": artists.select(
            "date",
            "artist_name",
            round2(F.col("s").cast("double") / F.lit(100.0) * F.lit(ROYALTY_RATE)).alias(
                "royalties"
            ),
        ),
    }
