"""Declarative query plans: the DDS star build and the DM marts."""

from etl_pipeline_last_fm_spark.plans.star_build import build_dims, build_fact
from etl_pipeline_last_fm_spark.plans.marts import (
    mart_artist_appearances,
    mart_avg_duration_by_country,
    mart_expected_royalties,
)

__all__ = [
    "build_dims",
    "build_fact",
    "mart_artist_appearances",
    "mart_avg_duration_by_country",
    "mart_expected_royalties",
]
