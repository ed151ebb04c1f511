"""Declarative query plans: the DDS star build and the DM marts."""

from etl_pipeline_last_fm_spark.plans.star_build import build_dims, build_fact
from etl_pipeline_last_fm_spark.plans.marts import present_marts

__all__ = ["build_dims", "build_fact", "present_marts"]
