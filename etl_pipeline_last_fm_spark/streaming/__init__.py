"""Structured Streaming variants of the ingest path (SURVEY.md §2.11, §7.6)
and the replay-guarded fold driver every streaming state goes through."""

from etl_pipeline_last_fm_spark.streaming.ingest import (
    stream_raw_to_ods,
    windowed_event_stats,
)
from etl_pipeline_last_fm_spark.streaming.state import (
    commit_state,
    fold_batch,
    list_state_versions,
    maintain,
    read_state,
)

__all__ = [
    "stream_raw_to_ods",
    "windowed_event_stats",
    "commit_state",
    "fold_batch",
    "list_state_versions",
    "maintain",
    "read_state",
]
