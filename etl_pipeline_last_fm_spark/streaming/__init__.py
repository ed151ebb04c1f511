"""Structured Streaming variants of the ingest path (SURVEY.md §2.11, §7.6)
and the replay-guarded fold driver every streaming state goes through."""
