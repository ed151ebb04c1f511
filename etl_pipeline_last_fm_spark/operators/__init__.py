"""Operator library — each a composable DataFrame -> DataFrame transform.

Core relational set (SURVEY.md §2): flatten, impute, idempotent append,
surrogate keys, star join, windowed top-k. Extension set (BASELINE.json
north-star): dedup family, similarity search, text analysis.
"""
