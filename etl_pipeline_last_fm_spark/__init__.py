"""etl_pipeline_last_fm_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference ETL pipeline (MrDan1el/ETL-Pipeline-Last.fm,
surveyed in /root/repo/SURVEY.md). The reference is a daily-batch Airflow +
Postgres pipeline; this engine re-expresses every operator as declarative
DataFrame/SQL plans executed by Catalyst/Tungsten, designed so each plan
scales from the local test fixtures to a 1000-executor cluster:

- ``sources``    — JSON raw-zone reader, parquet table catalog, HTTP ingest
- ``operators``  — the operator library (flatten, impute, idempotent append,
                   surrogate keys, star join, windowed top-k, dedup family,
                   similarity search, text analysis)
- ``functions``  — scalar expression helpers with Postgres-parity semantics
- ``plans``      — the DDS star build and DM mart queries
- ``streaming``  — Structured Streaming variant of the ingest path
- ``pipeline``   — the end-to-end daily batch pipeline (raw -> ODS -> DDS -> DM)
"""

__version__ = "0.1.0"
