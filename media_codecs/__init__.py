"""Pure-Python image codecs (stdlib + numpy): JPEG and GIF.

A stand-alone library, not part of the ETL engine: nothing under
``etl_pipeline_last_fm_spark`` imports it, and no query, pipeline stage
or CLI command uses it.
"""
