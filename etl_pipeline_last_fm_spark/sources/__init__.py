"""Sources & sinks: raw-zone JSON, parquet table catalog, HTTP ingest."""
