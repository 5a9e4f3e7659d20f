"""Output sinks: the table (Iceberg when available, parquet layout
otherwise) and the JSONL shards jobs/export_jsonl.py writes."""
