"""JSONL shard sink — the reference's literal output surface.

The reference appends one JSONL shard per parser-instance UUID
(pdfwf/convert.py:65-71) and re-shards them to exactly-N-lines files
offline (pdfwf/balance.py:30-114). Spark-natively both collapse into
one distributed write: `df.write.json` emits one shard per task, and
`spark.sql.files.maxRecordsPerFile` bounds lines per file at write
time — no offline rebalance pass. The Iceberg/parquet table sink
(sinks/table.py) remains the engine's primary contract; this module
exists so reference users keep their downstream JSONL consumers.

jobs/export_jsonl.py is its caller: it exports the committed view of
an extraction output (pipeline.read_output), so rows of uncommitted
runs never reach a shard. Read shards back with
`spark.read.schema(...).json(path)`; pass the schema, since inference
is a full extra pass over the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_jsonl(df: DataFrame, out_dir: str, lines_per_file: int) -> None:
    """Write `df` as JSONL shards (one file per task; each row one
    JSON object). `lines_per_file` caps lines per shard via
    maxRecordsPerFile — the write-time twin of the reference's
    balance.py re-sharder, with no second pass over the data."""
    if lines_per_file <= 0:
        raise ValueError(f"lines_per_file must be positive, got {lines_per_file}")
    df.write.mode("overwrite").option("maxRecordsPerFile", lines_per_file).json(out_dir)
