"""Output table sink (SURVEY §2.1 S6 Spark mapping).

The reference appends JSONL shards named by parser-instance UUID
(convert.py:65-71) — idempotence and ordering are undefined. The
engine's contract is a table append:

- Preferred: Iceberg (`df.writeTo(table).append()` — atomic snapshot
  commit, the real exactly-once story at cluster scale). The Iceberg
  runtime jars are not in this sandbox image, so this path is gated
  behind a capability probe and exercised only as plumbing.
- Fallback: parquet directory partitioned by `run_id`/`bucket` with
  append mode. Combined with lineage-after-data write ordering (see
  pipeline.run_extraction), a rerun after a partial failure skips
  committed buckets and re-writes only uncommitted ones.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath/config."""
    try:
        confs = spark.conf
        for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.local"):
            try:
                impl = confs.get(key)
            except Exception:
                impl = None
            if impl and "iceberg" in impl.lower():
                return True
    except Exception:
        pass
    return False


# physical layout of the data table. The run_id level lets a commit
# derive its lineage from a PARTITION-PRUNED read-back of exactly the
# files it just wrote (pipeline.commit_run), and read_output joins
# committed (run_id, bucket) pairs; the bucket level keeps
# resume/bucket filters as partition filters.
PARTITION_COLS = ("run_id", "bucket")


def append_data(df: DataFrame, target: str) -> None:
    """Append rows to the output table/path, partitioned by
    PARTITION_COLS."""
    spark = df.sparkSession
    if "://" not in target and not target.startswith("/"):
        # catalog table name (Iceberg path)
        if iceberg_available(spark):
            df.writeTo(target).append()
            return
        raise ValueError(f"catalog table {target!r} requires an Iceberg catalog")
    df.write.mode("append").partitionBy(*PARTITION_COLS).parquet(target)


def append_lineage(df: DataFrame, target: str) -> None:
    df.write.mode("append").parquet(target)
