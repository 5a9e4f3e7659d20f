"""S9 — output rebalancer: re-shard a table to EXACTLY N rows per file.

Reference: pdfwf/balance.py:30-114 (CLI pdfwf/cli.py:347-401) reads
every JSONL shard on one node and rewrites files of exactly
``lines_per_file`` lines, last file carrying the remainder.

Spark re-expression, fully distributed:

1. (optional) global ordering via ``repartitionByRange`` +
   ``sortWithinPartitions`` — range partitions are totally ordered, so
   the contiguous index below is a global sort order;
2. contiguous global row index WITHOUT a single-partition window:
   per-partition counts (a tiny count job, one row per partition) ->
   driver-side prefix offsets -> broadcast join + per-partition
   ``row_number()`` window (parallel: one window group per input
   partition). The staged frame is persisted so the count job and the
   window job see the same partitioning (range boundaries are sampled
   and would otherwise differ between jobs);
3. ``file_grp = floor(index / rows_per_file)`` -> shuffle on file_grp
   -> ``write.partitionBy(file_grp)``: each group lands wholly in one
   task, so each output directory holds exactly one file with exactly
   ``rows_per_file`` rows (remainder group excepted).

Cost: one count job + two shuffles of the (post-extraction) rows —
the reference rewrites all bytes single-node, so this is strictly
more scalable. For an *approximate* cap (files of at-most-N rows, no
exactness guarantee) skip all of this and set
``spark.sql.files.maxRecordsPerFile`` on the ordinary write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _staged_with_index(
    df: DataFrame, order_by: list[str] | None
) -> tuple[DataFrame, DataFrame, int]:
    """Returns (indexed_df with _rn, persisted handle to unpersist,
    total row count)."""
    if order_by:
        staged = df.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    else:
        staged = df
    staged = (
        staged.withColumn("_pid", F.spark_partition_id())
        .withColumn("_arrival", F.monotonically_increasing_id())
        .persist()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in staged.groupBy("_pid").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    offsets, acc = [], 0
    for pid in sorted(counts):
        offsets.append((pid, acc))
        acc += counts[pid]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets or [(0, 0)], "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy("_arrival")
    indexed = (
        staged.join(F.broadcast(off_df), "_pid")
        .withColumn("_rn", F.col("_off") + F.row_number().over(w) - 1)
        .drop("_pid", "_arrival", "_off")
    )
    return indexed, staged, acc


def rebalance(
    df: DataFrame,
    out_path: str,
    rows_per_file: int,
    order_by: list[str] | None = None,
    mode: str = "error",
) -> int:
    """Re-shard `df` into parquet files of exactly rows_per_file rows
    (balance.py:30-114 contract; the last file holds the remainder).
    Returns the number of file groups written."""
    if rows_per_file <= 0:
        raise ValueError("rows_per_file must be positive")
    indexed, handle, total = _staged_with_index(df, order_by)
    try:
        grouped = indexed.withColumn(
            "file_grp", F.floor(F.col("_rn") / rows_per_file)
        ).drop("_rn")
        # shuffle on file_grp so each group is written by one task ->
        # exactly one file per directory with exactly rows_per_file rows
        (
            grouped.repartition(F.col("file_grp"))
            .write.mode(mode)
            .partitionBy("file_grp")
            .parquet(out_path)
        )
    finally:
        handle.unpersist()
    return (total + rows_per_file - 1) // rows_per_file
