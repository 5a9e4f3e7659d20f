"""Commit buckets + skew handling (SURVEY §2.3 skew note).

The reference sidesteps skew by fixing chunk size (convert.py:273-275,
~10 PDFs per zip task). Our unit of work is a *turn*, so
mega-conversations would otherwise pin one conv to one task. Because
extraction is per-row (no cross-turn state inside the UDF), staging
may hash on the turn key (conv_id, turn_idx) — per-tuple granularity,
the finest split of a hot conversation (pipeline._stage) — while
`bucket` = pmod(xxhash64(conv_id), B) remains the logical
commit/resume unit. Per-conv grouping is restored only in the (cheap)
ordering window afterwards — mirroring how the reference parallelizes
at page granularity and regroups by file_id
(tensor_utils.py:2159-2291).

The scan-split rule lives in one place: `repartition_for_scan`, called
only where a table is read (pipeline._stage, curation.curate, the
query reader and the job readers), never inside an operator. Asking a
frame for its partition count goes through `df.rdd`, which on a frame
that already holds an exchange runs that exchange (under AQE, every
upstream shuffle stage as its own job) just to answer; on a frame
fresh from a read it is free.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_BUCKETS = 64


def repartition_for_scan(
    df: DataFrame, keys: Sequence[str] = (), n_partitions: int | None = None
) -> DataFrame:
    """The one under-split rule: a scan with fewer partitions than the
    target (`n_partitions`, default defaultParallelism) is repartitioned
    to the target — round-robin when `keys` is empty, hashed on `keys`
    otherwise; a well-split scan is returned unchanged.

    A single small parquet file scans as ONE partition, so everything
    upstream of the first exchange runs on one core (observed: a 2M-
    md5 partial aggregate pinned to a single thread). At cluster scale
    inputs already have many splits and this is a no-op.

    Call it only on a frame fresh from a read: the partition count
    comes from `df.rdd`, and on a frame with an exchange that runs the
    exchange.
    """
    target = n_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, *keys)
    return df


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic commit/resume bucket from conv_id."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")
    )


def _key_counts(df: DataFrame, key_cols: Sequence[str] | str) -> tuple[DataFrame, list[str]]:
    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    absent = [k for k in keys if k not in df.columns]
    if absent:
        raise ValueError(f"key columns absent: {absent}")
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_rows")), keys


def profile_key_skew(df: DataFrame, key_cols: Sequence[str] | str) -> DataFrame:
    """One-row shuffle-key health report: would a groupBy/join on
    `key_cols` skew? Output: (n_rows, n_keys, max_key_rows,
    skew_milli) where skew_milli = 1000 * max/mean key size (1000 =
    perfectly uniform). Integer milli units, no floats — engine-
    portable. Cost: ONE map-side-combined count per key, then a
    driver-sized aggregate over the O(distinct) counts table; run it
    before committing to a partitioning, exactly the decision data a
    skew-splitting repartition needs."""
    counts, _ = _key_counts(df, key_cols)
    return counts.agg(
        F.sum("n_rows").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n_rows").alias("max_key_rows"),
        F.expr(
            "CAST((1000 * max(n_rows) * count(1)) DIV sum(n_rows) AS BIGINT)"
        ).alias("skew_milli"),
    )


def heavy_keys(
    df: DataFrame, key_cols: Sequence[str] | str, top_n: int = 10
) -> DataFrame:
    """The top_n heaviest shuffle keys (the ones to salt or broadcast
    around), deterministically tie-broken by the key itself. The sort
    + limit is a distributed TakeOrdered over the already-reduced
    counts table; the rank window runs on top_n rows only."""
    counts, keys = _key_counts(df, key_cols)
    order = [F.col("n_rows").desc()] + [F.col(k) for k in keys]
    top = counts.orderBy(*order).limit(top_n)
    w = Window.orderBy(*order)
    return top.withColumn("rank", F.row_number().over(w).cast("int"))
