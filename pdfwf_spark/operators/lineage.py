"""Per-partition lineage rows + bucket-set resume (SURVEY §2.2 P1).

The reference recovers checkpoint state by grepping '[timer]' lines
out of Parsl stdout logs (convert.py:144-182, timer.py:132-163) and
re-globbing inputs against that set. Here lineage is first-class data:
one row per committed bucket with input/ok/failure counts, byte
totals and the bucket count the run hashed with; resume reads the
committed bucket ids (at most n_buckets ints) to the driver and
filters the input scan against that set, so at 10^12-turn scale whole
buckets drop out before any payload bytes move, with no join. A
bucket id means nothing under another count, so resume refuses one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdfwf_spark.schemas import LINEAGE_SCHEMA


def lineage_rows(extracted: DataFrame, run_id: str, n_buckets: int) -> DataFrame:
    """Aggregate per-bucket lineage from the full (all-status)
    extraction output, hashed into `n_buckets` buckets. Map-side
    partial aggregation applies (one long column set, narrow groupBy
    on the already-colocated bucket key)."""
    return (
        extracted.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("input_count"),
            F.sum(F.when(F.col("parse_status") == "ok", 1).otherwise(0)).alias("ok_count"),
            F.sum(F.when(F.col("parse_status") != "ok", 1).otherwise(0)).alias(
                "parse_failures"
            ),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
            # 'parser-parse' stage wall per bucket (timer.py:36-129
            # analog; the reference scrapes this from stdout logs)
            (F.sum("extract_us") / 1000).cast("long").alias("extract_ms"),
            # 'initialize-parser' wall (timer.py:36-129): each worker
            # reports its import+compile cost once, on its first row
            (F.sum("init_us") / 1000).cast("long").alias("init_ms"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("bucket"),
            "input_count",
            "ok_count",
            "parse_failures",
            "bytes_in",
            "bytes_out",
            "extract_ms",
            "init_ms",
            F.current_timestamp().alias("committed_at"),
            F.lit(n_buckets).cast("int").alias("n_buckets"),
        )
    )


def _exists(spark: SparkSession, path: str) -> bool:
    """Asked of the path's Hadoop FileSystem on the driver: no Spark
    job, and no FileNotFoundException trace for a path not written yet."""
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()).exists(hpath)


def read_or_empty(spark: SparkSession, path: str, schema) -> DataFrame:
    """Parquet read where ONLY a missing path means 'no data yet'. Any
    other failure (storage hiccup, permissions, corrupt footer)
    raises: treating it as empty would let resume reprocess
    already-committed buckets under a new run_id and permanently
    duplicate output rows."""
    if not _exists(spark, path):
        # zero partitions: no task runs for it, so no Python worker
        # starts (a local-list frame starts one per core)
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)
    return spark.read.schema(schema).parquet(path)


def read_lineage(spark: SparkSession, lineage_path: str) -> DataFrame:
    """Committed lineage, or an empty frame when none exists yet."""
    return read_or_empty(spark, lineage_path, LINEAGE_SCHEMA)


def check_bucket_count(recorded: set, n_buckets: int) -> None:
    """Raise ValueError when committed lineage was hashed with a bucket
    count other than `n_buckets`: its bucket ids name other
    conversations, so skipping them would drop uncommitted turns and
    re-extract committed ones. NULL counts come from lineage written
    before the count was recorded and are trusted, as they always were."""
    other = sorted(c for c in recorded if c is not None and c != n_buckets)
    if other:
        raise ValueError(
            f"committed lineage was written with n_buckets={other}; this run "
            f"asks for {n_buckets}. Rerun with the committed count or write "
            "to a new output directory"
        )


def committed_buckets(spark: SparkSession, lineage_path: str, n_buckets: int) -> set[int]:
    """Resume: the committed bucket ids as a driver set — at most
    n_buckets ints, read JVM-side (no Python worker) together with the
    bucket counts they were hashed under (check_bucket_count). Empty,
    with no Spark job, when nothing is committed yet. Failures other
    than a missing path raise, as in read_or_empty."""
    if not _exists(spark, lineage_path):
        return set()
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
    rows = lineage.select("n_buckets", "bucket").distinct().collect()
    check_bucket_count({r["n_buckets"] for r in rows}, n_buckets)
    return {r["bucket"] for r in rows}


def _bloom_probe_cols(key, m_bits: int, k: int):
    """k (word_index, bit_mask) probe pairs for one key. Bit j of the
    filter lives at word j>>6, mask 1<<(j&63); the k bit positions are
    pmod(xxhash64(key, i), m) — xxhash64's avalanche over the (key,
    seed-index) tuple gives k effectively-independent hash functions."""
    out = []
    for i in range(k):
        bit = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        out.append((
            F.floor(bit / 64).cast("long"),
            # call_function: the SQL shiftleft takes a column shift
            # amount; the python wrapper F.shiftleft insists on an int
            F.call_function(
                "shiftleft", F.lit(1).cast("long"), F.pmod(bit, F.lit(64)).cast("int")
            ),
        ))
    return out


def bloom_filter_uncommitted(
    inputs: DataFrame,
    committed: DataFrame,
    key_col: str,
    m_bits: int = 1 << 20,
    k: int = 2,
) -> DataFrame:
    """ROW-level resume at the scale where a driver set of committed
    keys breaks down: the committed side is per-document ids
    (10^9+ rows after months of incremental runs), far too big to
    broadcast, and a plain anti-join would shuffle the ENTIRE 10^12-row
    input scan on the key. Instead:

      1. Fold the committed keys into a Bloom bitmap stored as a
         DataFrame of (word_index, 64-bit word) — ≤ m_bits/64 rows
         regardless of |committed| (one shuffle of (long, long) pairs
         with map-side partial bit_or; 2^20 bits = 16K rows = 128 KiB).
      2. Probe every input row with k broadcast LEFT joins on word
         index — the big side never shuffles, and the probe columns are
         two longs per row.
      3. Rows with any probe bit clear are DEFINITELY new: they pass
         straight through with zero further work. Only the "maybe"
         subset — true duplicates plus the Bloom false-positive rate,
         (1 - e^(-k·n/m))^k ≈ 2.9% at k=2, m=8n — pays the exact
         anti-join, so the key shuffle moves ~3% of the input instead
         of 100%.

    The result is EXACTLY the plain anti-join (the Bloom filter only
    prunes, never decides membership) — oracled as such. Size m_bits ≈
    8–16 bits per committed key and keep it a multiple of 64; the
    bitmap broadcast is m_bits/8 bytes. The input branches twice
    (definite/maybe), so under a non-reusable scan persist `inputs` or
    rely on parquet re-scan being cheap relative to the avoided
    shuffle. The reference's resume globs paths against a checkpoint
    set in driver memory (convert.py:144-182) — the equivalent
    single-node Python set would need ~100 GiB at 10^9 keys.
    """
    if m_bits <= 0 or m_bits % 64:
        raise ValueError("m_bits must be a positive multiple of 64")
    if k < 1:
        raise ValueError("k must be >= 1")

    keys = committed.select(F.col(key_col).alias("_k")).where(F.col("_k").isNotNull())
    probe_parts = []
    for w, m in _bloom_probe_cols(F.col("_k"), m_bits, k):
        probe_parts.append(keys.select(w.alias("_w"), m.alias("_m")))
    all_bits = probe_parts[0]
    for p in probe_parts[1:]:
        all_bits = all_bits.unionAll(p)
    bloom = all_bits.groupBy("_w").agg(F.bit_or("_m").alias("_word"))

    probed = inputs
    hit = None
    for i, (w, m) in enumerate(_bloom_probe_cols(F.col(key_col), m_bits, k)):
        probed = probed.withColumn(f"_w{i}", w).withColumn(f"_m{i}", m)
        side = bloom.select(
            F.col("_w").alias(f"_w{i}"), F.col("_word").alias(f"_word{i}")
        )
        probed = probed.join(F.broadcast(side), f"_w{i}", "left")
        probe_hit = F.col(f"_word{i}").isNotNull() & (
            F.col(f"_word{i}").bitwiseAND(F.col(f"_m{i}")) != 0
        )
        hit = probe_hit if hit is None else (hit & probe_hit)

    cols = list(inputs.columns)
    probed = probed.withColumn("_maybe", hit)
    definite_new = probed.where(~F.col("_maybe")).select(*cols)
    maybes = probed.where(F.col("_maybe")).select(*cols)
    checked = maybes.join(
        committed.select(key_col).distinct(), key_col, "left_anti"
    )
    return definite_new.unionAll(checked)
