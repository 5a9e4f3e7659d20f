"""End-to-end extraction job (SURVEY §3.1 Spark lifecycle).

    scan -> filter out committed buckets (resume) -> [hash repartition
    on the turn key, only if the scan is under-split] ->
    mapInArrow(sniff -> route -> parse) -> stable ordering window ->
    write data, then lineage

Plan properties (asserted in tests via .explain):
- the resume step is a Filter on the scan against the committed
  bucket ids, read to the driver beforehand (at most n_buckets ints):
  no join, no exchange; a rerun with every bucket committed plans no
  extraction at all;
- AT MOST one wide shuffle before the UDF (the turn-key repartition,
  skipped when scan splits already balance the work) and exactly one
  after (the per-conv ordering window, which moves the smaller
  post-extraction rows);
- no driver-side loops over data.

Commit protocol (reference analog: convert.py:144-182 timer-log
checkpointing): data for a run is written first; the per-bucket
lineage rows are written only after the data write completes
(commit_run, which streaming/ingest.py runs per micro-batch too).
A crash between the two leaves orphan data files for uncommitted
buckets; on resume those buckets are re-processed and the orphans are
superseded on read by filtering to committed run_ids (Iceberg's
snapshot commit subsumes this dance when its catalog is present).
"""

from __future__ import annotations

import re
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfwf_spark.operators.extract import extract_turns
from pdfwf_spark.operators.lineage import committed_buckets, lineage_rows, read_lineage
from pdfwf_spark.schemas import LINEAGE_SCHEMA
from pdfwf_spark.operators.ordering import with_turn_rank
from pdfwf_spark.operators.partitioning import (
    DEFAULT_BUCKETS,
    repartition_for_scan,
    with_bucket,
)
from pdfwf_spark.sinks.table import append_data, append_lineage


@dataclass
class RunResult:
    run_id: str
    input_rows: int
    ok_rows: int
    failed_rows: int
    buckets_processed: int
    elapsed_s: float
    # driver-side stage walls (reference timer stage tags,
    # timer.py:36-129: 'write-jsonl' / 'finished-parsing'); per-bucket
    # 'parser-parse' wall lives in the lineage rows (extract_ms)
    write_s: float = 0.0
    lineage_s: float = 0.0


def _stage(transcripts: DataFrame, n_buckets: int, n_partitions: int | None) -> DataFrame:
    """The one staging rule: bucket every turn; hash-exchange on the
    turn key (conv_id, turn_idx) only when the scan has fewer
    partitions than the target (default: defaultParallelism) — the
    scan-split rule (partitioning.repartition_for_scan) with the turn
    key.

    A well-split parquet/Iceberg scan already spreads turns across
    tasks and extraction is per-row, so payloads never shuffle. An
    under-split scan is hashed per turn, the finest split of a hot
    conversation; the ordering window regroups by conv_id afterwards.
    Not a round-robin repartition: its retry-determinism comes from a
    per-partition sort, which would sort raw payloads."""
    return repartition_for_scan(
        with_bucket(transcripts, n_buckets), ("conv_id", "turn_idx"), n_partitions
    )


def extract_df(
    transcripts: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
    n_partitions: int | None = None,
    markdown_compat: bool = False,
) -> DataFrame:
    """Pure transform: transcripts -> ranked extraction output (all
    statuses). Composable; no I/O.

    Stage (bucket, repartition if under-split), extract, rank.
    markdown_compat: the reference's optional markdown repair pass
    (nougat_.py:245-246, config.markdown) — applied JVM-side on
    clean_text (codegen'd regexes, no extra Python)."""
    out = with_turn_rank(extract_turns(_stage(transcripts, n_buckets, n_partitions)))
    if markdown_compat:
        from pdfwf_spark.operators.functions import markdown_compatible_col

        out = out.withColumn("clean_text", markdown_compatible_col(F.col("clean_text")))
    return out


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    run_id: str | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    n_partitions: int | None = None,
    resume: bool = True,
    markdown_compat: bool = False,
) -> RunResult:
    """Execute the job against `out_dir` (data at {out_dir}/turns,
    lineage at {out_dir}/lineage). With `resume`, raises ValueError
    when the committed lineage records a bucket count other than
    `n_buckets` (lineage.check_bucket_count); lineage written before
    the count was recorded reads it as NULL and is trusted."""
    t0 = time.monotonic()
    run_id = run_id or uuid.uuid4().hex[:12]
    # run_id becomes a literal partition-directory component that
    # lineage_from_written string-builds back ("{data_path}/run_id={run_id}");
    # any char Spark percent-escapes in partition dir names (space ':' '%'
    # '/') would make that pruned read miss the files just written and
    # silently orphan the run's data — reject up front instead
    if not re.fullmatch(r"[A-Za-z0-9._-]+", run_id):
        raise ValueError(
            f"run_id {run_id!r} must match [A-Za-z0-9._-]+ (it is used "
            "verbatim as a partition directory name)"
        )
    if resume:
        # committed bucket ids (<= n_buckets ints) come to the driver and
        # the scan is filtered against them: a Filter keeps the scan's
        # partitioning, so staging reads the same partition count
        committed = committed_buckets(spark, f"{out_dir}/lineage", n_buckets)
        if committed >= set(range(n_buckets)):
            return RunResult(run_id, 0, 0, 0, 0, time.monotonic() - t0)
        if committed:
            transcripts = (
                with_bucket(transcripts, n_buckets)
                .filter(~F.col("bucket").isin(sorted(committed)))
                .drop("bucket")
            )
    # ONE materialization of the extraction output: the all-status
    # ranked rows go straight to the staging write (no persist — at
    # 100 TB a MEMORY_AND_DISK persist of the full post-extraction
    # corpus is a second full-corpus copy on executor disks). Lineage
    # and stats are then derived from a partition-pruned (run_id=...),
    # column-pruned read-back of exactly the files just written.
    # Failure rows are written too (rank over ALL turns keeps a turn's
    # rank stable regardless of neighboring failures — matching
    # extract_df and the golden generator); read_output filters them,
    # preserving the reference's failed-docs-have-no-output-row
    # semantics (README.md:115-116) while lineage still counts them.
    all_ranked = extract_df(
        transcripts, n_buckets, n_partitions, markdown_compat
    ).withColumn("run_id", F.lit(run_id))
    t_write = time.monotonic()
    append_data(all_ranked, f"{out_dir}/turns")
    write_s = time.monotonic() - t_write

    t_lineage = time.monotonic()
    lin_rows = commit_run(spark, out_dir, run_id, n_buckets)
    lineage_s = time.monotonic() - t_lineage

    n = sum(r["input_count"] for r in lin_rows)
    ok = sum(r["ok_count"] for r in lin_rows)
    return RunResult(
        run_id=run_id,
        input_rows=n,
        ok_rows=ok,
        failed_rows=n - ok,
        buckets_processed=len({r["bucket"] for r in lin_rows}),
        elapsed_s=time.monotonic() - t0,
        write_s=write_s,
        lineage_s=lineage_s,
    )


# the only columns the commit path reads back after the staging write —
# the lineage aggregate's narrow inputs plus the bucket partition column
_READBACK_SCHEMA = T.StructType(
    [
        T.StructField("parse_status", T.StringType(), True),
        T.StructField("bytes_in", T.LongType(), True),
        T.StructField("bytes_out", T.LongType(), True),
        T.StructField("extract_us", T.LongType(), True),
        T.StructField("init_us", T.LongType(), True),
        T.StructField("bucket", T.IntegerType(), True),
    ]
)


def commit_run(spark: SparkSession, out_dir: str, run_id: str, n_buckets: int) -> list[dict]:
    """Commit one run whose data is already under {out_dir}/turns,
    bucketed into `n_buckets`: per-bucket lineage (which records that
    count) from a read-back of the files it wrote, then
    the lineage append — the LAST write, whose presence marks the run
    committed for read_output and resume. A run that wrote no rows has
    no bucket to commit and appends nothing. Returns the lineage rows."""
    lin = lineage_from_written(spark, f"{out_dir}/turns", run_id, n_buckets).toPandas()
    # <= n_buckets rows land on the driver; re-wrapping them keeps the
    # lineage append from re-scanning the read-back a second time, and
    # a non-empty pandas frame goes back to the JVM as Arrow batches, so
    # the append starts no Python worker
    if len(lin):
        append_lineage(spark.createDataFrame(lin, LINEAGE_SCHEMA), f"{out_dir}/lineage")
    return lin.to_dict("records")


def lineage_from_written(
    spark: SparkSession, data_path: str, run_id: str, n_buckets: int
) -> DataFrame:
    """Per-bucket lineage for one run, derived from the files the run
    just wrote: a partition-pruned (run_id=...) scan reading only the
    narrow lineage-input columns — never a cached copy of the corpus."""
    from pdfwf_spark.operators.lineage import read_or_empty

    written = read_or_empty(
        spark, f"{data_path}/run_id={run_id}", _READBACK_SCHEMA
    )
    return lineage_rows(written, run_id, n_buckets)


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    """Committed success rows: data filtered to run_ids present in
    lineage (orphans from partially-failed runs are invisible) and to
    parse_status='ok' (failed turns are lineage-counted, never rows —
    reference README.md:115-116)."""
    data = spark.read.parquet(f"{out_dir}/turns")
    lineage = read_lineage(spark, f"{out_dir}/lineage")
    committed = lineage.select("run_id", "bucket").distinct()
    return data.filter(F.col("parse_status") == "ok").join(
        F.broadcast(committed), ["run_id", "bucket"], "left_semi"
    )
