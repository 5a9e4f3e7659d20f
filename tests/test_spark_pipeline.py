"""Spark pipeline integration tests: e2e golden equality, stable
ordering, skew balance, lineage + resume idempotence (FIXTURES.md §5).
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from pdfwf_spark.fixtures.gen import gen_transcripts
from pdfwf_spark.fixtures.golden import golden_records
from pdfwf_spark.operators.partitioning import with_bucket
from pdfwf_spark.pipeline import extract_df, read_output, run_extraction
from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA


N_CONVS = 60
SEED = 42


@pytest.fixture(scope="module")
def fixture_rows():
    return gen_transcripts(N_CONVS, seed=SEED, mega_every=20, mega_turns=300)


@pytest.fixture(scope="module")
def golden(fixture_rows):
    return golden_records(fixture_rows)


@pytest.fixture(scope="module")
def transcripts(spark, fixture_rows):
    clean = [
        {k: v for k, v in r.items() if not k.startswith("_")} for r in fixture_rows
    ]
    return spark.createDataFrame(clean, TRANSCRIPT_SCHEMA).cache()


@pytest.fixture(scope="module")
def extracted(transcripts):
    return extract_df(transcripts, n_buckets=16, n_partitions=8).cache()


def test_e2e_text_equality(extracted, golden):
    """100% per-turn text equality under stable turn ordering — the
    north-rule correctness contract."""
    got = {
        (r["conv_id"], r["turn_rank"]): r
        for r in extracted.filter(F.col("parse_status") == "ok").collect()
    }
    want_ok = [g for g in golden if g["parse_status"] == "ok"]
    # Spark ranks over ALL rows; golden too — ranks must agree and
    # every ok golden row must match exactly.
    assert len(got) == len(want_ok)
    for g in want_ok:
        row = got[(g["conv_id"], g["turn_rank"])]
        assert row["clean_text"] == g["clean_text"], (g["conv_id"], g["turn_rank"])
        assert row["parser"] == g["parser"]
        assert [(s["start"], s["end"], s["label"]) for s in row["spans"]] == g["spans"]
        assert dict(row["meta"] or {}) == g["meta"]


def test_failures_dropped_but_counted(extracted, golden):
    n_failed_golden = sum(1 for g in golden if g["parse_status"] != "ok")
    n_failed = extracted.filter(F.col("parse_status") != "ok").count()
    assert n_failed == n_failed_golden
    assert n_failed > 0  # fixture mix guarantees broken payloads


def test_ordering_stability(extracted):
    """turn_rank is a dense total order per conv, independent of the
    physical (shuffled) input order."""
    bad = (
        extracted.groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("turn_rank").alias("d"),
            F.max("turn_rank").alias("mx"),
        )
        .filter((F.col("n") != F.col("d")) | (F.col("n") != F.col("mx")))
        .count()
    )
    assert bad == 0


def test_tie_break_total_order(extracted):
    """(turn_idx, ts) duplicates exist by construction and still get
    distinct ranks deterministically."""
    dup_keys = (
        extracted.groupBy("conv_id", "turn_idx", "ts")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup_keys > 0  # fixture guarantees ties


def test_skew_partition_balance(spark, transcripts):
    """Staging an under-split scan hashes on the turn key, which splits
    mega-conversations: no physical partition holds more than ~3x the
    mean row count."""
    from pdfwf_spark.pipeline import _stage

    staged = _stage(transcripts, 16, 16)
    sizes = (
        staged.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in sizes]
    assert staged.rdd.getNumPartitions() == 16 and len(counts) > 1
    assert max(counts) <= 3 * (sum(counts) / len(counts))


def test_resume_idempotence(spark, transcripts, tmp_path):
    """Kill-after-partial-commit semantics: first run covers half the
    buckets (simulated), rerun completes the rest; committed output is
    exactly-once and equals a single full run."""
    out = str(tmp_path / "out")
    inputs = with_bucket(transcripts, n_buckets=8)
    first_half = inputs.filter(F.col("bucket") < 4).drop("bucket")
    r1 = run_extraction(spark, first_half, out, n_buckets=8, n_partitions=8)
    assert r1.buckets_processed <= 4
    r2 = run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=8)
    # second run must process only the uncommitted buckets
    assert r2.buckets_processed == 8 - r1.buckets_processed

    committed = read_output(spark, out)
    full = extract_df(transcripts, n_buckets=8, n_partitions=8).filter(
        F.col("parse_status") == "ok"
    )
    assert committed.count() == full.count()
    # exactly-once: no duplicated (conv_id, turn_rank)
    dups = (
        committed.groupBy("conv_id", "turn_rank").count().filter(F.col("count") > 1).count()
    )
    assert dups == 0
    # a third run is a no-op
    r3 = run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=8)
    assert r3.input_rows == 0 and r3.buckets_processed == 0
    assert read_output(spark, out).count() == full.count()


def test_resume_refuses_other_bucket_count(spark, transcripts, tmp_path):
    """Committed bucket ids name other conversations under another
    bucket count: a rerun asking for one raises before it reads or
    writes a turn, and the committed count still resumes to a complete,
    duplicate-free output."""
    out = str(tmp_path / "out")
    first_half = with_bucket(transcripts, n_buckets=8).filter(F.col("bucket") < 4).drop("bucket")
    r1 = run_extraction(spark, first_half, out, n_buckets=8, n_partitions=8)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, transcripts, out, n_buckets=16, n_partitions=8)
    r2 = run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=8)
    assert r1.buckets_processed + r2.buckets_processed == 8
    lineage = spark.read.parquet(f"{out}/lineage")
    assert {r["n_buckets"] for r in lineage.select("n_buckets").distinct().collect()} == {8}
    committed = read_output(spark, out)
    assert committed.count() == committed.select("conv_id", "turn_rank").distinct().count()


def test_lineage_counts(spark, transcripts, golden, tmp_path):
    out = str(tmp_path / "out2")
    run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=8)
    lineage = spark.read.parquet(f"{out}/lineage")
    agg = lineage.groupBy().agg(
        F.sum("input_count").alias("n"),
        F.sum("ok_count").alias("ok"),
        F.sum("parse_failures").alias("fail"),
    ).collect()[0]
    assert agg["n"] == len(golden)
    assert agg["ok"] == sum(1 for g in golden if g["parse_status"] == "ok")
    assert agg["fail"] == sum(1 for g in golden if g["parse_status"] != "ok")


def test_resume_filter_sits_on_the_scan(spark, transcripts, tmp_path, monkeypatch):
    """The frame a resume run writes filters committed buckets out of
    the input scan with a Filter: no join anywhere, and no exchange
    between the filter and the scan."""
    import pdfwf_spark.pipeline as pipeline

    out = str(tmp_path / "out3")
    run_extraction(
        spark, with_bucket(transcripts, 8).filter(F.col("bucket") < 2).drop("bucket"),
        out, n_buckets=8, n_partitions=8,
    )
    written = []
    monkeypatch.setattr(pipeline, "append_data", lambda df, path: written.append(df))
    run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=8)
    plan = written[0]._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    below = plan[plan.index("Filter NOT cast(pmod(xxhash64(conv_id#"):]
    assert "Exchange" not in below and "Scan" in below, plan


def test_resume_job_counts(spark, fixture_rows, tmp_path, monkeypatch):
    """Spark jobs per run on the 60-conv / 16-bucket fixture, whose
    4-partition scan needs no staging exchange: a fresh run over half
    the buckets (no lineage yet, so no committed-set read), the rerun
    completing the rest, and a rerun with every bucket committed,
    which runs only the JVM-side committed-set read: it plans no
    extraction (so no MapInArrow stage starts Python workers) and
    writes no data."""
    import pdfwf_spark.pipeline as pipeline

    transcripts = spark.createDataFrame(
        [{k: v for k, v in r.items() if not k.startswith("_")} for r in fixture_rows],
        TRANSCRIPT_SCHEMA,
    )
    first_half = with_bucket(transcripts, 16).filter(F.col("bucket") < 8).drop("bucket")
    extractions = []
    extract_turns = pipeline.extract_turns
    monkeypatch.setattr(
        pipeline, "extract_turns", lambda df: extractions.append(df) or extract_turns(df)
    )
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    runs, jobs = [], []
    try:
        for name, inputs in (("fresh", first_half), ("rest", transcripts), ("done", transcripts)):
            sc.setJobGroup(f"resume-jobs-{name}", name)
            runs.append(run_extraction(spark, inputs, out, n_buckets=16, n_partitions=4))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(f"resume-jobs-{name}")))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == [5, 7, 2]
    assert len(extractions) == 2
    assert sum(r.buckets_processed for r in runs) == 16
    assert runs[2].input_rows == 0 and runs[2].buckets_processed == 0
    assert not os.path.exists(f"{out}/turns/run_id={runs[2].run_id}")


def test_read_or_empty_missing_path_and_other_failures(spark, tmp_path):
    """A missing path reads as an empty frame of the schema without a
    Spark job; any other failure to reach the path raises."""
    from py4j.protocol import Py4JJavaError

    from pdfwf_spark.operators.lineage import read_or_empty
    from pdfwf_spark.schemas import LINEAGE_SCHEMA

    sc = spark.sparkContext
    sc.setJobGroup("read-or-empty", "missing path")
    try:
        empty = read_or_empty(spark, str(tmp_path / "never-written"), LINEAGE_SCHEMA)
        jobs = list(sc.statusTracker().getJobIdsForGroup("read-or-empty"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []
    assert empty.schema == LINEAGE_SCHEMA and empty.rdd.getNumPartitions() == 0

    with pytest.raises(Py4JJavaError, match="No FileSystem for scheme"):
        read_or_empty(spark, "nosuchfs:///lineage", LINEAGE_SCHEMA)


def test_lineage_carries_stage_timings(spark, tmp_path):
    """Lineage schema v3: per-bucket extract_ms ('parser-parse' wall)
    AND init_ms ('initialize-parser' wall, both timer.py:36-129
    analogs) plus driver-side write/lineage walls. init_ms is reported
    once per python worker (its import+compile cost lands on the first
    row it emits), so the run-wide sum is > 0 and bounded by
    n_workers * one import cost."""
    from datetime import datetime

    from pdfwf_spark.pipeline import run_extraction
    from pdfwf_spark.operators.lineage import read_lineage
    from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

    rows = [
        ("c1", i, "user", f"body text {i} with several words", "", datetime(2025, 1, 1))
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    res = run_extraction(spark, df, str(tmp_path / "o"), resume=False)
    assert res.write_s > 0 and res.lineage_s > 0
    lin = read_lineage(spark, str(tmp_path / "o") + "/lineage").collect()
    assert len(lin) >= 1
    assert all(r["extract_ms"] is not None and r["extract_ms"] >= 0 for r in lin)
    assert all(r["init_ms"] is not None and r["init_ms"] >= 0 for r in lin)
