"""JSONL output surface (reference convert.py:65-71 shards,
balance.py:30-114 line cap): the sink's round trip and line cap, and
jobs/export_jsonl.py exporting only the committed view of an
extraction output."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _shard_lines(out: str) -> list[list[dict]]:
    shards = []
    for f in sorted(glob.glob(f"{out}/part-*.json")):
        with open(f) as fh:
            shards.append([json.loads(line) for line in fh if line.strip()])
    return shards


def test_jsonl_sink_roundtrip_and_line_cap(spark, tmp_path):
    from pdfwf_spark.sinks.jsonl import write_jsonl

    df = spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    ).repartition(2)
    out = str(tmp_path / "shards")
    write_jsonl(df, out, lines_per_file=10)

    shards = _shard_lines(out)
    assert shards
    for lines in shards:  # write-time re-shard: every shard <= 10 lines
        assert 0 < len(lines) <= 10
        assert set(lines[0]) == {"doc_id", "text"}

    back = spark.read.schema("doc_id long, text string").json(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_export_jsonl_job_exports_committed_rows(spark, tmp_path):
    """jobs/export_jsonl.py driven as a subprocess: the shards hold
    exactly read_output's rows, none of an uncommitted run, and at most
    --lines-per-file lines each."""
    from pyspark.sql import functions as F

    from pdfwf_spark.fixtures.gen import gen_transcripts
    from pdfwf_spark.pipeline import read_output, run_extraction
    from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

    rows = [{k: v for k, v in r.items() if not k.startswith("_")}
            for r in gen_transcripts(12, seed=5, mega_every=0)]
    out = str(tmp_path / "out")
    run_extraction(spark, spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), out,
                   n_buckets=4, n_partitions=4)
    committed = read_output(spark, out)
    # an attempt that crashed before its lineage commit: data rows under
    # a run_id that lineage never names
    orphan = "orphan-0badc0de"
    (committed.drop("run_id")
     .withColumn("clean_text", F.concat(F.lit("ORPHAN "), F.col("clean_text")))
     .write.partitionBy("bucket").parquet(f"{out}/turns/run_id={orphan}"))

    dest = str(tmp_path / "jsonl")
    res = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", "export_jsonl.py"),
         "--output", out, "--dest", dest, "--lines-per-file", "7"],
        capture_output=True, text=True, env=dict(os.environ, PYTHONPATH=REPO),
        timeout=240,
    )
    assert res.returncode == 0, res.stderr[-2000:]

    shards = _shard_lines(dest)
    assert shards and all(0 < len(lines) <= 7 for lines in shards)
    exported = [r for lines in shards for r in lines]
    assert not [r for r in exported if r["run_id"] == orphan]

    def canon(df):
        return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                      for r in df.collect())

    expect = canon(read_output(spark, out))
    assert len(exported) == len(expect) > 0
    assert canon(spark.read.schema(committed.schema).json(dest)) == expect
