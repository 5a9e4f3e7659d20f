"""Streaming ingest smoke: a batch of parquet rows drives the
foreachBatch pipeline to completion; output matches the batch path."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdfwf_spark.fixtures.gen import gen_transcripts
from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA
from pdfwf_spark.streaming.ingest import start_ingest


def test_stream_ingest_matches_batch(spark, tmp_path):
    rows = [
        {k: v for k, v in r.items() if not k.startswith("_")}
        for r in gen_transcripts(12, seed=7, mega_every=0)
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)

    out = str(tmp_path / "out")
    q = start_ingest(
        spark, src, out, str(tmp_path / "ckpt"), n_buckets=8, n_partitions=4
    )
    q.processAllAvailable()
    q.stop()

    from pdfwf_spark.pipeline import extract_df, read_output

    got = read_output(spark, out)
    want = extract_df(
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA), n_buckets=8, n_partitions=4
    ).filter(F.col("parse_status") == "ok")
    assert got.count() == want.count() > 0
    # same per-turn text under the same ordering key
    g = {(r["conv_id"], r["turn_rank"]): r["clean_text"] for r in got.collect()}
    w = {(r["conv_id"], r["turn_rank"]): r["clean_text"] for r in want.collect()}
    assert g == w

    # one commit protocol: the stream writes the same all-status rows
    # and the same lineage as a batch run over the same input
    import json

    from pdfwf_spark.pipeline import run_extraction

    batch_out = str(tmp_path / "batch_out")
    run_extraction(
        spark, spark.read.parquet(src), batch_out,
        n_buckets=8, n_partitions=4, resume=False,
    )

    def turns(d):
        return sorted(
            json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
            for r in spark.read.parquet(d + "/turns")
            .drop("run_id", "extract_us", "init_us").collect()
        )

    def lineage(d):
        cols = ["bucket", "input_count", "ok_count", "parse_failures",
                "bytes_in", "bytes_out"]
        return sorted(tuple(r) for r in spark.read.parquet(d + "/lineage")
                      .select(*cols).collect())

    assert turns(out) == turns(batch_out)
    assert lineage(out) == lineage(batch_out)


def test_stream_rank_continues_across_micro_batches(spark, tmp_path):
    """A conv spanning multiple micro-batches must get ranks 1..n, not
    1..k per epoch (colliding keys)."""
    import os
    import time as _time
    from datetime import datetime

    src = str(tmp_path / "src2")
    base = datetime(2025, 1, 1)

    def rows(turns):
        return [
            ("conv-x", t, "user", f"turn body {t} with words", "", base)
            for t in turns
        ]

    # two part-files FLAT in one source dir (file streams don't recurse
    # into nested non-partition dirs); mtimes force arrival order
    import glob as _glob
    import shutil as _shutil

    os.makedirs(src)
    now = _time.time()
    for name, turns, mtime in (("one", [0, 1, 2], now), ("two", [3, 4, 5], now + 10)):
        staging = str(tmp_path / f"stage_{name}")
        spark.createDataFrame(rows(turns), TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(staging)
        part = _glob.glob(staging + "/part-*.parquet")[0]
        dest = f"{src}/{name}.parquet"
        _shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    out = str(tmp_path / "out2")
    q = start_ingest(
        spark, src, out, str(tmp_path / "ckpt2"),
        n_buckets=8, n_partitions=4, max_files_per_trigger=1,
    )
    q.processAllAvailable()
    q.stop()

    from pdfwf_spark.pipeline import read_output

    got = sorted(
        (r["turn_idx"], r["turn_rank"])
        for r in read_output(spark, out).filter("conv_id='conv-x'").collect()
    )
    ranks = [rk for _, rk in got]
    assert len(ranks) == 6
    assert sorted(ranks) == [1, 2, 3, 4, 5, 6]          # no collisions
    assert got == [(t, t + 1) for t in range(6)]         # continuation in order

    # per-ATTEMPT run_ids: '{prefix}-{epoch}-{uuid8}'
    run_ids = {r["run_id"] for r in read_output(spark, out).collect()}
    assert all(rid.startswith("stream-") and len(rid.split("-")) == 3
               for rid in run_ids)


def test_stream_replayed_epoch_is_noop(spark, tmp_path):
    """An epoch whose run_id is already committed in lineage must be
    skipped (at-least-once replay -> effectively-once sink)."""
    from pdfwf_spark.operators.lineage import read_lineage
    from pdfwf_spark.schemas import LINEAGE_SCHEMA
    from datetime import datetime

    src = str(tmp_path / "src3")
    rows = [("conv-y", 0, "user", "payload body words", "", datetime(2025, 1, 1))]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)

    out = str(tmp_path / "out3")
    # pre-commit lineage for epoch 0 under the default prefix (run_ids
    # are per-ATTEMPT: '{prefix}-{epoch}-{uuid8}'; the skip matches on
    # the '{prefix}-{epoch}-' tag)
    # written without the trailing n_buckets column, as lineage was
    # before the count was recorded: it reads back NULL and is trusted
    pre = spark.createDataFrame(
        [("stream-0-dead1234", 0, 1, 1, 0, 10, 10, 5, 0, datetime(2025, 1, 1))],
        T.StructType(LINEAGE_SCHEMA.fields[:-1]),
    )
    pre.write.parquet(out + "/lineage")

    q = start_ingest(spark, src, out, str(tmp_path / "ckpt3"), n_buckets=8, n_partitions=4)
    q.processAllAvailable()
    q.stop()

    # the replayed epoch appended NOTHING: lineage still has 1 row and
    # no data directory was created
    assert read_lineage(spark, out + "/lineage").count() == 1
    import os

    assert not os.path.exists(out + "/turns")


def test_stream_refuses_other_bucket_count(spark, tmp_path):
    """Lineage committed under another bucket count stops the stream
    before its epoch skip or any extraction, as run_extraction's
    resume refuses it."""
    import os
    from datetime import datetime

    import pytest

    from pdfwf_spark.schemas import LINEAGE_SCHEMA

    src = str(tmp_path / "src5")
    rows = [("conv-z", 0, "user", "payload body words", "", datetime(2025, 1, 1))]
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)
    out = str(tmp_path / "out5")
    spark.createDataFrame(
        [("batch-run", 0, 1, 1, 0, 10, 10, 5, 0, datetime(2025, 1, 1), 16)],
        LINEAGE_SCHEMA,
    ).write.parquet(out + "/lineage")

    q = start_ingest(spark, src, out, str(tmp_path / "ckpt5"), n_buckets=8, n_partitions=4)
    try:
        with pytest.raises(Exception, match="n_buckets"):
            q.processAllAvailable()
    finally:
        q.stop()
    assert not os.path.exists(out + "/turns")


def test_stream_rank_offset_counts_failed_turns(spark, tmp_path):
    """Rank offsets count ALL statuses: a failed turn at the end of
    an epoch still holds its rank, so the next epoch continues at the
    same position a batch run over the union would assign."""
    import glob as _glob
    import os
    import shutil as _shutil
    import time as _time
    from datetime import datetime

    src = str(tmp_path / "src4")
    os.makedirs(src)
    base = datetime(2025, 1, 1)
    f1 = [("conv-f", 0, "user", "good turn zero", "", base),
          ("conv-f", 1, "user", "   \t ", "", base)]       # fails (empty)
    f2 = [("conv-f", 2, "user", "good turn two", "", base)]
    now = _time.time()
    for name, rows, mt in (("a", f1, now), ("b", f2, now + 10)):
        staging = str(tmp_path / f"st4_{name}")
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(staging)
        dest = f"{src}/{name}.parquet"
        _shutil.copy(_glob.glob(staging + "/part-*.parquet")[0], dest)
        os.utime(dest, (mt, mt))

    out = str(tmp_path / "out4")
    q = start_ingest(spark, src, out, str(tmp_path / "ckpt4"),
                     n_buckets=8, n_partitions=4, max_files_per_trigger=1)
    q.processAllAvailable()
    q.stop()

    from pdfwf_spark.pipeline import read_output

    got = {r["turn_idx"]: r["turn_rank"]
           for r in read_output(spark, out).filter("conv_id='conv-f'").collect()}
    # failed turn 1 holds rank 2; committed output is turns 0 and 2
    assert got == {0: 1, 2: 3}


def test_stream_cache_rebuilds_across_query_restarts(spark, tmp_path):
    """Restarting the query (fresh driver cache) must continue rank
    sequences from the on-disk committed state, not reset them; rows
    under a never-committed run_id (a crashed attempt's orphans) must
    not move the offset."""
    import glob as _glob
    import os
    import shutil as _shutil
    from datetime import datetime

    src = str(tmp_path / "srcr")
    os.makedirs(src)
    base = datetime(2025, 1, 1)

    def add_file(name, turns):
        staging = str(tmp_path / f"stager_{name}")
        rows = [("conv-r", t, "user", f"turn body {t} words", "", base)
                for t in turns]
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.parquet(staging)
        part = _glob.glob(staging + "/part-*.parquet")[0]
        _shutil.copy(part, f"{src}/{name}.parquet")

    out = str(tmp_path / "outr")
    ckpt = str(tmp_path / "ckptr")

    add_file("first", [0, 1, 2])
    q1 = start_ingest(spark, src, out, ckpt, n_buckets=8, n_partitions=4)
    q1.processAllAvailable()
    q1.stop()

    # orphan of a crashed attempt: same rows, rank 99, uncommitted run_id
    (
        spark.read.parquet(out + "/turns").filter("conv_id='conv-r'")
        .drop("run_id", "bucket").withColumn("turn_rank", F.lit(99))
        .write.parquet(out + "/turns/run_id=stream-7-deadbeef/bucket=0")
    )

    # second query instance: brand-new closure, cache must rebuild
    add_file("second", [3, 4])
    q2 = start_ingest(spark, src, out, ckpt, n_buckets=8, n_partitions=4)
    q2.processAllAvailable()
    q2.stop()

    from pdfwf_spark.pipeline import read_output

    got = sorted((r["turn_idx"], r["turn_rank"])
                 for r in read_output(spark, out).collect())
    assert got == [(t, t + 1) for t in range(5)]


def test_windowed_turn_stats_watermark_drops_late(spark, tmp_path):
    """Append-mode windowed aggregation: a window emits once when the
    watermark passes its end, and a turn arriving later than the
    watermark is dropped from its finalized window."""
    from datetime import datetime

    from pdfwf_spark.streaming.windows import windowed_turn_stats

    import glob as _glob
    import os
    import shutil as _shutil
    import time as _time

    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = "conv_id string, turn_idx int, role string, text string, ts timestamp"
    now = _time.time()

    def write_file(name, rows, mtime):
        staging = str(tmp_path / f"wstage_{name}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(staging)
        part = _glob.glob(staging + "/part-*.parquet")[0]
        dest = f"{src}/{name}.parquet"
        _shutil.copy(part, dest)
        os.utime(dest, (mtime, mtime))

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    # batch 1: 3 user turns inside [10:00, 10:10)
    write_file("f1", [("c1", 1, "user", "aaaa", t(10, 0)),
                      ("c1", 2, "user", "bb", t(10, 5)),
                      ("c2", 1, "user", "c", t(10, 9))], now)
    # batch 2: event at 10:30 -> END-of-batch watermark 10:25, past
    # the first window's 10:10 end
    write_file("f2", [("c3", 1, "user", "dddd", t(10, 30))], now + 10)
    # batch 3: 11:00 event. Its START watermark (10:25) evicts+emits
    # [10:00, 10:10); end-of-batch watermark advances to 10:55.
    # (Late-row filtering uses the batch-START watermark, so the LATE
    # row must arrive in a LATER batch than the one that advanced the
    # watermark past its window.)
    write_file("f3", [("c4", 1, "assistant", "e", t(11, 0))], now + 20)
    # batch 4: a LATE turn for the long-finalized first window
    # (10:02 vs start watermark 10:55) -> dropped; plus a 12:00 event
    write_file("f4", [("c9", 1, "user", "LATE", t(10, 2)),
                      ("c5", 1, "user", "ff", t(12, 0))], now + 30)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        windowed_turn_stats(stream).writeStream
        .format("memory").queryName("win_stats")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    rows = {
        (r["win_start"].hour, r["win_start"].minute, r["role"]): r
        for r in spark.sql("SELECT * FROM win_stats").collect()
    }
    first = rows[(10, 0, "user")]
    assert first["n_turns"] == 3          # late 'LATE' turn NOT counted
    assert first["bytes_in"] == 7         # 4 + 2 + 1
    assert rows[(10, 30, "user")]["n_turns"] == 1
    assert rows[(11, 0, "assistant")]["n_turns"] == 1
    # [12:00, 12:10) is still open when the stream drains -> not emitted
    assert (12, 0, "user") not in rows


def test_windowed_turn_stats_batch_twin(spark):
    """The identical expression runs as a batch aggregate (watermark
    is a no-op there) — the exact-count path for jobs that cannot
    tolerate the streaming late-drop."""
    from datetime import datetime

    from pdfwf_spark.streaming.windows import windowed_turn_stats

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    df = spark.createDataFrame(
        [("c1", 1, "user", "aaaa", t(10, 0)),
         ("c1", 2, "user", "bb", t(10, 5)),
         ("c9", 1, "user", "late", t(10, 2)),
         ("c3", 1, "user", "dddd", t(10, 30))],
        "conv_id string, turn_idx int, role string, text string, ts timestamp",
    )
    rows = {
        (r["win_start"].minute, r["role"]): (r["n_turns"], r["bytes_in"])
        for r in windowed_turn_stats(df).collect()
    }
    assert rows == {(0, "user"): (3, 10), (30, "user"): (1, 4)}
