"""Fixed StructType schemas (SURVEY §1.2 Spark mapping).

The reference is schema-on-write-less (plain dicts -> json.dumps,
reference convert.py:67); Arrow requires fixed schemas, so these are
the engine's contract.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

SPAN_TYPE = T.StructType(
    [
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
    ]
)

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("parser", T.StringType(), False),
        T.StructField("parse_status", T.StringType(), False),
        T.StructField("fail_reason", T.StringType(), True),
        T.StructField("source_col", T.StringType(), False),
        T.StructField("clean_text", T.StringType(), True),
        T.StructField("spans", T.ArrayType(SPAN_TYPE), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        # per-row share of the Arrow batch's extraction wall time
        # (micros) — summed per bucket into lineage extract_ms, the
        # first-class twin of the reference's 'parser-parse' timer tag
        # (timer.py:36-129)
        T.StructField("extract_us", T.LongType(), False),
        # per-executor warm-start wall ('initialize-parser' analog,
        # timer.py:36-129): the extractor-module import+compile cost,
        # emitted once per python worker on its first output row,
        # 0 everywhere else — summed per bucket into lineage init_ms
        T.StructField("init_us", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        # md5 of the raw payload: deterministic total-order tiebreak for
        # (turn_idx, ts, role) ties — see operators/ordering.py.
        T.StructField("tie_key", T.StringType(), False),
    ]
)

# Per-partition lineage rows — the first-class replacement for the
# reference's timer-log checkpoint scraping (convert.py:144-182,
# timer.py:132-163). Resume skips the input buckets committed here.
LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("input_count", T.LongType(), False),
        T.StructField("ok_count", T.LongType(), False),
        T.StructField("parse_failures", T.LongType(), False),
        T.StructField("bytes_in", T.LongType(), False),
        T.StructField("bytes_out", T.LongType(), False),
        # per-stage wall time (reference timer.py:36-129 'parser-parse'
        # tag); nullable so pre-v2 lineage files read as NULL
        T.StructField("extract_ms", T.LongType(), True),
        # v3: 'initialize-parser' wall summed over the workers whose
        # first batch fell in this bucket (timer.py:36-129 analog —
        # the init cost the reference excludes from throughput);
        # nullable so pre-v3 lineage files read as NULL
        T.StructField("init_ms", T.LongType(), True),
        T.StructField("committed_at", T.TimestampType(), False),
        # v4: the bucket count the run hashed with; bucket ids mean
        # nothing under another count, so resume refuses a mismatch.
        # Nullable so pre-v4 lineage files read as NULL (trusted)
        T.StructField("n_buckets", T.IntegerType(), True),
    ]
)
