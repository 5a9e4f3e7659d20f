"""Focused pins for the round-6 optimization rewrites: every entry
asserts the FAST path equals the simple/previous path bit-for-bit on
live Spark data (the round's contract is identical results, only
cheaper plans)."""

from __future__ import annotations

import pyarrow as pa
import pytest

from pyspark.sql import functions as F


def _rows(df):
    cols = sorted(df.columns)
    return sorted(
        tuple(r[c] for c in cols) for r in df.collect()
    )


def test_dsir_fit_split_equals_two_pass_fit(spark):
    """dsir_fit_split(docs, pred) must equal dsir_fit(docs.filter(pred),
    docs) — the single-pass conditional aggregate is a pure plan
    optimization."""
    from pdfwf_spark.operators.selection import dsir_fit, dsir_fit_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pred = F.col("lang") == "en"
    split = dsir_fit_split(docs, pred, n_buckets=256)
    two_pass = dsir_fit(docs.filter(pred), docs, n_buckets=256)
    assert _rows(split) == _rows(two_pass)


def test_eval_once_is_value_identity(spark):
    """eval_once(c) returns c's value for every type it wraps (a
    1-element array has exactly one permutation) while blocking
    filter pushdown from duplicating the expression."""
    from pdfwf_spark.operators.functions import eval_once

    df = spark.range(0, 100).select(
        F.col("id"),
        (F.col("id") % 7).alias("v"),
        F.concat(F.lit("s"), F.col("id")).alias("s"),
        F.when(F.col("id") % 3 == 0, F.col("id")).alias("n"),  # nullable
    )
    out = df.select(
        "id",
        eval_once(F.col("v")).alias("v"),
        eval_once(F.col("s")).alias("s"),
        eval_once(F.col("n")).alias("n"),
    )
    assert _rows(out) == _rows(df)
    # and the filter on a barrier column still selects the same rows
    a = df.filter(F.col("v") >= 3).select("id")
    b = out.filter(F.col("v") >= 3).select("id")
    assert _rows(a) == _rows(b)


def test_pair_counts_equals_plain_groupby(spark):
    from pdfwf_spark.operators.dedup import _distinct_pairs, _pair_counts

    pairs = spark.range(0, 5000).select(
        (F.col("id") % 83).alias("id_a"), (F.col("id") % 97).alias("id_b")
    )
    fast = _pair_counts(pairs)
    plain = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    assert _rows(fast) == _rows(plain)
    assert _rows(_distinct_pairs(pairs)) == _rows(pairs.distinct())


_PASSTHROUGH = ["conv_id", "turn_idx", "role", "ts", "bucket", "tie_key"]


def _kernel_batch(texts, tools=None):
    """One input RecordBatch for _extract_batches_arrow, typed as Spark
    hands it over (passthrough columns at their EXTRACTED_SCHEMA types)."""
    import datetime

    from pyspark.sql.pandas.types import to_arrow_schema

    from pdfwf_spark.schemas import EXTRACTED_SCHEMA

    want = to_arrow_schema(EXTRACTED_SCHEMA)
    n = len(texts)
    cols = {
        "conv_id": [f"c{i}" for i in range(n)],
        "turn_idx": list(range(n)),
        "role": ["user"] * n,
        "ts": [datetime.datetime(2025, 1, 1, 0, 0, i) for i in range(n)],
        "text": texts,
        "tool": tools if tools is not None else [""] * n,
        "bucket": [i % 3 for i in range(n)],
        "tie_key": [f"k{i}" for i in range(n)],
    }
    schema = pa.schema(
        [
            pa.field(c, pa.string()) if c in ("text", "tool")
            else pa.field(c, want.field(c).type)
            for c in cols
        ]
    )
    return pa.RecordBatch.from_pydict(cols, schema=schema)


_KERNEL_TEXTS = [
    '<html><head><title>t</title></head><body><p>hello &amp; world</p>'
    '<nav>skip me</nav></body></html>',
    "%PDFISH1\nPAGE 1 612 792\nBLOCK 72 72 540 100 title|doc\n"
    "BLOCK 72 120 540 700 text|body words here",
    "plain text\n\n\n\ntail paragraph.",
    "",  # empty payload
    None,  # null payload
    "%PDFISH1\nBLOCK 0 0 1 1 text|orphan",  # broken: block before any page
    None,  # null text, payload in the tool column
]
_KERNEL_TOOLS = [""] * 6 + ["<body><p>tool html</p></body>"]


def test_extract_arrow_kernel_rows_equal_extract_payload():
    """Every output row of the Arrow kernel is extract_payload on that
    row's (text, tool), across all payload families and failures."""
    from pdfwf_spark.core.route import extract_payload
    from pdfwf_spark.operators import extract as ex

    (out,) = ex._extract_batches_arrow(
        iter([_kernel_batch(_KERNEL_TEXTS, _KERNEL_TOOLS)])
    )
    got = out.to_pylist()
    statuses = set()
    for row, text, tool in zip(got, _KERNEL_TEXTS, _KERNEL_TOOLS):
        t, u = text or "", tool or ""
        res = extract_payload(t, u)
        statuses.add((res.parser, res.status))
        assert row["parser"] == res.parser
        assert row["parse_status"] == res.status
        assert row["fail_reason"] == res.reason
        assert row["source_col"] == res.source
        assert row["clean_text"] == res.clean_text
        assert row["spans"] == [
            {"start": s.start, "end": s.end, "label": s.label} for s in res.spans
        ]
        assert dict(row["meta"]) == res.meta
        assert row["bytes_in"] == len(t) + len(u)
        assert row["bytes_out"] == len(res.clean_text)
    # the fixture really covers every family and both outcomes
    assert {p for p, st in statuses if st == "ok"} == {"html", "pdfish", "plain"}
    assert ("pdfish", "failed") in statuses
    assert sum(st == "failed" for _, st in statuses) >= 2


def test_extract_arrow_kernel_passthrough_and_schema():
    """Passthrough columns come back as the input arrays, same types;
    the batch schema is the Arrow form of EXTRACTED_SCHEMA."""
    from pyspark.sql.pandas.types import to_arrow_schema

    from pdfwf_spark.operators import extract as ex
    from pdfwf_spark.schemas import EXTRACTED_SCHEMA

    rb = _kernel_batch(_KERNEL_TEXTS, _KERNEL_TOOLS)
    (out,) = ex._extract_batches_arrow(iter([rb]))
    for c in _PASSTHROUGH:
        assert out.column(c).type == rb.column(c).type, c
        assert out.column(c).equals(rb.column(c)), c
    want = to_arrow_schema(EXTRACTED_SCHEMA)
    assert out.schema.names == want.names
    assert [f.type for f in out.schema] == [f.type for f in want]


def test_extract_arrow_kernel_reports_init_once(monkeypatch):
    """The warm-start cost lands on exactly one row across two kernel
    calls in one process."""
    from pdfwf_spark.operators import extract as ex

    ex._warm_parser()
    monkeypatch.setattr(ex, "_INIT_US", 1234)
    rows = []
    for _ in range(2):
        for out in ex._extract_batches_arrow(
            iter([_kernel_batch(["a", "b"]), _kernel_batch(["c"])])
        ):
            rows += out.column("init_us").to_pylist()
    assert len(rows) == 6
    assert [v for v in rows if v] == [1234]
    assert rows[0] == 1234


def test_extract_arrow_kernel_empty_call_hands_init_on(monkeypatch):
    """A call that sees only empty batches emits nothing and leaves the
    init cost for the next call to report."""
    from pdfwf_spark.operators import extract as ex

    ex._warm_parser()
    monkeypatch.setattr(ex, "_INIT_US", 1234)
    empty = _kernel_batch(["x"]).slice(0, 0)
    assert list(ex._extract_batches_arrow(iter([empty, empty]))) == []
    assert ex._INIT_US == 1234
    (out,) = ex._extract_batches_arrow(iter([_kernel_batch(["a", "b"])]))
    assert out.column("init_us").to_pylist() == [1234, 0]
    assert ex._INIT_US == 0


def test_dup_clusters_pointer_jump_on_chain(spark):
    """A pure chain graph with ids in walk order converges to
    component-min labels."""
    from pdfwf_spark.operators.dedup import dup_clusters

    n = 40
    docs = spark.range(0, n).select(F.col("id").alias("doc_id"))
    pairs = spark.range(0, n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    out = dup_clusters(docs, pairs)
    rows = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in out.collect()}
    assert all(rows[i] == (0, 1 if i == 0 else 0) for i in range(n))
