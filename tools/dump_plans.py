#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans of the flagship
pipeline and key operators, with the design assertions each plan is
supposed to exhibit. Run: PYTHONPATH=. python tools/dump_plans.py"""

from __future__ import annotations

import io
import sys

from pyspark.sql import functions as F


def fmt(df, max_lines: int = 150) -> str:
    import re

    s = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # squeeze literal ±1 plane arrays (they dominate plan text otherwise)
    s = re.sub(r"(?:-?1\.0, ){4,}", "<±1.0 literal run>, ", s)
    lines = [
        (ln if len(ln) <= 400 else ln[:400] + f" ... <+{len(ln) - 400} chars>")
        for ln in s.splitlines()
    ]
    if len(lines) > max_lines:
        lines = lines[:max_lines] + [
            f"... ({len(s.splitlines()) - max_lines} more lines truncated)"
        ]
    return "\n".join(lines)


def main() -> None:
    from pdfwf_spark.session import build_session
    from pdfwf_spark.fixtures.gen import gen_transcripts
    from pdfwf_spark.pipeline import extract_df
    from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA

    spark = build_session(master="local[4]", shuffle_partitions=8, app_name="plans")
    out = io.StringIO()
    out.write(
        "# PLANS — physical plans of the core operators\n\n"
        "Generated by `tools/dump_plans.py` (`.explain('formatted')`).\n"
        "Each section states the property the plan must exhibit; the\n"
        "same properties are asserted programmatically in\n"
        "`tests/test_plans.py`.\n"
    )

    rows = [
        {k: v for k, v in r.items() if not k.startswith("_")}
        for r in gen_transcripts(10, seed=1, mega_every=0)
    ]
    raw = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)  # 4-partition scan
    transcripts = raw.repartition(8)

    out.write(
        "\n## Flagship extraction (well-split scan)\n\n"
        "Property: payload bytes flow scan -> MapInArrow with NO\n"
        "exchange in between; the ONLY wide exchange is the ordering\n"
        "window over post-extraction rows.\n\n```\n"
    )
    out.write(fmt(extract_df(transcripts, n_buckets=16, n_partitions=4)))
    out.write("\n```\n")

    out.write(
        "\n## Flagship extraction (under-split scan)\n\n"
        "Property: the scan has fewer partitions than the target, so\n"
        "exactly two exchanges — the hash repartition on the turn key\n"
        "(conv_id, turn_idx) before the UDF, the window after.\n\n```\n"
    )
    out.write(fmt(extract_df(raw, n_buckets=16, n_partitions=8)))
    out.write("\n```\n")

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    from pdfwf_spark.operators.dedup import exact_dedup, minhash_signatures

    out.write(
        "\n## exact_dedup\n\nProperty: partial HashAggregate before the\n"
        "exchange (map-side combine) — the shuffle carries one row per\n"
        "distinct digest.\n\n```\n"
    )
    out.write(fmt(exact_dedup(docs)))
    out.write("\n```\n")

    out.write(
        "\n## minhash_signatures\n\nProperty: HashAggregate (not\n"
        "SortAggregate) — BIGINT minhash lanes keep the agg buffer\n"
        "fixed-width so whole-stage codegen applies; partial min()\n"
        "combines map-side.\n\n```\n"
    )
    out.write(fmt(minhash_signatures(docs, k=8)))
    out.write("\n```\n")

    from pdfwf_spark.operators.partitioning import with_bucket

    out.write(
        "\n## resume filter\n\nProperty: the committed bucket ids (here\n"
        "0-3, read to the driver by lineage.committed_buckets) filter the\n"
        "input as run_extraction does: a Filter directly on the scan —\n"
        "no join, no exchange.\n\n```\n"
    )
    resumed = with_bucket(raw, 16).filter(~F.col("bucket").isin(0, 1, 2, 3))
    out.write(fmt(resumed.drop("bucket")))
    out.write("\n```\n")

    from pdfwf_spark.operators.dedup import simhash_band_pairs
    from pdfwf_spark.operators.similarity import bucketed_neardup_pairs, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    out.write(
        "\n## simhash_band_pairs\n\nProperty: candidates come from an\n"
        "equi-self-join on (band, bucket) — no CartesianProduct,\n"
        "no BroadcastNestedLoopJoin; the 64 majority sums are one\n"
        "HashAggregate with map-side combine.\n\n```\n"
    )
    out.write(fmt(simhash_band_pairs(docs)))
    out.write("\n```\n")

    out.write(
        "\n## bucketed_neardup_pairs (multi-table hyperplane LSH)\n\n"
        "Property: NO md5 in the plan (plane signs are literal arrays —\n"
        "Catalyst does not constant-fold md5 inside higher-order\n"
        "lambdas, so the executor-side variant would pay per-(row x dim\n"
        "x plane x table) md5); the candidate join is an equi-join on\n"
        "(band, bucket) — band is the table index — never all-pairs.\n\n```\n"
    )
    out.write(fmt(bucketed_neardup_pairs(emb, threshold_milli=300, n_planes=4,
                                         n_tables=2)))
    out.write("\n```\n")

    out.write(
        "\n## ivf_topk (IVF ANN)\n\nProperty: the centroid side is a\n"
        "BroadcastExchange (tiny); corpus assignment is one broadcast\n"
        "score + map-side max_by; only the probed cells' candidates\n"
        "reach the per-query ranking window.\n\n```\n"
    )
    out.write(fmt(ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=3,
                           n_centroids=8, n_probe=2)))
    out.write("\n```\n")

    from pdfwf_spark.operators.rebalance import _staged_with_index

    indexed, handle, _total = _staged_with_index(spark.range(1000).repartition(6), None)
    out.write(
        "\n## rebalance contiguous index\n\nProperty: NO Exchange\n"
        "SinglePartition — the global index comes from per-partition\n"
        "row_number windows plus a BroadcastExchange of the (one row\n"
        "per partition) offset table.\n\n```\n"
    )
    out.write(fmt(indexed))
    out.write("\n```\n")
    handle.unpersist()

    from pdfwf_spark.operators.dedup import benchmark_contamination
    from pdfwf_spark.operators.textstats import (
        with_pii_redacted,
        with_repetition_stats,
    )

    out.write(
        "\n## benchmark_contamination\n\nProperty: the eval-set shingle\n"
        "vocabulary reaches the corpus join as a BroadcastHashJoin —\n"
        "the corpus side never shuffles on the shingle; the only\n"
        "doc-keyed exchanges are the two count aggregates.\n\n```\n"
    )
    out.write(fmt(benchmark_contamination(
        docs.filter(F.col("doc_id") % 97 != 13),
        docs.filter(F.col("doc_id") % 97 == 13), shingle_n=3)))
    out.write("\n```\n")

    out.write(
        "\n## with_repetition_stats\n\nProperty: line stats are pure\n"
        "per-row projection; exactly 3 exchanges — the (doc, gram)\n"
        "aggregate, the per-doc max/sum, the join back — all\n"
        "HashAggregates with map-side combine.\n\n```\n"
    )
    out.write(fmt(with_repetition_stats(docs)))
    out.write("\n```\n")

    out.write(
        "\n## with_pii_redacted\n\nProperty: zero exchanges — a pure\n"
        "regexp projection inside one whole-stage-codegen span over\n"
        "the scan.\n\n```\n"
    )
    out.write(fmt(with_pii_redacted(docs)))
    out.write("\n```\n")

    # ---- round-4 operators ----
    from pdfwf_spark.operators.packing import pack_concat
    from pdfwf_spark.operators.sampling import split_assign
    from pdfwf_spark.operators.sketch import histogram_quantiles
    from pdfwf_spark.operators.textstats import (
        filter_blocked_domains,
        token_count,
        top_terms_per_doc,
    )

    ndocs = docs.select("doc_id", token_count(F.col("text")).alias("n_tokens"))

    out.write(
        "\n## pack_concat (sequence packing, concat-split)\n\nProperty:\n"
        "exactly ONE exchange — the hash partition on the pack bucket\n"
        "that the per-bucket cumsum window requires; no global sort.\n\n```\n"
    )
    out.write(fmt(pack_concat(ndocs, 256, n_buckets=4)))
    out.write("\n```\n")

    out.write(
        "\n## split_assign (train/val/test)\n\nProperty: ZERO exchanges —\n"
        "one md5 + CASE projection inside the scan's codegen span; the\n"
        "assignment is partitioning-invariant by construction.\n\n```\n"
    )
    out.write(fmt(split_assign(docs, "doc_id")))
    out.write("\n```\n")

    out.write(
        "\n## histogram_quantiles (exact, no global sort)\n\nProperty: the\n"
        "ordered window runs over the HashAggregate'd DISTINCT-value\n"
        "histogram, never raw rows — shuffle volume O(distinct).\n\n```\n"
    )
    out.write(fmt(histogram_quantiles(ndocs, "n_tokens", [0.5, 0.9])))
    out.write("\n```\n")

    out.write(
        "\n## top_terms_per_doc (integer tf-idf skeleton)\n\nProperty: the\n"
        "stopword-cut df table reaches the tf join as a BROADCAST; both\n"
        "aggregates are map-side-combining HashAggregates.\n\n```\n"
    )
    out.write(fmt(top_terms_per_doc(docs, k=3)))
    out.write("\n```\n")

    bl = spark.createDataFrame([("bad.example.com",)], "domain string")
    out.write(
        "\n## filter_blocked_domains\n\nProperty: blocklist side\n"
        "broadcasts; docs survive via LeftAnti — the corpus never\n"
        "builds a hash table or shuffles.\n\n```\n"
    )
    out.write(fmt(filter_blocked_domains(docs, bl)))
    out.write("\n```\n")

    from pdfwf_spark.operators.context import (
        assemble_context,
        dialogue_segment_pairs,
    )
    from pdfwf_spark.operators.diff import merge_upsert
    from pdfwf_spark.operators.partitioning import profile_key_skew
    from pdfwf_spark.operators.sketch import hll_register_state
    from pdfwf_spark.curation import conversation_stats

    out.write(
        "\n## assemble_context (chunked skew-safe path)\n\nProperty: every\n"
        "exchange partitions on the FINE (conv_id, _chunk) key — a\n"
        "mega-conversation splits across tasks; zero Python; windows are\n"
        "k-frame-bounded.\n\n```\n"
    )
    out.write(fmt(assemble_context(transcripts, k=3, chunk_size=64)))
    out.write("\n```\n")

    out.write(
        "\n## merge_upsert (CDC latest-wins)\n\nProperty: ONE hash exchange\n"
        "on the merge key feeding one row_number window — no join, so a\n"
        "mega-key is an ordered partition scan, never a pair blowup.\n\n```\n"
    )
    upd = docs.where(F.col("doc_id") % 50 == 0).withColumn(
        "text", F.concat(F.col("text"), F.lit(" v2"))
    )
    out.write(
        fmt(
            merge_upsert(
                docs.withColumn("version", F.lit(1)),
                upd.withColumn("version", F.lit(2)),
                "doc_id",
                "version",
            )
        )
    )
    out.write("\n```\n")

    out.write(
        "\n## dialogue_segment_pairs (cross-conv borrowing)\n\nProperty:\n"
        "segments md5-collapse to fixed-width signatures INSIDE the\n"
        "conv-ordered window projection (full turn text never reshuffles\n"
        "after the first exchange); candidates come from an equi-join on\n"
        "the signature with the hot-group cap riding the join's own\n"
        "partitioning.\n\n```\n"
    )
    out.write(fmt(dialogue_segment_pairs(transcripts, w=3)))
    out.write("\n```\n")

    out.write(
        "\n## profile_key_skew\n\nProperty: map-side-combined count per key,\n"
        "then a single-row aggregate over the O(distinct) counts table —\n"
        "raw rows shuffle zero times beyond the count partials.\n\n```\n"
    )
    out.write(fmt(profile_key_skew(docs, "source")))
    out.write("\n```\n")

    out.write(
        "\n## hll_register_state\n\nProperty: scan-side integer codegen\n"
        "(md5 -> register/rho) into a map-side-combined max per register —\n"
        "the exchange carries <= 64 rows per map task at ANY input size.\n\n```\n"
    )
    out.write(fmt(hll_register_state(docs, "doc_id")))
    out.write("\n```\n")

    out.write(
        "\n## conversation_stats\n\nProperty: one ordered window tags\n"
        "same-role islands, then the (conv, island) -> conv aggregate\n"
        "chain reuses the window's conv_id partitioning (no second wide\n"
        "exchange of turn rows).\n\n```\n"
    )
    out.write(fmt(conversation_stats(transcripts)))
    out.write("\n```\n")

    out.write(
        "\n## semdedup_pairs (cell-bounded semantic near-dup)\n\n"
        "Property: the candidate scan is an EQUI-self-join keyed on the\n"
        "k-means cell id (SortMergeJoin/ShuffledHashJoin on cell — never a\n"
        "cartesian or nested-loop over the corpus); the quantized cosine is\n"
        "a post-join codegen filter.\n\n```\n"
    )
    from pdfwf_spark.operators.similarity import semdedup_pairs

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out.write(fmt(semdedup_pairs(embs, k=4, iters=1, threshold_milli=350)))
    out.write("\n```\n")

    out.write(
        "\n## dsir_scores (hashed-ngram importance scoring)\n\n"
        "Property: the exploded gram stream joins the dense ratio table\n"
        "BROADCAST-side (the corpus is never shuffled by bucket) and the\n"
        "only wide exchange is the ONE doc-id groupBy, with partial\n"
        "aggregation below it.\n\n```\n"
    )
    from pdfwf_spark.operators.selection import dsir_fit, dsir_scores

    out.write(
        fmt(dsir_scores(docs, dsir_fit(docs.limit(50), docs, n_buckets=64),
                        n_buckets=64))
    )
    out.write("\n```\n")

    with open("PLANS.md", "w") as f:
        f.write(out.getvalue())
    print("PLANS.md written", len(out.getvalue()), "chars")
    spark.stop()


if __name__ == "__main__":
    main()
