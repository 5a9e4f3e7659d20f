"""Physical-plan shape assertions — the 100 TB design contract
(SURVEY §4): shuffle count, broadcast choices, parquet pushdown.
"""

from __future__ import annotations

import re

import pytest

from pyspark.sql import functions as F

from pdfwf_spark.fixtures.gen import gen_transcripts
from pdfwf_spark.pipeline import extract_df
from pdfwf_spark.schemas import TRANSCRIPT_SCHEMA


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = [
        {k: v for k, v in r.items() if not k.startswith("_")}
        for r in gen_transcripts(10, seed=1, mega_every=0)
    ]
    return spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_extraction_shuffle_budget(transcripts):
    """Under-split scan (fewer partitions than n_partitions): exactly
    two exchanges (hash repartition on the turn key before the UDF +
    ordering window after). Already well-split scan: exactly ONE (the
    window) — payload bytes never shuffle."""
    assert transcripts.rdd.getNumPartitions() < 8
    under = _plan(extract_df(transcripts, n_buckets=16, n_partitions=8))
    assert under.count("Exchange ") + under.count("Exchange\n") == 2, under
    assert re.search(r"hashpartitioning\(conv_id#\d+, turn_idx#\d+, 8\)", under), under

    auto = _plan(
        extract_df(transcripts.repartition(8), n_buckets=16, n_partitions=4)
    )
    # the .repartition(8) above is part of building the fixture (its
    # exchange sits below the scan); the extraction itself must add
    # only the window exchange on top of it
    assert auto.count("Exchange ") + auto.count("Exchange\n") == 2, auto
    assert "MapInArrow" in auto


def test_extraction_udf_is_arrow_batched(transcripts):
    # r6: the extraction kernel is mapInArrow (RecordBatch in/out,
    # passthrough columns reused untouched) — previously MapInPandas
    plan = _plan(extract_df(transcripts, n_buckets=16, n_partitions=4))
    assert "MapInArrow" in plan


def test_output_read_prunes_partitions(spark, transcripts, tmp_path):
    """bucket is the physical partition column of the sink: a bucket
    filter must become a PartitionFilter (no data files of other
    buckets touched) — the resume fast path at 10^12 rows."""
    from pdfwf_spark.pipeline import run_extraction

    out = str(tmp_path / "out")
    run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=4)
    read = spark.read.parquet(f"{out}/turns").filter(F.col("bucket") == 3)
    plan = _plan(read)
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters:")[1][:80]


def test_scan_projection_pruning(spark):
    """Column pruning reaches the parquet scan: a 2-column projection
    must not read the full documents schema."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(docs.select("doc_id", F.length("text").alias("n")))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_cosine_topk_broadcasts_queries(spark):
    from pdfwf_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=3))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_exact_dedup_single_shuffle(spark):
    from pdfwf_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(exact_dedup(docs))
    assert plan.count("Exchange") <= 2  # AQE may show shuffle read wrappers
    assert "partial" in plan.lower() or "HashAggregate" in plan  # map-side combine


def test_lsh_literal_planes_keep_md5_out_of_plan(spark):
    """Hyperplane components are embedded as literal arrays: the plan
    must contain NO md5 call (Catalyst does not constant-fold md5
    inside higher-order lambdas — evaluated per row x element x plane
    otherwise) and the candidate join must be an equi-join, never a
    cartesian product."""
    from pdfwf_spark.operators.similarity import bucketed_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(bucketed_neardup_pairs(emb, threshold_milli=300, n_planes=4,
                                        n_tables=2))
    assert "md5" not in plan, "plane md5 leaked into the executor plan"
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simhash_band_pairs_equi_join_and_hash_agg(spark):
    """Band candidates come from an equi-self-join on (band,
    bucket); the 64 majority sums must be a HashAggregate (fixed-
    width int lanes -> map-side combine), never a cartesian blowup."""
    from pdfwf_spark.operators.dedup import simhash_band_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(simhash_band_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_lsh_salted_join_keys_include_salt(spark):
    """Salt mode must keep the candidate join an EQUI-join whose key
    set includes the _salt column (that is what bounds a hot bucket's
    contribution), with no cartesian fallback — and the salting window
    must ride the same hash partitioning as the join."""
    from pdfwf_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sigs = minhash_signatures(docs)
    plan = _plan(lsh_candidate_pairs(sigs, max_bucket_size=2, cap_mode="salt"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "_salt" in plan  # salt participates in the join keys


def test_rebalance_index_avoids_single_partition_window(spark):
    """The contiguous index must come from per-partition windows +
    broadcast offsets — NEVER a global Window over one partition
    (the classic rebalancer scale-killer)."""
    from pdfwf_spark.operators.rebalance import _staged_with_index

    df = spark.range(1000).repartition(6)
    indexed, handle, total = _staged_with_index(df, None)
    try:
        plan = _plan(indexed)
        assert total == 1000
        assert "Exchange SinglePartition" not in plan, plan
        assert "BroadcastExchange" in plan  # offsets join broadcasts
    finally:
        handle.unpersist()


def test_commit_readback_pruned_no_cache(spark, transcripts, tmp_path):
    """The commit path holds NO cached copy of the corpus: lineage is
    derived from a partition-pruned (run_id=...) read-back of the
    files just written, reading only the 5 lineage-input columns."""
    from pdfwf_spark.pipeline import lineage_from_written, run_extraction

    out = str(tmp_path / "outp")
    res = run_extraction(spark, transcripts, out, n_buckets=8, n_partitions=4)
    lin = lineage_from_written(spark, f"{out}/turns", res.run_id, 8)
    plan = _plan(lin)
    assert "InMemoryTableScan" not in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "parse_status" in read_schema and "extract_us" in read_schema
    # the heavy columns never leave the files
    assert "clean_text" not in read_schema and "spans" not in read_schema
    # scan location is the single run's partition directory
    files = lin.inputFiles()
    assert files and all(f"run_id={res.run_id}" in f for f in files)


def test_contamination_broadcasts_benchmark_side(spark):
    """The eval-set shingle vocabulary must reach the corpus join as
    a BroadcastHashJoin (the corpus side never shuffles on sh); no
    cartesian product anywhere."""
    from pdfwf_spark.operators.dedup import benchmark_contamination

    docs = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma tok{i + 1} delta") for i in range(30)],
        "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    corpus = docs.filter(F.col("doc_id") % 7 != 0)
    plan = _plan(benchmark_contamination(corpus, bench, shingle_n=3))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan, plan


def test_pii_redaction_is_scan_side(spark):
    """The PII scrub is a pure projection: zero exchanges, one
    whole-stage-codegen span over the scan."""
    from pdfwf_spark.operators.textstats import with_pii_redacted

    docs = spark.createDataFrame(
        [(1, "mail bob@x.io now")], "doc_id long, text string")
    plan = _plan(with_pii_redacted(docs))
    assert plan.count("Exchange") == 0, plan


def test_repetition_line_stats_need_no_shuffle(spark):
    """Only the top-2-gram mode may shuffle (two doc-keyed
    HashAggregates with partial combine + the join back); the line
    stats themselves are per-row. Guard: no more than the 3 expected
    exchanges, and the gram aggregate must be a partial-combining
    HashAggregate, never a sort-based fallback. Measured plan: exactly
    3 exchanges — (doc_id, g) agg, doc_id agg, join-back of the
    per-row side — pinned exactly so one regressed shuffle fails."""
    from pdfwf_spark.operators.textstats import with_repetition_stats

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "x\ny\nx")], "doc_id long, text string")
    plan = _plan(with_repetition_stats(docs))
    assert "HashAggregate" in plan, plan
    assert "ObjectHashAggregate" not in plan and "SortAggregate" not in plan, plan
    n_ex = plan.count("Exchange ") + plan.count("Exchange\n")
    assert n_ex == 3, plan


def test_operators_build_without_running_jobs(spark):
    """Building an operator over a frame that already holds an exchange
    runs nothing: no operator asks its input for a partition count
    (`df.rdd` on such a frame runs the exchange under AQE). The scan
    split happens once, where the table is read."""
    from pdfwf_spark.operators import dedup, sketch, textstats

    def docs():
        # a fresh frame per build: Dataset.rdd is cached per object
        return spark.range(64).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("see https://ex.org/p a b a b "), F.col("id").cast("string")).alias("text"),
        ).repartition(4)

    sc = spark.sparkContext
    builders = {
        "lsh_verified_neardups": lambda d: dedup.lsh_verified_neardups(d, threshold=0.5),
        "with_repetition_stats": textstats.with_repetition_stats,
        "domain_counts": textstats.domain_counts,
        "top_ngrams": textstats.top_ngrams,
        "hll_register_state": lambda d: sketch.hll_register_state(d, "doc_id"),
    }
    jobs = {}
    for name, build in builders.items():
        sc.setJobGroup(f"build-only-{name}", name)
        try:
            build(docs())
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[name] = len(sc.statusTracker().getJobIdsForGroup(f"build-only-{name}"))
    assert jobs == dict.fromkeys(builders, 0)


def test_pack_concat_single_exchange(spark):
    """Packing assignment = one hash exchange on the pack bucket (the
    window's requirement); no extra shuffle, no global sort."""
    from pdfwf_spark.operators.packing import pack_concat

    df = spark.createDataFrame(
        [(i, i % 40 + 1) for i in range(100)], "doc_id long, n_tokens long"
    )
    plan = _plan(pack_concat(df, 64, n_buckets=4))
    assert plan.count("Exchange ") + plan.count("Exchange\n") == 1, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_split_assign_zero_shuffle(spark):
    """Split assignment is a per-row expression — no exchange at all."""
    from pdfwf_spark.operators.sampling import split_assign

    df = spark.createDataFrame([(i,) for i in range(50)], "doc_id long")
    plan = _plan(split_assign(df, "doc_id"))
    assert "Exchange" not in plan, plan


def test_top_terms_broadcasts_df_table(spark):
    """The stopword-cut df table must reach the tf join as a
    broadcast, never a shuffle join."""
    from pdfwf_spark.operators.textstats import top_terms_per_doc

    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(30)], "doc_id long, text string"
    )
    plan = _plan(top_terms_per_doc(docs, k=2))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_blocklist_filter_broadcast_and_anti(spark):
    """Blocklist application: blocklist side broadcasts; docs survive
    via an anti-join — the corpus side never builds a hash table."""
    from pdfwf_spark.operators.textstats import filter_blocked_domains

    docs = spark.createDataFrame(
        [(i, f"https://d{i % 3}.ex.com/x") for i in range(30)],
        "doc_id long, text string",
    )
    bl = spark.createDataFrame([("d1.ex.com",)], "domain string")
    plan = _plan(filter_blocked_domains(docs, bl))
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan


def test_histogram_quantiles_aggregates_distinct_values_only(spark):
    """The ordered window must run over the distinct-value histogram,
    not the raw rows: the plan's window input is the grouped table."""
    from pdfwf_spark.operators.sketch import histogram_quantiles

    df = spark.createDataFrame([(i % 7,) for i in range(200)], "n long")
    plan = _plan(histogram_quantiles(df, "n", [0.5]))
    # hash aggregate (the histogram) below the window sort
    assert "HashAggregate" in plan, plan
    assert "Window" in plan, plan


def test_bloom_resume_probes_broadcast_big_side_never_shuffles(spark):
    """The 10^12-scale contract of bloom_filter_uncommitted: every
    probe join against the folded bitmap is a BroadcastHashJoin (the
    input side carries only two extra long columns), and the only
    SortMergeJoin/shuffle on input rows is the exact anti-join over
    the 'maybe' subset."""
    from pdfwf_spark.operators.lineage import bloom_filter_uncommitted

    inp = spark.range(500).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id")
    )
    com = spark.range(200).select(
        F.concat(F.lit("d"), (F.col("id") * 3)).alias("doc_id")
    )
    plan = _plan(bloom_filter_uncommitted(inp, com, "doc_id", m_bits=64 * 128, k=2))
    # k=2 probe joins, both broadcast
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # exactly one anti-join (the exact check on the maybe subset)
    assert plan.count("LeftAnti") == 1, plan


def test_heavy_hitters_confirm_pass_broadcasts_candidates(spark):
    """heavy_hitters' exact-confirm pass must broadcast the (bounded,
    partitions x capacity) candidate set into a left-semi join — the
    corpus is never shuffled on the value key before the final count's
    map-side combine."""
    from pdfwf_spark.operators.sketch import heavy_hitters

    df = spark.range(2000).select(
        F.concat(F.lit("t"), (F.col("id") % 37)).alias("v")
    )
    plan = _plan(heavy_hitters(df, "v", min_count=10, capacity=64))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_boilerplate_strip_broadcasts_blocklist_never_shuffles_text(spark):
    """strip_boilerplate_lines' 100 TB contract: only distinct
    (group, line) partials shuffle for the df count; the corpus joins
    the one-row-per-group boiler arrays via broadcast and the rebuild
    is scan-side — no SortMergeJoin anywhere."""
    from pdfwf_spark.operators.textstats import strip_boilerplate_lines

    df = spark.range(200).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.concat(F.lit("s"), (F.col("id") % 4)).alias("source"),
        F.concat(F.lit("nav\nbody "), F.col("id")).alias("text"),
    )
    plan = _plan(strip_boilerplate_lines(df, min_df=2))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_assemble_context_chunked_partitions_on_fine_key(spark, transcripts):
    """Skew contract: every exchange in the chunked path carries the
    FINE (conv_id, _chunk) key — a mega-conversation never pins one
    task — and nothing runs in Python."""
    import re

    from pdfwf_spark.operators.context import assemble_context

    plan = _plan(assemble_context(transcripts, k=3, chunk_size=64))
    parts = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert parts and all("_chunk" in p for p in parts)
    assert "Python" not in plan and "InPandas" not in plan


def test_merge_upsert_single_key_shuffle_no_join(spark):
    """CDC merge is union + window: one hash exchange on the key,
    zero Join nodes."""
    from pdfwf_spark.operators.diff import merge_upsert

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.withColumn("version", F.lit(1))
    upd = docs.where(F.col("doc_id") % 50 == 0).withColumn("version", F.lit(2))
    plan = _plan(merge_upsert(base, upd, "doc_id", "version"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_hll_state_map_side_combine(spark):
    """The register max combines map-side: partial_max before the
    exchange, so the shuffle carries <= n_registers rows per task."""
    from pdfwf_spark.operators.sketch import hll_register_state

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(hll_register_state(docs, "doc_id"))
    assert "partial_max" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_semdedup_cell_equi_join_prune_broadcast_anti(spark):
    """semdedup_pairs' candidate scan must be an EQUI-self-join on the
    cell id (never a cartesian/nested-loop over the corpus), and
    semdedup_prune must anti-join the loser list BROADCAST-side so the
    corpus is never shuffled by the prune."""
    from pdfwf_spark.operators.similarity import (
        semdedup_pairs, semdedup_prune,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = semdedup_pairs(emb, k=4, iters=1, threshold_milli=350)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    prune_plan = _plan(semdedup_prune(emb, pairs))
    assert "BroadcastHashJoin" in prune_plan and "LeftAnti" in prune_plan


def test_dsir_scoring_broadcast_join_single_doc_shuffle(spark):
    """dsir_scores: the ratio lookup must broadcast (never shuffle the
    exploded corpus by bucket) and the whole scoring pass must shuffle
    exactly once — the groupBy on the doc id. The fit's count
    aggregates must map-side combine (partial_count)."""
    from pdfwf_spark.operators.selection import (
        dsir_scores, ngram_bucket_counts,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    lr = spark.createDataFrame(
        [(b, (b % 7) - 3) for b in range(64)], "bucket long, lr_milli long"
    )
    plan = _plan(dsir_scores(docs, lr, n_buckets=64))
    assert "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1

    fit_plan = _plan(ngram_bucket_counts(docs, n_buckets=64))
    assert "partial_count" in fit_plan
    assert fit_plan.count("Exchange hashpartitioning") == 1
