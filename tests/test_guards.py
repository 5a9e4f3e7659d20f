"""Quadratic-blowup guards: hot-bucket caps on every banded candidate
self-join and the hot-shingle df cap on standalone exact Jaccard —
the difference between "bucketed" and "bucketed at 100 TB".

Skew fixture: a block of identical short docs (the degenerate bucket
every near-empty/boilerplate doc lands in) next to a few distinct
docs. Uncapped, the block alone contributes O(block^2) candidate
pairs; capped, its bucket is dropped and the distinct docs' results
are untouched.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from pdfwf_spark.operators.dedup import (
    DEFAULT_MAX_BUCKET,
    cap_hot_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    shared_passage_pairs,
    simhash_band_pairs,
)

N_HOT = 120          # identical docs -> one degenerate bucket
CAP = 50             # engages on the block, spares everything else


@pytest.fixture(scope="module")
def skewed_docs(spark):
    hot = [(i, "the same boilerplate text repeated everywhere always")
           for i in range(N_HOT)]
    distinct = [
        (1000 + i, f"unique document body number {i} with words {i * 7} "
                   f"and token{i} plus shared filler phrase")
        for i in range(8)
    ]
    return spark.createDataFrame(hot + distinct, "doc_id long, text string").cache()


def test_cap_hot_groups_drops_only_oversized(spark):
    df = spark.createDataFrame(
        [(i, "big") for i in range(60)] + [(i, "small") for i in range(5)],
        "id long, key string",
    )
    kept = cap_hot_groups(df, ["key"], 50)
    keys = [r["key"] for r in kept.select("key").distinct().collect()]
    assert keys == ["small"]
    assert cap_hot_groups(df, ["key"], None).count() == 65  # None disables


def test_lsh_candidate_cap_engages(skewed_docs):
    sigs = minhash_signatures(skewed_docs, k=8).cache()
    uncapped = lsh_candidate_pairs(sigs, max_bucket_size=None)
    capped = lsh_candidate_pairs(sigs, max_bucket_size=CAP)
    # uncapped: the identical block alone is N_HOT*(N_HOT-1)/2 pairs
    assert uncapped.filter("id_a < 1000 AND id_b < 1000").count() == (
        N_HOT * (N_HOT - 1) // 2
    )
    # capped: the degenerate bucket is gone...
    assert capped.filter("id_a < 1000 AND id_b < 1000").count() == 0
    # ...and pairs among the distinct docs are identical to uncapped
    outside = lambda df: sorted(
        (r["id_a"], r["id_b"])
        for r in df.filter("id_a >= 1000").collect()
    )
    assert outside(capped) == outside(uncapped)
    sigs.unpersist()


def test_simhash_band_cap_engages(skewed_docs):
    capped = simhash_band_pairs(skewed_docs, max_bucket_size=CAP)
    assert capped.filter("id_a < 1000 AND id_b < 1000").count() == 0
    # bounded: every surviving bucket holds <= CAP rows, so candidates
    # are <= n_bands * CAP^2 / 2 no matter how skewed the corpus
    assert capped.count() <= 4 * CAP * CAP // 2


def test_ngram_jaccard_hot_shingle_guard(spark):
    """Docs whose ONLY overlap is a hot shingle must produce no pair
    under the df cap (and do produce pairs without it)."""
    hot_phrase = "click here to accept cookies"
    docs = spark.createDataFrame(
        [(i, f"{hot_phrase} article body {i} talks about topic{i} "
             f"entirely different content {i * 3}") for i in range(30)],
        "doc_id long, text string",
    )
    guarded = ngram_jaccard_pairs(docs, threshold=0.01, max_df=10)
    unguarded = ngram_jaccard_pairs(docs, threshold=0.01, max_df=None)
    assert guarded.count() == 0
    assert unguarded.count() == 30 * 29 // 2  # hot shingles pair everyone


def test_shared_passage_cap_engages(spark):
    """A passage shared by more than max_df docs pairs none of them;
    a passage two docs share still pairs them, and max_df=None pairs
    everyone through the hot passage."""
    hot = "click here to accept all cookies and continue reading this page"
    rows = [(i, f"{hot} article {i} about topic{i} words{i * 3}") for i in range(30)]
    lifted = "a rare passage lifted word for word from one source"
    rows += [(1000 + i, f"intro{i} {lifted} outro{i}") for i in range(2)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = lambda df: {(r["id_a"], r["id_b"]) for r in df.collect()}
    assert pairs(shared_passage_pairs(docs, max_df=10)) == {(1000, 1001)}
    uncapped = pairs(shared_passage_pairs(docs, max_df=None))
    assert len(uncapped) == 30 * 29 // 2 + 1 and (1000, 1001) in uncapped


def test_dialogue_segment_cap_engages(spark):
    """A w-turn segment shared by more than max_bucket conversations
    pairs none of them; a segment two conversations share still pairs
    them, and a large max_bucket pairs everyone through the hot one."""
    from pdfwf_spark.operators.context import dialogue_segment_pairs

    script = ["hello", "how can I help", "reset my password"]
    rows = [
        (f"c{c:03d}", t, text)
        for c in range(N_HOT)
        for t, text in enumerate(script + [f"conv {c} detail", f"conv {c} end"])
    ]
    rows += [
        (f"x{c}", t, text)
        for c in (1, 2)
        for t, text in enumerate([f"x{c} start", "rare one", "rare two", "rare three"])
    ]
    turns = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    pairs = lambda df: {(r["conv_a"], r["conv_b"]) for r in df.collect()}
    assert pairs(dialogue_segment_pairs(turns, w=3, max_bucket=CAP)) == {("x1", "x2")}
    uncapped = pairs(dialogue_segment_pairs(turns, w=3, max_bucket=10 * N_HOT))
    assert len(uncapped) == N_HOT * (N_HOT - 1) // 2 + 1 and ("x1", "x2") in uncapped
    # None turns the cap off, as on every other capped operator: a
    # segment shared by more than the default cap still pairs everyone
    n = DEFAULT_MAX_BUCKET + 1
    many = spark.createDataFrame(
        [(f"c{c:04d}", t, text) for c in range(n) for t, text in enumerate(script)],
        "conv_id string, turn_idx int, text string",
    )
    assert dialogue_segment_pairs(many, w=3, max_bucket=None).count() == n * (n - 1) // 2


def test_bucketed_neardup_cap_engages(spark):
    from pdfwf_spark.operators.similarity import bucketed_neardup_pairs

    hot = [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(N_HOT)]
    distinct = [(1000, [9.0, -1.0, 0.5, 2.0]), (1001, [9.1, -1.0, 0.5, 2.0])]
    emb = spark.createDataFrame(hot + distinct,
                                "vec_id long, embedding array<float>")
    capped = bucketed_neardup_pairs(emb, threshold_milli=900, n_planes=2,
                                    max_bucket_size=CAP)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert all(a >= 1000 for a, _ in got)     # identical block dropped
    assert (1000, 1001) in got               # real near-dup pair survives
    uncapped = bucketed_neardup_pairs(emb, threshold_milli=900, n_planes=2,
                                      max_bucket_size=None)
    assert uncapped.filter("id_a < 1000").count() == N_HOT * (N_HOT - 1) // 2


def test_lsh_verified_respects_cap(skewed_docs):
    from pdfwf_spark.operators.dedup import lsh_verified_neardups

    out = lsh_verified_neardups(skewed_docs, threshold=0.01,
                                max_bucket_size=CAP)
    assert out.filter("id_a < 1000 AND id_b < 1000").count() == 0
