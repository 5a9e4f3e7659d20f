"""DSIR-style data selection: hashed n-gram importance weights.

The shape of Xie et al. 2023, "Data Selection for Language Models via
Importance Resampling" (DSIR): fit bag-of-hashed-ngram (unigram +
bigram) counts on a small TARGET corpus and on the RAW pool, then
score every raw document with the log-likelihood ratio of the two
hashed models — high scorers "look like" the target, and a threshold
or weighted resample selects them. The corpus-size-dependent work is
embarrassingly parallel: each fit pass is one aggregation whose
shuffle is bounded at `n_buckets` rows per map task (map-side
combine over a fixed key space, the same bound hll_register_state
exploits), and the scoring pass is a pure projection plus one
broadcast join against the (tiny, dense, n_buckets-row) ratio table
and ONE groupBy on the doc id. Nothing collects to the driver;
nothing is quadratic; the recipe holds at 100 TB unchanged.

Determinism contract (the repo-wide rule: no cross-engine float
drift in oracled outputs): the log is NOT libm log — it is
Mitchell's piecewise-linear fixed-point log2 approximation
(bit-length via base-2 string length, integer-exact on both engines,
then ONE interpolation step whose multiply and divide are
correctly-rounded IEEE double ops evaluated in the identical order on
both engines), in milli-bits. Max error vs true log2 is ~0.086 bits
(the classic Mitchell bound) — irrelevant for selection, which only
consumes the ordering/threshold, and it buys bit-exact DuckDB
oracles, which libm log cannot guarantee (JVM Math.log is only
1-ulp-accurate, not correctly rounded).

Reference analog: pdfwf has no data-selection stage (it extracts and
converts only — convert.py drives parsers, nothing ranks documents);
this module is part of the beyond-parity LLM-training-data toolkit,
the learned-weights sibling of textstats.with_hashed_classifier_score
(whose weights are synthetic md5 draws; DSIR's are FIT from two
corpora).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdfwf_spark.operators.dedup import tokens, word_ngrams

#: DSIR's paper uses 10k hashed buckets; a power of two keeps the
#: dense ratio table broadcast-trivial at any corpus size.
DEFAULT_BUCKETS = 8192


def mitchell_log2_milli(v: Column) -> Column:
    """round(1000 * ~log2(v)) for an integer column v >= 1, via
    Mitchell's approximation: 1000*(bitlen-1) linear-interpolated by
    the fractional offset above the floor power of two. Bit length is
    the base-2 string length (`conv(v,10,2)` here, `length(bin(v))`
    in DuckDB — integer-exact both sides); 2^(bitlen-1) is exact as a
    double for any representable long; the single multiply/divide is
    correctly-rounded IEEE evaluated in the same order both sides, so
    the milli value is bit-identical across engines. v <= 0 -> null
    (callers smooth with +1 first).
    """
    bl = F.length(F.conv(v.cast("string"), 10, 2))
    p = F.pow(F.lit(2.0), (bl - 1).cast("double")).cast("long")
    frac = F.round(F.lit(1000.0) * (v - p) / p).cast("long")
    return F.when(v >= 1, F.lit(1000) * (bl - 1).cast("long") + frac)


def _gram_rows(
    docs: DataFrame,
    cols: list,
    text_col: str,
    n_buckets: int,
    salt: str,
    outer: bool = False,
) -> DataFrame:
    """(… cols …, bucket) — one row per hashed unigram/bigram of each
    document, WITH multiplicity — the DSIR feature extractor. The
    md5-first-8-hex-chars -> [0, 2^32) idiom is the same one
    sampling._hash_bucket pins, so DuckDB reproduces bucket ids
    exactly. The md5 bucket is computed AFTER the explode as a plain
    row expression (whole-stage codegen) instead of inside an array
    `transform` lambda (interpreted per element; r6 optimization,
    guide §4.1).

    explode_outer keeps gram-less docs with a NULL bucket (null gram ->
    null concat -> null md5).
    """
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    grams = F.concat(toks, word_ngrams(toks, 2))
    ex = (F.explode_outer if outer else F.explode)(grams).alias("_gram")
    rows = docs.select(*cols, ex)
    # re-reference carried columns BY NAME: `cols` may hold aliased
    # expressions over input columns that no longer exist post-select
    carried = [F.col(c) for c in rows.columns[:-1]]
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(salt + "#"), F.col("_gram"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % n_buckets
    )
    return rows.select(*carried, bucket.alias("bucket"))


def ngram_bucket_counts(
    docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """(bucket, cnt): the hashed-ngram model "fit" over a corpus —
    explode the per-doc feature array, ONE count aggregate. Map-side
    combine bounds the shuffle at n_buckets rows per map task no
    matter how many documents feed it.
    """
    return (
        _gram_rows(docs, [], text_col, n_buckets, salt)
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def dsir_log_ratio(
    target_counts: DataFrame,
    raw_counts: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(bucket, lr_milli) DENSE over buckets 0..n_buckets-1: the
    add-1-smoothed log-likelihood ratio of the two hashed models in
    Mitchell milli-bits,

        lr = log2(t_cnt+1) - log2(t_tot+B) - log2(r_cnt+1) + log2(r_tot+B)

    Dense (a spark.range spine left-joined with both count tables) so
    the scoring join needs no unseen-bucket special case. All four
    inputs here are <= n_buckets rows + two 1-row totals — every join
    is a broadcast; this never shuffles anything corpus-sized.
    """
    spark = target_counts.sparkSession
    dense = spark.range(0, n_buckets).select(F.col("id").alias("bucket"))
    t_tot = target_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("_t_tot")
    )
    r_tot = raw_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("_r_tot")
    )
    j = (
        dense.join(
            F.broadcast(target_counts.select("bucket", F.col("cnt").alias("_t"))),
            "bucket",
            "left",
        )
        .join(
            F.broadcast(raw_counts.select("bucket", F.col("cnt").alias("_r"))),
            "bucket",
            "left",
        )
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
    )
    t = F.coalesce(F.col("_t"), F.lit(0)).cast("long") + 1
    r = F.coalesce(F.col("_r"), F.lit(0)).cast("long") + 1
    lr = (
        mitchell_log2_milli(t)
        - mitchell_log2_milli(F.col("_t_tot") + n_buckets)
        - mitchell_log2_milli(r)
        + mitchell_log2_milli(F.col("_r_tot") + n_buckets)
    )
    return j.select("bucket", lr.cast("long").alias("lr_milli"))


def dsir_fit(
    target_docs: DataFrame,
    raw_docs: DataFrame,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """Convenience: fit both hashed models and return the dense
    (bucket, lr_milli) ratio table in one call."""
    return dsir_log_ratio(
        ngram_bucket_counts(target_docs, text_col, n_buckets, salt),
        ngram_bucket_counts(raw_docs, text_col, n_buckets, salt),
        n_buckets,
    )


def dsir_fit_split(
    docs: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """dsir_fit for the common composition where the TARGET corpus is
    a predicate-subset of the pool (e.g. lang = 'en'): ONE gram pass
    fits BOTH hashed models — the bucket aggregate counts count(*)
    for the raw model and the predicate-conditional count for the
    target model in the same map-side-combined pass (r6, guide §2.3
    "aggregate before you shuffle"; previously two full tokenize+md5
    passes over the pool). Counts are exactly
    ngram_bucket_counts(docs.filter(pred)) / ngram_bucket_counts(docs)
    — buckets absent from the target get cnt 0 here instead of no row,
    which dsir_log_ratio's dense left-join + coalesce(0) already maps
    to the identical smoothed ratio.
    """
    g = _gram_rows(
        docs, [target_pred.alias("_is_t")], text_col, n_buckets, salt
    )
    agg = (
        g.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("_r"),
            F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("_t"),
        )
        # <= n_buckets rows; two consumers below
        .localCheckpoint(eager=False)
    )
    return dsir_log_ratio(
        agg.select("bucket", F.col("_t").alias("cnt")),
        agg.select("bucket", F.col("_r").alias("cnt")),
        n_buckets,
    )


def dsir_scores(
    docs: DataFrame,
    log_ratio: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """(id_col, n_grams, dsir_milli): each document's importance score
    = sum of lr_milli over its hashed unigrams+bigrams (the document
    log-likelihood ratio under the two models, in milli-bits), plus
    the gram count so callers can length-normalize before
    thresholding. Shape: explode_outer (keeps empty docs, score 0) ->
    broadcast join against the dense ratio table -> ONE groupBy on
    the doc id. Compose with sampling.split_assign / cap_per_group or
    a plain threshold filter for the actual resample.
    """
    g = _gram_rows(docs, [F.col(id_col)], text_col, n_buckets, salt, outer=True)
    j = g.join(F.broadcast(log_ratio), "bucket", "left")
    return j.groupBy(id_col).agg(
        F.count("bucket").cast("long").alias("n_grams"),
        F.coalesce(F.sum("lr_milli"), F.lit(0)).cast("long").alias("dsir_milli"),
    )


def dsir_select(
    scored: DataFrame,
    q: float = 0.9,
    score_col: str = "dsir_milli",
) -> DataFrame:
    """Keep the rows at or above the EXACT q-quantile of the score
    distribution — the deterministic threshold form of DSIR's resample
    step (the paper adds Gumbel noise; a log of a uniform is libm
    territory, so the reproducible engine variant thresholds instead
    and leaves randomized tie-breaking to sampling.split_assign's md5
    space if a caller wants it). The threshold comes from
    sketch.grouped_histogram_quantiles over a constant group — fully
    lazy, shuffle O(distinct scores), no global row sort, no driver
    collect — and is broadcast back over the corpus, so the selection
    pass itself never shuffles the data.
    """
    from pdfwf_spark.operators.sketch import (
        _milli_label, grouped_histogram_quantiles,
    )

    thr = grouped_histogram_quantiles(
        scored.select(F.lit(0).alias("_g"), F.col(score_col)),
        ["_g"], score_col, [q],
    ).select(F.col(_milli_label(q)).alias("_thr_milli"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col(score_col) * 1000 >= F.col("_thr_milli"))
        .drop("_thr_milli")
    )


def lm_log_prob(
    target_counts: DataFrame,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """(bucket, lp_milli) DENSE: add-1-smoothed log2-probability of
    each hashed-ngram bucket under ONE corpus model, in Mitchell
    milli-bits — the single-model half of dsir_log_ratio, which is
    all a CCNet-style LM quality filter needs. All-broadcast build,
    never corpus-sized."""
    spark = target_counts.sparkSession
    dense = spark.range(0, n_buckets).select(F.col("id").alias("bucket"))
    tot = target_counts.agg(
        F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("_tot")
    )
    j = dense.join(
        F.broadcast(target_counts.select("bucket", F.col("cnt").alias("_c"))),
        "bucket",
        "left",
    ).crossJoin(F.broadcast(tot))
    c = F.coalesce(F.col("_c"), F.lit(0)).cast("long") + 1
    lp = mitchell_log2_milli(c) - mitchell_log2_milli(F.col("_tot") + n_buckets)
    return j.select("bucket", lp.cast("long").alias("lp_milli"))


def lm_scores(
    docs: DataFrame,
    log_prob: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DEFAULT_BUCKETS,
    salt: str = "dsir",
) -> DataFrame:
    """(id_col, n_grams, lm_milli): the document's AVERAGE hashed-ngram
    log2-probability under the target model, in Mitchell milli-bits —
    the CCNet quality-filter shape (Wenzek et al. 2020 rank CommonCrawl
    documents by LM perplexity under a clean-corpus LM; a more negative
    average here = more perplexing = lower quality). Per-gram log-probs
    are integers; the single ROUND happens once on the per-doc mean
    (long/long -> one correctly-rounded IEEE division, identical both
    engines). Empty docs survive with n_grams 0 and lm_milli NULL —
    a no-grams doc has no likelihood to rank by, which the caller must
    decide about explicitly. Same plan shape as dsir_scores: explode,
    broadcast lookup, ONE doc-id groupBy.
    """
    g = _gram_rows(docs, [F.col(id_col)], text_col, n_buckets, salt, outer=True)
    j = g.join(F.broadcast(log_prob), "bucket", "left")
    return j.groupBy(id_col).agg(
        F.count("bucket").cast("long").alias("n_grams"),
        F.round(F.sum("lp_milli") / F.count("bucket"))
        .cast("long")
        .alias("lm_milli"),
    )
