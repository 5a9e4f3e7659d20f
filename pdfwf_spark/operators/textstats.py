"""Text analysis operators: language-ID, quality scoring, token
counting, document fingerprinting.

All JVM-side (pyspark.sql.functions only — no Python in the hot
path); ratios exported as integer per-mille values so DuckDB oracles
hash-match without float drift.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdfwf_spark.core.normalize import WS_CLASS
from pdfwf_spark.operators.dedup import tokens

# tiny deterministic marker vocabularies (n-gram-heuristic stand-in;
# a production list would be per-language frequency tables)
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "los"),
    "fr": ("le", "la", "les", "des", "et", "un"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "for", "on")

FP_MOD = 1_000_000_007
FP_BASE = 31


def token_count(text_col: Column) -> Column:
    """Count of NON-EMPTY tokens: split('\\s+') emits '' at whitespace
    edges (and [''] for blank text — including tab/newline-only text
    that a spaces-only trim() check misses), so filter empties instead
    of special-casing blank."""
    return F.size(F.filter(tokens(text_col), lambda x: x != "")).alias("n_tokens")


def _count_in(toks: Column, vocab: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda x: x.isin(*vocab)))


def with_text_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """n_tokens, n_chars, avg token length (per-mille), stopword and
    punctuation ratios (per-mille) — the quality-score feature row.

    Blank/whitespace-only text counts 0 tokens (split('') -> ['']
    would otherwise claim 1) and zero ratios, agreeing with
    token_count — the two operators must never disagree on a doc."""
    t = tokens(F.col(text_col))
    n_tok = token_count(F.col(text_col))
    blank = n_tok == 0
    n_stop = _count_in(t, STOPWORDS)
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[.,;:!?]", "")
    )
    safe_tok = F.greatest(n_tok, F.lit(1))
    return (
        docs.withColumn("n_tokens", n_tok)
        .withColumn("n_chars", F.length(F.col(text_col)))
        .withColumn(
            "avg_token_len_milli",
            F.when(blank, F.lit(0)).otherwise(
                F.round(
                    1000
                    * F.length(F.regexp_replace(F.col(text_col), r"\s+", ""))
                    / safe_tok
                ).cast("int")
            ),
        )
        .withColumn(
            "stopword_milli",
            F.when(blank, F.lit(0)).otherwise(
                F.round(1000 * n_stop / safe_tok).cast("int")
            ),
        )
        .withColumn(
            "punct_milli",
            F.round(1000 * n_punct / F.greatest(F.length(F.col(text_col)), F.lit(1)))
            .cast("int"),
        )
    )


def with_quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite quality heuristic in [0, 1000]: rewards stopword
    presence (real prose), mid-range token length, low punctuation
    noise. Deterministic integer arithmetic; an EMPTY document scores
    0 (not the punct-component's 300)."""
    d = with_text_stats(docs, text_col)
    stop_component = F.least(F.col("stopword_milli") * 3, F.lit(400))
    len_component = F.when(
        (F.col("avg_token_len_milli") >= 3000) & (F.col("avg_token_len_milli") <= 9000),
        F.lit(300),
    ).otherwise(F.lit(0))
    punct_component = F.greatest(F.lit(0), F.lit(300) - F.col("punct_milli") * 3)
    return d.withColumn(
        "quality_milli",
        F.when(F.col("n_tokens") == 0, F.lit(0)).otherwise(
            (stop_component + len_component + punct_component).cast("int")
        ),
    )


def with_lang_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-token language ID: argmax over per-language marker
    counts; 'und' when no markers hit. Ties break in LANG_MARKERS key
    order (deterministic)."""
    t = tokens(F.col(text_col))
    entries = [
        F.struct(
            (-_count_in(t, markers)).alias("neg_score"),
            F.lit(i).alias("ord"),
            F.lit(lang).alias("lang"),
        )
        for i, (lang, markers) in enumerate(LANG_MARKERS.items())
    ]
    best = F.sort_array(F.array(*entries))[0]
    return docs.withColumn(
        "lang_pred",
        F.when(best["neg_score"] < 0, best["lang"]).otherwise(F.lit("und")),
    )


def with_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Order-sensitive rolling document fingerprint.

    fp = sum_i( h(tok_i) * BASE^(i mod 8) ) mod FP_MOD, with
    h(tok) = first 4 md5 hex digits as int — fully expressible in both
    Spark SQL and DuckDB SQL (oracle parity), overflow-safe in int64.
    """
    t = tokens(F.col(text_col))
    weights = [pow(FP_BASE, p, FP_MOD) for p in range(8)]
    w_arr = F.array(*[F.lit(w) for w in weights])
    terms = F.transform(
        t,
        lambda x, i: (
            F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("long")
            * F.element_at(w_arr, (F.pmod(i, F.lit(8)) + 1).cast("int"))
        )
        % F.lit(FP_MOD),
    )
    fp = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, x: (acc + x) % FP_MOD)
    return docs.withColumn("fingerprint", fp)


def with_repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1,
    the standard web-corpus repetition filters):

    - dup_line_milli:  per-mille fraction of non-empty lines that are
      repeats of an earlier line
    - dup_char_milli:  per-mille fraction of line characters inside
      those repeated occurrences
    - top2gram_milli:  per-mille fraction of the doc's word 2-grams
      taken by its single most frequent 2-gram

    Line stats are pure per-row array expressions (codegen, zero
    shuffle). The top-2-gram stat needs the per-doc mode of a
    multiset, which no per-row built-in expresses at bounded cost —
    it is the classic explode -> (id, gram) count -> per-id max/sum,
    two doc-keyed HashAggregates that combine map-side; at 100 TB it
    is one shuffle of (id, gram, count) partials, never of raw text.
    """
    lines = F.filter(F.split(F.col(text_col), "\n"), lambda x: x != "")
    n_lines = F.size(lines)
    distinct_lines = F.array_distinct(lines)
    n_dup_lines = n_lines - F.size(distinct_lines)
    chars_of = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0), lambda acc, x: acc + F.length(x)
    )
    line_chars = chars_of(lines)
    dup_chars = line_chars - chars_of(distinct_lines)
    safe_lines = F.greatest(n_lines, F.lit(1))
    safe_chars = F.greatest(line_chars, F.lit(1))

    per_row = docs.select(
        F.col("doc_id"),
        F.col(text_col),
        n_lines.alias("n_lines"),
        F.round(1000 * n_dup_lines / safe_lines).cast("int").alias("dup_line_milli"),
        F.round(1000 * dup_chars / safe_chars).cast("int").alias("dup_char_milli"),
    )

    # word 2-grams as a MULTISET (word_shingles dedups, so inline)
    t = tokens(F.col(text_col))
    n_g = F.size(t) - 1
    grams = F.when(
        n_g > 0,
        F.zip_with(
            F.slice(t, 1, F.greatest(n_g, F.lit(0))),
            F.slice(t, 2, F.greatest(n_g, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_counts = (
        per_row.select("doc_id", F.explode(grams).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top = gram_counts.groupBy("doc_id").agg(
        F.round(1000 * F.max("c") / F.sum("c")).cast("int").alias("top2gram_milli")
    )
    return (
        per_row.join(top, "doc_id", "left")
        .select(
            "doc_id",
            "n_lines",
            "dup_line_milli",
            "dup_char_milli",
            F.coalesce("top2gram_milli", F.lit(0)).alias("top2gram_milli"),
        )
    )


#: (name, pattern, replacement) — patterns restricted to the syntax
#: subset with identical semantics in Java regex (Spark) and RE2
#: (DuckDB oracle): no lookaround, no backreferences, ASCII classes,
#: \b word boundaries. Applied IN ORDER, counts taken on the text as
#: it stands before that step (emails are redacted before the IP rule
#: can see digit runs in their domains).
PII_RULES = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    # country code must carry digits when present — a bare leading
    # "[-. ]?" would let the match swallow the space BEFORE the number
    ("phone", r"(\+?\d{1,2}[-. ])?\(?\d{3}\)?[-. ]\d{3}[-. ]\d{4}", "<PHONE>"),
)


def with_pii_redacted(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub for training corpora: replace emails, IPv4 addresses
    and phone numbers with typed placeholder tokens, recording a
    per-doc count per category.

    Pure regexp_replace/regexp_count chain — JVM codegen end to end,
    no shuffle, scan-side at any scale. Counts are taken sequentially
    (each category counted on the text AFTER the previous categories
    were redacted) so no span is double-counted across categories.

    Output: original columns + n_email, n_ip, n_phone,
    redacted_<text_col>.
    """
    cur = F.col(text_col)
    out = docs
    for name, pat, repl in PII_RULES:
        out = out.withColumn(f"n_{name}", F.regexp_count(cur, F.lit(pat)))
        cur = F.regexp_replace(cur, pat, repl)
    return out.withColumn(f"redacted_{text_col}", cur)


def with_hashed_classifier_score(
    docs: DataFrame, text_col: str = "text", buckets: int = 2001
) -> DataFrame:
    """Hashing-trick linear classifier score per doc — the fasttext /
    CCNet-style quality-filter shape (token -> hashed feature ->
    weight; doc score = mean token weight) used to select
    high-quality training documents at corpus scale.

    Pure per-row expression: transform(tokens, md5-hash -> weight) ->
    aggregate sum — zero shuffle, whole-stage codegen, scan-side at
    any scale. Weights here are md5-derived integers in [-1000, 1000]
    (a learned model would broadcast a weight array and index it by
    the same hash — identical plan shape); integer arithmetic end to
    end so the DuckDB oracle reproduces scores exactly (no float
    sigmoid drift).

    Output: clf_score_milli = round(1000 * sum(w) / n) with w in
    [-1000, 1000] — i.e. milli-units of mean token weight.
    """
    t = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    w = F.transform(
        t,
        lambda x: (
            F.conv(F.substring(F.md5(x), 1, 4), 16, 10).cast("long")
            % F.lit(buckets) - F.lit((buckets - 1) // 2)
        ),
    )
    total = F.aggregate(w, F.lit(0).cast("long"), lambda acc, x: acc + x)
    n = F.size(t)
    return docs.withColumn(
        "clf_score_milli",
        F.when(n == 0, F.lit(0)).otherwise(
            F.round(1000 * total / n).cast("long")
        ),
    )


#: Java-regex/RE2-common URL pattern (no lookaround/backrefs).
#: Whitespace via WS_CLASS, not \s: Java's \s includes \x0B while RE2's
#: does not, so a vertical-tab-delimited URL would tokenize differently
#: in Spark vs a DuckDB/RE2 twin — same pinning contract as every other
#: shared pattern (core/normalize.py WS_CLASS).
URL_PATTERN = rf"https?://[^{WS_CLASS}<>\"']+"
DOMAIN_PATTERN = rf"https?://([^/{WS_CLASS}:<>\"']+)"


def domain_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-domain URL histogram over a corpus — the building block of
    domain-level curation (C4/RefinedWeb-style blocklists, per-domain
    caps, URL-frequency weighting).

    extract-all -> explode -> lowercase domain -> one count aggregate
    with map-side combine; the shuffle carries one row per distinct
    domain. A blocklist application is then a broadcast semi-join
    against this output's domain column.

    Output: (domain, n_urls, n_docs) — total URL occurrences and
    distinct docs linking to the domain.
    """
    urls = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    )
    return (
        urls.select(
            "doc_id",
            F.lower(F.regexp_extract(F.col("url"), DOMAIN_PATTERN, 1)).alias("domain"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def top_ngrams(
    docs: DataFrame, n: int = 2, k: int = 20, text_col: str = "text"
) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count — the
    frequency table behind stopword lists, boilerplate detection, and
    n-gram LM contamination checks.

    explode(all n-grams) -> one count aggregate (map-side combine: the
    shuffle carries one row per DISTINCT n-gram, not per occurrence)
    -> global top-k as TakeOrderedAndProject (each partition keeps k,
    the driver merges partition heads — no full sort). Ties break by
    n-gram string ascending, so the k-th boundary is total-ordered and
    the result set is deterministic.
    """
    from pdfwf_spark.operators.dedup import tokens, word_ngrams

    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    grams = docs.select(
        F.explode(word_ngrams(toks, n)).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("ngram"))
        .limit(k)
    )


def term_doc_freq(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus document-frequency table: (token, df, n_docs) — the
    integer core of tf-idf / rare-term filters. df counts DOCUMENTS
    containing the token (explode distinct tokens per doc -> one
    map-side-combined count; the shuffle carries one row per distinct
    (token) after per-partition combine). idf itself is left to the
    consumer (log(n_docs/df)) so this table stays float-free and
    bit-stable across engines.
    """
    toks = F.array_distinct(
        F.filter(tokens(F.col(text_col)), lambda x: x != "")
    )
    n_docs = docs.count()
    exploded = docs.select(F.explode(toks).alias("token"))
    return exploded.groupBy("token").agg(
        F.count(F.lit(1)).alias("df"),
        F.lit(n_docs).cast("long").alias("n_docs"),
    )


def top_terms_per_doc(
    docs: DataFrame,
    k: int = 5,
    max_df_ratio_milli: int = 500,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document top-k distinguishing terms, tf-idf-style but fully
    integer so the ranking is engine-exact: rank by (tf DESC, df ASC,
    token ASC) after dropping corpus-stopwords (df > max_df_ratio_milli
    per-mille of docs). The (tf DESC, df ASC) order is the integer
    skeleton of tf*idf — highest term frequency first, rarest term
    breaking ties — with the token string as total-order tiebreak.

    Plan: explode (doc, token) pairs -> per-(doc, token) tf count ->
    broadcast-join the (small, stopword-filtered) df table -> one
    row_number window per doc. Both aggregates combine map-side; the
    df table after the ratio cut is vocabulary-sized, so the join
    broadcasts.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    pairs = docs.select(
        F.col(id_col), F.explode(toks).alias("token")
    )
    tf = pairs.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # df re-derived from tf (one doc-distinct row per (doc, token)
    # already exists there) — no second corpus scan
    n_docs = docs.count()
    keep = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") * 1000 <= F.lit(max_df_ratio_milli) * max(n_docs, 1))
    )
    from pyspark.sql import Window

    scored = tf.join(F.broadcast(keep), "token")
    w = Window.partitionBy(id_col).orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "token", "tf", "df", "rank")
    )


def truncate_tokens(
    docs: DataFrame, max_tokens: int, text_col: str = "text"
) -> DataFrame:
    """Per-doc token-budget truncation (the max-sequence-length
    preprocessing step): keep the first `max_tokens` whitespace tokens,
    re-joined single-spaced; adds was_truncated (int 0/1) and
    n_tokens_kept. Pure per-row array expressions — codegen, zero
    shuffle. Note the output is whitespace-NORMALIZED by construction
    (split + join), which is what sequence packers downstream expect.
    """
    if max_tokens <= 0:
        raise ValueError(f"max_tokens must be positive, got {max_tokens}")
    toks = F.filter(tokens(F.col(text_col)), lambda x: x != "")
    n = F.size(toks)
    kept = F.slice(toks, 1, max_tokens)
    return docs.withColumn(
        "truncated_text", F.array_join(kept, " ")
    ).withColumn(
        "was_truncated", (n > max_tokens).cast("int")
    ).withColumn(
        "n_tokens_kept", F.least(n, F.lit(max_tokens)).cast("long")
    )


def length_histogram(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus length histogram over power-of-2 token-count buckets:
    (bucket_lo, n_docs) where bucket_lo = 2^floor(log2(n_tokens)), and
    0 for empty docs. The standard corpus-shape report; one map-side-
    combined count whose shuffle carries ~60 rows max (int64 has 63
    usable octaves). Integer bucket edges — no float log in the
    output, so the oracle matches exactly."""
    n = F.size(F.filter(tokens(F.col(text_col)), lambda x: x != ""))
    # 2^floor(log2(n)) via bit_length: for n>0, floor(log2(n)) =
    # bit_length(n)-1. Spark has no bit_length-for-int; use
    # floor(log2()) on double — exact for n < 2^53, and n is a token
    # count (< 2^31), so the double path introduces no error.
    bucket = F.when(n <= 0, F.lit(0)).otherwise(
        F.pow(F.lit(2.0), F.floor(F.log2(n.cast("double")))).cast("long")
    )
    return (
        docs.select(bucket.alias("bucket_lo"))
        .groupBy("bucket_lo")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


#: Tracking query parameters stripped by canonicalize_url. Name-anchored
#: (the (=|$) tail keeps 'utm_sourcey='-style prefixes from matching
#: only when they genuinely start with a listed name).
TRACKING_PARAM_PATTERN = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref_src)(=|$)"


def canonicalize_url(url: Column) -> Column:
    """Canonical form of a URL — the dedup/join key web curation
    actually uses (a recrawl sees the same page as `HTTP://WWW.A.COM:80/x/?b=2&a=1&utm_s=z#top`
    and `http://a.com/x?a=1&b=2`; raw-string keys treat those as two
    documents). Steps, all JVM-side regexp/array built-ins pinned to
    the Java/RE2-common subset so a DuckDB twin reproduces them
    bit-for-bit:

      fragment dropped; scheme + host lowercased; default port for the
      scheme (:80 http, :443 https) and a leading `www.` stripped;
      trailing slashes collapsed off the path; tracking parameters
      (TRACKING_PARAM_PATTERN) removed; surviving query parameters
      sorted byte-wise so parameter order cannot split a dedup key.

    Scale: pure whole-stage-codegen expression — no UDF, no shuffle;
    canonicalization cost rides the scan.
    """
    u0 = F.regexp_replace(url, "#.*", "")
    scheme = F.lower(F.regexp_extract(u0, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u0, "^[^:/?#]+://([^/?#]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(hostport, ":443$", ""))
        .otherwise(hostport)
    )
    host = F.regexp_replace(host, r"^www\.", "")
    rest = F.regexp_replace(u0, "^[^:/?#]+://[^/?#]*", "")
    path = F.regexp_replace(F.regexp_replace(rest, r"\?.*", ""), "/+$", "")
    query = F.regexp_extract(rest, r"\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_PATTERN),
    )
    q2 = F.array_join(F.array_sort(params), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q2 == "", F.lit("")).otherwise(F.concat(F.lit("?"), q2)),
    )


def canonical_url_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Canonical-URL histogram over a corpus: extract-all -> explode ->
    canonicalize -> count. The canonical key is what collapses recrawl
    variants, so `n_urls > n_distinct_raw` rows are exactly the
    dedup wins. One count shuffle keyed on the canonical string.

    Output: (canonical_url, n_urls, n_docs).
    """
    urls = docs.select(
        F.col("doc_id"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), 0)
        ).alias("url"),
    )
    return (
        urls.select("doc_id", canonicalize_url(F.col("url")).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )


def filter_blocked_domains(
    docs: DataFrame, blocklist: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Drop every document that links to a blocklisted domain — the
    C4-style blocklist application domain_counts was built to feed.

    Per-doc distinct domains (array expression, no explode-shuffle of
    the corpus) -> arrays_overlap against the blocklist collected into
    one broadcast literal? No: the blocklist can be large, so instead
    explode the (doc, domain) pairs — a SMALL table, a few domains per
    doc — broadcast-ANTI-join it against the blocklist, and semi-join
    docs on the surviving doc ids. The corpus itself never shuffles;
    only doc_id/domain pairs move, and the blocklist side broadcasts.

    blocklist: DataFrame with a `domain` column (lowercase).
    """
    pairs = docs.select(
        F.col("doc_id"),
        F.explode_outer(
            F.array_distinct(
                F.transform(
                    F.regexp_extract_all(F.col(text_col), F.lit(DOMAIN_PATTERN), 1),
                    F.lower,
                )
            )
        ).alias("domain"),
    )
    blocked_docs = pairs.join(
        F.broadcast(blocklist.select(F.lower(F.col("domain")).alias("domain"))),
        "domain",
        "left_semi",
    ).select("doc_id").distinct()
    return docs.join(blocked_docs, "doc_id", "left_anti")


#: GPT-2-style pre-tokenizer regex, pinned to the Java/RE2-common
#: subset (no lookarounds, no \p classes; explicit ASCII classes +
#: WS_CLASS per the twin contract). Splits contractions, letter runs,
#: digit runs, punctuation runs, and whitespace runs — the shape of
#: the byte-pair pre-tokenization every GPT-family tokenizer applies
#: before merges, so `bpe_token_count` tracks real token counts far
#: more closely than whitespace splitting on punctuated text.
BPE_PRETOKEN_PATTERN = (
    "'s|'t|'re|'ve|'m|'ll|'d"
    "| ?[A-Za-z]+| ?[0-9]+"
    f"| ?[^A-Za-z0-9{WS_CLASS}]+"
    f"|[{WS_CLASS}]+"
)


def bpe_token_count(text_col: Column) -> Column:
    """Pre-tokenizer token count: matches of BPE_PRETOKEN_PATTERN that
    are not pure whitespace. A lower bound on the true BPE token count
    (merges only split runs further, never join across pre-tokens) and
    the standard budget estimator when the real tokenizer is too
    expensive to run corpus-wide."""
    pieces = F.regexp_extract_all(text_col, F.lit(BPE_PRETOKEN_PATTERN), 0)
    ws_only = f"^[{WS_CLASS}]+$"
    return F.size(
        F.filter(pieces, lambda x: ~x.rlike(ws_only))
    ).alias("n_bpe_tokens")


#: strip_boilerplate_lines: per-group frequent-line table cap. A web
#: domain's true boilerplate set (nav, footer, cookie banner) is tiny;
#: the cap bounds the broadcast per group no matter how pathological
#: the input (df DESC order keeps the most-shared lines).
DEFAULT_MAX_BOILER_LINES = 10_000


def strip_boilerplate_lines(
    docs: DataFrame,
    min_df: int = 2,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_lines_per_group: int = DEFAULT_MAX_BOILER_LINES,
) -> DataFrame:
    """CCNet-style line-level boilerplate removal: drop every line that
    appears (identically) in >= min_df documents OF THE SAME group
    (domain/source), reassembling the survivors in original order.
    Output: (id_col, group_col, clean_text, n_lines, n_removed).

    The web-extraction gap the per-document heuristics can't close:
    nav bars, cookie banners and footers are fluent text that only
    reveals itself by repeating ACROSS a domain's pages (reference's
    per-doc scope: parsers see one document at a time,
    pdfwf/convert.py:249-257 — a cross-corpus pass has no analog
    there and needs an engine like this).

    Plan shape: per-doc DISTINCT lines explode -> one map-side-combined
    (group, line) count -> HAVING >= min_df -> per-group top-cap window
    (df DESC, line ASC: deterministic under the cap) -> collect to ONE
    sorted array row per group -> broadcast-join back on group_col ->
    per-row array_filter + concat_ws. The corpus text is NEVER
    shuffled: only distinct (group, line) partials move, and the
    rebuild is scan-side codegen against the broadcast boiler array.
    Within-doc duplicate lines count once toward df; removal drops all
    their occurrences.
    """
    if min_df < 2:
        raise ValueError(f"min_df must be >= 2, got {min_df}")
    from pyspark.sql import Window

    lines = F.split(F.col(text_col), "\n")
    exploded = docs.select(
        F.col(group_col), F.explode(F.array_distinct(lines)).alias("line")
    )
    freq = (
        exploded.groupBy(group_col, "line")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_df)
    )
    w = Window.partitionBy(group_col).orderBy(F.col("df").desc(), F.col("line"))
    capped = freq.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= max_lines_per_group
    )
    boiler = capped.groupBy(group_col).agg(
        F.sort_array(F.collect_list("line")).alias("boiler")
    )
    joined = docs.join(F.broadcast(boiler), group_col, "left").withColumn(
        "boiler", F.coalesce(F.col("boiler"), F.array().cast("array<string>"))
    )
    kept = F.filter(lines, lambda x: ~F.array_contains(F.col("boiler"), x))
    return joined.select(
        F.col(id_col),
        F.col(group_col),
        F.concat_ws("\n", kept).alias("clean_text"),
        F.size(lines).alias("n_lines"),
        (F.size(lines) - F.size(kept)).alias("n_removed"),
    )
