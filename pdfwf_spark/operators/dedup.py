"""Deduplication operators for large-scale training-data pipelines.

Not present in the reference (pdfwf never dedups its corpus) — these
are the standard web-scale companions of an extraction pipeline, built
Spark-first:

- exact_dedup            hash-groupBy (one shuffle on a 16-byte key)
- minhash_signatures     shingle -> k minhashes, map-side combinable
- lsh_candidate_pairs    band-bucket self-join (the scale path for
                         near-dup at 100 TB)
- ngram_jaccard_pairs    exact Jaccard via shingle self-join (explodes
                         on hot shingles at scale without its df cap)
- lsh_verified_neardups  exact Jaccard on LSH candidates only (curate)
- simhash (16-bit), simhash_bands / simhash64, simhash_band_pairs:
  bitwise-majority fingerprints and banded-Hamming candidate pairs
- shared_passage_pairs, benchmark_contamination: verbatim 8-gram
  borrowing and eval-set n-gram overlap
- dup_clusters, cluster_keepers_by_score, surrogate_id,
  exact_surrogate_ids: duplicate clusters and their keepers
- cap_hot_groups, and the tokenizers tokens / word_ngrams /
  word_shingles / exploded_shingles

Every candidate-pair self-join (banded buckets, passage shingles,
context.dialogue_segment_pairs' segments) is _capped_self_join; both
exact-Jaccard paths score through _jaccard_milli.

All hashing is md5-hex-substring based (not xxhash64) so a DuckDB
oracle can reproduce signatures bit-for-bit (fixed-width lowercase hex
compares lexicographically == numerically).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SIMHASH_BITS = 16

#: default hot-bucket cap for the banded candidate self-joins. A
#: degenerate bucket (the all-zero simhash band every short doc lands
#: in, a boilerplate-heavy minhash band) is quadratic WITHIN the
#: bucket: 10^6 co-bucketed docs -> 5*10^11 candidate pairs from one
#: key. Capping bucket size bounds any bucket's contribution to
#: cap^2/2 pairs; docs above the cap are near-identical boilerplate
#: whose dedup signal the exact_dedup pass already captures.
DEFAULT_MAX_BUCKET = 500


def _md5_salt(key: Column, n_subs: Column) -> Column:
    """Deterministic salt in [0, n_subs) from md5 over the row key —
    md5 (not xxhash64) so a DuckDB oracle reproduces the split
    bit-for-bit: ('0x'||substr(md5('salt#'||id),1,8))::BIGINT % n."""
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("salt#"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("long")
    return F.pmod(bucket, n_subs)


def cap_hot_groups(
    exploded: DataFrame,
    keys: list[str],
    cap: int | None,
    salt_key: str | None = None,
) -> DataFrame:
    """Bound the quadratic blowup of hot groups before a banded
    candidate self-join — the guard _capped_self_join applies.

    Without `salt_key`, rows in groups larger than `cap` are dropped
    entirely. Bounded work, but a recall CLIFF: every pair in a
    dropped bucket is lost, including genuinely near-duplicate ones
    whose other bands were also hot.

    With `salt_key` (the column whose md5 drives the split, the doc
    id), groups larger than `cap` are SPLIT into ceil(n/cap) hash
    sub-buckets instead (a `_salt` column is added; callers include it
    in the self-join keys). Work per group is bounded at
    ~cap^2/2 * ceil(n/cap) pairs — linear in n for fixed cap, vs the
    quadratic n^2/2 — while each sub-bucket still yields its
    intra-bucket pairs, so recall degrades smoothly (expected
    pair-recall within a split group ~ cap/n) instead of dropping to
    zero. Groups at or under the cap get salt 0 (single sub-bucket,
    exact behavior).

    Both are one window count over the group keys: the same hash
    partitioning the self-join needs anyway, so the guard adds no
    extra shuffle of the exploded rows (the window's exchange is the
    join's exchange).
    """
    if cap is None:
        return exploded
    w = Window.partitionBy(*[F.col(k) for k in keys])
    n = F.count(F.lit(1)).over(w)
    if salt_key is None:
        return exploded.withColumn("_grp_n", n).filter(F.col("_grp_n") <= cap).drop("_grp_n")
    # integer ceil-div (no float boundary drift cross-engine):
    # DuckDB mirror is (n + cap - 1) // cap
    n_subs = F.floor((n + F.lit(cap) - 1) / F.lit(cap)).cast("long")
    return exploded.withColumn(
        "_salt",
        F.when(n_subs <= 1, F.lit(0).cast("long")).otherwise(
            _md5_salt(F.col(salt_key), n_subs)
        ),
    )


def _capped_self_join(
    rows: DataFrame,
    id_col: str,
    keys: list[str],
    cap: int | None,
    salt: bool = False,
) -> DataFrame:
    """(id_a, id_b) for every two rows sharing `keys`, id_a < id_b:
    cap_hot_groups, then an equi-self-join on `keys` (plus `_salt`
    when `salt` splits hot groups instead of dropping them). The pair
    stream is returned unreduced: each caller applies the reducer
    measured for its stream shape."""
    salt = salt and cap is not None
    rows = cap_hot_groups(rows, keys, cap, salt_key=id_col if salt else None)
    on = None
    for k in [*keys, "_salt"] if salt else keys:
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        on = eq if on is None else on & eq
    a, b = rows.alias("a"), rows.alias("b")
    return a.join(b, on & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


def _band_rows(df: DataFrame, id_col: str, values: list[Column]) -> DataFrame:
    """(id_col, band, bucket): one row per banded value, `band` being
    its index in `values` — the input of a banded _capped_self_join."""
    bands = F.array(
        *[F.struct(F.lit(b).alias("band"), v.alias("bucket")) for b, v in enumerate(values)]
    )
    return df.select(F.col(id_col), F.explode(bands).alias("bb")).select(
        id_col, "bb.band", "bb.bucket"
    )


def _jaccard_milli(inter: DataFrame, counts: DataFrame, threshold: float) -> DataFrame:
    """(id_a, id_b, jaccard_milli) from per-pair intersection sizes
    (id_a, id_b, inter) and per-doc shingle counts (id, n_sh), keeping
    pairs at or above round(1000*J) >= int(threshold*1000). Integer
    per-mille so the DuckDB oracle hash-matches without float drift."""
    ca = counts.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(ca, "id_a")
        .join(cb, "id_b")
        .withColumn(
            "jaccard_milli",
            F.round(
                1000 * F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
            ).cast("int"),
        )
        .filter(F.col("jaccard_milli") >= int(threshold * 1000))
        .select("id_a", "id_b", "jaccard_milli")
    )


def _pair_counts(pairs: DataFrame) -> DataFrame:
    """(id_a, id_b, inter): exact occurrence count per candidate pair.

    NOT a plain groupBy: co-occurrence pair streams are almost all
    DISTINCT (measured sf1 jaccard: 127M join rows -> 114M distinct
    pairs, ~1.11 rows/key), so map-side partial aggregation builds
    multi-million-entry hash maps that reduce nothing — pure overhead
    (guide §2.3 inverted: partial agg only helps when keys repeat).
    Repartitioning on the group keys first satisfies the aggregate's
    required distribution, so the whole count runs as one post-shuffle
    aggregate with no useless partial maps (measured 40.8 s -> 15.9 s
    on the sf1 jaccard inter step; with the shuffle_hash join hint on
    the producing self-join, 10.2 s).

    Partition count: 4x the session shuffle partitions (derived, not
    a constant) — pair streams are orders of magnitude bigger than
    their inputs, and at the default width the per-task aggregate map
    (~2M entries at sf1) sits at the spill threshold, which made the
    query bimodal (17-64 s). Narrower tasks keep the hash map far
    from spill at every scale; the extra task count is noise next to
    the stream size.
    """
    spark = pairs.sparkSession
    n_parts = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return (
        pairs.repartition(n_parts, "id_a", "id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def _distinct_pairs(pairs: DataFrame) -> DataFrame:
    """DISTINCT over a candidate-pair stream — same shape reasoning as
    _pair_counts (nearly-all-unique keys make the partial aggregate a
    no-op that still builds giant maps); repartition on the pair, then
    a single post-shuffle distinct (same derived width as
    _pair_counts)."""
    spark = pairs.sparkSession
    n_parts = 4 * int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return pairs.repartition(n_parts, "id_a", "id_b").distinct()


def tokens(text_col: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.trim(F.lower(text_col)), r"\s+")


def word_ngrams(toks: Column, n: int = 3) -> Column:
    """ALL word n-grams (with multiplicity) as array<string>.

    Built from n array `slice`s folded with `zip_with` — NOT
    element_at(toks, i) inside a transform lambda: Catalyst's
    CollapseProject inlines the underlying split() into every lambda
    reference, turning per-index gathers into O(len^2) work per row
    (observed 20-40x slowdown). With slices, the token expression is
    evaluated at most n times per row regardless of inlining.
    """
    n_sh = F.size(toks) - (n - 1)
    safe_len = F.greatest(n_sh, F.lit(0))
    grams = F.slice(toks, 1, safe_len)
    for j in range(1, n):
        nxt = F.slice(toks, j + 1, safe_len)
        grams = F.zip_with(grams, nxt, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(n_sh > 0, grams).otherwise(F.array().cast("array<string>"))


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (word_ngrams +
    array_distinct — dedup cares about shingle SETS)."""
    return F.when(
        F.size(toks) - (n - 1) > 0, F.array_distinct(word_ngrams(toks, n))
    ).otherwise(F.array().cast("array<string>"))


def exploded_shingles(
    docs: DataFrame, text_col: str, id_col: str, n: int = 3
) -> DataFrame:
    """(id, sh) rows of distinct word n-gram shingles per doc."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles(tokens(F.col(text_col)), n)).alias("sh"),
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups: md5(text) -> keeper (min id) + count.

    One shuffle on the digest; partial aggregation combines map-side,
    so at 100 TB the shuffle carries ~one row per distinct document.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _minhash_col(shingle: Column, seed: int) -> Column:
    """One 32-bit minhash lane: md5('<seed>#'||shingle)[:8] as BIGINT.

    Integer (not hex-string) lanes so the groupBy min() keeps a fixed-
    width agg buffer -> HashAggregate + whole-stage codegen instead of
    a SortAggregate over strings. Same ordering (fixed-width hex vs
    its numeric value), DuckDB mirror: ('0x'||substr(md5(..),1,8))::BIGINT.
    """
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}#"), shingle)), 1, 8), 16, 10
    ).cast("long")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc k-lane minhash signature (columns sig_0..sig_{k-1}).

    explode(shingles) -> groupBy(doc) with k min() aggregates: a single
    shuffle keyed on the doc id, partial min() combining map-side.
    """
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    aggs = [F.min(_minhash_col(F.col("sh"), i)).alias(f"sig_{i}") for i in range(k)]
    return sh.groupBy("id").agg(*aggs).withColumnRenamed("id", id_col)


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    rows_per_band: int = 2,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    cap_mode: str = "drop",
) -> DataFrame:
    """Docs sharing >=1 band bucket (banding: P(candidate) rises
    sharply with Jaccard). Self-equi-join on (band, bucket) — the
    shuffle key is the band hash, so only genuine candidates collide.

    Buckets larger than `max_bucket_size` are dropped before the
    self-join (cap_hot_groups): without the cap one degenerate bucket
    is quadratic within itself at corpus scale. None disables.
    cap_mode="salt" splits hot buckets into ceil(n/cap) hash
    sub-buckets instead of dropping them — bounded work WITHOUT the
    recall cliff (see cap_hot_groups).
    """
    k = bands * rows_per_band
    missing = [f"sig_{i}" for i in range(k) if f"sig_{i}" not in sigs.columns]
    if missing:
        raise ValueError(
            f"banding {bands}x{rows_per_band} needs {k} signature lanes; "
            f"missing {missing} — generate with minhash_signatures(k={k})"
        )
    if cap_mode not in ("drop", "salt"):
        raise ValueError(f"cap_mode must be 'drop' or 'salt', got {cap_mode!r}")
    buckets = [
        F.md5(F.concat_ws("|", *[
            F.col(f"sig_{b * rows_per_band + r}") for r in range(rows_per_band)
        ]))
        for b in range(bands)
    ]
    rows = _band_rows(sigs, id_col, buckets)
    # plain distinct here (r6): minhash-band candidates REPEAT across
    # bands (that is what the distinct removes), so map-side partial
    # aggregation genuinely reduces — the repartition-aligned
    # _distinct_pairs shape only wins on ~unique pair streams
    # (simhash bands, jaccard co-shingles)
    return _capped_self_join(
        rows, id_col, ["band", "bucket"], max_bucket_size, salt=cap_mode == "salt"
    ).distinct()


#: default hot-shingle document-frequency cap for the standalone exact
#: Jaccard. The blowup here is subtler than bucket size: a shingle
#: present in d docs contributes d^2/2 rows to the intersection join,
#: so ONE boilerplate trigram shared by 10^6 docs is 5*10^11 join rows.
#: Shingles above the cap carry no dedup signal anyway (an idf floor).
DEFAULT_MAX_SHINGLE_DF = 1000


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.05,
    max_df: int | None = DEFAULT_MAX_SHINGLE_DF,
) -> DataFrame:
    """Exact word-shingle Jaccard for all co-shingled pairs.

    Scale note: prefer lsh_verified_neardups (exact Jaccard on LSH
    candidates only). Standalone, this is quadratic in hot-SHINGLE
    frequency, so shingles appearing in more than `max_df` documents
    are excluded from BOTH the intersection and the per-doc counts —
    Jaccard over the informative (df <= max_df) shingle vocabulary,
    the same move as a stopword/idf floor. max_df=None restores the
    unguarded exact semantics (only safe on bounded inputs).
    Output: id_a, id_b, jaccard_milli (int, round(1000*J) — integer so
    the DuckDB oracle hash-matches without float drift).
    """
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    # (r6 note: checkpointing this table was A/B'd and reverted — the
    # recomputed shingle passes cost about what the materialization
    # does, and corpus-row-sized checkpoint blocks pressure the shared
    # local-mode heap when many queries run in one session)
    sh = cap_hot_groups(sh, ["sh"], max_df)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = _pair_counts(
        a.join(
            b.hint("shuffle_hash"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
        ).select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )
    return _jaccard_milli(inter, counts, threshold)


def _bit_majority_sums(docs: DataFrame, text_col: str, id_col: str, bits: int) -> DataFrame:
    """Per-doc +1/-1 majority sums for bit positions 0..bits-1, where a
    token's bit p = bit p of md5(token)'s hex digits. One explode ->
    groupBy shuffle; all `bits` sums are fixed-width int lanes, so the
    aggregate stays a map-side-combining HashAggregate."""
    tok = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).filter(F.col("tok") != "")
    # decode the md5 hex ONCE per token into 15-digit integer halves
    # (conv of 15 hex chars fits a positive long), then every digit is
    # integer shift/mask — previously each of the `bits` aggregate
    # expressions re-derived conv(substring(md5)) per token (r6, guide
    # §2.3 narrow-the-work; identical digit values, sums unchanged)
    digest = F.md5(F.col("tok"))
    n_digits = bits // 4
    halves = []
    pos = 0
    while pos < n_digits:
        width = min(15, n_digits - pos)
        halves.append((pos, width))
        pos += width
    digits = tok.select(
        "id",
        *[
            F.conv(F.substring(digest, start + 1, width), 16, 10)
            .cast("long")
            .alias(f"h_{i}")
            for i, (start, width) in enumerate(halves)
        ],
    )

    def _digit(j: int):
        for i, (start, width) in enumerate(halves):
            if start <= j < start + width:
                shift = 4 * (width - 1 - (j - start))
                return F.shiftright(F.col(f"h_{i}"), shift).bitwiseAND(F.lit(15))
        raise AssertionError(j)

    contribs = []
    for p in range(bits):
        bit_in_digit = 3 - (p % 4)
        bit = F.shiftright(_digit(p // 4), bit_in_digit).bitwiseAND(F.lit(1))
        contribs.append(F.sum(bit * 2 - 1).alias(f"s_{p}"))
    return digits.groupBy("id").agg(*contribs)


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SIMHASH_BITS-bit bitwise-majority fingerprint over tokens —
    kept as the small oracle-baseline variant; the corpus-scale
    fingerprint is simhash64 (a 16-bit space saturates at ~65k docs).
    """
    sums = _bit_majority_sums(docs, text_col, id_col, SIMHASH_BITS)
    fp = None
    for p in range(SIMHASH_BITS):
        term = F.when(F.col(f"s_{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select(F.col("id").alias(id_col), fp.cast("long").alias("simhash"))


SIMHASH64_BITS = 64
SIMHASH64_BANDS = 4          # 4 bands x 16 bits


def simhash_bands(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    n_bands: int = 4,
) -> DataFrame:
    """`bits`-bit SimHash as n_bands band columns + a hex fingerprint.

    Band representation (band_0 = lowest bits, band_{n-1} = highest)
    sidesteps signed-64 overflow, gives the banded Hamming grouping
    its join keys for free, and lets a DuckDB oracle mirror the value
    bit-for-bit. simhash_hex = big-endian hex concat (last band
    leftmost).

    Scale note on band WIDTH: candidate buckets hold ~N / 2^band_bits
    docs, so 16-bit bands (the 64-bit default) saturate around
    10^5-10^6 docs the same way a 16-bit fingerprint saturates at 65k.
    At corpus scale use bits=128 / n_bands=4 (32-bit bands, 2^32
    bucket space — md5 supplies all 128 bits); the
    Hamming <= n_bands-1 completeness guarantee is unchanged.
    """
    if bits % n_bands != 0 or bits > 128:
        raise ValueError("bits must divide into n_bands and be <= 128 (md5)")
    band_bits = bits // n_bands
    if band_bits > 32 or band_bits % 4 != 0:
        raise ValueError("band width must be <= 32 bits and a multiple of 4")
    sums = _bit_majority_sums(docs, text_col, id_col, bits)
    band_cols = []
    for b in range(n_bands):
        band = None
        for r in range(band_bits):
            p = b * band_bits + r
            term = F.when(F.col(f"s_{p}") > 0, F.lit(1 << r)).otherwise(F.lit(0))
            band = term if band is None else band + term
        band_cols.append(band.cast("long").alias(f"band_{b}"))
    with_bands = sums.select(F.col("id").alias(id_col), *band_cols)
    hex_w = band_bits // 4
    hex_parts = [
        F.lpad(F.lower(F.hex(F.col(f"band_{b}"))), hex_w, "0")
        for b in reversed(range(n_bands))
    ]
    return with_bands.withColumn("simhash_hex", F.concat(*hex_parts))


def simhash64(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash (4 x 16-bit bands); see simhash_bands for the
    corpus-scale 128-bit variant."""
    return simhash_bands(docs, text_col, id_col, SIMHASH64_BITS, SIMHASH64_BANDS)


def simhash_band_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 16,
    bits: int = 64,
    n_bands: int = 4,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-dup candidates by banded Hamming grouping over a banded
    SimHash.

    Docs sharing ANY band collide in an equi-self-join on
    (band, band value) — never all-pairs. By pigeonhole, every pair
    with Hamming distance <= n_bands-1 shares at least one band, so
    max_hamming <= n_bands-1 gives a COMPLETE result; larger
    thresholds are best-effort recall (standard banding trade-off).
    At corpus scale pass bits=128 (32-bit band space; see
    simhash_bands). Band buckets larger than `max_bucket_size` are
    dropped pre-join (cap_hot_groups — the all-zero band every
    short/empty doc hashes to is quadratic within itself otherwise);
    the completeness guarantee then holds for pairs outside dropped
    buckets. Output: id_a, id_b, hamming.
    """
    # the signature table feeds THREE consumers (band explode + both
    # sides of the hamming attach); checkpoint it so the token-md5
    # majority pass runs once, not per consumer (r6; one small row per
    # doc, so the checkpoint is corpus-count-bounded, never text-sized)
    sigs = simhash_bands(docs, text_col, id_col, bits, n_bands).localCheckpoint(
        eager=False
    )
    rows = _band_rows(sigs, id_col, [F.col(f"band_{b}") for b in range(n_bands)])
    cands = _distinct_pairs(
        _capped_self_join(rows, id_col, ["band", "bucket"], max_bucket_size)
    )
    sa = sigs.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"band_{b}").alias(f"a_band_{b}") for b in range(n_bands)],
    )
    sb = sigs.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"band_{b}").alias(f"b_band_{b}") for b in range(n_bands)],
    )
    hamming = None
    for b in range(n_bands):
        term = F.bit_count(
            F.col(f"a_band_{b}").bitwiseXOR(F.col(f"b_band_{b}"))
        )
        hamming = term if hamming is None else hamming + term
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def lsh_verified_neardups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    k: int = 8,
    bands: int = 4,
    rows_per_band: int = 2,
    threshold: float = 0.05,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET,
    cap_mode: str = "drop",
) -> DataFrame:
    """The production near-dup pipeline: MinHash-LSH candidate
    generation -> exact Jaccard verification ON CANDIDATES ONLY.
    cap_mode="salt" splits hot band buckets instead of dropping them
    (see cap_hot_groups) — the recall-preserving setting for corpora
    with heavy boilerplate.

    This is the composition that scales to 100 TB: the quadratic
    shingle self-join of ngram_jaccard_pairs never touches the full
    corpus — exact Jaccard is computed only for pairs that collide in
    an LSH band (equi-joins all the way; every aggregate combines
    map-side).

    Output: id_a, id_b, jaccard_milli (int).
    """
    # ONE shingle-explode definition feeds both the minhash fit and
    # the exact verification (r6; a corpus-row-sized checkpoint here
    # was A/B'd and rejected — see ngram_jaccard_pairs)
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    aggs = [
        F.min(_minhash_col(F.col("sh"), i)).alias(f"sig_{i}") for i in range(k)
    ]
    sigs = sh.groupBy("id").agg(*aggs).withColumnRenamed("id", id_col)
    cands = lsh_candidate_pairs(sigs, id_col, bands, rows_per_band,
                                max_bucket_size, cap_mode=cap_mode)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    # intersection size per candidate pair: attach a-side shingles,
    # equi-match them against b-side shingles on (id_b, sh)
    a_sh = cands.join(sh.withColumnRenamed("id", "id_a"), "id_a")
    b_sh = sh.select(F.col("id").alias("id_b"), "sh")
    inter = (
        a_sh.join(b_sh, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return _jaccard_milli(inter, counts, threshold)


def _is_integral_id(docs: DataFrame, id_col: str) -> bool:
    """dup_clusters orders labels numerically (cluster_id =
    component-min id) and casts ids to long: a string/uuid id column
    would cast to all-NULL labels and silently mark every doc a
    non-keeper — corpus-deleting. Non-integral ids therefore route
    through the md5-surrogate wrapper instead of the direct path."""
    from pyspark.sql import types as T

    dt = docs.schema[id_col].dataType
    return isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))


def surrogate_id(key: Column) -> Column:
    """60-bit numeric surrogate for a string id: first 15 hex chars of
    md5 as a non-negative long. md5 (not xxhash64) so the mapping is
    engine-portable — DuckDB mirror:
    ('0x' || substr(md5(id), 1, 15))::BIGINT. Collision odds are
    ~n^2/2^61 (1e9 ids -> ~4e-4); the cluster wrapper verifies
    injectivity by default because ONE collision silently merges two
    unrelated docs into a cluster and deletes a keeper."""
    return F.conv(
        F.substring(F.md5(key.cast("string")), 1, 15), 16, 10
    ).cast("long")


def exact_surrogate_ids(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Exact, collision-FREE numeric surrogates: (id_col, sid long)
    with sid = contiguous 0..n-1 — the escape hatch when surrogate_id's
    60-bit md5 space collides on a corpus (the _cc_on_surrogates
    verification names this helper).

    zipWithIndex shape: one count pass over partition sizes + one
    map pass, NO shuffle — the legitimate RDD use-case (per-partition
    index arithmetic no DataFrame op expresses). Caveat vs the md5
    surrogate: sids depend on partition layout, so they are exact
    within a run but NOT stable across reruns — join the mapping back
    to original ids before persisting anything keyed on them.
    """
    from pyspark.sql import types as T

    id_field = docs.schema[id_col]
    schema = T.StructType(
        [id_field, T.StructField("sid", T.LongType(), False)]
    )
    rdd = (
        docs.select(id_col).rdd
        .zipWithIndex()
        .map(lambda t: (t[0][0], t[1]))
    )
    return docs.sparkSession.createDataFrame(rdd, schema)


def _cc_on_surrogates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    max_iters: int,
) -> DataFrame:
    """Run dup_clusters (which needs integral ids) over a
    string-keyed corpus: ids map to md5 surrogates (a pure
    column expression on BOTH docs and pairs — no translation join),
    components are computed on the surrogates, and the final cluster
    label is re-elected as the LEXICOGRAPHIC-MIN original id of each
    component — a contract independent of the surrogate function, so
    oracles and downstream keeper policies never see surrogate order.

    One aggregate pass asserts the surrogate map is injective on this
    corpus (count_distinct(id) == count_distinct(surrogate)): a
    collision, however unlikely, would silently merge clusters. It
    stays a collect of its own: Spark rejects DISTINCT aggregates in
    observed metrics, so it cannot ride on dup_clusters' checkpoints.

    Shape at 100 TB: surrogate computation is scan-side codegen; the
    relabel is one (cluster-keyed, map-side-combining) min aggregate
    plus one equi-join — both bounded by the CC output itself.
    """
    orig = docs.select(F.col(id_col).alias("_orig")).withColumn(
        "_sid", surrogate_id(F.col("_orig"))
    )
    r = orig.agg(
        F.count_distinct("_orig").alias("n_id"),
        F.count_distinct("_sid").alias("n_sid"),
    ).collect()[0]
    if r["n_id"] != r["n_sid"]:
        raise ValueError(
            f"surrogate_id collision: {r['n_id']} distinct ids -> "
            f"{r['n_sid']} distinct surrogates; clusters would merge. "
            "Map ids through exact_surrogate_ids() and run the "
            "cluster op on the integral sids for this corpus."
        )
    sdocs = orig.select(F.col("_sid").alias(id_col))
    spairs = pairs.select(
        surrogate_id(F.col("id_a")).alias("id_a"),
        surrogate_id(F.col("id_b")).alias("id_b"),
    )
    cc = dup_clusters(sdocs, spairs, id_col=id_col, max_iters=max_iters)
    labeled = cc.join(
        orig, cc[id_col] == orig["_sid"]
    ).select("_orig", "cluster_id")
    reps = labeled.groupBy("cluster_id").agg(F.min("_orig").alias("_rep"))
    return (
        labeled.join(reps, "cluster_id")
        .select(
            F.col("_orig").alias(id_col),
            F.col("_rep").alias("cluster_id"),
            (F.col("_orig") == F.col("_rep")).cast("int").alias("is_keeper"),
        )
    )


def dup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 40,
) -> DataFrame:
    """Connected components over near-dup pairs: each doc gets the
    MINIMUM id reachable through the pair graph as its cluster_id,
    plus is_keeper = 1 for the cluster representative.

    This is the step real dedup pipelines need between "candidate
    pairs" and "drop the duplicates": verified pairs form a graph
    whose components are the duplicate clusters, and exactly one doc
    per component survives. Pairwise keeper picks (keep min(id_a,
    id_b) per pair) over-delete on chains: with pairs (1,2) and (2,3),
    doc 3 must survive only if 1-3 are truly in one cluster — the
    component, not the pair, is the dedup unit.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14). One round
    is large-star + small-star, each: per-node min neighbor (a
    map-side-combining aggregate) -> join back onto the edges it was
    aggregated from -> re-emit edges pointing at that min -> distinct.
    Edges only ever move toward smaller ids; the fixpoint is a star
    per component, every node pointing at its component min. Rounds
    are O(log n) on any graph shape (the paper bounds them by
    O(log^2 n)): 9 on a 1,024-node path with shuffled ids, 14 on a
    10^5-node one, where hash-to-min label propagation needs hundreds.
    Every join is of a frame with an aggregate of itself, so the
    per-round planning cost stays flat.

    Fixpoint test without a job of its own: each round's edge set is
    localCheckpoint()ed (iterative plans otherwise double in depth per
    round), and an Observation on that same checkpoint carries its
    (count, sum(xxhash64(u, v))) checksum; an unchanged checksum ends
    the loop. A collision masking a change needs a 64-bit hash-sum
    coincidence on top of an identical edge count, and max_iters still
    backstops it. The sum is decimal(38,0): a long sum of 64-bit
    hashes overflows under ANSI mode.

    Output: (doc_id, cluster_id, is_keeper int). Docs with no pairs
    are singleton keepers.

    String/uuid ids (the common case on real corpora — the reference
    keys on path strings throughout, convert.py:249-257) route through
    md5 surrogates automatically; the cluster label is then the
    lexicographic-min original id per component (see
    _cc_on_surrogates), so callers never see surrogate values.
    """
    if not _is_integral_id(docs, id_col):
        return _cc_on_surrogates(docs, pairs, id_col, max_iters)
    edges, prev = _checkpoint_with_checksum(
        pairs.select(F.col("id_a").cast("long").alias("u"),
                     F.col("id_b").cast("long").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )

    def large_star(e: DataFrame) -> DataFrame:
        adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = adj.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("u"), F.col("mn"))
        return (
            adj.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        # after large_star every edge is (big, small); group by the
        # big endpoint: m = min neighbor, relink all its small
        # neighbors and itself to m
        mins = e.groupBy("u").agg(F.min("v").alias("mn"))
        relink = (
            e.join(mins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        self_link = mins.select("u", F.col("mn").alias("v"))
        return relink.union(self_link).filter(F.col("u") != F.col("v")).distinct()

    for _ in range(max_iters):
        edges, cur = _checkpoint_with_checksum(small_star(large_star(edges)))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds"
        )

    roots = edges.select(F.col("u").alias("id"), F.col("v").alias("lbl"))
    lbl = F.coalesce(F.col("lbl"), F.col("id").cast("long"))
    return (
        docs.select(F.col(id_col).alias("id"))
        .join(roots, "id", "left")
        .select(
            F.col("id").alias(id_col),
            lbl.alias("cluster_id"),
            (lbl == F.col("id")).cast("int").alias("is_keeper"),
        )
    )


def _checkpoint_with_checksum(edges: DataFrame) -> tuple[DataFrame, tuple]:
    """localCheckpoint an edge list (u, v) and return it with its
    (count, sum(xxhash64(u, v))) checksum, observed on the checkpoint
    job itself rather than computed by a second one."""
    from pyspark.sql import Observation

    obs = Observation()
    edges = edges.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
    ).localCheckpoint(eager=True)
    m = obs.get
    return edges, (m["n"], m["h"])


def benchmark_contamination(
    docs: DataFrame,
    bench_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Train/test contamination check: for every corpus doc, how many
    of its word n-gram shingles also appear in a benchmark set.

    The standard decontamination pass for LLM training corpora
    (n-gram overlap against eval sets). Shape at 100 TB: the benchmark
    side is tiny (eval sets are thousands of docs), so its DISTINCT
    shingle vocabulary is broadcast and the corpus side never
    shuffles — scan -> explode -> broadcast-hash semi-join ->
    per-doc count, all map-side until the final doc-keyed aggregate.

    Output: (doc_id, n_sh, n_contam, contam_milli) for corpus docs
    with at least one overlapping shingle. contam_milli = per-mille
    fraction of the doc's distinct shingles found in the benchmark.
    """
    bench_sh = exploded_shingles(
        bench_docs, text_col, id_col, shingle_n
    ).select("sh").distinct()
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    counts = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))
    hits = (
        sh.join(F.broadcast(bench_sh), "sh")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_contam"))
    )
    return (
        hits.join(counts, "id")
        .select(
            F.col("id").alias(id_col),
            "n_sh",
            "n_contam",
            F.round(1000 * F.col("n_contam") / F.col("n_sh")).cast("int").alias(
                "contam_milli"
            ),
        )
    )


def cluster_keepers_by_score(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
) -> DataFrame:
    """Re-pick each duplicate cluster's keeper by a quality signal.

    dup_clusters keeps the MIN-id doc per cluster —
    deterministic but arbitrary. Production curation keeps the BEST
    doc (longest, highest quality score, most recent crawl); this
    operator joins the cluster assignment with any per-doc score and
    re-elects keepers by (score DESC, id ASC) — the id tiebreak keeps
    the election total-ordered. One join + one row_number window per
    cluster; the shuffle partitions by cluster_id, and cluster sizes
    are bounded by the upstream hot-bucket caps, so no skew surprises.

    Output: (id_col, cluster_id, score, is_keeper int).
    """
    from pyspark.sql import Window

    j = clusters.select(id_col, "cluster_id").join(
        scores.select(id_col, score_col), id_col
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return (
        j.withColumn("_rn", F.row_number().over(w))
        .withColumn("is_keeper", (F.col("_rn") == 1).cast("int"))
        .drop("_rn")
    )


#: df cap for passage 8-grams — much tighter than the Jaccard
#: shingle cap: an 8-gram shared by hundreds of documents is template
#: boilerplate (whose dedup signal exact/minhash passes own), not a
#: borrowed passage, and every shingle at df contributes df^2/2
#: candidate pairs — at df=1000 one boilerplate line costs 500k pairs
#: (measured: the sf1 bench point went 4.5x super-linear before this
#: cap). 64 bounds any shingle's contribution to ~2k pairs.
DEFAULT_MAX_PASSAGE_DF = 64


def shared_passage_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 8,
    min_shared: int = 2,
    max_df: int | None = DEFAULT_MAX_PASSAGE_DF,
) -> DataFrame:
    """Near-verbatim passage borrowing: doc pairs sharing >= min_shared
    distinct word 8-grams — the bounded cousin of suffix-array exact
    substring dedup (Lee et al. 2022): an 8-gram in common is a
    verbatim 8-word span in common, and `n_shared` LOWER-BOUNDS the
    borrowed-span token count without materializing any suffix
    structure. Jaccard-ratio dedup misses this case (a paragraph
    lifted into an otherwise-unrelated doc scores near-zero Jaccard);
    this operator is the standard complement.

    Same plan skeleton and hot-shingle df guard as
    ngram_jaccard_pairs: explode distinct 8-grams -> df-cap ->
    self-equi-join on the shingle -> one (id_a, id_b) count. Long
    shingles are rare (df is tiny), so the join's bucket sizes are
    naturally bounded; the cap is a backstop for boilerplate.

    Output: (id_a, id_b, n_shared long).
    """
    sh = exploded_shingles(docs, text_col, id_col, shingle_n)
    return (
        _capped_self_join(sh, "id", ["sh"], max_df)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
