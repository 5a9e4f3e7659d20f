"""Behavioral tests for the training-data operators (dedup,
similarity, text stats, multimodal plumbing) on small crafted data."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),          # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat today"),    # near dup
        (3, "completely different content about spark shuffles"),
        (4, "el perro y el gato de la casa que los ve"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    from pdfwf_spark.operators.dedup import exact_dedup

    out = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2          # doc 1 collapsed into doc 0
    assert out[2] == 1 and out[3] == 1


def test_minhash_identical_docs_share_signature(docs):
    from pdfwf_spark.operators.dedup import minhash_signatures

    sigs = {r["doc_id"]: tuple(r[f"sig_{i}"] for i in range(8))
            for r in minhash_signatures(docs, k=8).collect()}
    assert sigs[0] == sigs[1]                        # identical docs
    shared = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    assert shared >= 2                               # near dups share lanes
    assert sigs[0] != sigs[3]


def test_lsh_pairs_find_duplicates(docs):
    from pdfwf_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(minhash_signatures(docs, k=8)).collect()
    }
    assert (0, 1) in pairs
    assert (0, 3) not in pairs and (1, 3) not in pairs


def test_jaccard_pairs(docs):
    from pdfwf_spark.operators.dedup import ngram_jaccard_pairs

    out = {(r["id_a"], r["id_b"]): r["jaccard_milli"]
           for r in ngram_jaccard_pairs(docs, threshold=0.2).collect()}
    assert out[(0, 1)] == 1000                       # identical
    assert 200 <= out.get((0, 2), 0) < 1000          # near dup
    assert (0, 3) not in out


def test_simhash_similarity(docs):
    from pdfwf_spark.operators.dedup import simhash

    fp = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    assert fp[0] == fp[1]
    ham_near = bin(fp[0] ^ fp[2]).count("1")
    ham_far = bin(fp[0] ^ fp[3]).count("1")
    assert ham_near <= ham_far


def test_cosine_topk_self_similarity(spark):
    from pdfwf_spark.operators.similarity import cosine_topk

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.99, 0.1, 0.0]),    # close to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=2).collect()
    ranked = sorted(out, key=lambda r: r["rank"])
    assert ranked[0]["n_id"] == 1 and ranked[0]["cos_milli"] >= 990
    assert len(ranked) == 2


def test_bucketed_neardup(spark):
    from pdfwf_spark.operators.similarity import bucketed_neardup_pairs

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0, 0.0]),
        (2, [-1.0, 0.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]) for r in
             bucketed_neardup_pairs(emb, threshold_milli=950, n_planes=4).collect()}
    assert (0, 1) in pairs          # same bucket (identical direction)
    assert (0, 2) not in pairs      # opposite direction


def test_textstats(docs):
    from pdfwf_spark.operators.textstats import with_fingerprint, with_lang_id, with_quality_score

    q = {r["doc_id"]: r for r in with_quality_score(docs).collect()}
    assert q[0]["n_tokens"] == 9
    assert q[0]["stopword_milli"] == round(1000 * 2 / 9)  # 'the' x2
    langs = {r["doc_id"]: r["lang_pred"] for r in with_lang_id(docs).collect()}
    assert langs[0] == "en" and langs[4] == "es"
    fp = {r["doc_id"]: r["fingerprint"] for r in with_fingerprint(docs).collect()}
    assert fp[0] == fp[1] and fp[0] != fp[2]


def test_multimodal_plumbing(spark):
    from pdfwf_spark.operators.multimodal import decode_media, make_fake_media

    rows = [(i, make_fake_media(i, "image" if i % 2 == 0 else "audio")) for i in range(20)]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r for r in decode_media(media, fake=True).collect()}
    assert out[0]["media_type"] == "image" and out[0]["width"] == 4
    assert out[1]["media_type"] == "audio" and out[1]["sample_rate"] == 8000
    assert all(out[i]["n_bytes"] > 15 for i in range(20))


def test_multimodal_real_bmp_wav_decode(spark):
    """fake=False is a REAL codec branch now: valid BMP and WAV bytes
    decode to their true header fields (S8, narrowed from the
    reference's fully-disabled visual path)."""
    import io
    import wave as wave_mod

    from pdfwf_spark.operators.multimodal import (
        CHECKSUM_MOD, decode_media, make_real_media,
    )

    rows = [(i, make_real_media(i, "image" if i % 2 == 0 else "audio"))
            for i in range(12)]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r for r in decode_media(media, fake=False).collect()}
    for i, blob in rows:
        assert out[i]["n_bytes"] == len(blob)
        assert out[i]["checksum"] == sum(blob) % CHECKSUM_MOD
        if i % 2 == 0:
            assert out[i]["media_type"] == "image"
            assert out[i]["width"] == 1 + i % 5
            assert out[i]["height"] == 1 + i % 4
        else:
            assert out[i]["media_type"] == "audio"
            # cross-check against the stdlib reader directly
            with wave_mod.open(io.BytesIO(blob)) as w:
                assert out[i]["sample_rate"] == w.getframerate()
                assert out[i]["n_samples"] == w.getnframes()


def test_multimodal_real_decode_unknown_and_strict(spark):
    """Formats with no codec in this build: 'unknown' rows by default;
    strict=True raises NotImplementedError naming the format (the
    reference-analog disabled path, oreo.py:245-248). A PNG signature
    with a corrupt chunk layout (no IHDR first) is equally unknown."""
    from pdfwf_spark.operators.multimodal import decode_media

    jpeg = b"\xff\xd8\xff\xe0" + b"\x00" * 64
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00" * 64  # no IHDR chunk
    media = spark.createDataFrame(
        [(0, jpeg), (1, b"garbage"), (2, bad_png)],
        "doc_id long, content binary",
    )
    out = {r["doc_id"]: r for r in decode_media(media, fake=False).collect()}
    assert all(out[i]["media_type"] == "unknown" for i in (0, 1, 2))
    assert out[0]["checksum"] == sum(jpeg) % 1_000_000_007
    with pytest.raises(Exception, match="NotImplementedError|no codec"):
        decode_media(media, fake=False, strict=True).collect()


def test_multimodal_png_header_decode(spark):
    """make_real_png emits a structurally valid PNG (zlib CRCs); the
    real decode branch must read width/height off IHDR — vectorized,
    next to the BMP path — and a truncated signature stays unknown."""
    from pdfwf_spark.operators.multimodal import decode_media, make_real_png

    rows = [(i, make_real_png(i)) for i in range(10)] + [
        (99, b"\x89PNG\r\n"),  # truncated signature
    ]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    out = {r["doc_id"]: r for r in decode_media(media, fake=False).collect()}
    for i in range(10):
        assert out[i]["media_type"] == "image"
        assert out[i]["width"] == 1 + i % 7
        assert out[i]["height"] == 1 + i % 6
        assert out[i]["n_bytes"] == 45
        assert out[i]["checksum"] == sum(make_real_png(i)) % 1_000_000_007
    assert out[99]["media_type"] == "unknown"
    # strict mode accepts valid PNGs now (no NotImplementedError)
    ok = spark.createDataFrame(rows[:3], "doc_id long, content binary")
    assert decode_media(ok, fake=False, strict=True).count() == 3


def test_tie_key_jvm_matches_golden_and_disambiguates(spark):
    """tie_key is computed JVM-side (F.md5 over a length-prefixed
    encoding); golden.tie_key must reproduce it byte-for-byte, and
    NUL-shifted payload pairs must get DIFFERENT keys."""
    from pdfwf_spark.fixtures.golden import tie_key
    from pdfwf_spark.operators.extract import tie_key_col

    rows = [
        ("a\x00", "b"),
        ("a", "\x00b"),          # NUL-shifted twin of the row above
        ("", ""),
        (None, None),            # nulls coalesce to ''
        ("5:x", "7:y"),          # payloads containing the separator
        ("héllo wörld", ""),
        ("emoji \U0001F600 astral", "t"),   # astral char: len==1 both sides
    ]
    df = spark.createDataFrame(rows, "text string, tool string")
    got = [r["k"] for r in df.select(tie_key_col().alias("k")).collect()]
    want = [tie_key(t or "", u or "") for t, u in rows]
    assert got == want
    assert got[0] != got[1]      # NUL ambiguity is resolved


def test_simhash64_bands_and_pairs(spark, docs):
    from pdfwf_spark.operators.dedup import simhash64, simhash_band_pairs

    sigs = {r["doc_id"]: r for r in simhash64(docs).collect()}
    for r in sigs.values():
        for b in range(4):
            assert 0 <= r[f"band_{b}"] < (1 << 16)
        assert len(r["simhash_hex"]) == 16
    # identical docs -> identical 64-bit fingerprint
    assert sigs[0]["simhash_hex"] == sigs[1]["simhash_hex"]
    # near dup differs in few bits; unrelated docs differ in many
    def ham(a, b):
        return bin(int(sigs[a]["simhash_hex"], 16) ^ int(sigs[b]["simhash_hex"], 16)).count("1")
    assert ham(0, 2) < ham(0, 3)

    pairs = {(r["id_a"], r["id_b"]): r["hamming"]
             for r in simhash_band_pairs(docs, max_hamming=64).collect()}
    assert pairs[(0, 1)] == 0                       # exact dup: hamming 0
    # banding completeness: hamming<=3 pairs always share a band
    assert all(h <= 64 for h in pairs.values())


def test_multi_table_lsh_recall(spark):
    from pdfwf_spark.operators.similarity import bucketed_neardup_pairs

    base = [float(i % 7) + 1.0 for i in range(16)]
    near = list(base); near[0] += 0.05
    rows = [(0, base), (1, near), (2, [(-1.0) ** i * (i + 1.0) for i in range(16)])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r["id_a"], r["id_b"]): r["cos_milli"]
           for r in bucketed_neardup_pairs(emb, threshold_milli=950, n_planes=4,
                                           n_tables=2).collect()}
    assert (0, 1) in got and got[(0, 1)] >= 990     # near-identical pair found
    assert all(a != 2 and b != 2 for a, b in got)    # orthogonal vector excluded


def test_multimodal_checksum_matches_pure_python():
    """The numpy-vectorized checksum must equal the spec sum(blob) % MOD."""
    from pdfwf_spark.operators.multimodal import (
        CHECKSUM_MOD, _decode_batch, make_fake_media,
    )
    import numpy as np

    blobs = [make_fake_media(i, k) for i, k in
             [(3, "image"), (4, "audio"), (123456, "image")]] + [b""]
    out = _decode_batch(np.array([0, 1, 2, 3]), blobs)
    for i, b in enumerate(blobs):
        assert out["checksum"][i] == sum(b) % CHECKSUM_MOD


def test_exact_neardup_guard(spark):
    """The O(n^2) all-pairs baseline refuses corpus-scale input."""
    import pytest as _pytest

    from pdfwf_spark.operators.similarity import exact_neardup_pairs

    emb = spark.range(50).selectExpr(
        "id AS vec_id", "array(cast(id as float), 1.0F) AS embedding"
    )
    with _pytest.raises(ValueError, match="bucketed_neardup_pairs"):
        exact_neardup_pairs(emb, max_rows=10)
    assert exact_neardup_pairs(emb, threshold_milli=990, max_rows=100).count() >= 0


def test_hyperplane_literal_fast_path_matches_md5_slow_path(spark):
    """Buckets from driver-side hashlib literal planes must equal the
    executor-side md5 derivation (same values, 5x cheaper plan)."""
    from pyspark.sql import functions as F2

    from pdfwf_spark.operators.similarity import hyperplane_bucket

    emb = spark.createDataFrame(
        [(i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(9)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    out = emb.select(
        hyperplane_bucket("embedding", 6, seed=9, table=1, dim=9).alias("fast"),
        hyperplane_bucket("embedding", 6, seed=9, table=1, dim=None).alias("slow"),
    ).collect()
    assert all(r["fast"] == r["slow"] for r in out)


def test_ivf_topk_recall_vs_brute_force(spark):
    """IVF with n_probe == n_centroids degrades to exact brute force;
    with fewer probes it returns a subset-quality approximation whose
    top-1 usually survives (sanity on the real embeddings table)."""
    from pdfwf_spark.operators.similarity import cosine_topk, ivf_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 3")
    exact = {(r["q_id"], r["rank"]): r["n_id"]
             for r in cosine_topk(emb, queries, k=3).collect()}
    full_probe = {(r["q_id"], r["rank"]): r["n_id"]
                  for r in ivf_topk(emb, queries, k=3, n_centroids=8,
                                    n_probe=8).collect()}
    assert full_probe == exact          # all cells probed == brute force
    approx = ivf_topk(emb, queries, k=3, n_centroids=8, n_probe=2).collect()
    assert len(approx) > 0
    got = {r["n_id"] for r in approx}
    assert got <= {r["n_id"] for r in cosine_topk(emb, queries, k=200).collect()}


def test_multimodal_truncated_blob_is_unknown(spark):
    """A magic-prefixed but truncated blob must decode as 'unknown',
    never crash the task with struct.error."""
    from pdfwf_spark.operators.multimodal import IMG_MAGIC, decode_media

    media = spark.createDataFrame(
        [(0, bytes(IMG_MAGIC)), (1, bytes(IMG_MAGIC) + b"\x00\x01"), (2, b"")],
        "doc_id long, content binary",
    )
    out = {r["doc_id"]: r for r in decode_media(media, fake=True).collect()}
    assert all(out[i]["media_type"] == "unknown" for i in range(3))


def test_textstats_blank_doc_scores_zero(spark):
    """Blank text: 0 tokens, zero ratios, quality 0 — with_text_stats
    and token_count must agree on the same doc."""
    from pdfwf_spark.operators.textstats import with_quality_score

    docs = spark.createDataFrame(
        [(0, ""), (1, "   \t "), (2, "real prose with the words")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in with_quality_score(docs).collect()}
    for i in (0, 1):
        assert out[i]["n_tokens"] == 0
        assert out[i]["stopword_milli"] == 0
        assert out[i]["avg_token_len_milli"] == 0
        assert out[i]["quality_milli"] == 0
    assert out[2]["n_tokens"] == 5 and out[2]["quality_milli"] > 0


def test_ivf_rejects_non_zero_based_ids(spark):
    import pytest as _pytest

    from pdfwf_spark.operators.similarity import ivf_assign

    emb = spark.createDataFrame(
        [(1000 + i, [float(i), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    with _pytest.raises(ValueError, match="centroids"):
        ivf_assign(emb, n_centroids=8)


def test_dup_clusters_chain_converges(spark):
    """A 6-node chain (0-1, 1-2, ..., 4-5) requires multiple
    propagation rounds: every node must land in cluster 0 with node 0
    as the only keeper. Singleton node 9 keeps itself."""
    from pdfwf_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in [0, 1, 2, 3, 4, 5, 9]],
                                  "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(5)],
                                  "id_a long, id_b long")
    out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
           for r in dup_clusters(nodes, pairs).collect()}
    for i in range(6):
        assert out[i] == (0, 1 if i == 0 else 0)
    assert out[9] == (9, 1)


def test_dup_clusters_two_components_and_empty_pairs(spark):
    from pdfwf_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 4), (2, 5)], "id_a long, id_b long")
    out = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(nodes, pairs).collect()}
    assert out == {0: 0, 1: 1, 2: 2, 3: 3, 4: 1, 5: 2}

    empty = spark.createDataFrame([], "id_a long, id_b long")
    out2 = dup_clusters(nodes, empty).collect()
    assert all(r["is_keeper"] == 1 and r["cluster_id"] == r["doc_id"] for r in out2)


def test_dup_clusters_non_convergence_raises(spark):
    from pdfwf_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame([(i, i + 1) for i in range(7)],
                                  "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(nodes, pairs, max_iters=2)


def test_benchmark_contamination(spark):
    """Doc sharing a 3-gram window with the benchmark doc is flagged
    with the right overlap fraction; a disjoint doc produces no row."""
    from pdfwf_spark.operators.dedup import benchmark_contamination

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string")
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma epsilon"),      # shares 'alpha beta gamma'
         (2, "zeta eta theta iota kappa")],    # disjoint
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in
            benchmark_contamination(corpus, bench, shingle_n=3).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_sh"] == 2 and rows[1]["n_contam"] == 1
    assert rows[1]["contam_milli"] == 500


def test_repetition_stats(spark):
    from pdfwf_spark.operators.textstats import with_repetition_stats

    rows = [
        (0, "aaa\nbbb\naaa\nccc"),            # 1 of 4 lines repeated
        (1, "x y x y x y x y"),               # dominant 2-gram 'x y'
        (2, "unique lines\nonly here"),
        (3, ""),                              # degenerate: no lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert out[0]["n_lines"] == 4
    assert out[0]["dup_line_milli"] == 250          # 1/4
    assert out[0]["dup_char_milli"] == 250          # 3 of 12 chars
    # 'x y x y x y x y': 7 bigrams, 'x y' x4 -> round(4000/7) = 571
    assert out[1]["top2gram_milli"] == 571
    assert out[2]["dup_line_milli"] == 0
    assert out[3]["n_lines"] == 0 and out[3]["dup_line_milli"] == 0
    assert out[3]["top2gram_milli"] == 0


def test_pii_redaction(spark):
    from pdfwf_spark.operators.textstats import with_pii_redacted

    rows = [
        (0, "mail a.user+tag@sub.example.org now"),
        (1, "server at 192.168.0.1 and 10.0.0.255 up"),
        (2, "call +1 (555) 123-4567 or 555-987-6543 today"),
        (3, "clean text with no pii at all"),
        (4, "mixed bob@x.io from 8.8.8.8 phone 555-111-2222"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in with_pii_redacted(df).collect()}
    assert out[0]["n_email"] == 1
    assert out[0]["redacted_text"] == "mail <EMAIL> now"
    assert out[1]["n_ip"] == 2
    assert out[1]["redacted_text"] == "server at <IP> and <IP> up"
    assert out[2]["n_phone"] == 2
    assert out[2]["redacted_text"] == "call <PHONE> or <PHONE> today"
    assert (out[3]["n_email"], out[3]["n_ip"], out[3]["n_phone"]) == (0, 0, 0)
    assert out[3]["redacted_text"] == out[3]["text"]
    assert out[4]["redacted_text"] == "mixed <EMAIL> from <IP> phone <PHONE>"


def _union_find_clusters(n_nodes, pairs):
    """Pure-Python reference: min-id-per-component via union-find."""
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n_nodes)}


def _shuffled_path(n: int, seed: int) -> list:
    """Edges of an n-node path whose node ids are a seeded shuffle of
    0..n-1: the diameter is n-1 and id order follows no walk of it."""
    import random

    ids = list(range(n))
    random.Random(seed).shuffle(ids)
    return [(ids[i], ids[i + 1]) for i in range(n - 1)]


def test_dup_clusters_matches_union_find(spark):
    """dup_clusters must agree with a sequential union-find on seeded
    random graphs of several shapes (sparse, denser, chain-heavy) and
    on a 1,024-node path with shuffled ids."""
    import random

    from pdfwf_spark.operators.dedup import dup_clusters

    graphs = []
    for seed, n, m in [(1, 40, 20), (2, 40, 60), (3, 30, 15)]:
        rng = random.Random(seed)
        raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        graphs.append((seed, n, [(a, b) for a, b in raw if a != b]))
    graphs.append(("path", 1024, _shuffled_path(1024, seed=7)))
    for seed, n, raw in graphs:
        expected = _union_find_clusters(n, raw)

        nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
        pairs = spark.createDataFrame(raw, "id_a long, id_b long")
        got = {r["doc_id"]: r["cluster_id"]
               for r in dup_clusters(nodes, pairs).collect()}
        assert got == expected, f"mismatch seed={seed}"


def test_dup_clusters_shuffled_path_converges(spark):
    """A 1,024-node path with shuffled ids converges inside 12 rounds
    (it takes 9) and names node 0 the single keeper. Hash-to-min label
    propagation, even with pointer jumping, needs over 200 rounds on
    this graph."""
    from pdfwf_spark.operators.dedup import dup_clusters

    n = 1024
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(_shuffled_path(n, seed=7),
                                  "id_a long, id_b long")
    out = dup_clusters(nodes, pairs, max_iters=12).collect()
    assert all(r["cluster_id"] == 0 for r in out)
    assert sum(r["is_keeper"] for r in out) == 1


def test_dup_clusters_string_ids(spark):
    """String ids route through md5 surrogates; the cluster label is
    the LEXICOGRAPHIC-min original id per component, keepers included
    — on a chain component (the components must cross surrogate
    order) plus a singleton."""
    from pdfwf_spark.operators.dedup import dup_clusters

    nodes = spark.createDataFrame(
        [("u:b",), ("u:a",), ("u:c",), ("u:z",)], "doc_id string"
    )
    pairs = spark.createDataFrame(
        [("u:b", "u:c"), ("u:c", "u:a")], "id_a string, id_b string"
    )
    clusters = dup_clusters(nodes, pairs)
    out = {r["doc_id"]: (r["cluster_id"], r["is_keeper"])
           for r in clusters.collect()}
    assert out == {
        "u:a": ("u:a", 1), "u:b": ("u:a", 0), "u:c": ("u:a", 0),
        "u:z": ("u:z", 1),
    }
    assert clusters.schema["cluster_id"].dataType.simpleString() == "string"


def test_dup_clusters_string_matches_integral_bijection(spark):
    """Prefixing integral ids with a fixed-width string must yield the
    image of the integral clustering under that bijection (same
    components; min-id rep maps to min-string rep because the prefix
    is order-preserving on zero-padded ids)."""
    from pdfwf_spark.operators.dedup import dup_clusters

    edges = [(1, 2), (2, 3), (7, 9)]
    ids = [1, 2, 3, 7, 9, 42]
    nodes_i = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs_i = spark.createDataFrame(edges, "id_a long, id_b long")
    base = {r["doc_id"]: r["cluster_id"]
            for r in dup_clusters(nodes_i, pairs_i).collect()}

    s = lambda i: f"d{i:04d}"
    nodes_s = spark.createDataFrame([(s(i),) for i in ids], "doc_id string")
    pairs_s = spark.createDataFrame(
        [(s(a), s(b)) for a, b in edges], "id_a string, id_b string"
    )
    got = {r["doc_id"]: r["cluster_id"]
           for r in dup_clusters(nodes_s, pairs_s).collect()}
    assert got == {s(i): s(c) for i, c in base.items()}


def test_exact_surrogate_ids(spark):
    """Collision-free surrogates: bijective over the input ids,
    contiguous 0..n-1, original id column type preserved."""
    from pdfwf_spark.operators.dedup import exact_surrogate_ids

    docs = spark.createDataFrame(
        [(f"u:{i}",) for i in range(37)], "doc_id string"
    ).repartition(5)
    m = exact_surrogate_ids(docs).collect()
    assert sorted(r["sid"] for r in m) == list(range(37))
    assert {r["doc_id"] for r in m} == {f"u:{i}" for i in range(37)}


def test_cap_hot_groups_salt_mode(spark):
    """With a salt_key: groups <= cap keep salt 0; a group of n gets
    ceil(n/cap) sub-buckets; every row is KEPT (no recall cliff) and
    the salt is a deterministic md5 function of the row key."""
    from pdfwf_spark.operators.dedup import cap_hot_groups

    rows = [("g1", i) for i in range(10)] + [("g2", i) for i in range(100, 103)]
    df = spark.createDataFrame(rows, "bucket string, doc_id long")
    out = cap_hot_groups(df, ["bucket"], cap=4, salt_key="doc_id")
    pdf = out.toPandas()
    assert len(pdf) == len(rows)  # nothing dropped
    g1 = pdf[pdf.bucket == "g1"]
    assert set(g1._salt) <= set(range(3))  # ceil(10/4) = 3 sub-buckets
    assert (pdf[pdf.bucket == "g2"]._salt == 0).all()
    # determinism: same input -> same salts
    pdf2 = cap_hot_groups(df, ["bucket"], cap=4, salt_key="doc_id").toPandas()
    assert sorted(map(tuple, pdf.values.tolist())) == sorted(
        map(tuple, pdf2.values.tolist())
    )


def test_lsh_salted_recall_between_drop_and_uncapped(spark):
    """Salt-split candidate pairs must be a superset of drop-mode
    pairs (same cap) and a subset of the uncapped pairs — the smooth
    middle of the recall/work trade."""
    from pdfwf_spark.operators.dedup import lsh_candidate_pairs, minhash_signatures

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(12)]
        + [(100 + i, f"unique text number {i} with words w{i} x{i} y{i} z{i}")
           for i in range(4)],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(docs)
    pairs = lambda df: {(r["id_a"], r["id_b"]) for r in df.collect()}
    uncapped = pairs(lsh_candidate_pairs(sigs, max_bucket_size=None))
    dropped = pairs(lsh_candidate_pairs(sigs, max_bucket_size=5))
    salted = pairs(lsh_candidate_pairs(sigs, max_bucket_size=5, cap_mode="salt"))
    assert dropped <= salted <= uncapped
    assert salted  # the 12-doc hot bucket still yields intra-sub-bucket pairs
    assert salted != uncapped  # but not all of them (it actually split)


def test_hashed_classifier_score(spark):
    """Deterministic md5-weight reference computed in pure Python must
    match the JVM expression; blank doc scores 0."""
    import hashlib

    from pdfwf_spark.operators.textstats import with_hashed_classifier_score

    rows = [(0, "alpha beta gamma"), (1, ""), (2, "  \t "), (3, "alpha")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["clf_score_milli"]
           for r in with_hashed_classifier_score(df).collect()}

    def w(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:4], 16) % 2001 - 1000

    import decimal
    def ref(toks):
        if not toks:
            return 0
        # Spark round() is HALF_UP on the exact decimal quotient
        q = decimal.Decimal(1000 * sum(w(t) for t in toks)) / len(toks)
        return int(q.quantize(0, rounding=decimal.ROUND_HALF_UP))

    assert out[0] == ref(["alpha", "beta", "gamma"])
    assert out[1] == 0 and out[2] == 0
    assert out[3] == ref(["alpha"]) == 1000 * w("alpha") // 1 // 1


def test_domain_counts(spark):
    from pdfwf_spark.operators.textstats import domain_counts

    rows = [
        (0, "see https://A.Example.COM/x and http://a.example.com/y done"),
        (1, "also https://a.example.com/z plus https://other.net/q"),
        (2, "no links here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["domain"]: (r["n_urls"], r["n_docs"])
           for r in domain_counts(df).collect()}
    assert out["a.example.com"] == (3, 2)       # case-folded, 2 distinct docs
    assert out["other.net"] == (1, 1)
    assert set(out) == {"a.example.com", "other.net"}


def test_top_ngrams_python_twin(spark):
    from collections import Counter

    from pdfwf_spark.operators.textstats import top_ngrams

    texts = [
        "the cat sat on the mat",
        "the cat ran",
        "a cat sat on a mat",
        "",
        "   ",
        "single",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [(r["ngram"], r["n"]) for r in top_ngrams(docs, n=2, k=4).collect()]
    counts = Counter()
    for t in texts:
        toks = [x for x in t.strip().lower().split() if x]
        for a, b in zip(toks, toks[1:]):
            counts[f"{a} {b}"] += 1
    want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:4]
    assert got == want


def test_fix_mojibake_twins_agree(spark):
    from pdfwf_spark.core.normalize import MOJIBAKE_MAP, fix_mojibake
    from pdfwf_spark.operators.functions import fix_mojibake_col
    from pyspark.sql import functions as F

    samples = [
        "itâ€™s â€œfineâ€“ishâ€ť no wait",      # mixed artifacts + untouched bytes
        " ".join(bad for bad, _ in MOJIBAKE_MAP),  # every artifact once
        "clean ascii only",
        "already fixed ’ “ — é",                   # repaired text is a fixpoint
        "",
    ]
    df = spark.createDataFrame([(s,) for s in samples], "t string")
    got = [r["f"] for r in df.select(fix_mojibake_col(F.col("t")).alias("f")).collect()]
    assert got == [fix_mojibake(s) for s in samples]
    # repair is idempotent: outputs contain no remaining artifact keys
    for out in got:
        for bad, _ in MOJIBAKE_MAP:
            assert bad not in out
    assert fix_mojibake(samples[3]) == samples[3]


def test_term_doc_freq_and_top_terms(spark):
    from pdfwf_spark.operators.textstats import term_doc_freq, top_terms_per_doc

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple cherry"),
            (2, "banana cherry cherry"),
            (3, "apple date"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    dfq = {r["token"]: r["df"] for r in term_doc_freq(docs).collect()}
    assert dfq == {"apple": 2, "banana": 2, "cherry": 2, "date": 1}
    # every token's df <= 50% of 4 docs = 2, so nothing is cut here
    top = top_terms_per_doc(docs, k=2)
    got = {
        (r["doc_id"], r["rank"]): (r["token"], r["tf"], r["df"])
        for r in top.collect()
    }
    # doc 1: apple tf=2 first; then cherry/banana tie tf=1 df=2 -> banana by token asc
    assert got[(1, 1)] == ("apple", 2, 2)
    assert got[(1, 2)] == ("banana", 1, 2)
    # doc 3: tie tf=1; date df=1 beats apple df=2
    assert got[(3, 1)] == ("date", 1, 1)
    assert got[(3, 2)] == ("apple", 1, 2)
    assert (4, 1) not in got  # empty doc has no terms


def test_top_terms_stopword_cut(spark):
    from pdfwf_spark.operators.textstats import top_terms_per_doc

    # 'the' appears in all 3 docs (df ratio 1000 > 500) -> cut everywhere
    docs = spark.createDataFrame(
        [(1, "the x"), (2, "the y"), (3, "the z")], "doc_id long, text string"
    )
    toks = {r["token"] for r in top_terms_per_doc(docs, k=5).collect()}
    assert toks == {"x", "y", "z"}


def test_kmeans_integer_twin_exact(spark):
    import numpy as np

    from pdfwf_spark.operators.similarity import kmeans_cluster

    rng = np.random.RandomState(3)
    vecs = rng.randn(60, 5).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    ).repartition(7)

    k, iters = 4, 3
    a_df, cents = kmeans_cluster(emb, k=k, iters=iters)
    got = {r["vec_id"]: (r["cluster"], r["dist"]) for r in a_df.collect()}

    # pure-python twin with identical integer arithmetic
    vm = np.round(1000 * vecs.astype("float64")).astype(np.int64)
    c = [vm[j].tolist() for j in range(k)]
    for _ in range(iters):
        assign = []
        for i in range(60):
            dists = [
                (int(((vm[i] - np.array(cj, dtype=np.int64)) ** 2).sum()), j)
                for j, cj in enumerate(c)
            ]
            assign.append(min(dists)[1])
        nc = [list(cj) for cj in c]
        for j in range(k):
            members = [i for i in range(60) if assign[i] == j]
            if members:
                s = vm[members].sum(axis=0)
                nc[j] = [int(s[d]) // len(members) for d in range(5)]
        c = nc
    want = {}
    for i in range(60):
        dists = [
            (int(((vm[i] - np.array(cj, dtype=np.int64)) ** 2).sum()), j)
            for j, cj in enumerate(c)
        ]
        d, j = min(dists)
        want[i] = (j, d)
    assert got == want
    assert cents == c


def test_kmeans_broadcast_assign_matches_literal(spark):
    """The broadcast-join assignment path (for large k*dim, where
    literal centroid arrays would bloat the plan) must be bit-equal to
    the literal path: same integer argmin total order (dist, cluster),
    same centroids after every update."""
    import numpy as np

    from pdfwf_spark.operators.similarity import kmeans_cluster

    rng = np.random.RandomState(17)
    vecs = rng.randn(50, 6).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id long, embedding array<float>",
    ).repartition(5)

    a_lit, c_lit = kmeans_cluster(emb, k=4, iters=3, assign="literal")
    a_bc, c_bc = kmeans_cluster(emb, k=4, iters=3, assign="broadcast")
    assert c_lit == c_bc
    lit = {r["vec_id"]: (r["cluster"], r["dist"]) for r in a_lit.collect()}
    bc = {r["vec_id"]: (r["cluster"], r["dist"]) for r in a_bc.collect()}
    assert lit == bc
    with pytest.raises(ValueError, match="assign"):
        kmeans_cluster(emb, k=4, iters=1, assign="nope")


def test_ivf_kmeans_assign_broadcast_same_topk(spark):
    """Forwarding assign='broadcast' to the kmeans fit must leave the
    IVF result identical (the fit is bit-equal, so cells and ranking
    are too)."""
    import numpy as np

    from pdfwf_spark.operators.similarity import ivf_topk_kmeans

    rng = np.random.RandomState(23)
    vecs = rng.randn(40, 4).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    qs = emb.filter(F.col("vec_id") < 3)
    lit = sorted(map(tuple, ivf_topk_kmeans(emb, qs, k=3, n_centroids=4,
                                            iters=2, n_probe=2).collect()))
    bc = sorted(map(tuple, ivf_topk_kmeans(emb, qs, k=3, n_centroids=4,
                                           iters=2, n_probe=2,
                                           assign="broadcast").collect()))
    assert lit == bc


def test_kmeans_inertia_non_increasing(spark):
    import numpy as np
    from pyspark.sql import functions as F

    from pdfwf_spark.operators.similarity import kmeans_cluster

    rng = np.random.RandomState(9)
    vecs = rng.randn(80, 4).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    inertias = []
    for iters in (0, 1, 3):
        a_df, _ = kmeans_cluster(emb, k=3, iters=iters)
        inertias.append(a_df.agg(F.sum("dist")).collect()[0][0])
    assert inertias[1] <= inertias[0]
    assert inertias[2] <= inertias[1]


def test_truncate_tokens(spark):
    from pdfwf_spark.operators.textstats import truncate_tokens

    docs = spark.createDataFrame(
        [(1, "a  b\tc\nd e"), (2, "x y"), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["truncated_text"], r["was_truncated"], r["n_tokens_kept"])
        for r in truncate_tokens(docs, 3).collect()
    }
    assert got[1] == ("a b c", 1, 3)   # ws-normalized, cut at 3
    assert got[2] == ("x y", 0, 2)
    assert got[3] == ("", 0, 0)
    assert got[4] == ("", 0, 0)


def test_length_histogram(spark):
    from pdfwf_spark.operators.textstats import length_histogram

    texts = ["", "one", "one two", "a b c", "1 2 3 4 5 6 7 8 9"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["bucket_lo"]: r["n_docs"] for r in length_histogram(docs).collect()}
    # lengths 0,1,2,3,9 -> buckets 0,1,2,2,8
    assert got == {0: 1, 1: 1, 2: 2, 8: 1}


def test_cluster_keepers_by_score(spark):
    from pdfwf_spark.operators.dedup import cluster_keepers_by_score

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 9)],
        "doc_id long, cluster_id long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 50), (3, 50), (7, 5), (9, 0)], "doc_id long, score long"
    )
    got = {
        r["doc_id"]: r["is_keeper"]
        for r in cluster_keepers_by_score(clusters, scores).collect()
    }
    # cluster 1: score tie 50/50 between ids 2 and 3 -> lower id wins
    assert got == {1: 0, 2: 1, 3: 0, 7: 1, 9: 1}


def test_filter_blocked_domains(spark):
    from pdfwf_spark.operators.textstats import filter_blocked_domains

    docs = spark.createDataFrame(
        [
            (1, "see https://bad.example.com/x and more"),
            (2, "see https://GOOD.example.com/y"),
            (3, "no links at all"),
            (4, "https://ok.org/a https://BAD.example.com/b"),  # case-folded match
            (5, ""),
        ],
        "doc_id long, text string",
    )
    blocklist = spark.createDataFrame([("bad.example.com",)], "domain string")
    kept = {r["doc_id"] for r in filter_blocked_domains(docs, blocklist).collect()}
    assert kept == {2, 3, 5}


def test_shared_passage_pairs(spark):
    from pdfwf_spark.operators.dedup import shared_passage_pairs

    passage = " ".join(f"w{i}" for i in range(12))  # 12 tokens -> 5 distinct 8-grams
    docs = spark.createDataFrame(
        [
            (1, "intro alpha beta " + passage),
            (2, "different opening words here " + passage),
            (3, "no borrowed text at all in this one whatsoever"),
            (4, passage),  # the bare passage
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in shared_passage_pairs(docs, min_shared=2).collect()
    }
    assert set(got) == {(1, 2), (1, 4), (2, 4)}
    assert all(n >= 5 for n in got.values())  # all passage 8-grams shared
    assert got[(1, 4)] == 5  # exactly the in-passage 8-grams (no boundary overlap)


def test_bpe_token_count_python_twin(spark):
    import re

    from pdfwf_spark.operators.textstats import BPE_PRETOKEN_PATTERN, bpe_token_count
    from pdfwf_spark.core.normalize import WS_CLASS
    from pyspark.sql import functions as F

    texts = [
        "It's a well-known fact: GPT-2 has 50,257 tokens!",
        "we'll don't i'm they've o'clock 'quoted'",
        "snake_case camelCase  double  spaces\tand\ttabs",
        "1234 12.5 ...!!! ::",
        "",
        " \t\n",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = [r["n_bpe_tokens"] for r in df.select(bpe_token_count(F.col("t"))).collect()]
    pat = re.compile(BPE_PRETOKEN_PATTERN)
    ws = re.compile(f"^[{WS_CLASS}]+$")
    want = [
        sum(1 for m in pat.findall(t) if not ws.match(m)) for t in texts
    ]
    assert got == want
    assert got[0] == 17  # It/'s/ a/ well/-/known/ fact/:/ GPT/-/2/ has/ 50/,/257/ tokens/!


def test_media_features_fake_twin(spark):
    import numpy as np

    from pdfwf_spark.operators.multimodal import (
        make_fake_media, media_features,
    )

    ids = list(range(8))
    rows = [(i, make_fake_media(i, "image" if i % 2 == 0 else "audio")) for i in ids]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in media_features(media, fake=True).collect()}
    for i, blob in rows:
        body = np.frombuffer(blob, dtype=np.uint8, offset=15)
        r = got[i]
        assert r["n_units"] == len(body)
        assert r["mean_milli"] == (1000 * int(body.sum()) + len(body) // 2) // len(body)
        if i % 2 == 0:
            assert r["media_type"] == "image" and r["zero_cross"] is None
        else:
            sgn = body >= 128
            assert r["media_type"] == "audio"
            assert r["zero_cross"] == int(np.count_nonzero(sgn[1:] != sgn[:-1]))


def test_media_features_real_twin(spark):
    import io
    import struct
    import wave

    import numpy as np

    from pdfwf_spark.operators.multimodal import make_real_media, media_features

    rows = [(i, make_real_media(i, "image" if i % 2 == 0 else "audio"))
            for i in range(6)] + [(99, b"GARBAGE")]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {r["doc_id"]: r for r in media_features(media, fake=False).collect()}
    assert got[99]["media_type"] == "unknown" and got[99]["mean_milli"] is None
    for i, blob in rows[:-1]:
        r = got[i]
        if i % 2 == 0:
            off = struct.unpack_from("<I", blob, 10)[0]
            px = np.frombuffer(blob, dtype=np.uint8, offset=off)
            assert r["media_type"] == "image"
            assert r["mean_milli"] == (1000 * int(px.sum()) + len(px) // 2) // len(px)
        else:
            with wave.open(io.BytesIO(blob)) as w:
                s = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2").astype(np.int64)
            assert r["media_type"] == "audio"
            assert r["n_units"] == len(s)
            assert r["mean_milli"] == (1000 * int(np.abs(s).sum()) + len(s) // 2) // len(s)
            sgn = s >= 0
            assert r["zero_cross"] == int(np.count_nonzero(sgn[1:] != sgn[:-1]))


def test_sample_frames_twin_and_strict(spark):
    import struct

    import numpy as np
    import pytest as _pytest

    from pdfwf_spark.operators.multimodal import (
        CHECKSUM_MOD, make_fake_video, sample_frames,
    )

    rows = [(i, make_fake_video(i)) for i in range(5)] + [(9, b"not video")]
    media = spark.createDataFrame(rows, "doc_id long, content binary")
    got = {}
    for r in sample_frames(media, every_n=2).collect():
        got.setdefault(r["doc_id"], []).append(
            (r["frame_idx"], r["frame_bytes"], r["frame_checksum"])
        )
    assert 9 not in got  # unknown silently skipped
    for i, blob in rows[:-1]:
        n_frames, frame_size = struct.unpack_from(">II", blob, 7)
        body = np.frombuffer(blob, dtype=np.uint8, offset=15)
        want = [
            (f, frame_size,
             int(body[f * frame_size:(f + 1) * frame_size].sum()) % CHECKSUM_MOD)
            for f in range(0, n_frames, 2)
        ]
        assert sorted(got[i]) == want, i
    with _pytest.raises(Exception, match="NotImplementedError|no video codec"):
        sample_frames(media, strict=True).collect()


def test_ivf_kmeans_full_probe_equals_brute_force(spark):
    import numpy as np

    from pdfwf_spark.operators.similarity import cosine_topk, ivf_topk_kmeans

    rng = np.random.RandomState(11)
    # 3 genuine clusters so refined cells mean something
    centers = rng.randn(3, 6) * 4
    vecs = np.vstack([centers[i % 3] + rng.randn(6) * 0.5 for i in range(90)])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(90)],
        "vec_id long, embedding array<float>",
    )
    queries = emb.filter("vec_id < 6")

    # probing every cell == exact brute force (same scoring + ties)
    full = ivf_topk_kmeans(emb, queries, k=4, n_centroids=4, iters=2, n_probe=4)
    brute = cosine_topk(emb, queries, k=4)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))

    # partial probe: well-formed output and decent recall on clustered data
    part = ivf_topk_kmeans(emb, queries, k=4, n_centroids=4, iters=2, n_probe=2)
    got = {(r["q_id"], r["n_id"]) for r in part.collect()}
    want = {(r["q_id"], r["n_id"]) for r in brute.collect()}
    recall = len(got & want) / len(want)
    assert recall >= 0.6, recall


# ---------------------------------------------------------------- bloom resume


def test_bloom_resume_equals_plain_anti_join(spark):
    from pdfwf_spark.operators.lineage import bloom_filter_uncommitted

    inp = spark.range(2000).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        (F.col("id") * 13 % 97).alias("payload"),
    )
    com = spark.range(900).select(
        F.concat(F.lit("d"), (F.col("id") * 2)).alias("doc_id")
    )
    want = inp.join(com, "doc_id", "left_anti")
    for m_bits, k in [(64 * 512, 2), (64, 1), (64 * 4096, 3)]:
        got = bloom_filter_uncommitted(inp, com, "doc_id", m_bits=m_bits, k=k)
        assert got.exceptAll(want).count() == 0, (m_bits, k)
        assert want.exceptAll(got).count() == 0, (m_bits, k)
        assert got.columns == inp.columns


def test_bloom_resume_edge_cases(spark):
    from pdfwf_spark.operators.lineage import bloom_filter_uncommitted

    inp = spark.range(50).select(F.concat(F.lit("d"), F.col("id")).alias("doc_id"))
    # empty committed side: everything passes
    assert bloom_filter_uncommitted(
        inp, inp.limit(0), "doc_id", m_bits=64 * 8
    ).count() == 50
    # fully committed: nothing passes
    assert bloom_filter_uncommitted(inp, inp, "doc_id", m_bits=64 * 8).count() == 0
    # null committed keys are ignored, not matched
    com = spark.createDataFrame([(None,), ("d3",)], "doc_id string")
    assert bloom_filter_uncommitted(inp, com, "doc_id", m_bits=64 * 64).count() == 49
    with pytest.raises(ValueError):
        bloom_filter_uncommitted(inp, inp, "doc_id", m_bits=100)  # not mult of 64
    with pytest.raises(ValueError):
        bloom_filter_uncommitted(inp, inp, "doc_id", k=0)


# ---------------------------------------------------------------- snapshot diff


def test_snapshot_diff_kinds(spark):
    from pdfwf_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", None), (4, "d", 40)],
        "id long, s string, v long",
    )
    new = spark.createDataFrame(
        [(2, "b", 20), (3, "c2", None), (4, "d", None), (5, "e", 50)],
        "id long, s string, v long",
    )
    got = {r["id"]: r["change"] for r in snapshot_diff(old, new, "id").collect()}
    # 1 removed; 2 unchanged (dropped); 3 changed (s); 4 changed
    # (40 -> NULL, null-safely); 5 added
    assert got == {1: "removed", 3: "changed", 4: "changed", 5: "added"}

    withu = snapshot_diff(old, new, "id", include_unchanged=True)
    assert {r["id"]: r["change"] for r in withu.collect()}[2] == "unchanged"


def test_snapshot_diff_subset_columns_and_guards(spark):
    from pdfwf_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame([(1, "a", 10)], "id long, s string, v long")
    new = spark.createDataFrame([(1, "a", 99)], "id long, s string, v long")
    # comparing only s: the v change is invisible
    assert snapshot_diff(old, new, "id", compare_cols=["s"]).count() == 0
    assert snapshot_diff(old, new, "id").count() == 1
    with pytest.raises(ValueError):
        snapshot_diff(old, new.drop("v"), "id")
    with pytest.raises(ValueError):
        snapshot_diff(old, new, "nope")


def test_merge_upsert(spark):
    from pdfwf_spark.operators.diff import merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)],
        "id long, s string, ts long",
    )
    ups = spark.createDataFrame(
        [
            (2, "b2", 25),   # newer -> wins
            (3, "stale", 5), # older -> base wins
            (4, "d", 40),    # insert
            (4, "d2", 41),   # same batch, newer version of same key
        ],
        "id long, s string, ts long",
    )
    got = {r["id"]: (r["s"], r["ts"])
           for r in merge_upsert(base, ups, "id", "ts").collect()}
    assert got == {1: ("a", 10), 2: ("b2", 25), 3: ("c", 30), 4: ("d2", 41)}


def test_merge_upsert_ties_and_tombstones(spark):
    from pdfwf_spark.operators.diff import merge_upsert

    base = spark.createDataFrame([(1, "a", 10), (2, "b", 20)],
                                 "id long, s string, ts long")
    ups = spark.createDataFrame(
        [(1, "a2", 10, False), (2, "gone", 30, True), (5, "x", 1, None)],
        "id long, s string, ts long, deleted boolean",
    )
    out = merge_upsert(base, ups, "id", "ts", delete_col="deleted")
    got = {r["id"]: r["s"] for r in out.collect()}
    # equal ts -> update side wins; tombstone removes id 2;
    # NULL delete flag coalesces to keep
    assert got == {1: "a2", 5: "x"}
    assert out.columns == base.columns

    with pytest.raises(ValueError, match="absent"):
        merge_upsert(base, ups.drop("ts"), "id", "ts")
    with pytest.raises(ValueError, match="lacks"):
        merge_upsert(base, ups.drop("s"), "id", "ts")
    with pytest.raises(ValueError, match="delete_col"):
        merge_upsert(base, ups, "id", "ts", delete_col="typo")


def test_profile_key_skew_and_heavy_keys(spark):
    from pdfwf_spark.operators.partitioning import heavy_keys, profile_key_skew

    # key 'a' holds 6 of 10 rows; keys b..e hold 1 each
    rows = [("a", i) for i in range(6)] + [(k, 0) for k in "bcde"]
    df = spark.createDataFrame(rows, "k string, v int")
    prof = profile_key_skew(df, "k").collect()[0]
    assert (prof["n_rows"], prof["n_keys"], prof["max_key_rows"]) == (10, 5, 6)
    assert prof["skew_milli"] == 3000  # max/mean = 6/2 -> 3000 milli

    top = heavy_keys(df, "k", top_n=2).collect()
    assert [(r["k"], r["n_rows"], r["rank"]) for r in top] == [("a", 6, 1), ("b", 1, 2)]

    with pytest.raises(ValueError, match="absent"):
        profile_key_skew(df, "nope")


# ---------------------------------------------------------------- url canon


def test_canonicalize_url_cases(spark):
    from pdfwf_spark.operators.textstats import canonicalize_url

    cases = [
        ("HTTPS://WWW.Ex.COM:443/a/b/?utm_source=x&b=2&a=1#frag",
         "https://ex.com/a/b?a=1&b=2"),
        ("http://ex.com:80/", "http://ex.com"),
        ("http://ex.com:8080/x", "http://ex.com:8080/x"),   # non-default port kept
        ("https://ex.com/x?fbclid=1&gclid=2&utm_medium=m", "https://ex.com/x"),
        ("https://ex.com", "https://ex.com"),
        ("https://ex.com/?", "https://ex.com"),
        ("https://ex.com/CaseSensitive/Path", "https://ex.com/CaseSensitive/Path"),
        ("https://ex.com/x?z=1&a=2&z=0", "https://ex.com/x?a=2&z=0&z=1"),
        # utm_ anchored by name: a param merely starting with 'utm' stays
        ("https://ex.com/x?utmost=1", "https://ex.com/x?utmost=1"),
        ("http://ex.com:443/x", "http://ex.com:443/x"),     # 443 not http's default
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
    got = [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]
    assert got == [want for _, want in cases]


def test_canonical_url_counts_collapses_variants(spark):
    from pdfwf_spark.operators.textstats import canonical_url_counts

    docs = spark.createDataFrame(
        [
            (1, "see https://WWW.ex.com/p/1/ and http://other.com/q"),
            (2, "dup https://ex.com/p/1?utm_source=tw"),
            (3, "plain https://ex.com/p/1"),
        ],
        "doc_id long, text string",
    )
    got = {r["canonical_url"]: (r["n_urls"], r["n_docs"])
           for r in canonical_url_counts(docs).collect()}
    assert got["https://ex.com/p/1"] == (3, 3)
    assert got["http://other.com/q"] == (1, 1)


def test_strip_boilerplate_lines(spark):
    """Per-group frequent lines drop; unique lines survive in order;
    in-doc duplicates count once toward df but all occurrences drop or
    stay together; groups never cross-contaminate."""
    from pdfwf_spark.operators.textstats import strip_boilerplate_lines

    rows = []
    for d in ("a.com", "b.com"):
        for i in range(4):
            parts = [f"nav {d}", f"body {d} {i}"]
            if d == "a.com" and i < 2:
                parts.append("promo")          # df=2 in a.com only
            if i == 0:
                parts.append(f"body {d} {i}")  # in-doc duplicate
            parts.append(f"footer {d}")
            rows.append((f"{d}/{i}", d, "\n".join(parts)))
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {
        r["doc_id"]: r
        for r in strip_boilerplate_lines(df, min_df=2).collect()
    }
    # banners + promo gone, bodies kept (the duplicate twice, in order)
    assert out["a.com/0"]["clean_text"] == "body a.com 0\nbody a.com 0"
    assert out["a.com/1"]["clean_text"] == "body a.com 1"
    assert out["a.com/3"]["clean_text"] == "body a.com 3"
    assert out["b.com/0"]["clean_text"] == "body b.com 0\nbody b.com 0"
    assert out["a.com/0"]["n_lines"] == 5 and out["a.com/0"]["n_removed"] == 3
    # 'promo' would survive in b.com (df=0 there) — no cross-group leak
    df2 = df.union(
        spark.createDataFrame(
            [("b.com/x", "b.com", "promo\nbody b.com x")],
            "doc_id string, source string, text string",
        )
    )
    out2 = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_lines(df2, min_df=2).collect()
    }
    assert out2["b.com/x"] == "promo\nbody b.com x"


def test_strip_boilerplate_cap_keeps_most_shared(spark):
    """Under a binding cap the df-DESC order retains the MOST shared
    lines; guard rejects min_df < 2."""
    from pdfwf_spark.operators.textstats import strip_boilerplate_lines

    rows = [
        (str(i), "s", "\n".join(
            ["every doc"]                       # df=6
            + (["most docs"] if i < 4 else [])  # df=4
            + (["two docs"] if i < 2 else [])   # df=2
            + [f"body {i}"]
        ))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id string, source string, text string")
    out = {
        r["doc_id"]: r["clean_text"]
        for r in strip_boilerplate_lines(
            df, min_df=2, max_lines_per_group=2
        ).collect()
    }
    # cap=2 keeps {every doc, most docs} in the blocklist; 'two docs' survives
    assert out["0"] == "two docs\nbody 0"
    assert out["5"] == "body 5"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_df"):
        strip_boilerplate_lines(df, min_df=1)


def test_semdedup_pairs_within_cells_only(spark):
    """semdedup_pairs must emit exactly the above-threshold cosine
    pairs whose two vectors share a k-means cell — verified against a
    brute-force recomputation over the operator's own assignment."""
    import numpy as np

    from pdfwf_spark.operators.similarity import (
        kmeans_cluster, semdedup_pairs,
    )

    rng = np.random.RandomState(11)
    base = rng.randn(8, 6).astype("float32")
    # 40 vectors in 8 tight clumps -> plenty of high-cosine pairs that
    # land in the same Lloyd's cell
    vecs = np.vstack([
        base[i % 8] + 0.01 * rng.randn(6).astype("float32") for i in range(40)
    ]).astype("float32")
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    ).repartition(5)

    thr = 900
    got = {
        (r["l_id"], r["r_id"], r["cell"], r["cos_milli"])
        for r in semdedup_pairs(
            emb, k=8, iters=2, threshold_milli=thr, max_cell=None
        ).collect()
    }
    assert got, "clumped fixture must produce within-cell near-dups"

    a_df, _ = kmeans_cluster(emb, k=8, iters=2)
    cell = {r["vec_id"]: r["cluster"] for r in a_df.collect()}
    v = vecs.astype("float64")
    nrm = np.sqrt((v * v).sum(axis=1))
    want = set()
    for i in range(40):
        for j in range(i + 1, 40):
            if cell[i] != cell[j]:
                continue
            cm = int(np.round(1000 * float(v[i] @ v[j]) / (nrm[i] * nrm[j])))
            if cm >= thr:
                want.add((i, j, cell[i], cm))
    assert got == want


def test_semdedup_prune_greedy_keeps_lowest_id(spark):
    """The greedy rule: any id on the GREATER side of a pair is
    dropped; lowest id of each dup set always survives."""
    from pdfwf_spark.operators.similarity import semdedup_prune

    emb = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(6)],
        "vec_id long, embedding array<float>",
    )
    pairs = spark.createDataFrame(
        [(0, 3, 0, 999), (3, 4, 0, 999), (1, 5, 2, 950)],
        "l_id long, r_id long, cell int, cos_milli int",
    )
    kept = sorted(r["vec_id"] for r in semdedup_prune(emb, pairs).collect())
    # 3, 4, 5 appear as r_id -> dropped; 0, 1, 2 survive
    assert kept == [0, 1, 2]


def test_semdedup_hot_cell_cap_bounds_pairs(spark):
    """max_cell engages dedup.cap_hot_groups: a cell over the cap
    contributes NO pairs (drop mode), cells under it are untouched."""
    import numpy as np

    from pdfwf_spark.operators.similarity import semdedup_pairs

    rng = np.random.RandomState(5)
    a = rng.randn(6).astype("float64")
    b = -a
    # ids 0..29 clump around a (hot cell), 30..33 clump around b
    vecs = [a + 0.01 * rng.randn(6) for _ in range(30)]
    vecs += [b + 0.01 * rng.randn(6) for _ in range(4)]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(34)],
        "vec_id long, embedding array<float>",
    )
    capped = semdedup_pairs(emb, k=2, iters=2, threshold_milli=900, max_cell=10)
    uncapped = semdedup_pairs(
        emb, k=2, iters=2, threshold_milli=900, max_cell=None
    )
    got = {(r["l_id"], r["r_id"]) for r in capped.collect()}
    full = {(r["l_id"], r["r_id"]) for r in uncapped.collect()}
    small_cell = {(l, r) for l, r in full if l >= 30 and r >= 30}
    assert small_cell, "small clump must have pairs"
    assert got == small_cell  # hot cell dropped, small cell intact


def _py_mitchell(v: int) -> int:
    """Python twin of selection.mitchell_log2_milli (HALF_UP round —
    the frac term is always >= 0 so floor(x+0.5) matches F.round)."""
    import math

    L = v.bit_length()
    p = 1 << (L - 1)
    return 1000 * (L - 1) + math.floor(1000.0 * (v - p) / p + 0.5)


def test_mitchell_log2_milli_matches_python(spark):
    from pdfwf_spark.operators.selection import mitchell_log2_milli
    import pyspark.sql.functions as F

    vals = [1, 2, 3, 5, 11, 100, 1023, 1024, 1025, 6_000_000_000]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {
        r["v"]: r["m"]
        for r in df.select("v", mitchell_log2_milli(F.col("v")).alias("m")).collect()
    }
    assert got == {v: _py_mitchell(v) for v in vals}
    # the approximation is exact at powers of two and ~log2 elsewhere
    assert got[1024] == 10_000 and got[1] == 0


def _py_dsir_bucket(g: str, buckets: int) -> int:
    import hashlib

    return int(hashlib.md5(("dsir#" + g).encode()).hexdigest()[:8], 16) % buckets


def _py_grams(text: str) -> list:
    toks = text.lower().strip().split()
    return toks + [toks[i] + " " + toks[i + 1] for i in range(len(toks) - 1)]


def test_dsir_scores_brute_force(spark):
    """End-to-end DSIR vs a hashlib/pure-python recomputation: fit on
    lang='en' target vs all-docs raw, score every doc (including an
    empty one, which must survive with (0, 0))."""
    from pdfwf_spark.operators.selection import dsir_fit, dsir_scores

    rows = [
        (0, "the quick brown fox jumps", "en"),
        (1, "the quick brown dog sleeps", "en"),
        (2, "el rapido zorro marron salta", "es"),
        (3, "le renard brun rapide saute", "fr"),
        (4, "the quick zorro", "es"),
        (5, "", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 64
    lr_df = dsir_fit(docs.filter("lang = 'en'"), docs, n_buckets=B)
    got = {
        r["doc_id"]: (r["n_grams"], r["dsir_milli"])
        for r in dsir_scores(docs, lr_df, n_buckets=B).collect()
    }

    tc, rc = {}, {}
    for _, text, lang in rows:
        for g in _py_grams(text):
            b = _py_dsir_bucket(g, B)
            rc[b] = rc.get(b, 0) + 1
            if lang == "en":
                tc[b] = tc.get(b, 0) + 1
    tt, rt = sum(tc.values()) + B, sum(rc.values()) + B
    lr = {
        b: _py_mitchell(tc.get(b, 0) + 1)
        - _py_mitchell(tt)
        - _py_mitchell(rc.get(b, 0) + 1)
        + _py_mitchell(rt)
        for b in range(B)
    }
    want = {}
    for doc_id, text, _ in rows:
        gs = _py_grams(text)
        want[doc_id] = (len(gs), sum(lr[_py_dsir_bucket(g, B)] for g in gs))
    assert got == want
    assert got[5] == (0, 0)

    # the ratio table itself: dense over all B buckets, matches python
    got_lr = {r["bucket"]: r["lr_milli"] for r in lr_df.collect()}
    assert got_lr == lr
    # english-heavy docs must outscore non-english ones here
    assert got[0][1] > got[2][1] and got[1][1] > got[3][1]


def test_dsir_select_exact_percentile_threshold(spark):
    """dsir_select keeps exactly the rows >= the type-7 q-quantile of
    the score column (numpy's default quantile), never shuffling the
    corpus for the selection itself."""
    import numpy as np

    from pdfwf_spark.operators.selection import dsir_select

    scores = [-40, -10, -5, 0, 3, 3, 7, 12, 25, 90]
    scored = spark.createDataFrame(
        [(i, 10, s) for i, s in enumerate(scores)],
        "doc_id long, n_grams long, dsir_milli long",
    ).repartition(4)
    got = sorted(r["doc_id"] for r in dsir_select(scored, q=0.7).collect())
    thr = float(np.quantile(np.array(scores, dtype="float64"), 0.7))
    want = sorted(
        i for i, s in enumerate(scores) if s * 1000 >= round(thr * 1000)
    )
    assert got == want and 0 < len(got) < len(scores)


def test_lm_scores_brute_force(spark):
    """CCNet-style LM score vs pure-python recomputation: avg Mitchell
    milli log2-prob under the en-target model; empty doc -> (0, None)."""
    from pdfwf_spark.operators.selection import (
        lm_log_prob, lm_scores, ngram_bucket_counts,
    )

    rows = [
        (0, "the quick brown fox jumps", "en"),
        (1, "the quick brown dog sleeps", "en"),
        (2, "el rapido zorro marron salta", "es"),
        (3, "the quick zorro", "es"),
        (4, "", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    B = 64
    lp_df = lm_log_prob(
        ngram_bucket_counts(docs.filter("lang = 'en'"), n_buckets=B), B
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["lm_milli"])
        for r in lm_scores(docs, lp_df, n_buckets=B).collect()
    }

    tc = {}
    for _, text, lang in rows:
        if lang != "en":
            continue
        for g in _py_grams(text):
            b = _py_dsir_bucket(g, B)
            tc[b] = tc.get(b, 0) + 1
    tot = sum(tc.values()) + B
    lp = {
        b: _py_mitchell(tc.get(b, 0) + 1) - _py_mitchell(tot) for b in range(B)
    }
    import math

    want = {}
    for doc_id, text, _ in rows:
        gs = _py_grams(text)
        if not gs:
            want[doc_id] = (0, None)
            continue
        s = sum(lp[_py_dsir_bucket(g, B)] for g in gs)
        m = s / len(gs)  # negative -> HALF_UP rounds away from zero
        want[doc_id] = (len(gs), math.floor(m + 0.5) if m >= 0
                        else -math.floor(-m + 0.5))
    assert got == want
    assert got[4] == (0, None)
    # in-model docs must be less perplexing than out-of-model ones
    assert got[0][1] > got[2][1]
