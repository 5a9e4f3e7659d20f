"""Seeded workload generators for the end-to-end benchmark.

Kept inside the benchmark (no import of the package's own fixtures) so
that a change to the program cannot change what the benchmark feeds it.
Every generator is a pure function of its seed and its PARAMS entry.

Payload families follow FIXTURES.md: html pages with boilerplate around
a content block, ``%PDFISH1`` page streams with scrambled block order,
plain prose with messy blank lines, meta-bearing prose (DOI + long
subject line) and broken payloads the parsers must reject.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

#: generator parameters, recorded in METRICS.md; change them only in a
#: change that re-measures the baseline
PARAMS = {
    "transcripts_mixed": {
        "n_turns": 4500,
        "zipf_a": 1.0,
        "max_conv_turns": 80,
        "mega_convs": 2,
        "mega_turns": 700,
        "tie_share": 0.05,
        "tool_payload_in_tool_col": 0.5,
        "tool_mix": {"html": 0.45, "pdfish": 0.35, "plain": 0.08, "meta": 0.07, "broken": 0.05},
        "long_tool_share": 0.005,
        "long_tool_kb": [50, 400],
    },
    "neardup_docs": {
        "n_docs": 700,
        "vocab_size": 3000,
        "doc_tokens": [120, 320],
        "n_clusters": 40,
        "cluster_zipf_a": 1.0,
        "max_cluster": 30,
        "boilerplate_share": 0.3,
        "pii_share": 0.08,
        "lowq_share": 0.05,
        "repetitive_share": 0.04,
    },
}

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)

_SYLL = ("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "da", "fe",
         "gu", "hi", "jo", "qu", "be", "xo", "wy", "ci")
STOPWORDS = ("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")
BOILER = "home about contact login subscribe privacy terms sitemap careers press".split()


def _vocab(rng: random.Random, n: int) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLL) for _ in range(rng.randint(2, 4))))
    return sorted(words)


class _Text:
    """Prose from a seeded vocabulary, with English stopwords mixed in
    so quality and language scoring see real-looking sentences."""

    def __init__(self, rng: random.Random, vocab_size: int = 800):
        self.rng = rng
        self.vocab = _vocab(rng, vocab_size)

    def words(self, n: int) -> list[str]:
        r = self.rng
        return [r.choice(STOPWORDS) if r.random() < 0.25 else r.choice(self.vocab)
                for _ in range(n)]

    def sentence(self) -> str:
        return " ".join(self.words(self.rng.randint(6, 16))).capitalize() + "."

    def paragraph(self, n: int | None = None) -> str:
        return " ".join(self.sentence() for _ in range(n or self.rng.randint(2, 5)))


# ------------------------------------------------------------ payloads

def html_page(t: _Text, n_paras: int) -> str:
    r = t.rng
    title = " ".join(t.words(4))
    nav = " ".join(f'<a href="/{w}">{w}</a>' for w in r.sample(BOILER, 4))
    paras = []
    for _ in range(n_paras):
        p = t.paragraph()
        if r.random() < 0.2:
            p += " Fish &amp; chips &lt;3 &#38; more"
        if r.random() < 0.15:
            p = f"<span>{p}</span> <em>{' '.join(t.words(3))}</em>"
        paras.append(f"<p>{p}</p>")
    if r.random() < 0.3:
        paras.append("<!-- build 42 -->")
    if r.random() < 0.2:
        paras.append(f"<p>unclosed {' '.join(t.words(5))}")
    if r.random() < 0.3:
        paras.append(f"<script>var x = {r.randint(0, 99)};</script>")
    side = " ".join(f'<a href="#{w}">{w}</a>' for w in t.words(5))
    cls = r.choice(["article", "post", "content", "entry-content"])
    return (
        f"<!doctype html><html><head><title>{title}</title>"
        "<style>body{margin:0}</style></head><body>"
        f'<div class="nav">{nav}</div><header><h1>{title}</h1></header>'
        '<div class="cookie-banner">We use cookies. <a href="#">Accept</a></div>'
        f'<div class="{cls}">{"".join(paras)}</div>'
        f'<aside class="sidebar">{side}</aside>'
        f"<footer>&copy; 2025 {' '.join(r.sample(BOILER, 3))}</footer></body></html>"
    )


def _pdfish_page(t: _Text, page: int, n_body: int, dense: bool) -> list[str]:
    r = t.rng
    lines = [f"PAGE {page} 612 792"]
    if page == 1:
        lines.append(f"BLOCK 100 40 500 60 title|{' '.join(t.words(5))}")
        lines.append(f"BLOCK 100 65 500 80 author|{' '.join(t.words(3))}")
        if r.random() < 0.5:
            lines.append("BLOCK 100 85 500 95 date|2025-01-15")
    blocks = []
    if dense:
        # a grid of small non-overlapping blocks: the layout pass sees
        # hundreds of candidates on one page
        cols = 6
        for i in range(n_body):
            x0 = 40 + (i % cols) * 90
            y0 = 100 + (i // cols) * 12
            blocks.append(f"BLOCK {x0} {y0} {x0 + 80} {y0 + 10} text|{' '.join(t.words(r.randint(3, 8)))}")
    else:
        two_col = r.random() < 0.5
        for i in range(n_body):
            x0 = (60 if i % 2 == 0 else 330) if two_col else 100
            y0 = 120 + (i // (2 if two_col else 1)) * 90
            blocks.append(f"BLOCK {x0} {y0} {x0 + 220} {y0 + 70} text|{t.paragraph()}")
        if r.random() < 0.25:
            blocks.append(f"BLOCK {x0 + 4} {y0 + 4} {x0 + 200} {y0 + 66} text|dup {' '.join(t.words(3))}")
        if r.random() < 0.3:
            blocks.append(f"BLOCK 100 600 320 640 0.95 text|{t.sentence()}")
            blocks.append(f"BLOCK 100 650 320 690 0.3 text|lowconf {' '.join(t.words(4))}")
    if r.random() < 0.3:
        blocks.append(f"BLOCK 100 760 500 780 footer|page {page}")
    r.shuffle(blocks)
    lines.extend(blocks)
    return lines


def pdfish_doc(t: _Text, n_pages: int, dense_page: int = 0, dense_blocks: int = 250) -> str:
    """``n_pages`` pages of 3-7 blocks; page ``dense_page`` (if any) is a
    grid of ``dense_blocks`` blocks. One in ten ends with an empty page."""
    r = t.rng
    lines = ["%PDFISH1"]
    for page in range(1, n_pages + 1):
        dense = page == dense_page
        lines.extend(_pdfish_page(t, page, dense_blocks if dense else r.randint(3, 7), dense))
    if r.random() < 0.1:
        lines.append(f"PAGE {n_pages + 1} 612 792")
    return "\n".join(lines)


def plain_text(t: _Text) -> str:
    r = t.rng
    out = r.choice(["", "\n\n"])
    for _ in range(r.randint(2, 4)):
        out += t.paragraph() + r.choice(["\n\n\n", "\n\n\n\n", "\n\n"])
    return out


def meta_text(t: _Text) -> str:
    r = t.rng
    doi = f"10.{r.randint(1000, 9999)}/j.{r.choice(t.vocab)}.{r.randint(100, 999)}"
    parts = [f"See {r.choice([f'doi:{doi}', f'doi: {doi}', f'https://doi.org/{doi}'])} for details.",
             plain_text(t)]
    if r.random() < 0.6:
        parts.insert(0, "Subject: " + " ".join(t.words(r.choice([40, 130]))))
    return "\n".join(parts)


def broken(t: _Text) -> str:
    k = t.rng.randint(0, 2)
    if k == 0:
        return "%PDFISH1\nBLOCK 1 2 3 4 text|orphan block no page"
    if k == 1:
        return f"%PDFISH1\ngarbage {' '.join(t.words(3))} \x00\x01"
    return "   \t \n  "


def chat(t: _Text) -> str:
    return " ".join(t.sentence() for _ in range(t.rng.randint(1, 3)))


# ---------------------------------------------------------- transcripts

def _row(conv_id, turn_idx, role, text, tool, ts):
    return {"conv_id": conv_id, "turn_idx": turn_idx, "role": role,
            "text": text, "tool": tool, "ts": ts}


def _exact(r: random.Random, counts: dict[str, int]) -> list[str]:
    """Each key exactly ``counts[key]`` times, in seeded order: seeds
    change the content, never the composition, so every seed asks for
    the same amount of work."""
    out = [k for k, n in counts.items() for _ in range(n)]
    r.shuffle(out)
    return out


def _shares(total: int, shares: dict[str, float]) -> dict[str, int]:
    counts = {k: int(total * v) for k, v in shares.items()}
    first = next(iter(shares))
    counts[first] += total - sum(counts.values())
    return counts


def conv_sizes(p: dict) -> list[int]:
    """Rank-size (Zipf) conversation sizes summing to n_turns minus the
    tie rows: a few mega conversations, then sizes falling from
    max_conv_turns to 2."""
    budget = p["n_turns"] - int(p["n_turns"] * p["tie_share"])
    sizes = [p["mega_turns"]] * p["mega_convs"]
    i = 0
    while sum(sizes) < budget:
        sizes.append(max(2, int(p["max_conv_turns"] / (1 + i / 10) ** p["zipf_a"])))
        i += 1
    sizes[-1] -= sum(sizes) - budget
    return [n for n in sizes if n > 0]


def transcripts_mixed(seed: int) -> list[dict]:
    """Chat transcripts of exactly ``n_turns`` rows: short user/assistant
    turns, tool turns carrying the payload families (a few of them long
    papers or pages); Zipf conversation sizes plus mega conversations,
    (turn_idx, ts) ties, shuffled row order."""
    p = PARAMS["transcripts_mixed"]
    r = random.Random(seed * 7919 + 1)
    t = _Text(r)
    makers = {"html": lambda: html_page(t, r.randint(2, 5)),
              "pdfish": lambda: pdfish_doc(t, r.randint(1, 3)),
              "plain": lambda: plain_text(t), "meta": lambda: meta_text(t),
              "broken": lambda: broken(t)}
    # the shape -- conversation ids and sizes, which slot carries which
    # family, the long payload sizes, the ties -- comes from a fixed
    # generator; only the text depends on the seed. Every seed hashes the
    # same conversations into the same buckets and shuffle partitions
    # with nearly the same bytes, so the write fans out to the same
    # number of files
    shape = random.Random(7919)
    sizes = conv_sizes(p)
    slots = [(c, i) for c, n in enumerate(sizes) for i in range(n)]
    n_tool = sum(1 for _, i in slots if i % 3 == 2)
    n_long = max(1, round(n_tool * p["long_tool_share"]))
    fams = _exact(shape, {"long": n_long, **_shares(n_tool - n_long, p["tool_mix"])})
    lo, hi = p["long_tool_kb"]
    long_kb = [lo * (hi / lo) ** ((j + 0.5) / n_long) for j in range(n_long)]
    shape.shuffle(long_kb)
    ties = set(shape.sample(range(len(slots)), p["n_turns"] - len(slots)))
    in_tool = [shape.random() < p["tool_payload_in_tool_col"] for _ in slots]
    rows: list[dict] = []
    conv_ts: dict[int, datetime] = {}
    for k, (c, turn_idx) in enumerate(slots):
        conv_id = f"conv-{c:05d}"
        ts = conv_ts.get(c) or BASE_TS + timedelta(seconds=r.randint(0, 10_000_000))
        role = ("user", "assistant", "tool")[turn_idx % 3]
        if role == "tool":
            fam = fams.pop()
            if fam == "long":
                payload = long_payload(t, long_kb.pop(), pdfish=len(long_kb) % 2 == 0)
            else:
                payload = makers[fam]()
            rows.append(_row(conv_id, turn_idx, role, "" if in_tool[k] else payload,
                             payload if in_tool[k] else "", ts))
        else:
            rows.append(_row(conv_id, turn_idx, role, chat(t), "", ts))
        if k in ties:
            # same (turn_idx, ts), another role: the ordering window
            # must break the tie on the payload hash
            rows.append(_row(conv_id, turn_idx, r.choice(("user", "assistant")), chat(t), "", ts))
        conv_ts[c] = ts + timedelta(seconds=r.randint(1, 120))
    r.shuffle(rows)
    return rows


def long_payload(t: _Text, kb: float, pdfish: bool) -> str:
    """A multi-page pdfish paper with one dense page, or a long HTML
    page, of about ``kb`` KB."""
    if pdfish:
        n_pages = max(1, int(kb * 1024 / 2200))  # ~2.2 KB per ordinary page
        return pdfish_doc(t, n_pages, dense_page=t.rng.randrange(n_pages) + 1)
    return html_page(t, max(2, int(kb * 1024 / 420)))


# ------------------------------------------------------------- documents

def neardup_docs(seed: int) -> tuple[list[dict], dict]:
    """Documents with planted near-duplicate clusters of Zipf sizes, a
    shared boilerplate footer on a share of them, PII-bearing,
    low-quality and repetitive documents mixed in.

    Returns (rows, truth): truth["clusters"] lists the doc_ids of each
    planted cluster (the first is the original), truth["dropped"] the
    ids the quality and repetition floors must remove, truth["pii"] the
    ids that carry PII."""
    p = PARAMS["neardup_docs"]
    r = random.Random(seed * 15485863 + 3)
    t = _Text(r, p["vocab_size"])
    footer = ("This page is part of the archive home about contact privacy "
              "terms and all content is provided as is for the reader of the "
              "archive and may be updated without notice by the editors")

    def good_doc(with_footer: bool) -> str:
        n = r.randint(*p["doc_tokens"])
        words = t.words(n)
        # line breaks every ~12-20 words: docs are multi-line like real
        # extracted text, and no line repeats
        lines, i = [], 0
        while i < len(words):
            k = r.randint(12, 20)
            lines.append(" ".join(words[i:i + k]))
            i += k
        text = "\n".join(lines)
        if with_footer:
            text += "\n" + footer
        return text

    def variant(text: str, edit: bool) -> str:
        # case and whitespace changes leave the shingle set unchanged;
        # one substituted word changes at most three shingles
        toks = text.split(" ")
        if edit:
            toks[r.randrange(len(toks))] = r.choice(t.vocab)
        i = r.randrange(len(toks))
        toks[i] = toks[i].upper()
        return "  ".join(toks[:3]) + " " + " ".join(toks[3:])

    # rank-size cluster sizes and exact kind counts: every seed plants
    # the same number of duplicates and filtered documents
    sizes = [max(1, int(p["max_cluster"] / (1 + i) ** p["cluster_zipf_a"]))
             for i in range(p["n_clusters"])]
    n_base = p["n_docs"] - sum(sizes)
    kinds = _exact(r, _shares(n_base, {"good": 1.0, "lowq": p["lowq_share"],
                                       "rep": p["repetitive_share"], "pii": p["pii_share"]}))
    footers = set(r.sample(range(n_base), int(n_base * p["boilerplate_share"])))
    docs: list[str] = []
    kind: list[str] = []
    for i, k in enumerate(kinds):
        if k == "lowq":
            # long punctuation-heavy tokens, no stopwords: scores under
            # the quality floor and has no language marker
            docs.append(" ".join(f"{r.choice(t.vocab)}{r.choice(t.vocab)}{r.choice(t.vocab)};:;,"
                                 for _ in range(r.randint(40, 90))))
        elif k == "rep":
            a, b = r.sample(t.vocab, 2)
            docs.append(" ".join(t.words(20)) + " " + " ".join(f"the {a} {b}" for _ in range(60)))
        elif k == "pii":
            d = good_doc(i in footers).split("\n")
            d.insert(1, f"contact {r.choice(t.vocab)}.{r.choice(t.vocab)}@example.org or "
                        f"call 555-{r.randint(100, 999)}-{r.randint(1000, 9999)} "
                        f"from 10.{r.randint(0, 255)}.{r.randint(0, 255)}.{r.randint(1, 254)}")
            docs.append("\n".join(d))
        else:
            docs.append(good_doc(i in footers))
        kind.append(k)

    good_ids = [i for i, k in enumerate(kind) if k == "good"]
    originals = r.sample(good_ids, p["n_clusters"])
    rows_text = list(docs)
    clusters = []
    for o, size in zip(originals, sizes):
        members = [o]
        for j in range(size):
            # the first copy of every cluster only changes case and
            # spacing, so each cluster has one certain link to its
            # original; the rest also substitute one word
            rows_text.append(variant(docs[o], edit=j > 0))
            members.append(len(rows_text) - 1)
        clusters.append(members)

    # doc ids are a seeded permutation, so the keeper (min id) is not
    # always the original
    ids = list(range(1, len(rows_text) + 1))
    r.shuffle(ids)
    rows = [{"doc_id": ids[i], "text": rows_text[i]} for i in range(len(rows_text))]
    order = list(range(len(rows)))
    r.shuffle(order)
    rows = [rows[i] for i in order]
    truth = {
        "clusters": [[ids[m] for m in c] for c in clusters],
        "dropped": sorted(ids[i] for i, k in enumerate(kind) if k in ("lowq", "rep")),
        "pii": sorted(ids[i] for i, k in enumerate(kind) if k == "pii"),
    }
    return rows, truth
