"""Deterministic synthetic transcripts generator.

The reference ships no fixture corpus (its only automated test is a
version check, reference tests/pdfwf_test.py:1-7), so we synthesize:
transcripts with the exact input_hint shape
(conv_id, turn_idx, role, text, tool, ts), payload mix per FIXTURES.md
(~45% html, ~35% pdfish, ~15% plain/meta, ~5% broken), Zipf-skewed
conversation sizes with occasional mega-conversations (exercises
per-turn staging/AQE), rows emitted in shuffled order (proves the ordering
window), and deliberate (turn_idx, ts) ties (forces a total-order
tiebreak).

Everything is a pure function of (conv_id, seed) so the SAME rows can
be produced driver-side for unit tests and distributed (per-conv
inside mapInPandas) for multi-million-turn bench runs — no wall-clock,
no network.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone

VOCAB = (
    "attention transformer gradient tensor matrix kernel entropy vector "
    "sequence layer token embedding batch epoch learning model data graph "
    "query key value network residual norm dropout linear softmax scale "
    "spark shuffle partition executor catalyst arrow lineage checkpoint"
).split()

BOILER_WORDS = "home about contact login subscribe privacy terms sitemap careers press".split()

ROLES = ("user", "assistant", "tool")

BASE_TS = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _words(rng: random.Random, n: int) -> str:
    return " ".join(rng.choice(VOCAB) for _ in range(n))


def _sentence(rng: random.Random) -> str:
    return _words(rng, rng.randint(5, 14)).capitalize() + "."


def _paragraph(rng: random.Random) -> str:
    return " ".join(_sentence(rng) for _ in range(rng.randint(2, 5)))


# ---------------------------------------------------------------- payloads

def make_html(rng: random.Random) -> str:
    title = _words(rng, rng.randint(3, 6))
    nav = " ".join(
        f'<a href="/{w}">{w}</a>' for w in rng.sample(BOILER_WORDS, 4)
    )
    paras = "\n".join(f"<p>{_paragraph(rng)}</p>" for _ in range(rng.randint(2, 5)))
    extras = []
    if rng.random() < 0.3:
        extras.append("<!-- build: 42 -->")
    if rng.random() < 0.3:
        extras.append("<p>Fish &amp; chips &lt;3 &#38; more</p>")
    if rng.random() < 0.2:
        extras.append(f"<p>unclosed paragraph {_words(rng, 5)}")
    if rng.random() < 0.3:
        extras.append(f"<script>var x = {rng.randint(0, 99)};</script>")
    sidebar = " ".join(f'<a href="#{w}">{w}</a>' for w in rng.sample(VOCAB, 5))
    content_cls = rng.choice(["article", "post", "content", "entry-content"])
    return (
        "<!doctype html><html><head><title>{t}</title>"
        "<style>body{{margin:0}}</style></head><body>"
        '<div class="nav">{nav}</div>'
        '<header><h1>{t}</h1></header>'
        '<div class="cookie-banner">We use cookies. <a href="#">Accept</a></div>'
        '<div class="{cls}">{paras}{extras}</div>'
        '<aside class="sidebar">{sidebar}</aside>'
        '<footer>&copy; 2025 {foot}</footer>'
        "</body></html>"
    ).format(
        t=title, nav=nav, cls=content_cls, paras=paras,
        extras="".join(extras), sidebar=sidebar,
        foot=" ".join(rng.sample(BOILER_WORDS, 3)),
    )


def make_pdfish(rng: random.Random) -> str:
    lines = ["%PDFISH1"]
    n_pages = rng.randint(1, 3)
    for page in range(1, n_pages + 1):
        lines.append(f"PAGE {page} 612 792")
        two_col = rng.random() < 0.5
        if page == 1:
            lines.append(f"BLOCK 100 40 500 60 title|{_words(rng, 5)}")
            lines.append(f"BLOCK 100 65 500 80 author|{_words(rng, 3)}")
            if rng.random() < 0.5:
                lines.append("BLOCK 100 85 500 95 date|2025-01-15")
            if rng.random() < 0.25:
                # equation block (F6): raw latex lands in meta['equations']
                a, b = rng.choice(VOCAB), rng.choice(VOCAB)
                lines.append(
                    f"BLOCK 100 98 500 112 equation|\\frac{{{a}}}{{{b}}} + \\alpha"
                )
        blocks = []
        n_body = rng.randint(3, 7)
        for i in range(n_body):
            if two_col:
                col_x = 60 if i % 2 == 0 else 330
            else:
                col_x = 100
            y0 = 120 + (i // (2 if two_col else 1)) * 90
            blocks.append(
                (col_x, y0, f"BLOCK {col_x} {y0} {col_x + 220} {y0 + 70} text|{_paragraph(rng)}")
            )
        if rng.random() < 0.25 and blocks:
            # overlapping duplicate block -> NMS dedup target
            x, y, _line = blocks[0]
            blocks.append((x + 4, y + 4, f"BLOCK {x + 4} {y + 4} {x + 200} {y + 66} text|dup {_words(rng, 3)}"))
        if rng.random() < 0.3:
            # conf-bearing blocks (P5): one above and one below the
            # 0.6 threshold — the low-conf block must never appear
            conf_hi, conf_lo = rng.choice(["0.95", "0.7"]), rng.choice(["0.3", "0.55"])
            y = 600
            blocks.append((100, y, f"BLOCK 100 {y} 320 {y + 40} {conf_hi} text|{_sentence(rng)}"))
            blocks.append((100, y + 50, f"BLOCK 100 {y + 50} 320 {y + 90} {conf_lo} text|lowconf {_words(rng, 4)}"))
        if rng.random() < 0.3:
            lines_extra = f"BLOCK 100 760 500 780 footer|page {page}"
            blocks.append((100, 760, lines_extra))
        rng.shuffle(blocks)  # scrambled emission order
        lines.extend(b[2] for b in blocks)
        if rng.random() < 0.1:
            lines.append(f"PAGE {page + n_pages} 612 792")  # empty page
    return "\n".join(lines)


def make_plain(rng: random.Random) -> str:
    paras = [_paragraph(rng) for _ in range(rng.randint(2, 4))]
    sep = ["\n\n\n", "\n\n\n\n", "\n\n"]
    out = rng.choice(["", "\n\n"])
    for p in paras:
        out += p + rng.choice(sep)
    return out


def make_meta(rng: random.Random) -> str:
    body = make_plain(rng)
    doi = f"10.{rng.randint(1000, 9999)}/j.{rng.choice(VOCAB)}.{rng.randint(100, 999)}"
    doi_style = rng.choice([f"doi:{doi}", f"doi: {doi}", f"https://doi.org/{doi}"])
    parts = [f"See {doi_style} for details.", body]
    if rng.random() < 0.6:
        # long subject -> abstract (>580-char threshold, pymupdf.py:34)
        subject = _words(rng, rng.choice([40, 120]))
        while len(subject) <= 600 and rng.random() < 0.8:
            subject += " " + _words(rng, 40)
        parts.insert(0, f"Subject: {subject}")
    return "\n".join(parts)


def make_broken(rng: random.Random) -> str:
    kind = rng.randint(0, 2)
    if kind == 0:
        return "%PDFISH1\nBLOCK 1 2 3 4 text|orphan block no page"
    if kind == 1:
        return f"%PDFISH1\ngarbage {_words(rng, 3)} \x00\x01"  # garbage before PAGE
    return "   \t \n  "  # whitespace-only -> empty


FAMILIES = ("html", "pdfish", "plain", "meta", "broken")
_MAKERS = {
    "html": make_html, "pdfish": make_pdfish, "plain": make_plain,
    "meta": make_meta, "broken": make_broken,
}
# cumulative mix per FIXTURES.md §2
_MIX = ((0.45, "html"), (0.80, "pdfish"), (0.88, "plain"), (0.95, "meta"), (1.0, "broken"))


def pick_family(rng: random.Random) -> str:
    r = rng.random()
    for cutoff, fam in _MIX:
        if r < cutoff:
            return fam
    return "broken"


# ---------------------------------------------------------------- rows

def conv_size(conv_idx: int, rng: random.Random, mega_every: int, mega_turns: int) -> int:
    if mega_every and conv_idx % mega_every == mega_every - 1:
        return mega_turns  # mega-conversation (skew driver)
    return rng.randint(2, 20)


def gen_conv_rows(
    conv_idx: int,
    seed: int,
    mega_every: int = 200,
    mega_turns: int = 2000,
) -> list[dict]:
    """All rows of one conversation — pure function of (conv_idx, seed).

    Returned in turn order; callers shuffle globally. Some turns share
    (turn_idx, ts) with the next row (tie -> total-order tiebreak).
    """
    rng = random.Random((seed << 20) ^ conv_idx)
    conv_id = f"conv-{conv_idx:08d}"
    n_turns = conv_size(conv_idx, rng, mega_every, mega_turns)
    base = BASE_TS + timedelta(seconds=conv_idx * 977 % 10_000_000)
    rows: list[dict] = []
    t_off = 0
    turn_idx = 0
    i = 0
    while i < n_turns:
        fam = pick_family(rng)
        payload = _MAKERS[fam](rng)
        role = ROLES[i % 3]
        in_tool = role == "tool" and rng.random() < 0.5
        ts = base + timedelta(seconds=t_off)
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": turn_idx,
                "role": role,
                "text": "" if in_tool else payload,
                "tool": payload if in_tool else "",
                "ts": ts,
                "_family": fam,
            }
        )
        i += 1
        if rng.random() < 0.05 and i < n_turns:
            # duplicate (turn_idx, ts): same key, different role/payload
            fam2 = pick_family(rng)
            rows.append(
                {
                    "conv_id": conv_id,
                    "turn_idx": turn_idx,
                    "role": ROLES[(i + 1) % 3],
                    "text": _MAKERS[fam2](rng),
                    "tool": "",
                    "ts": ts,
                    "_family": fam2,
                }
            )
            i += 1
        turn_idx += 1
        t_off += rng.randint(1, 120)
    return rows


def gen_transcripts(
    n_convs: int,
    seed: int = 42,
    mega_every: int = 200,
    mega_turns: int = 2000,
    shuffle: bool = True,
) -> list[dict]:
    """Driver-side corpus (tiny/small scales). Shuffled write order."""
    rows: list[dict] = []
    for c in range(n_convs):
        rows.extend(gen_conv_rows(c, seed, mega_every, mega_turns))
    if shuffle:
        random.Random(seed ^ 0x5EED).shuffle(rows)
    return rows
