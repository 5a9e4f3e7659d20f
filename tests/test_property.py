"""Property-based robustness: the extraction core must never crash on
arbitrary input — failures surface as parse_status='failed', mirroring
the reference's @exception_handler contract (utils.py:92-115): a bad
document degrades to a dropped row, never a task failure."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pdfwf_spark.core.route import extract_payload
from pdfwf_spark.core.sniff import sniff

payloads = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=2000
)


@settings(max_examples=300, deadline=None)
@given(payloads, payloads)
def test_extract_never_raises(text, tool):
    res = extract_payload(text, tool)
    assert res.status in ("ok", "failed")
    if res.status == "ok":
        assert res.clean_text
        for s in res.spans:
            assert 0 <= s.start <= s.end <= max(len(text), len(tool))


@settings(max_examples=300, deadline=None)
@given(payloads)
def test_sniff_total(payload):
    assert sniff(payload) in ("html", "pdfish", "plain", "empty")


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet="<>ab c/=\"'!-", max_size=500))
def test_html_tokenizer_tolerates_tag_soup(soup):
    res = extract_payload("<body>" + soup + "</body>", "")
    assert res.status in ("ok", "failed")


@settings(max_examples=300, deadline=None)
@given(payloads)
def test_markdown_compatible_idempotent(text):
    """The F7 repair pass must be a no-op on its own output — a repair
    that keeps repairing corrupts well-formed markdown."""
    from pdfwf_spark.core.normalize import markdown_compatible

    once = markdown_compatible(text)
    assert markdown_compatible(once) == once


@settings(max_examples=300, deadline=None)
@given(payloads)
def test_latex_guard_total(text):
    """latex_to_text never raises anything but LatexError, and is the
    identity on text with no recognized LaTeX construct."""
    from pdfwf_spark.core.latex import LatexError, latex_to_text

    try:
        out = latex_to_text(text)
    except LatexError:
        return
    if "\\" not in text:
        assert out == text


@settings(max_examples=300, deadline=None)
@given(payloads, payloads, payloads, payloads)
def test_tie_key_encoding_injective(a, b, c, d):
    """The length-prefix encoding behind tie_key is injective: distinct
    (text, tool) pairs never share an encoding (so key collisions are
    md5-collision-rare, not encoding artifacts)."""
    from pdfwf_spark.fixtures.golden import tie_key

    if (a, b) != (c, d):
        enc1 = f"{len(a)}:{a}{len(b)}:{b}"
        enc2 = f"{len(c)}:{c}{len(d)}:{d}"
        assert enc1 != enc2          # the encoding itself is injective
        assert tie_key(a, b) != tie_key(c, d)  # md5 collision: 2^-64 odds


# word-ish tokens that cannot collide with format syntax
words = st.lists(
    st.text(alphabet="abcdefghijklmnop", min_size=1, max_size=8),
    min_size=1, max_size=6,
).map(" ".join)


@settings(max_examples=150, deadline=None)
@given(st.lists(words, min_size=1, max_size=8))
def test_pdfish_roundtrip_single_column(texts):
    """Render a single-column page of body blocks -> extract must
    return exactly those texts in top-to-bottom order."""
    from pdfwf_spark.core.pdfish_extract import extract_pdfish

    lines = ["%PDFISH1", "PAGE 1 612 792"]
    for i, t in enumerate(texts):
        y = 100 + i * 100  # disjoint bboxes: NMS must keep all
        lines.append(f"BLOCK 100 {y} 500 {y + 80} text|{t}")
    clean, spans, meta = extract_pdfish("\n".join(lines))
    assert clean == "\n".join(texts)
    assert [s[2] for s in spans] == ["text"] * len(texts)


@settings(max_examples=150, deadline=None)
@given(st.lists(words, min_size=1, max_size=6))
def test_html_roundtrip_article_paragraphs(texts):
    """Wrap texts in <article><p>..</p></article> with nav/footer
    boilerplate -> extract must return exactly the paragraphs."""
    from pdfwf_spark.core.html_extract import extract_html

    paras = "".join(f"<p>{t}</p>" for t in texts)
    payload = (
        '<html><body><nav><a href="/">home</a></nav>'
        f"<article>{paras}</article>"
        "<footer>footer junk</footer></body></html>"
    )
    clean, spans, meta = extract_html(payload)
    assert clean == "\n".join(texts)


def _redact_py(text: str) -> str:
    """Python-re twin of the redaction chain (patterns are restricted
    to the Java/RE2/Python-common subset, so `re` is a faithful
    stand-in for the executor-side engines)."""
    import re

    from pdfwf_spark.operators.textstats import PII_RULES

    for _name, pat, repl in PII_RULES:
        text = re.sub(pat, repl, text)
    return text


@given(st.text(alphabet="ab @.-+()0123456789xy\n", max_size=120))
@settings(max_examples=300, deadline=None)
def test_pii_redaction_idempotent(text):
    """Redacting already-redacted text must be a no-op: placeholders
    contain no digits or '@', so no rule can fire on a prior rule's
    output. Probed over PII-shaped alphabets (digits, dots, dashes,
    parens, '@')."""
    once = _redact_py(text)
    assert _redact_py(once) == once


@given(st.text(alphabet="ab @.-+()0123456789xy\n", max_size=120))
@settings(max_examples=300, deadline=None)
def test_pii_redaction_never_raises_and_preserves_clean_text(text):
    out = _redact_py(text)
    if not any(c.isdigit() for c in text) and "@" not in text:
        assert out == text


@given(st.text(max_size=300))
@settings(max_examples=60, deadline=None)
def test_fix_mojibake_idempotent_and_non_growing(text):
    from pdfwf_spark.core.normalize import fix_mojibake

    once = fix_mojibake(text)
    assert fix_mojibake(once) == once  # repairs reach a fixpoint
    assert len(once) <= len(text)      # every repair shrinks or preserves


@given(st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60),
       st.integers(min_value=1, max_value=200))
@settings(max_examples=40, deadline=None)
def test_greedy_pack_kernel_invariants(lengths, budget):
    import pandas as pd

    from pdfwf_spark.operators.packing import _greedy_kernel

    pdf = pd.DataFrame(
        {
            "key": range(len(lengths)),
            "bucket": [0] * len(lengths),
            "ord": [f"{i:04d}" for i in range(len(lengths))],
            "n": lengths,
        }
    )
    out = _greedy_kernel(budget)(pdf)
    # conservation: every doc placed exactly once
    assert sorted(out["key"]) == sorted(pdf["key"])
    # no straddle unless truncated; truncated iff oversized
    for _, r in out.iterrows():
        if r["truncated"]:
            assert r["n"] > budget and r["seq_offset"] == 0
        else:
            assert r["seq_offset"] + r["n"] <= budget
    # per-sequence fills never exceed budget (truncated singletons aside)
    ok = out[out["truncated"] == 0]
    fills = ok.groupby("seq_idx")["n"].sum()
    assert (fills <= budget).all()
