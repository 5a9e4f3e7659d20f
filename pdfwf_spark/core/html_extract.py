"""HTML boilerplate stripper (main-content extraction).

The transcript-payload analog of what the reference's PDF parsers do to
page images: isolate main content, drop furniture. Design transplants
the reference's layout heuristics to the DOM:

- block segmentation           <- Oreo bbox detection
  (block-level elements delimit text blocks)
- tag/class boilerplate scoring <- Oreo class-subset predicate
  (subset_y_by_class, pdfwf/parsers/oreo/tensor_utils.py:690-751:
  keep only "relevant" classes; here: nav/footer/ad/... are the
  irrelevant classes, article/main/content the relevant ones)
- link-density filter           <- confidence thresholding
  (non_max_suppression conf_thres, tensor_utils.py:402-466: drop
  low-signal candidates; here: blocks that are mostly anchor text)

Tolerant single-pass tokenizer (regex, C-speed): handles comments,
script/style islands, unclosed tags, entities. No external HTML lib.

Output: cleaned text (blocks joined with '\\n'), char-offset spans into
the ORIGINAL payload (start/end of each kept block's raw text region),
meta (title, doi).
"""

from __future__ import annotations

import html as _htmllib
import re
from dataclasses import dataclass

from pdfwf_spark.core.normalize import extract_doi, squeeze_spaces

TOKEN_RE = re.compile(
    r"<!--.*?(?:-->|$)"                                   # comment
    r"|<script\b[^>]*>.*?(?:</script\s*>|$)"              # script island
    r"|<style\b[^>]*>.*?(?:</style\s*>|$)"                # style island
    r"|<![^>]*>"                                          # doctype / declaration
    r"|</\s*([a-zA-Z][a-zA-Z0-9]*)[^>]*>"                 # close tag
    r"|<\s*([a-zA-Z][a-zA-Z0-9]*)((?:\"[^\"]*\"|'[^']*'|[^>\"'])*)>"  # open tag
    r"|[^<]+"                                             # text run
    r"|<",                                                # stray '<'
    re.S | re.I,
)

CLASS_ATTR_RE = re.compile(r"""class\s*=\s*(?:"([^"]*)"|'([^']*)'|(\S+))""", re.I)

# Block-level elements delimit text blocks (the DOM analog of bbox
# segmentation). Everything else is inline.
BLOCK_TAGS = frozenset(
    "html body div p article section main nav aside header footer "
    "ul ol li h1 h2 h3 h4 h5 h6 table thead tbody tr td th "
    "blockquote pre form figure figcaption dl dt dd".split()
)

# Void elements never go on the stack.
VOID_TAGS = frozenset("br img hr meta link input area base col embed source track wbr".split())

# Decisive boilerplate markers: ancestor *tag* names...
BOILER_TAGS = frozenset({"nav", "aside", "footer", "header"})
# ...and class-attribute vocabulary tokens.
BOILER_CLASSES = frozenset(
    "nav navbar navigation menu footer header ad ads advert advertisement "
    "sidebar side-bar cookie cookies banner promo promotion related share "
    "social breadcrumb breadcrumbs comment comments widget sponsor "
    "subscribe newsletter popup modal".split()
)

# Decisive content markers.
CONTENT_TAGS = frozenset({"article", "main"})
CONTENT_CLASSES = frozenset(
    "article post main content main-content body-text bodytext entry "
    "entry-content story story-body text post-content article-body".split()
)

# Non-content islands whose text never reaches blocks.
SUPPRESS_TAGS = frozenset({"head", "title", "noscript", "svg", "select", "option", "button"})

MAX_LINK_DENSITY = 0.5


@dataclass
class _Frame:
    tag: str
    classes: tuple[str, ...]
    # -1 boiler, +1 content, 0 neutral — decided once at push time.
    marker: int


@dataclass
class _Block:
    start: int           # char offset of first text char in original payload
    end: int             # char offset past last text char
    parts: list[str]
    total_chars: int
    link_chars: int
    marker: int          # decision of nearest decisive ancestor at block open

    _text: str | None = None

    def text(self) -> str:
        # cached (r6): flush() calls text() to decide keep, and the
        # final join + title path call it again — the squeeze_spaces
        # regex ran twice per block. Pure function of parts; caching
        # returns the identical string.
        if self._text is None:
            self._text = squeeze_spaces(" ".join(p for p in self.parts if p)).strip()
        return self._text


def _frame_marker(tag: str, classes: tuple[str, ...]) -> int:
    """Per-element decision. Content class/tag beats boiler on the same
    element (e.g. <nav class="article"> is pathological either way)."""
    if tag in CONTENT_TAGS or any(c in CONTENT_CLASSES for c in classes):
        return 1
    if tag in BOILER_TAGS or any(c in BOILER_CLASSES for c in classes):
        return -1
    return 0


def extract_html(payload: str) -> tuple[str, list[tuple[int, int, str]], dict[str, str]]:
    """Strip boilerplate. Returns (clean_text, spans, meta).

    spans are (start, end, label) char offsets into the ORIGINAL
    payload covering each kept block's raw text region.

    Per-token state is tracked with incremental depth counters
    (suppress/a/title depth + a stack of decisive markers) instead of
    re-scanning the element stack per text run — O(1) per token; this
    loop is the engine's hottest Python path (45% of the payload mix).
    """
    stack: list[_Frame] = []
    blocks: list[_Block] = []
    current: _Block | None = None
    title_parts: list[str] = []
    suppress_depth = 0
    a_depth = 0
    title_depth = 0
    marker_stack: list[int] = []  # decisive markers only, innermost last

    def flush() -> None:
        nonlocal current
        if current is not None and current.text():
            blocks.append(current)
        current = None

    def pop_frame(frame: _Frame) -> None:
        nonlocal suppress_depth, a_depth, title_depth
        if frame.tag in SUPPRESS_TAGS:
            suppress_depth -= 1
        if frame.tag == "a":
            a_depth -= 1
        if frame.tag == "title":
            title_depth -= 1
        if frame.marker != 0:
            marker_stack.pop()

    for m in TOKEN_RE.finditer(payload):
        tok = m.group(0)
        if not tok:
            continue
        if tok[0] != "<":
            # text run — the common case
            if not tok.strip():
                continue
            if suppress_depth:
                if title_depth:
                    # unescape only when an entity can exist: every
                    # character reference starts with '&', so the
                    # skip is exact (r6 — unescape is this loop's
                    # hottest per-token call on entity-free corpora)
                    t = _htmllib.unescape(tok) if "&" in tok else tok
                    title_parts.append(squeeze_spaces(t).strip())
                continue
            text = _htmllib.unescape(tok) if "&" in tok else tok
            if current is None:
                current = _Block(
                    start=m.start(), end=m.end(), parts=[], total_chars=0,
                    link_chars=0,
                    marker=marker_stack[-1] if marker_stack else 0,
                )
            current.end = m.end()
            current.parts.append(text)
            n = len(text.strip())
            current.total_chars += n
            if a_depth:
                current.link_chars += n
            continue
        close_tag, open_tag = m.group(1), m.group(2)
        if close_tag is not None:
            tag = close_tag.lower()
            if tag in BLOCK_TAGS:
                flush()
            # tolerant pop: unwind to the matching open tag if present
            for i in range(len(stack) - 1, -1, -1):
                if stack[i].tag == tag:
                    for f in stack[i:]:
                        pop_frame(f)
                    del stack[i:]
                    break
        elif open_tag is not None:
            tag = open_tag.lower()
            if tag in VOID_TAGS:
                continue
            if tag in BLOCK_TAGS:
                flush()
            attrs = m.group(3) or ""
            cm = CLASS_ATTR_RE.search(attrs)
            classes: tuple[str, ...] = ()
            if cm:
                raw = cm.group(1) or cm.group(2) or cm.group(3) or ""
                toks: list[str] = []
                for c in raw.lower().split():
                    toks.append(c)
                    # hyphen/underscore segments hit the vocab too
                    # ("cookie-banner" -> cookie, banner)
                    toks.extend(re.split(r"[-_]", c))
                classes = tuple(toks)
            marker = _frame_marker(tag, classes)
            stack.append(_Frame(tag, classes, marker))
            if tag in SUPPRESS_TAGS:
                suppress_depth += 1
            if tag == "a":
                a_depth += 1
            if tag == "title":
                title_depth += 1
            if marker != 0:
                marker_stack.append(marker)
        # else: comment / script / style island / doctype / stray '<'
    flush()

    kept: list[_Block] = []
    for b in blocks:
        if b.marker == -1:
            continue
        if b.marker == 0:
            # undecided: the link-density threshold filters link farms
            if b.total_chars == 0 or b.link_chars / b.total_chars > MAX_LINK_DENSITY:
                continue
        kept.append(b)

    clean_text = "\n".join(b.text() for b in kept).strip()
    spans = [(b.start, b.end, "content") for b in kept]
    meta: dict[str, str] = {}
    title = " ".join(p for p in title_parts if p).strip()
    if title:
        meta["title"] = title
    doi = extract_doi(clean_text)
    if doi:
        meta["doi"] = doi
    return clean_text, spans, meta
