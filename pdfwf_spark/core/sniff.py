"""Content sniffer — the routing analog of the reference's parser
STRATEGIES registry (pdfwf/parsers/__init__.py:34-58), which selects a
parser by *name* from config. Here the per-turn payload itself selects
the extractor by magic-prefix / tag-density sniffing, so a single
mapInArrow pass handles the full mixed corpus.

Labels: 'pdfish' | 'html' | 'plain' | 'empty'.
"""

from __future__ import annotations

import re

PDFISH_MAGIC = "%PDFISH"

# Tag sniff: any plausible opening of an HTML document or block element.
_HTML_HINT_RE = re.compile(
    r"(?i)<\s*(?:!doctype\b|html\b|head\b|body\b|div\b|p\b|article\b|"
    r"section\b|main\b|nav\b|span\b|a\s|ul\b|li\b|h[1-6]\b|table\b|"
    r"footer\b|header\b|aside\b|br\b|script\b|style\b)"
)

# Density guard: at least one tag per 400 chars, so prose that merely
# mentions "<div>" once in 10kB is not routed to the HTML parser.
# Absolute-count escape hatch: text-HEAVY but genuine HTML (long <p>
# paragraphs, few tags per byte) still routes to the HTML parser once
# enough distinct tags are present — a prose document does not contain
# eight tag-shaped tokens.
_TAG_RE = re.compile(r"<[^>]{1,200}>")
_MIN_TAG_DENSITY = 1.0 / 400.0
_MIN_TAG_COUNT = 8


def sniff(payload: str) -> str:
    """Classify a payload. Deterministic; pure function of the string."""
    if not payload or not payload.strip():
        return "empty"
    if payload.startswith(PDFISH_MAGIC):
        return "pdfish"
    if _HTML_HINT_RE.search(payload):
        n_tags = len(_TAG_RE.findall(payload))
        if n_tags >= _MIN_TAG_COUNT or (
            n_tags >= 1 and n_tags / max(len(payload), 1) >= _MIN_TAG_DENSITY
        ):
            return "html"
    return "plain"
