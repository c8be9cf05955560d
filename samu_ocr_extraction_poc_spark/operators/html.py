"""HTML main-content extraction (N8) — boilerplate strip via tag-density +
text-to-link-ratio DOM heuristics (BASELINE.json north_rule; no reference
implementation — the reference handles PDF/email/JSON only).

Readability/Boilerpipe-style (Kohlschütter et al., WSDM 2010) block scoring
over an ``html.parser`` DOM:

- hard-drop subtrees: script/style/noscript/template/nav/header/footer/aside
  and elements whose id/class matches a boilerplate pattern;
- block elements (p, div, li, h1-6, td, article, section, blockquote, pre)
  accumulate text length and anchor-text length;
- keep blocks with text >= MIN_TEXT chars and link-density <= MAX_LINK_RATIO;
  headings (h1-h6) are kept with a shorter threshold.

Pure Python, deterministic; runs inside the Arrow extraction stage.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

_DROP_TAGS = {
    "script", "style", "noscript", "template", "nav", "header", "footer",
    "aside", "form", "iframe", "svg", "button",
}
_BLOCK_TAGS = {
    "p", "div", "li", "h1", "h2", "h3", "h4", "h5", "h6", "td", "article",
    "section", "blockquote", "pre",
}
_HEADING_TAGS = {"h1", "h2", "h3", "h4", "h5", "h6"}
_BOILER_ATTR_RE = re.compile(
    r"nav|menu|sidebar|footer|header|banner|advert|ads?\b|promo|cookie|"
    r"breadcrumb|share|social|comment",
    re.IGNORECASE,
)

MIN_TEXT = 30
MIN_HEADING_TEXT = 8
MAX_LINK_RATIO = 1.0 / 3.0

_WS_RE = re.compile(r"\s+")


class _Block:
    __slots__ = ("tag", "texts", "link_chars", "order", "ancestors")

    def __init__(self, tag: str, order: int, ancestors: frozenset[int]):
        self.tag = tag
        self.texts: list[str] = []
        self.link_chars = 0
        self.order = order
        # orders of the enclosing block elements at creation time — the
        # innermost-block dedup must only fire on true ancestor/descendant
        # pairs, never on siblings that happen to share a text suffix
        self.ancestors = ancestors


class _ContentParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.drop_depth = 0
        self.anchor_depth = 0
        self.block_stack: list[_Block] = []
        self.blocks: list[_Block] = []
        self.counter = 0

    def handle_starttag(self, tag, attrs):
        if self.drop_depth:
            self.drop_depth += 1
            return
        attrval = " ".join(v or "" for k, v in attrs if k in ("id", "class", "role"))
        if tag in _DROP_TAGS or _BOILER_ATTR_RE.search(attrval):
            self.drop_depth = 1
            return
        if tag == "a":
            self.anchor_depth += 1
        if tag in _BLOCK_TAGS:
            blk = _Block(
                tag, self.counter, frozenset(b.order for b in self.block_stack)
            )
            self.counter += 1
            self.block_stack.append(blk)
            self.blocks.append(blk)

    def handle_endtag(self, tag):
        if self.drop_depth:
            self.drop_depth -= 1
            return
        if tag == "a" and self.anchor_depth:
            self.anchor_depth -= 1
        if tag in _BLOCK_TAGS:
            for i in range(len(self.block_stack) - 1, -1, -1):
                if self.block_stack[i].tag == tag:
                    del self.block_stack[i]
                    break

    def handle_data(self, data):
        if self.drop_depth or not self.block_stack:
            return
        blk = self.block_stack[-1]
        blk.texts.append(data)
        if self.anchor_depth:
            blk.link_chars += len(_WS_RE.sub(" ", data).strip())


def strip_boilerplate(html: str) -> list[str]:
    """Return the main-content text blocks in document order. A parser
    failure raises; ``extract_document`` turns it into an error row."""
    parser = _ContentParser()
    parser.feed(html)
    parser.close()
    kept: list[tuple[int, frozenset[int], str]] = []
    for blk in parser.blocks:
        text = _WS_RE.sub(" ", " ".join(blk.texts)).strip()
        if not text:
            continue
        n = len(text)
        link_ratio = blk.link_chars / n if n else 1.0
        min_len = MIN_HEADING_TEXT if blk.tag in _HEADING_TAGS else MIN_TEXT
        if n >= min_len and link_ratio <= MAX_LINK_RATIO:
            kept.append((blk.order, blk.ancestors, text))
    kept.sort(key=lambda t: t[0])
    # nested blocks duplicate text (div > p): keep the innermost by dropping
    # any ANCESTOR whose text contains a kept descendant's text. The
    # ancestry check is load-bearing: a plain substring test also fires on
    # SIBLINGS whose text happens to end with a later sibling's text
    # (observed on a real corpus doc — a long <p> ending exactly with the
    # next short <p>'s line), silently deleting main content.
    out: list[str] = []
    for order, _, text in kept:
        if any(
            order in anc and t in text and len(t) < len(text)
            for o2, anc, t in kept
            if o2 != order
        ):
            continue
        out.append(text)
    return out
