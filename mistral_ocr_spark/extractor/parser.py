"""HTML → flat block sequence, from scratch (no lxml/bs4 in this sandbox —
and the north rule asks for a from-scratch DOM-heuristic extractor anyway).

The tokenizer segments the page into *text blocks* at block-level tag
boundaries and annotates each block with the features Boilerpipe/
Readability-style classification needs:

- ``words``       — whitespace-token count of the normalized text
- ``link_chars``  — characters contributed from inside ``<a>`` elements
- ``chars``       — total text characters
- ``kind``        — heading / paragraph / list_item / table / title / pre
- ``in_article``  — inside <article>/<main> (structural content hint)
- ``in_chrome``   — inside <nav>/<header>/<footer>/<aside> (chrome hint)

Two tokenizer engines feed the same block builder:

- ``fast`` (default, the production path): a single compiled-regex scan
  with one action-table dispatch per tag. ~2.5× the stdlib engine on the
  benchmark's ~13 KB pages (~415 vs ~1,040 µs a page, one core of a 4-vCPU
  x86 host); this sits in the innermost loop of the whole pipeline.
- ``stdlib``: ``html.parser.HTMLParser`` — the battle-tested cross-check;
  the dual-verification test asserts both engines produce identical blocks
  over the full fixture corpus (edge rows included).

Whitespace policy (part of the byte-identity contract): within a block all
whitespace runs collapse to a single ASCII space and the block is stripped.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

# Tags whose open OR close ends the current block.
_BLOCK_TAGS = frozenset(
    "address article aside blockquote body br caption dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 head header hr html li "
    "main nav ol option p pre section select table tbody td tfoot th thead "
    "title tr ul".split()
)

# Content inside these is dropped entirely.
_IGNORE_TAGS = frozenset("script style noscript svg template iframe".split())

# Raw-text elements: both tokenizers skip straight to the close tag, which
# HTML5 ends at "</script" (or "</style") followed by whitespace, "/" or ">"
# ("</scriptfoo>" is still script text).
_RAWTEXT_TAGS = ("script", "style")
_RAWTEXT_END = {t: re.compile(rf"</{t}[\t\n\r\f />]", re.IGNORECASE) for t in _RAWTEXT_TAGS}

# Chrome containers: structural boilerplate hint.
_CHROME_TAGS = frozenset("nav header footer aside".split())

_ARTICLE_TAGS = frozenset(("article", "main"))

# Tags that set the (kind, heading level) of the blocks inside them.
_KIND = {f"h{n}": ("heading", n) for n in range(1, 7)}
for _kind, _tags in (("list_item", "li"), ("table", "td th tr table caption"),
                     ("title", "title"), ("pre", "pre"), ("paragraph", "p blockquote")):
    _KIND.update(dict.fromkeys(_tags.split(), (_kind, 0)))


@dataclass(slots=True)
class Block:
    """One contiguous non-blank text block with classification features."""

    kind: str  # heading|paragraph|list_item|table|title|pre
    level: int  # heading level (1-6) when kind == heading
    text: str  # whitespace runs collapsed to one space, stripped
    words: int  # whitespace-token count of text
    chars: int  # raw text characters (before the collapse)
    link_chars: int  # of which inside <a>
    in_article: bool
    in_chrome: bool
    is_content: bool = False  # set by the classifier

    @property
    def link_density(self) -> float:
        return self.link_chars / self.chars


_SRC_RE = re.compile(
    r"""(?<![\w-])src\s*=\s*("([^"]*)"|'([^']*)'|([^\s>]+))""", re.IGNORECASE
)


class _BlockBuilder:
    """Shared state machine: tag/data events in, annotated Blocks out.

    A block's context (kind, level, in_article, in_chrome) is read when it
    is flushed. That is exact because every tag that changes the context
    is a block tag, and a block tag flushes before it changes anything:
    the context at a flush is the one all of the block's text was read in.
    """

    __slots__ = ("blocks", "images", "parts", "link_chars", "ignore_depth", "a_depth",
                 "chrome_depth", "article_depth", "kind_stack")

    def __init__(self) -> None:
        self.blocks: list[Block] = []
        # Document-order <img src> values outside chrome/ignored regions —
        # the reference's "extract non-text images and return them along
        # with the extracted text" (specs/01_REQUIREMENTS.md:3).
        self.images: list[str] = []
        # Text of the open block; cleared in place, never rebound, so a
        # tokenizer may hold on to it.
        self.parts: list[str] = []
        self.link_chars = 0
        self.ignore_depth = 0
        self.a_depth = 0
        self.chrome_depth = 0
        self.article_depth = 0
        self.kind_stack: list[tuple[str, int]] = []

    def flush(self) -> None:
        parts = self.parts
        if not parts:
            return
        raw = "".join(parts)
        words = raw.split()
        if words:
            kind, level = self.kind_stack[-1] if self.kind_stack else ("paragraph", 0)
            self.blocks.append(Block(kind, level, " ".join(words), len(words), len(raw),
                                     self.link_chars, self.article_depth > 0,
                                     self.chrome_depth > 0))
        parts.clear()
        self.link_chars = 0

    def start(self, tag: str, src: str | None = None) -> None:
        act = _ACTIONS.get(tag)
        if act is _open_img:
            act(self, src)
        elif act is not None:
            act(self)

    def end(self, tag: str) -> None:
        act = _ACTIONS.get("/" + tag)
        if act is not None:
            act(self)

    def data(self, text: str) -> None:
        if not self.ignore_depth:
            self.parts.append(text)
            if self.a_depth:
                self.link_chars += len(text)

    def finish(self) -> list[Block]:
        self.flush()
        return self.blocks


# The per-tag action table, _ACTIONS: "p" → what <p> does, "/p" → what </p>
# does. Inside an ignored region only the ignore tags themselves count. Every
# action that changes the block context flushes first (see _BlockBuilder).


def _open_ignore(b: _BlockBuilder) -> None:
    b.ignore_depth += 1


def _close_ignore(b: _BlockBuilder) -> None:
    if b.ignore_depth:
        b.ignore_depth -= 1


def _open_a(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.a_depth += 1


def _close_a(b: _BlockBuilder) -> None:
    if not b.ignore_depth and b.a_depth:
        b.a_depth -= 1


def _open_img(b: _BlockBuilder, src: str | None) -> None:
    if src and not b.ignore_depth and not b.chrome_depth:
        b.images.append(src)


def _block(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()


def _open_chrome(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()
        b.chrome_depth += 1


def _close_chrome(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()
        if b.chrome_depth:
            b.chrome_depth -= 1


def _open_article(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()
        b.article_depth += 1


def _close_article(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()
        if b.article_depth:
            b.article_depth -= 1


def _open_kind(kind: tuple[str, int]):
    def act(b: _BlockBuilder) -> None:
        if not b.ignore_depth:
            b.flush()
            b.kind_stack.append(kind)

    return act


def _close_kind(b: _BlockBuilder) -> None:
    if not b.ignore_depth:
        b.flush()
        if b.kind_stack:  # malformed-nesting safe
            b.kind_stack.pop()


_ACTIONS: dict = {"a": _open_a, "/a": _close_a, "img": _open_img}
for _t in _BLOCK_TAGS:
    _ACTIONS[_t] = _ACTIONS["/" + _t] = _block
for _t in _CHROME_TAGS:
    _ACTIONS[_t], _ACTIONS["/" + _t] = _open_chrome, _close_chrome
for _t in _ARTICLE_TAGS:
    _ACTIONS[_t], _ACTIONS["/" + _t] = _open_article, _close_article
for _t, _kind in _KIND.items():
    _ACTIONS[_t], _ACTIONS["/" + _t] = _open_kind(_kind), _close_kind
for _t in _IGNORE_TAGS:
    _ACTIONS[_t], _ACTIONS["/" + _t] = _open_ignore, _close_ignore


# ---------------------------------------------------------------------------
# fast engine: single-regex scan
# ---------------------------------------------------------------------------

# One token per match: comment / declaration / processing instr. / bogus
# comment / tag, as HTML5 tokenizes them. A comment ends only at "-->"; "</"
# before a non-letter opens a bogus comment ("</>" alone is dropped, "</" at
# EOF is text); a quote opens an attribute value only right after "=", and
# may hold '>'. Each construct EOF cuts short runs to EOF, and a tag cut
# short is dropped (group 3 is None).
_TOKEN_RE = re.compile(
    r"""<(?:
        !--.*?(?:-->|\Z)           # comment (unterminated: to EOF)
      | !\[CDATA\[.*?(?:\]\]>|\Z)   # cdata
      | ![^>]*>?                   # doctype/declaration
      | \?[^>]*>?                  # processing instruction
      | /(?:>|[^a-zA-Z>][^>]*>?)    # bogus comment after "</"
      | (/?[a-zA-Z][^\t\n\r\f />\x00]*)   # 1: tag name, "/"-prefixed on an end tag
        ((?:[^>=]+|=\s*(?:"[^"]*(?:"|\Z)|'[^']*(?:'|\Z))?)*)  # 2: attributes
        (>)?                       # 3: None when EOF ends the tag
    )""",
    re.DOTALL | re.VERBOSE,
)


def _fast_tokenize(html_text: str, b: _BlockBuilder) -> None:
    pos = 0
    n = len(html_text)
    find = _TOKEN_RE.search
    action = _ACTIONS.get
    parts = b.parts
    while pos < n:
        m = find(html_text, pos)
        start, end = m.span() if m is not None else (n, n)
        if start > pos and not b.ignore_depth:
            # the data path of _BlockBuilder.data, inlined; html.unescape
            # is only paid when an entity can exist (HTMLParser
            # convert_charrefs semantics)
            s = html_text[pos:start]
            if "&" in s:
                s = unescape(s)
            parts.append(s)
            if b.a_depth:
                b.link_chars += len(s)
        pos = end
        if m is None:
            break
        name = m.group(1)
        if name is None:  # comment/doctype/PI — no event
            continue
        if m.group(3) is None:  # a tag EOF cut short: dropped
            break
        tag = name.lower()
        act = action(tag)
        if act is None:
            continue  # inline/unknown tag: no block effect
        if act is _open_img:
            sm = _SRC_RE.search(m.group(2))
            act(b, unescape(sm.group(2) or sm.group(3) or sm.group(4) or "") if sm else None)
        elif act is _open_ignore and tag in _RAWTEXT_TAGS:
            # Raw-text element: skip to its close tag unparsed
            # (HTMLParser CDATA-mode equivalent).
            act(b)
            close = _RAWTEXT_END[tag].search(html_text, pos)
            if close is None:
                break
            gt = html_text.find(">", close.start())
            _close_ignore(b)
            pos = n if gt == -1 else gt + 1
        else:
            act(b)


# ---------------------------------------------------------------------------
# stdlib engine: html.parser cross-check
# ---------------------------------------------------------------------------


# What HTMLParser leaves unparsed at EOF when it is markup it could not
# finish: a tag, comment, declaration or bogus comment (not "<" or "</").
_UNFINISHED_RE = re.compile(r"<(?:[a-zA-Z!?]|/.)", re.DOTALL)


class _StdlibParser(HTMLParser):
    def __init__(self, builder: _BlockBuilder) -> None:
        # convert_charrefs=True resolves &amp; &#x27; … inside data —
        # required so escaped fixture text round-trips byte-identically.
        super().__init__(convert_charrefs=True)
        self._b = builder

    def handle_starttag(self, tag: str, attrs) -> None:
        src = None
        if tag == "img":
            src = next((v for k, v in attrs if k == "src"), None)
        self._b.start(tag, src)

    def handle_startendtag(self, tag: str, attrs) -> None:
        # HTML5 ignores the self-closing flag, as the fast engine does:
        # <li/> opens an li and <script/> a raw-text script. (A void
        # element's end event would be a no-op right after its start.)
        self.handle_starttag(tag, attrs)
        if tag in _RAWTEXT_TAGS:
            self.set_cdata_mode(tag)

    def handle_endtag(self, tag: str) -> None:
        self._b.end(tag)

    # HTML5 tokenization where HTMLParser departs from it, as the fast
    # engine tokenizes (see _TOKEN_RE).

    def set_cdata_mode(self, elem: str) -> None:
        super().set_cdata_mode(elem)
        self.interesting = _RAWTEXT_END[self.cdata_elem]

    def parse_endtag(self, i: int) -> int:
        rawdata = self.rawdata
        if self.cdata_elem is not None:  # at the raw-text end _RAWTEXT_END found
            gt = rawdata.find(">", i)
            if gt < 0:
                return -1
            self.handle_endtag(self.cdata_elem)
            self.clear_cdata_mode()
            return gt + 1
        c = rawdata[i + 2 : i + 3]
        if c == ">":
            return i + 3
        if c and not (c.isascii() and c.isalpha()):
            return self.parse_bogus_comment(i)
        # HTMLParser ends an end tag at its first ">"; HTML5 reads its
        # attributes quote-aware, so </a b='>'> is one tag
        m = _TOKEN_RE.match(rawdata, i)
        if m is None or m.group(3) is None:  # EOF: close() decides
            return -1
        self.handle_endtag(m.group(1)[1:].lower())
        return m.end()

    def parse_comment(self, i: int, report: bool = True) -> int:
        end = self.rawdata.find("-->", i + 4)
        return -1 if end < 0 else end + 3

    def handle_data(self, data: str) -> None:
        self._b.data(data)

    def close(self) -> None:
        # HTML5 runs an unterminated tag, comment or bogus comment to the
        # end of the document and drops it; HTMLParser would hand it out
        # as text. A lone "<" or "</" stays text.
        if _UNFINISHED_RE.match(self.rawdata):
            self.rawdata = ""
        super().close()


def parse_document(html_text: str, engine: str = "fast") -> tuple[list[Block], list[str]]:
    """Segment an HTML document into annotated text blocks + image srcs.

    Tolerant of malformed markup — neither engine raises, and the
    kind-stack pops defensively.
    """
    b = _BlockBuilder()
    if engine == "fast":
        _fast_tokenize(html_text, b)
    else:
        p = _StdlibParser(b)
        p.feed(html_text)
        p.close()
    return b.finish(), b.images


def parse_blocks(html_text: str, engine: str = "fast") -> list[Block]:
    """Blocks-only view of :func:`parse_document`."""
    return parse_document(html_text, engine)[0]
