"""Deterministic per-document extraction kernels (SURVEY.md §2.7, E1-E3).

The reference repo outsources extraction to Mistral OCR
(``utils/text_extract_MistralAI.py:24-37``) and vision LLMs
(``utils/utility.py:99-155``); per the north rule we re-implement the
published algorithms those services embody as pure, deterministic Python
over span lists:

* E1 ``extract_html_fragment`` — Arc90/readability-style boilerplate strip:
  flatten the DOM into a block-node table, score candidate containers by
  text density and link density, keep the best container's blocks.
* E2 ``extract_pdf_blocks`` — rule-based layout segmentation: reading-order
  sort by (page, column, y, x) with x-gap column clustering, heading/body/
  caption classification from per-page font-size histograms.
* E3 ``stitch_media`` — re-anchor figure/table spans into the extracted
  text stream at the nearest text span whose source offset <= the media's
  anchor offset (mirrors OCR markdown keeping figure refs in-stream at
  their source positions, ``utils/text_extract_MistralAI.py:29``).

These per-document functions are the reference: the pure-Python
golden-fixture producer, the salted mega-doc chunk path (operators/skew.py)
and the golden tests call them, and they are pinned by hand-written
expected outputs in tests/. The Spark hot paths (the column Arrow UDF and
the fused stage in operators/extract.py) run the columnar batch core
(functions/columnar.py) instead, which applies the same rules to a whole
Arrow batch and calls E1 here once per HTML fragment. Its equality with
these kernels holds by test (tests/test_columnar.py: property tests and
every corpus family), not by construction.

Every function here is pure: no wall clock, no randomness, no I/O.
Text is NFC-normalized and whitespace-collapsed for byte-stable goldens
(SURVEY.md §7 hard point (b)).
"""

from __future__ import annotations

import bisect
import re
import unicodedata
from html import unescape as _html_unescape
from html.parser import HTMLParser

# 'fast': regex tokenizer with automatic per-fragment fallback to stdlib;
# 'stdlib': force the stdlib parser everywhere (the golden producer and the
# tokenizer-equality tests set this attribute).
_HTML_PARSER_MODE = "fast"

# ---------------------------------------------------------------------------
# Tunables (pinned by golden fixtures — change these and goldens change).
# ---------------------------------------------------------------------------

MIN_BODY_CHARS = 25  # Arc90's paragraph threshold
MAX_LINK_DENSITY = 0.33  # body blocks above this are boilerplate
MAX_HEADING_LINK_DENSITY = 0.5
MIN_HEADING_CHARS = 3
COLUMN_GAP_PX = 180  # x-gap beyond which a new column starts
HEADING_FONT_DELTA = 2  # font px above page-modal body font => heading
CAPTION_ANCHOR_DIST = 2  # |block stream pos - media anchor| <= this => caption
SPAN_SEP_CHARS = 1  # separator width when recomputing cumulative offsets

_BLOCK_TAGS = frozenset(
    {
        "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote",
        "pre", "td", "th", "dt", "dd", "figcaption", "caption", "div",
        "article", "section", "main", "body",
    }
)
_HEADING_TAGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})
_CONTAINER_TAGS = frozenset(
    {"div", "article", "section", "main", "body", "td", "blockquote", "li"}
)
_BOILERPLATE_TAGS = frozenset(
    {
        "nav", "header", "footer", "aside", "script", "style", "noscript",
        "form", "button", "select", "option", "iframe", "svg", "template",
    }
)
_VOID_TAGS = frozenset(
    {
        "br", "img", "hr", "meta", "input", "link", "area", "base", "col",
        "embed", "source", "track", "wbr",
    }
)
# tags whose opening implies closing an open <p> (HTML5 parsing rules)
_P_CLOSERS = frozenset(
    {
        "p", "div", "ul", "ol", "dl", "table", "h1", "h2", "h3", "h4", "h5",
        "h6", "li", "blockquote", "pre", "section", "article", "main",
        "figure", "form", "header", "footer", "nav", "aside",
    }
)

_WS_RE = re.compile(r"\s+")
_nfc_normalize = unicodedata.normalize


def norm_text(s: str) -> str:
    """NFC-normalize and collapse whitespace runs to single spaces.

    Exactly `_WS_RE.sub(" ", normalize("NFC", s)).strip()`, computed the
    fast way (r6, 3.4x): NFC is the identity on pure ASCII so the
    normalize call is skipped after an `isascii` check, and
    `" ".join(s.split())` collapses/strips in C — `str.split()`'s
    whitespace set (str.isspace) equals regex `\\s` for every codepoint
    (verified exhaustively over the BMP in the r6 round log)."""
    if not s:
        return ""
    if not s.isascii():
        s = _nfc_normalize("NFC", s)
    return " ".join(s.split())


# ---------------------------------------------------------------------------
# E1 — HTML boilerplate stripping (Arc90 / readability-style)
# ---------------------------------------------------------------------------


class _Node:
    """DOM node; ``content`` interleaves child nodes and (is_link, text)
    tuples in document order so text around inline children stays ordered."""

    __slots__ = ("tag", "parent", "content", "order")

    def __init__(self, tag: str, parent: "_Node | None", order: int):
        self.tag = tag
        self.parent = parent
        self.content: list = []  # _Node | (is_link: bool, text: str)
        self.order = order  # document order (creation index)

    def child_nodes(self):
        return (c for c in self.content if isinstance(c, _Node))


class _DomBuilder(HTMLParser):
    """Tolerant SAX->tree builder over stdlib HTMLParser."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self._order = 0
        self.root = _Node("#root", None, self._order)
        self._stack = [self.root]
        self._link_depth = 0

    def _push(self, tag: str) -> None:
        self._order += 1
        node = _Node(tag, self._stack[-1], self._order)
        self._stack[-1].content.append(node)
        self._stack.append(node)

    def _implied_end(self, tag: str) -> None:
        """Minimal HTML5 implied-end-tag rules (browsers close an open <p>
        when a new block opens, <li> on <li>, table cells on cell/row) —
        without this, sloppy unclosed markup nests and loses text."""
        top = self._stack[-1].tag
        if top == "p" and tag in _P_CLOSERS:
            del self._stack[-1:]
        elif top == "li" and tag == "li":
            del self._stack[-1:]
        elif top in ("td", "th") and tag in ("td", "th", "tr"):
            del self._stack[-1:]
        elif top == "tr" and tag == "tr":
            del self._stack[-1:]

    def handle_starttag(self, tag, attrs):
        if tag in _VOID_TAGS:
            if tag == "br":
                self._stack[-1].content.append((self._link_depth > 0, " "))
            return
        if tag == "a":
            self._link_depth += 1
        self._implied_end(tag)
        self._push(tag)

    def handle_startendtag(self, tag, attrs):
        if tag == "br":
            self._stack[-1].content.append((self._link_depth > 0, " "))

    def handle_endtag(self, tag):
        if tag in _VOID_TAGS:
            return
        # tolerant close: pop to the nearest matching open tag, if any
        for i in range(len(self._stack) - 1, 0, -1):
            if self._stack[i].tag == tag:
                del self._stack[i:]
                break
        if tag == "a" and self._link_depth > 0:
            self._link_depth -= 1

    def handle_data(self, data):
        if data:
            self._stack[-1].content.append((self._link_depth > 0, data))


# ---------------------------------------------------------------------------
# Fast HTML tokenizer (r2): stdlib HTMLParser.feed is ~50% of kernel time.
# This tokenizer drives the SAME _DomBuilder handlers (only the tokenization
# layer differs) and is exactly equivalent on clean constructs because
# HTMLParser with convert_charrefs=True also just calls html.unescape on
# each inter-tag text run. Anything it cannot handle with certainty
# (unmatched '<', unclosed quotes/comments, CDATA/PI edge forms) raises
# _FastBail and the WHOLE fragment re-parses with stdlib — equality by
# construction for weird inputs, speed for the clean majority.
# Equality is regression-tested across every corpus family and adversarial
# fragments in tests/test_fast_html.py; force stdlib with
# _HTML_PARSER_MODE = "stdlib".
# ---------------------------------------------------------------------------

_FAST_TAG_RE = re.compile(
    r"<(/?)([a-zA-Z][a-zA-Z0-9:._-]*)((?:\"[^\"]*\"|'[^']*'|[^\"'>])*)>"
)
_RAWTEXT_TAGS = ("script", "style")
# Mirror of stdlib set_cdata_mode (html/parser.py:122-124 in CPython 3.11):
# raw-text content ends ONLY at a full '</\s*name\s*>' match, case-insensitive.
# '</scripty>' or a bare '</script' without '>' is data, not a close.
_RAWTEXT_CLOSE_RE = {t: re.compile(rf"</\s*{t}\s*>", re.I) for t in _RAWTEXT_TAGS}

# Strict attribute grammar for classifying a trailing '/' the way stdlib
# parse_starttag does. Names exclude '/'; quoted values are delimited; the
# repeated unquoted values may contain '/' (stdlib's value regex consumes it).
# Used ONLY to decide start vs startend when the attrs run ends in '/':
#   - stdlib emits startendtag iff the raw tag text ends with literal '/>'
#     AND the '/' was not consumed into an unquoted attribute value.
#   - '/' directly after an unquoted value (e.g. <a href=http://x.com/>) is
#     consumed into the value -> plain start tag.
#   - '/' after whitespace, a closing quote, or a bare attribute name
#     (e.g. <input disabled/>) is a terminator -> startendtag.
# Anything not matching the strict grammar bails to stdlib.
_WSC = r"[\t\n\r\f ]"
_ANAME = r"[^\t\n\r\f /><\"'=]+"
_AVAL = r"(?:\"[^\"]*\"|'[^']*'|[^\t\n\r\f >\"'`=]+)"
_ATTR1 = rf"{_WSC}+{_ANAME}(?:{_WSC}*={_WSC}*{_AVAL})?"
# tail = unquoted value abutting the final '/': stdlib swallows '/' -> starttag
_ATTRS_VALTAIL_RE = re.compile(
    rf"(?:{_ATTR1})*{_WSC}+{_ANAME}{_WSC}*={_WSC}*[^\t\n\r\f >\"'`=]+\Z"
)
# generic strict attrs (possibly empty, possibly trailing ws) -> '/' is a
# terminator -> startendtag
_ATTRS_STRICT_RE = re.compile(rf"(?:{_ATTR1})*{_WSC}*\Z")


class _FastBail(Exception):
    pass


def _scan_rawtext(builder: "_DomBuilder", html: str, i: int, name: str) -> int:
    """Consume raw-text (cdata) content after a non-self-closing script/style
    START tag, exactly as stdlib set_cdata_mode does: content ends ONLY at a
    full '</\\s*name\\s*>' (case-insensitive); '</scripty>' etc. is data; no
    charref conversion. Unclosed-at-EOF bails (stdlib drops the tail — the
    stdlib reparse reproduces that behavior exactly). Returns the new cursor.

    stdlib enters cdata mode on EVERY handle_starttag of script/style —
    including tags like '<script src=http://x.com/>' where the trailing '/'
    was swallowed into an unquoted attribute value — so every starttag
    branch of _fast_feed must route through this scan (r3 ADVICE: the
    VALTAIL branch previously skipped it, letting script bodies containing
    markup close ancestor elements early)."""
    m_close = _RAWTEXT_CLOSE_RE[name].search(html, i)
    if m_close is None:
        raise _FastBail("unclosed raw-text element")
    if m_close.start() > i:
        builder.handle_data(html[i : m_close.start()])
    builder.handle_endtag(name)
    return m_close.end()


def _fast_feed(builder: "_DomBuilder", html: str) -> None:
    """Tokenize and replay events into the builder; raise _FastBail on any
    construct whose stdlib semantics we will not replicate bit-for-bit."""
    unescape = _html_unescape
    i, n = 0, len(html)
    while i < n:
        lt = html.find("<", i)
        if lt < 0:
            data = html[i:]
            builder.handle_data(unescape(data) if "&" in data else data)
            break
        if lt > i:
            data = html[i:lt]
            builder.handle_data(unescape(data) if "&" in data else data)
        nxt = html[lt + 1] if lt + 1 < n else ""
        if nxt == "!":
            if html.startswith("<!--", lt):
                end = html.find("-->", lt + 4)
                if end < 0:
                    raise _FastBail("unclosed comment")
                i = end + 3
                continue
            if html.startswith("<![", lt):
                raise _FastBail("CDATA/marked section")
            end = html.find(">", lt)  # doctype / declaration: skip
            if end < 0:
                raise _FastBail("unclosed declaration")
            i = end + 1
            continue
        if nxt == "?":
            end = html.find(">", lt)  # processing instruction: skip
            if end < 0:
                raise _FastBail("unclosed PI")
            i = end + 1
            continue
        m = _FAST_TAG_RE.match(html, lt)
        if m is None:
            raise _FastBail("bogus '<'")
        closing, name, attrs = m.group(1), m.group(2).lower(), m.group(3)
        # stdlib's tagfind is more permissive about name characters; if the
        # "attrs" run starts with a non-separator, stdlib would have read a
        # longer tag name than we did — bail rather than diverge
        if attrs and attrs[0] not in " \t\n\r\f/":
            raise _FastBail("ambiguous tag name boundary")
        i = m.end()
        if closing:
            if attrs.strip():
                raise _FastBail("end tag with attributes")
            builder.handle_endtag(name)
        elif attrs.endswith("/"):
            # stdlib emits startendtag only when the literal tail is '/>' and
            # the '/' is a terminator, NOT part of an unquoted attribute value
            # (e.g. <a href=http://x.com/> is a plain START tag: the value
            # regex in html/parser.py consumes the '/'). Classify with the
            # strict grammar; bail on anything it can't prove.
            body = attrs[:-1]
            if _ATTRS_VALTAIL_RE.match(body):
                # plain START tag ('/' swallowed into the unquoted value) —
                # stdlib still enters cdata mode for script/style here
                builder.handle_starttag(name, [])
                if name in _RAWTEXT_TAGS:
                    i = _scan_rawtext(builder, html, i, name)
            elif _ATTRS_STRICT_RE.match(body):
                builder.handle_startendtag(name, [])
            else:
                raise _FastBail("ambiguous trailing '/'")
        else:
            if ('"' in attrs or "'" in attrs) and not _ATTRS_STRICT_RE.match(attrs):
                # our tokenizer treats ANY quote in attrs as a balanced
                # delimiter; stdlib only treats quotes after '=' as
                # delimiters (a quote inside an unquoted value is a value
                # char). Misaligned quote runs change the tag extent in
                # either direction — only proceed when the strict grammar
                # proves every quote is a true '='-delimited value
                raise _FastBail("quotes outside the strict attribute grammar")
            builder.handle_starttag(name, [])
            if name in _RAWTEXT_TAGS:
                i = _scan_rawtext(builder, html, i, name)


def _build_dom(html: str) -> _Node:
    if _HTML_PARSER_MODE != "stdlib":
        builder = _DomBuilder()
        try:
            _fast_feed(builder, html)
            return builder.root
        except _FastBail:
            pass  # fall through to the stdlib parser
    builder = _DomBuilder()
    builder.feed(html)
    builder.close()
    return builder.root


def _collect_text(node: _Node) -> tuple[str, int]:
    """All descendant text (document order) and the char count inside links."""
    parts: list[str] = []
    link_chars = 0

    def walk(n: _Node, in_link: bool) -> None:
        nonlocal link_chars
        for c in n.content:
            if isinstance(c, _Node):
                if c.tag in _BOILERPLATE_TAGS:
                    continue
                walk(c, in_link or c.tag == "a")
            else:
                is_link, t = c
                parts.append(t)
                if is_link or in_link:
                    link_chars += len(t)

    walk(node, False)
    text = norm_text("".join(parts))
    return text, link_chars


def _iter_nodes(node: _Node):
    yield node
    for c in node.child_nodes():
        yield from _iter_nodes(c)


def _has_block_child(node: _Node) -> bool:
    """True if any DESCENDANT is a block element — list/table wrappers
    (ul, table, tr, ...) are not block-leaf tags themselves, so a direct-
    child check would make `div > ul > li` classify the div as a leaf and
    duplicate the items' text."""
    for c in node.child_nodes():
        if c.tag in _BLOCK_TAGS or _has_block_child(c):
            return True
    return False


def _under_boilerplate(node: _Node) -> bool:
    n = node.parent
    while n is not None:
        if n.tag in _BOILERPLATE_TAGS:
            return True
        n = n.parent
    return False


def extract_html_fragment(html: str) -> list[tuple[str, str]]:
    """Arc90-style main-content extraction over one HTML fragment.

    Returns ordered [(kind, text)] with kind in {heading, body, caption}.
    Reference analog: the raw Serper scrape is fed to the LLM unprocessed
    (``config/configuration.py:151-165``); this kernel is the deterministic
    replacement demanded by the north star.
    """
    try:
        root = _build_dom(html)
    except Exception:
        # Tolerant: unparseable fragment -> treat as plain text.
        t = norm_text(re.sub(r"<[^>]*>", " ", html))
        return [("body", t)] if len(t) >= MIN_BODY_CHARS else []

    # Leaf blocks: block-level elements with no block children.
    blocks: list[tuple[_Node, str, str, float]] = []  # (node, kind, text, ld)
    for n in _iter_nodes(root):
        if n.tag not in _BLOCK_TAGS or _has_block_child(n):
            continue
        if _under_boilerplate(n):
            continue
        text, link_chars = _collect_text(n)
        if not text:
            continue
        ld = link_chars / max(len(text), 1)
        if n.tag in _HEADING_TAGS:
            kind = "heading"
        elif n.tag in ("figcaption", "caption"):
            kind = "caption"
        else:
            kind = "body"
        blocks.append((n, kind, text, ld))

    # Score candidate containers (Arc90: paragraphs vote for parent and
    # grandparent).
    scores: dict[int, float] = {}
    nodes_by_order: dict[int, _Node] = {}
    for n, kind, text, ld in blocks:
        if kind != "body" or len(text) < MIN_BODY_CHARS or ld >= MAX_LINK_DENSITY:
            continue
        pts = 1.0 + min(len(text) // 100, 3)
        parent = n.parent
        if parent is not None:
            scores[parent.order] = scores.get(parent.order, 0.0) + pts
            nodes_by_order[parent.order] = parent
            gp = parent.parent
            if gp is not None:
                scores[gp.order] = scores.get(gp.order, 0.0) + pts / 2.0
                nodes_by_order[gp.order] = gp

    if not scores:
        return []  # linkfarm / empty: nothing passes density thresholds

    best_order = max(scores, key=lambda o: (scores[o], -o))
    best = nodes_by_order[best_order]
    keep = set(id(x) for x in _iter_nodes(best))

    out: list[tuple[str, str]] = []
    for n, kind, text, ld in blocks:
        if id(n) not in keep:
            continue
        if kind == "heading":
            if len(text) >= MIN_HEADING_CHARS and ld < MAX_HEADING_LINK_DENSITY:
                out.append((kind, text))
        elif kind == "caption":
            if len(text) >= MIN_HEADING_CHARS and ld < MAX_LINK_DENSITY:
                out.append((kind, text))
        else:
            if len(text) >= MIN_BODY_CHARS and ld < MAX_LINK_DENSITY:
                out.append((kind, text))
    return out


# ---------------------------------------------------------------------------
# E2 — PDF layout segmentation
# ---------------------------------------------------------------------------

_LAYOUT_RE = re.compile(r"^p(\d+)\.c(\d+)\.y(\d+)\.x(\d+)\.f(\d+)$")


def parse_layout_token(token: str) -> tuple[int, int, int, int, int]:
    """Parse ``p{page}.c{col}.y{y}.x{x}.f{font_px}`` (FIXTURES.md §1).

    Split-based fast path (r6, ~2x): accepts exactly what _LAYOUT_RE
    accepts — five '.'-separated fields with the right prefix letters and
    >=1 decimal digits each (`str.isdecimal()` is precisely the `\\d`
    character class, Unicode category Nd)."""
    if token:
        parts = token.split(".")
        if len(parts) == 5:
            p, c, y, x, f = parts
            if (
                p[:1] == "p" and c[:1] == "c" and y[:1] == "y"
                and x[:1] == "x" and f[:1] == "f"
                and p[1:].isdecimal() and c[1:].isdecimal()
                and y[1:].isdecimal() and x[1:].isdecimal()
                and f[1:].isdecimal()
            ):
                return (int(p[1:]), int(c[1:]), int(y[1:]), int(x[1:]),
                        int(f[1:]))
    return (0, 0, 0, 0, 12)


def extract_pdf_blocks(
    blocks: list[tuple[str, str, int]],
    media_offsets: list[int],
) -> list[tuple[str, str, int]]:
    """Layout-order and classify PDF text blocks.

    ``blocks``: [(text, layout_token, stream_offset)] in input order.
    ``media_offsets``: stream offsets of media spans in the same doc (for
    caption detection).
    Returns ordered [(kind, text, source_offset)].

    Reading order: sort by (page, derived column, y, x). Columns are derived
    per page by x-gap clustering (> COLUMN_GAP_PX starts a new column) — the
    ``c`` field of the token is a generator hint and deliberately ignored so
    the kernel stands alone. Classification per page: body font = modal font
    size weighted by char count; font >= body + HEADING_FONT_DELTA =>
    heading; font < body and within CAPTION_ANCHOR_DIST stream positions of
    a media anchor => caption; else body. Per-page histograms keep the
    kernel chunk-safe at page boundaries for salted mega-doc splits
    (SURVEY.md §4.3).
    """
    parsed = []
    for i, (text, token, off) in enumerate(blocks):
        page, _c, y, x, font = parse_layout_token(token)
        t = norm_text(text)
        if not t:
            continue
        parsed.append((page, y, x, font, t, off, i))
    if not parsed:
        return []

    # Per-page column derivation by x-gap clustering.
    by_page: dict[int, list] = {}
    for rec in parsed:
        by_page.setdefault(rec[0], []).append(rec)

    ordered: list[tuple[int, int, int, int, int, str, int, int]] = []
    page_body_font: dict[int, int] = {}
    for page in sorted(by_page):
        recs = by_page[page]
        xs = sorted({r[2] for r in recs})
        col_of: dict[int, int] = {}
        col = 0
        prev = None
        for x in xs:
            if prev is not None and x - prev > COLUMN_GAP_PX:
                col += 1
            col_of[x] = col
            prev = x
        # Modal body font weighted by char count; ties -> smaller font.
        weight: dict[int, int] = {}
        for _p, _y, _x, font, t, _off, _i in recs:
            weight[font] = weight.get(font, 0) + len(t)
        body_font = min(weight, key=lambda f: (-weight[f], f))
        page_body_font[page] = body_font
        for p, y, x, font, t, off, i in recs:
            ordered.append((p, col_of[x], y, x, i, font, t, off))

    ordered.sort(key=lambda r: (r[0], r[1], r[2], r[3], r[4]))

    out: list[tuple[str, str, int]] = []
    for page, _col, _y, _x, _i, font, text, off in ordered:
        body_font = page_body_font[page]
        if font >= body_font + HEADING_FONT_DELTA:
            kind = "heading"
        elif font < body_font and any(
            abs(off - m) <= CAPTION_ANCHOR_DIST for m in media_offsets
        ):
            kind = "caption"
        else:
            kind = "body"
        out.append((kind, text, off))
    return out


# ---------------------------------------------------------------------------
# E3 — media stitching + offset recomputation (W2)
# ---------------------------------------------------------------------------


def stitch_media(
    text_spans: list[tuple[str, str, int]],
    media_spans: list[tuple[str, str, str, int]],
) -> list[dict]:
    """Interleave media into the extracted text stream and recompute offsets.

    ``text_spans``: ordered [(kind, text, source_offset)].
    ``media_spans``: [(kind, caption_text, media_ref, anchor_offset)] in
    input order; kind in {figure, table_image}.

    Each media span is inserted after the LAST text span (in output order)
    whose source offset <= the media anchor offset; media with no such text
    span go before all text; media sharing an anchor keep their input
    relative order (FIXTURES.md ``mixed_media``). Output offsets are the
    recomputed cumulative char offsets (reference analog: the transcript is
    one contiguous string so downstream offsets are cumulative,
    ``utils/text_extract_MistralAI.py:32-37``).
    """
    # anchor position: index into text_spans AFTER which the media goes
    # (-1 = before all text). "last in output order with src_offset <= m".
    # Source offsets need not be monotonic in output order (reading-order
    # sort), so the exact equivalent of the linear rescan is: sort
    # (src, idx), prefix-max the idx, bisect each anchor — O((T+M) log T)
    # instead of O(T*M), which matters on media-heavy mega docs.
    inserts: list[list[tuple[str, str, str]]] = [[] for _ in range(len(text_spans) + 1)]
    by_src = sorted((src, i) for i, (_k, _t, src) in enumerate(text_spans))
    src_keys = [s for s, _ in by_src]
    prefix_max: list[int] = []
    hi = -1
    for _, i in by_src:
        hi = i if i > hi else hi
        prefix_max.append(hi)
    for kind, caption, ref, anchor in media_spans:
        j = bisect.bisect_right(src_keys, anchor) - 1
        pos = prefix_max[j] if j >= 0 else -1
        out_kind = "table" if kind in ("table_image", "table") else "figure"
        inserts[pos + 1].append((out_kind, norm_text(caption), ref))

    merged: list[tuple[str, str, str]] = []
    for k, t, ref in inserts[0]:
        merged.append((k, t, ref))
    for i, (kind, text, _src) in enumerate(text_spans):
        merged.append((kind, text, ""))
        for k, t, ref in inserts[i + 1]:
            merged.append((k, t, ref))

    out: list[dict] = []
    off = 0
    for kind, text, ref in merged:
        out.append({"kind": kind, "text": text, "media_ref": ref, "offset": off})
        off += len(text) + SPAN_SEP_CHARS
    return out


# ---------------------------------------------------------------------------
# Per-document driver: dispatch + assemble
# ---------------------------------------------------------------------------

MEDIA_KINDS = frozenset({"figure", "table_image", "table"})
_PASSTHROUGH_KINDS = frozenset({"heading", "body", "caption"})


def split_media(spans) -> tuple[list, list[tuple[str, str, str, int]]]:
    """Partition input spans into (non-media spans, media tuples)."""
    non_media, media = [], []
    for sp in (spans if spans is not None else []):
        if sp is None:
            continue
        kind = sp["kind"] or ""
        if kind in MEDIA_KINDS:
            media.append(
                (
                    kind,
                    sp["text"] or "",
                    sp["media_ref"] or "",
                    int(sp["offset"]) if sp["offset"] is not None else 0,
                )
            )
        else:
            non_media.append(sp)
    return non_media, media


def extract_text_spans(
    spans, media_offsets: list[int]
) -> list[tuple[str, str, int]]:
    """Pre-stitch extraction: non-media spans -> ordered (kind, text, src).

    Dispatch mirrors the reference's content_type branch
    (``routes/route.py:81-102``): text passthrough, html -> E1,
    pdf_block -> E2. Mixed-modality docs emit each unit at the source
    position of its first span; all pdf blocks form one layout-ordered
    unit. ``media_offsets`` feed E2's caption detection.

    This is the chunk-safe core: running it per page-aligned chunk and
    concatenating in chunk order equals the whole-document run (per-page
    font histograms + per-fragment HTML scoring), which is what makes
    salted mega-doc splitting exact (SURVEY §4.3).
    """
    pdf_blocks: list[tuple[str, str, int]] = []
    pdf_first: tuple[int, int] | None = None
    units: list[tuple[tuple[int, int], list[tuple[str, str, int]]]] = []

    for idx, sp in enumerate(spans if spans is not None else []):
        if sp is None:
            continue
        kind = sp["kind"] or ""
        text = sp["text"] or ""
        ref = sp["media_ref"] or ""
        off = int(sp["offset"]) if sp["offset"] is not None else 0
        if kind == "pdf_block":
            pdf_blocks.append((text, ref, off))
            if pdf_first is None:
                pdf_first = (off, idx)
        elif kind == "html":
            extracted = [(k, t, off) for k, t in extract_html_fragment(text)]
            if extracted:
                units.append(((off, idx), extracted))
        elif kind in _PASSTHROUGH_KINDS:
            # already-extracted spans pass through kind-preserving, which
            # makes extract_document exactly idempotent (tested property)
            t = norm_text(text)
            if t:
                units.append(((off, idx), [(kind, t, off)]))
        else:  # 'text' and unknown kinds: normalized passthrough as body
            t = norm_text(text)
            if t:
                units.append(((off, idx), [("body", t, off)]))

    if pdf_blocks:
        extracted = extract_pdf_blocks(pdf_blocks, media_offsets)
        if extracted:
            units.append((pdf_first, extracted))  # type: ignore[arg-type]

    units.sort(key=lambda u: u[0])
    text_spans: list[tuple[str, str, int]] = []
    for _key, payload in units:
        text_spans.extend(payload)
    return text_spans


def chunk_document(spans, max_units_per_chunk: int = 128) -> tuple[list, list]:
    """Split a document's non-media spans into extraction-safe chunks.

    Returns (chunks, media) where chunks is a list of span-lists. Safety
    invariant (tested): concatenating ``extract_text_spans(chunk)`` over
    chunks in order equals ``extract_text_spans(whole doc)``, because
    chunk boundaries respect the kernel's unit structure — html/text spans
    are independent units, and PDF pages are never split (per-page font
    histograms and column clustering make pages the atomic PDF unit).
    Items are ordered exactly like extract_text_spans orders units:
    non-PDF units by (offset, input_idx); all PDF pages contiguously at the
    first PDF span's position, ascending by page.

    This is the mega-document salting primitive (SURVEY §4.3): chunks of
    one skewed doc extract independently on different executors and
    reassemble with stitch_media afterwards.
    """
    non_media, media = split_media(spans)

    pdf_by_page: dict[int, list] = {}
    pdf_key: tuple[int, int] | None = None
    items: list[tuple[tuple, list]] = []
    for idx, sp in enumerate(non_media):
        if (sp["kind"] or "") == "pdf_block":
            page, _c, _y, _x, _f = parse_layout_token(sp["media_ref"] or "")
            pdf_by_page.setdefault(page, []).append(sp)
            if pdf_key is None:
                off = int(sp["offset"]) if sp["offset"] is not None else 0
                pdf_key = (off, idx)
        else:
            off = int(sp["offset"]) if sp["offset"] is not None else 0
            items.append(((off, idx, -1), [sp]))
    if pdf_key is not None:
        for page in sorted(pdf_by_page):
            items.append(((pdf_key[0], pdf_key[1], page), pdf_by_page[page]))
    items.sort(key=lambda it: it[0])

    chunks: list[list] = []
    for i in range(0, len(items), max_units_per_chunk):
        chunk = [sp for _k, sps in items[i : i + max_units_per_chunk] for sp in sps]
        chunks.append(chunk)
    if not chunks:
        chunks = [[]]
    return chunks, media


def extract_document(spans) -> list[dict]:
    """Extract one document's span list into ordered output spans.

    Output: list of {kind, text, media_ref, offset} dicts; array order is
    extraction order; offsets cumulative. Invariant vs goldens: sequence
    equality on (kind, text, media_ref, order) — BASELINE.json input_hint.
    """
    if spans is None:
        return []
    non_media, media = split_media(spans)
    media_offsets = [m[3] for m in media]
    text_spans = extract_text_spans(non_media, media_offsets)
    return stitch_media(text_spans, media)
