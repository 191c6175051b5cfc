"""Equality gate for the columnar extraction core (functions/columnar.py).

``extract_batch`` must return exactly the per-document kernels' output
(``kernels.extract_document``, itself pinned by the goldens) for every cell
of a batch, and each document's joined E4 text. Covered here: random
batches built to hit every dispatch branch and per-row fallback, every
corpus family at three seeds, and an exhaustive code-point check of the
byte guard that lets rows skip ``norm_text``. The batch E1,
``extract_html_batch``, must return exactly ``kernels.extract_html_fragment``
of every fragment: on every corpus family, fuzzed nested HTML, the
adversarial fragments of test_fast_html and the E1 goldens; which fragments
it hands to the kernel is pinned construct by construct.
"""

import sys

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ai_textbook_processor_spark.corpus import ALL_FAMILIES, gen_doc
from ai_textbook_processor_spark.functions import kernels
from ai_textbook_processor_spark.functions.columnar import (
    OUT_KINDS,
    SPANS_ARROW_TYPE,
    TEXT_KINDS,
    extract_batch,
    extract_html_batch,
    norm_unchanged,
    normalize,
)
from ai_textbook_processor_spark.functions.kernels import extract_document, norm_text

# every code point str.isspace() accepts (29 of them)
SPACES = [chr(c) for c in range(sys.maxunicode + 1) if chr(c).isspace()]
# NFC changes these: combining sequences, singleton decompositions, Hangul jamo
NFC_CHANGING = ["e\u0301", "\u212b", "\u2126", "A\u030a", "\u1100\u1161", "\u0344"]


def _reference(cells):
    docs = [extract_document(c) for c in cells]
    joined = [" ".join(s["text"] for s in d if s["kind"] in TEXT_KINDS) for d in docs]
    return docs, joined


def _assert_equal(cells, arr=None):
    arr = pa.array(cells, SPANS_ARROW_TYPE) if arr is None else arr
    extracted, joined = extract_batch(arr)
    docs, ref_joined = _reference(cells)
    assert extracted.type == SPANS_ARROW_TYPE
    assert extracted.null_count == 0 and joined.null_count == 0
    for i, (got, want) in enumerate(zip(extracted.to_pylist(), docs)):
        assert got == want, i
    assert joined.to_pylist() == ref_joined


def test_space_and_nfc_fixtures():
    assert len(SPACES) == 29
    assert all(norm_text(s) != s for s in NFC_CHANGING)


# -- random batches ----------------------------------------------------------

_words = st.sampled_from(
    ["alpha", "Beta", "x", "café", "北京", "٣", "é", "Å", "ﬁ", "Zürich", ""]
)
_ws = st.sampled_from(SPACES + ["  ", " \t ", " 　"])
_text = st.one_of(
    st.lists(st.one_of(_words, _ws), max_size=8).map("".join),
    st.text(alphabet=st.characters(blacklist_categories=("Cs",)), max_size=40),
    st.sampled_from(NFC_CHANGING),
)
_html = st.sampled_from(
    [
        "<article><h1>A title here</h1><p>{t} the body paragraph of this"
        " article is long enough to count.</p><p>{t}</p></article>",
        "<div><p>{t} one more paragraph that clears the minimum length</p>"
        "<figcaption>Fig {t}</figcaption><a href='/x'>{t}</a></div>",
        "<nav>{t}</nav><p>{t}",
        "{t}",
        "<p>unclosed <b",
    ]
)
_digits = st.one_of(
    st.integers(0, 999).map(str),
    st.integers(0, 400).map(lambda v: f"{v:03d}"),
    st.sampled_from(["٣", "３", "1٢", "9" * 19, "1" + "0" * 18, "0" * 25 + "7"]),
)
_token = st.one_of(
    st.builds(
        lambda p, c, y, x, f: f"p{p}.c{c}.y{y}.x{x}.f{f}",
        st.sampled_from(["0", "1", "2"]) | _digits,
        _digits,
        st.sampled_from(["50", "100", "160", "160"]) | _digits,
        st.sampled_from(["72", "72", "320", "500", "252"]) | _digits,
        st.sampled_from(["9", "12", "12", "14", "18"]) | _digits,
    ),
    st.sampled_from(["", "p1.c0.y5", "p1.c0.y5.x2.f12\n", "P1.c0.y5.x2.f12", "junk"]),
)
_offset = st.one_of(st.none(), st.integers(-3, 12), st.integers(-(2**31), 2**31 - 1))
_nullable = lambda s: st.one_of(st.none(), s)  # noqa: E731


@st.composite
def _span(draw):
    kind = draw(
        st.one_of(
            st.none(),
            st.sampled_from(
                ["text", "html", "pdf_block", "pdf_block", "pdf_block", "figure",
                 "table_image", "table", "heading", "body", "caption", "", "junk"]
            ),
        )
    )
    if kind == "html":
        text = draw(_html).replace("{t}", draw(_text))
    else:
        text = draw(_nullable(_text))
    ref = draw(_nullable(_token if kind == "pdf_block" else st.sampled_from(["img-1", "r", ""])))
    return {"kind": kind, "text": text, "media_ref": ref, "offset": draw(_offset)}


_cell = st.one_of(st.none(), st.lists(st.one_of(st.none(), _span()), max_size=14))


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(_cell, min_size=1, max_size=8))
def test_core_equals_per_doc_reference(cells):
    _assert_equal(cells)


@settings(max_examples=60, deadline=None, derandomize=True)
@given(st.lists(_cell, min_size=2, max_size=8), st.data())
def test_core_on_a_sliced_batch(cells, data):
    start = data.draw(st.integers(0, len(cells) - 1))
    stop = data.draw(st.integers(start, len(cells)))
    arr = pa.array(cells, SPANS_ARROW_TYPE).slice(start, stop - start)
    _assert_equal(cells[start:stop], arr)


@st.composite
def _layout_span(draw):
    """A pdf block or media span of a dense layout: few pages, x gaps at and
    around COLUMN_GAP_PX, fonts around the body size, colliding offsets."""
    if draw(st.integers(0, 3)) == 0:
        kind = draw(st.sampled_from(["figure", "table_image"]))
        return {"kind": kind, "text": "fig", "media_ref": "m", "offset": draw(st.integers(-1, 10))}
    token = "p{}.c0.y{}.x{}.f{}".format(
        draw(st.sampled_from([0, 0, 1])),
        draw(st.sampled_from([50, 100, 100, 160])),
        draw(st.sampled_from([72, 200, 252, 380, 432, 560])),
        draw(st.sampled_from([9, 10, 12, 12, 14, 18])),
    )
    text = draw(st.sampled_from(["ab", "abcd", "ab cd", "  ", "x"]))
    return {"kind": "pdf_block", "text": text, "media_ref": token, "offset": draw(st.integers(0, 8))}


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(st.lists(_layout_span(), max_size=12), min_size=1, max_size=5))
def test_core_equals_reference_on_dense_layouts(cells):
    _assert_equal(cells)


def test_core_on_layout_edge_cases():
    """Offset ties, media before, between and after text, a caption next to
    a media anchor, Unicode-digit and over-long tokens in one batch."""
    def block(text, token, off):
        return {"kind": "pdf_block", "text": text, "media_ref": token, "offset": off}

    def media(kind, off, ref="img"):
        return {"kind": kind, "text": " cap\ttion ", "media_ref": ref, "offset": off}

    tied = [
        media("figure", -5, "before"),
        {"kind": "text", "text": "first  para", "media_ref": None, "offset": 3},
        {"kind": "text", "text": "tied para", "media_ref": None, "offset": 3},
        media("table_image", 3, "tie-a"),
        media("figure", 3, "tie-b"),
        block("A heading here", "p0.c0.y50.x72.f18", 1),
        block("body text one", "p0.c0.y100.x72.f12", 2),
        block("Figure 1: small", "p0.c0.y700.x72.f9", 5),
        media("figure", 6, "mid"),
        block("right column", "p0.c1.y100.x400.f12", 4),
        block("page two", "p1.c0.y100.x72.f12", 9),
        media("table", 99, "after"),
    ]
    unicode_digits = [block("body ٣", "p٣.c0.y١٠٠.x٧٢.f١٢", 0), block("b", "p3.c0.y9.x72.f12", 1)]
    huge = [block("big page", "p" + "9" * 19 + ".c0.y1.x1.f12", 0), media("figure", 0)]
    _assert_equal([tied, unicode_digits, huge, None, [], [None]])


def test_core_on_every_corpus_family():
    cells = [
        gen_doc(idx, seed, family=fam)["spans"]
        for seed in (1, 42, 99)
        for fam in ALL_FAMILIES
        for idx in range(2)
    ]
    _assert_equal(cells)


# -- the norm_text guard -------------------------------------------------------


def test_guard_never_passes_a_row_norm_text_changes():
    """Every code point, alone and between two letters: a row the byte
    guard passes is unchanged by norm_text."""
    step = 1 << 16
    for lo in range(0, sys.maxunicode + 1, step):
        chars = [chr(c) for c in range(lo, min(lo + step, sys.maxunicode + 1))
                 if not 0xD800 <= c <= 0xDFFF]
        rows = chars + [f"a{c}b" for c in chars] + [c + c for c in chars]
        passed = norm_unchanged(pa.array(rows, pa.string()))
        assert not [r for r, ok in zip(rows, passed) if ok and norm_text(r) != r]
    spaced = [" a", "a ", "a  b", " ", "", "a b c"]
    assert norm_unchanged(pa.array(spaced)).tolist() == [False, False, False, False, True, True]


def test_normalize_equals_norm_text():
    rows = SPACES + NFC_CHANGING + ["", "a b", " a  b ", "x\u3000y", "ok"]
    arr = pa.array(rows).slice(1)
    assert normalize(arr).to_pylist() == [norm_text(r) for r in rows[1:]]


def test_udf_body_takes_arrow_or_pandas_cells():
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.operators.extract import make_extract_and_score_udf

    cells = [gen_doc(i, 5, family=f)["spans"] for i, f in enumerate(ALL_FAMILIES)]
    cells[3] = [dict(sp, offset=None) for sp in cells[3]]  # float offsets in pandas
    arr = pa.array(cells + [None], SPANS_ARROW_TYPE)
    func = make_extract_and_score_udf(CriteriaConfig()).func
    assert func(arr.to_pandas()).to_pylist() == func(arr).to_pylist()


# -- batch E1 ------------------------------------------------------------------


def _e1_by_fragment(fragments):
    """``extract_html_batch`` regrouped per fragment as the kernel's
    [(kind, text)] lists; its fragment column must be in order."""
    frag, kind, text = extract_html_batch(pa.array(fragments, pa.string()))
    assert (np.diff(frag) >= 0).all()
    out = [[] for _ in fragments]
    for f, k, t in zip(frag.tolist(), kind.tolist(), text.to_pylist()):
        out[f].append((OUT_KINDS[k], t))
    return out


def _assert_e1_equal(fragments):
    got = _e1_by_fragment(fragments)
    for i, html in enumerate(fragments):
        assert got[i] == kernels.extract_html_fragment(html), repr(html)


def _fallback_fragments(fragments, monkeypatch) -> list:
    """The fragments of one ``extract_html_batch`` call that went to the
    kernel."""
    seen = []
    real = kernels.extract_html_fragment

    def recording(html):
        seen.append(html)
        return real(html)

    monkeypatch.setattr(kernels, "extract_html_fragment", recording)
    _e1_by_fragment(fragments)
    monkeypatch.setattr(kernels, "extract_html_fragment", real)
    return seen


def _html_fragments(cells):
    return [sp["text"] for c in cells for sp in c if sp["kind"] == "html"]


def test_e1_on_every_corpus_family_and_seed(monkeypatch):
    fragments = _html_fragments(
        gen_doc(idx, seed, family=fam)["spans"]
        for seed in (1, 42, 99)
        for fam in ALL_FAMILIES
        for idx in range(4)
    )
    assert len(fragments) > 50
    _assert_e1_equal(fragments)
    # the generated HTML is all on the fast path
    assert _fallback_fragments(fragments, monkeypatch) == []


def test_e1_on_the_adversarial_fragments():
    from test_fast_html import _GRAMMAR_PIECES, NASTY

    _assert_e1_equal(NASTY)
    _assert_e1_equal(_GRAMMAR_PIECES + ["".join(_GRAMMAR_PIECES)])


@settings(max_examples=120, deadline=None, derandomize=True)
@given(
    st.lists(
        st.text(alphabet=st.sampled_from(list("<>/&;#abcdep!?-=\"' \né中")), max_size=200),
        max_size=6,
    )
)
def test_e1_on_fuzzed_text(fragments):
    _assert_e1_equal(fragments)


def test_e1_on_the_goldens(monkeypatch):
    """Every fragment the hand-written E1 goldens pass to the kernel."""
    import test_kernels_golden as golden

    seen = []
    real = golden.extract_html_fragment
    monkeypatch.setattr(golden, "extract_html_fragment", lambda h: seen.append(h) or real(h))
    for cls in (golden.TestHtmlKernel, golden.TestHtmlEdgeCases):
        for name in dir(cls):
            if name.startswith("test_"):
                getattr(cls(), name)()
    monkeypatch.undo()
    assert len(seen) >= 10
    _assert_e1_equal(seen)


# Nested HTML: every tag class the tree rules test, attributes in the strict
# grammar, pinned entities, voids, Unicode and whitespace, texts on both
# sides of the vote and link-density thresholds. One fragment in four also
# draws from constructs the fast path hands to the kernel (raw text,
# comments, other entities, attributes outside the grammar, stray and
# missing end tags); implied ends arise from the nesting itself.
_E1_TAGS = sorted(
    (kernels._BLOCK_TAGS | kernels._BOILERPLATE_TAGS | kernels._P_CLOSERS)
    - set(kernels._RAWTEXT_TAGS) - {"p"}
) + ["a", "b", "span", "tr", "x-y", "DIV", "Li"] + 4 * ["div", "article", "a", "b"]
_E1_LEAF_TAGS = ["p", "h1", "h3", "figcaption", "caption", "pre", "td", "li", "a", "b", "P"]
_E1_ATTRS = ["", "", "", "", ' class="x"', " id=main", ' href="/p?q=1&amp;r=2"',
             " data-x", " a=\"1\" b='2'", "\t\nclass = 'y' "]
_E1_WORDS = ["the green plant uses sunlight and water to produce its food",
             "energy moves between living systems in a constant natural cycle " * 2,
             "minerals travel upward through narrow channels inside the stem " * 5,
             "café naïve 北京", "🙂", "x", "&amp;", "&lt;", "&nbsp;", "&#39;", "&quot;",
             "&gt;", "  ", "\n\t"]
_E1_VOIDS = ["<br>", "<img src='a.png'>", "<BR>", "<hr>", "</br>", ""]
_E1_NOISE = {
    "attrs": [" title='a > b'", ' a="x"y', " a=b/", "@x"],
    "words": ["&eacute;", "& ", "a<b"],
    "voids": ["<br/>", "<!-- c -->", "<script>x</script>", "<?pi?>", "</p>"],
    "closes": ["p", None],
}


def _e1_html(noisy: bool):
    def pick(values, kind):
        return st.sampled_from(values + (_E1_NOISE[kind] if noisy else []))

    attrs = pick(_E1_ATTRS, "attrs")
    text = st.lists(pick(_E1_WORDS, "words"), min_size=1, max_size=3).map(" ".join)
    leaves = st.one_of(text, pick(_E1_VOIDS, "voids"))

    @st.composite
    def block(draw):  # a leaf-ish element around text: where votes come from
        tag = draw(st.sampled_from(_E1_LEAF_TAGS))
        inner = "".join(draw(st.lists(leaves, min_size=1, max_size=3)))
        return f"<{tag}{draw(attrs)}>{inner}</{tag}>"

    @st.composite
    def element(draw, children):
        tag = draw(st.sampled_from(_E1_TAGS))
        inner = "".join(draw(st.lists(st.one_of(children, block()), max_size=5)))
        close = draw(pick(4 * [tag] + [tag.upper()], "closes"))
        return f"<{tag}{draw(attrs)}>{inner}" + ("" if close is None else f"</{close}>")

    return st.recursive(st.one_of(leaves, block()), element, max_leaves=24)


_E1_HTML = st.one_of(_e1_html(False), _e1_html(False), _e1_html(False), _e1_html(True))


@settings(max_examples=400, deadline=None, derandomize=True)
@given(st.lists(_E1_HTML, min_size=1, max_size=6))
def test_e1_on_fuzzed_nested_html(fragments):
    _assert_e1_equal(fragments)


_CLEAN = (
    "<article><h2>Title here</h2><p>" + "plain words of a paragraph " * 3 + "</p>{}"
    "<p>" + "another paragraph with <a href='/x'>a link</a> inside it " * 2 + "</p></article>"
)
# constructs the fast path reads itself
_FAST = [
    "", "plain text", "<br>", "<BR>", "<img src=x.png>", "<hr >", "</br>", "&amp;",
    "&lt;&gt;&quot;&#39;&nbsp;", "&amp;lt;", "<span class='x' id=\"y\">s</span>",
    "<b\ttitle = 'a'\n>b</b>", "<a href='x\"y'>q</a>", "<x-y>z</x-y>",
    "<DIV>u</div>", "<blockquote>bq</blockquote>", "<nav><p>skip</p></nav>",
    "<p>in p <b>bold</b> and <a>link</a></p>", "<ul><li>one</li><li>two</li></ul>",
]
# constructs that send the whole fragment to the kernel
_BAIL = [
    "<p>x<div>y</div></p>", "<li>a<li>b</li></li>", "<td><th>c</th></td>",
    "<tr><tr>r</tr></tr>", "<p>unclosed", "<div>x</p></div>", "</span>",
    "<script>s</script>", "<style>p{}</style>", "<SCRIPT>s</SCRIPT>", "<!-- c -->",
    "<!DOCTYPE html>", "<![CDATA[x]]>", "<?pi?>", "&bad;", "&amp", "&#65;", "&eacute;",
    "a & b", "&lt", "<a b=\"x\"y>q</a>", "<a foo=a\"b\">q</a>", "<br/>",
    "<img src=x />", "<a href=x/>q</a>", "<a@x>q</a@x>", "<p\"x\">q</p>",
    "<abcdefghijk>q</abcdefghijk>", "</div class=x>", "1 < 2", "<2", "<",
    "<div title=\"a > b\">t</div>", "<div title=\"a<b\">t</div>", "<p/>",
]


def test_e1_bail_set(monkeypatch):
    """Each bail construct sends its fragment, and only it, to the kernel;
    each fast construct stays on the fast path."""
    fast = [_CLEAN.format(c) for c in _FAST]
    bail = [_CLEAN.format(c) for c in _BAIL]
    assert _fallback_fragments(fast, monkeypatch) == []
    for html in bail:
        assert _fallback_fragments([fast[0], html, fast[1]], monkeypatch) == [html]
    _assert_e1_equal(fast + bail)


def test_e1_implied_ends_exhaustive(monkeypatch):
    """For every (open element, tag opened inside it) pair of the names the
    tree rules test, the fragment goes to the kernel exactly when the
    kernel's tree builder would close the element first."""
    names = sorted(
        kernels._BLOCK_TAGS | kernels._P_CLOSERS | {"li", "td", "th", "tr", "a", "span"}
    )
    fragments, implied = [], []
    for outer in names:
        for inner in names:
            builder = kernels._DomBuilder()
            builder._push(outer)
            builder._implied_end(inner)
            implied.append(len(builder._stack) == 1)
            fragments.append(
                f"<div><{outer}><{inner}>{'words in the inner element ' * 2}</{inner}>"
                f"</{outer}></div>"
            )
    assert any(implied) and not all(implied)
    seen = set(_fallback_fragments(fragments, monkeypatch))
    assert [f in seen for f in fragments] == implied
    _assert_e1_equal(fragments)


def test_e1_mixed_batch_keeps_fragment_order(monkeypatch):
    clean = [_CLEAN.format(c) for c in _FAST[:4]]
    bail = [_CLEAN.format(c) for c in _BAIL[:4]]
    batch = [bail[0], clean[0], clean[1], bail[1], bail[2], clean[2], "", bail[3], clean[3]]
    assert _fallback_fragments(batch, monkeypatch) == bail
    frag, _kind, _text = extract_html_batch(pa.array(batch))
    assert sorted(set(frag.tolist())) == [0, 1, 2, 3, 4, 5, 7, 8]
    _assert_e1_equal(batch)
    # the same from a sliced array
    whole = extract_html_batch(pa.array(batch))
    sliced = extract_html_batch(pa.array(["<p>x</p>"] + batch).slice(1))
    assert [whole[0].tolist(), whole[1].tolist(), whole[2].to_pylist()] == [
        sliced[0].tolist(), sliced[1].tolist(), sliced[2].to_pylist()
    ]
