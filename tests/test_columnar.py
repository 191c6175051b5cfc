"""Equality gate for the columnar extraction core (functions/columnar.py).

``extract_batch`` must return exactly the per-document kernels' output
(``kernels.extract_document``, itself pinned by the goldens) for every cell
of a batch, and each document's joined E4 text. Covered here: random
batches built to hit every dispatch branch and per-row fallback, every
corpus family at three seeds, and an exhaustive code-point check of the
byte guard that lets rows skip ``norm_text``.
"""

import sys

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from ai_textbook_processor_spark.corpus import ALL_FAMILIES, gen_doc
from ai_textbook_processor_spark.functions.columnar import (
    SPANS_ARROW_TYPE,
    TEXT_KINDS,
    extract_batch,
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
