"""Columnar extraction core: E1-E3 over a whole Arrow batch of span lists.

``extract_batch(spans)`` returns exactly ``[kernels.extract_document(c) for
c in cells]`` (a null cell gives ``[]``), as one Arrow list array, plus each
document's joined text for E4. It never builds a Python object per span:
span dispatch, ``norm_text``, E2 layout ordering and classification, unit
ordering, E3 media placement and the cumulative offsets are Arrow compute
and numpy operations over the flattened batch. What stays per row, calling
the unchanged per-document kernels:

* E1: ``kernels.extract_html_fragment`` once per HTML fragment;
* ``kernels.norm_text`` on the rows a byte scan cannot prove it leaves
  unchanged (non-ASCII, or whitespace other than single interior spaces);
* ``kernels.parse_layout_token`` on the layout tokens the ASCII pattern
  does not match (Unicode digits, malformed tokens);
* ``kernels.extract_document`` for a whole document whose layout numbers
  do not fit int64 arithmetic (a value of 10**18 or more).

The per-document kernels stay the reference (goldens, the salted chunk
path); equality of this core with them is tested property-wise and on
every corpus family (tests/test_columnar.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from . import kernels
from .kernels import (
    CAPTION_ANCHOR_DIST,
    COLUMN_GAP_PX,
    HEADING_FONT_DELTA,
    SPAN_SEP_CHARS,
    norm_text,
    parse_layout_token,
)

SPAN_ARROW_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
SPANS_ARROW_TYPE = pa.list_(SPAN_ARROW_TYPE)


def spans_array(docs, spans_type: pa.DataType) -> pa.ListArray:
    """The ``list<struct>`` spans column of ``docs`` (per-document lists of
    span dicts), built from flattened parallel lists plus an offsets array
    instead of letting ``pa.array`` infer from the dicts: 15x faster (5 ms
    vs 76 ms per 2.7k-doc slice), identical array (pinned by
    tests/test_corpus.py)."""
    span_struct = spans_type.value_type
    offsets = [0]
    kinds: list = []
    txts: list = []
    refs: list = []
    offs: list = []
    n_flat = 0
    for doc in docs:
        n_flat += len(doc)
        offsets.append(n_flat)
        for sp in doc:
            kinds.append(sp["kind"])
            txts.append(sp["text"])
            refs.append(sp["media_ref"])
            offs.append(sp["offset"])
    return pa.ListArray.from_arrays(
        pa.array(offsets, type=pa.int32()),
        pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(txts, type=pa.string()),
                pa.array(refs, type=pa.string()),
                pa.array(offs, type=pa.int32()),
            ],
            fields=list(span_struct),
        ),
    )


# output kind codes; the first three are the kinds E4 scores
OUT_KINDS = ("heading", "body", "caption", "figure", "table")
TEXT_KINDS = OUT_KINDS[:3]
_OUT_KIND_ARRAY = pa.array(OUT_KINDS, pa.string())
_HEADING, _BODY, _CAPTION, _FIGURE, _TABLE = range(5)
# input categories, as extract_text_spans dispatches them
_TEXT, _HTML, _PDF, _MEDIA = range(4)

# A layout token the vector path parses: ASCII digits, at most 18 to a used
# field, so every value and sum stays in int64. parse_layout_token accepts
# this shape with any Unicode decimal digits and any length; the rows the
# pattern misses (and every malformed token) go through it, and a doc with a
# value >= 10**18 takes the per-document kernels.
_LAYOUT_PATTERN = (
    r"^p(?P<page>[0-9]{1,18})\.c[0-9]+\.y(?P<y>[0-9]{1,18})"
    r"\.x(?P<x>[0-9]{1,18})\.f(?P<font>[0-9]{1,18})$"
)
_LAYOUT_FIELDS = ("page", "y", "x", "font")
_MAX_LAYOUT = 10**18


def _string_buffers(arr: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(row offsets rebased to 0, UTF-8 bytes) of a string array."""
    n = len(arr)
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=np.int32)[arr.offset : arr.offset + n + 1]
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] else np.zeros(0, np.uint8)
    return offs - offs[0], data[offs[0] : offs[-1]]


def norm_unchanged(arr: pa.Array) -> np.ndarray:
    """Per row of a (null-free) string array: True only when ``norm_text``
    returns the row unchanged, proved from its bytes: no byte outside
    0x20-0x7F (so the row is ASCII, where NFC is the identity, and holds no
    whitespace but the space) and no leading, trailing or doubled space. A
    False row may still be unchanged."""
    n = len(arr)
    ok = np.ones(n, dtype=bool)
    if n == 0:
        return ok
    offs, u8 = _string_buffers(arr)
    space = u8 == 0x20
    bad = (u8 < 0x20) | (u8 >= 0x80)
    bad[:-1] |= space[:-1] & space[1:]  # a pair across rows flags an edge space too
    ok[np.searchsorted(offs, np.flatnonzero(bad), side="right") - 1] = False
    nonempty = offs[1:] > offs[:-1]
    ok[nonempty] &= ~space[offs[:-1][nonempty]] & ~space[offs[1:][nonempty] - 1]
    return ok


def normalize(arr: pa.Array) -> pa.Array:
    """``norm_text`` over every row of a null-free string array; only the
    rows ``norm_unchanged`` cannot clear are converted to Python."""
    ok = norm_unchanged(arr)
    if ok.all():
        return arr
    rows = np.flatnonzero(~ok)
    fixed = pa.array([norm_text(s) for s in arr.take(rows).to_pylist()], pa.string())
    return pc.replace_with_mask(arr, pa.array(~ok), fixed)


def _empty_strings(n: int) -> pa.Array:
    return pa.StringArray.from_buffers(
        n, pa.py_buffer(np.zeros(n + 1, dtype=np.int32)), pa.py_buffer(b"")
    )


def _dense_keys(groups: list[np.ndarray], values: list[np.ndarray]) -> list[np.ndarray]:
    """Composite int64 keys ordering (group, value) pairs, for several arrays
    at once: the values are replaced by their joint dense rank, so
    ``group * width + rank`` cannot overflow whatever the values are."""
    _, rank = np.unique(np.concatenate(values), return_inverse=True)
    width = int(rank.max()) + 1 if len(rank) else 1
    out, start = [], 0
    for g, v in zip(groups, values):
        out.append(g * width + rank[start : start + len(v)])
        start += len(v)
    return out


def _run_starts(*keys: np.ndarray) -> np.ndarray:
    """True at each row of sorted ``keys`` that starts a new run."""
    n = len(keys[0])
    new = np.zeros(n, dtype=bool)
    if n:
        new[0] = True
        for k in keys:
            new[1:] |= k[1:] != k[:-1]
    return new


def _dispatch(kind: str) -> tuple[int, int]:
    """(input category, output kind code) of an input span kind, the way
    extract_text_spans and stitch_media treat it."""
    if kind == "pdf_block":
        return _PDF, _BODY
    if kind == "html":
        return _HTML, _BODY
    if kind in kernels.MEDIA_KINDS:
        return _MEDIA, _TABLE if kind in ("table_image", "table") else _FIGURE
    # passthrough kinds keep their kind; 'text' and unknown kinds become body
    return _TEXT, OUT_KINDS.index(kind) if kind in TEXT_KINDS else _BODY


class _Spans:
    """The batch's non-null spans, flattened: one numpy/Arrow column per
    field, ``doc`` the cell index, ``pos`` the flat position (input order
    within a document)."""

    def __init__(self, spans: pa.Array):
        flat = spans.flatten()
        doc = pc.list_parent_indices(spans)
        if flat.null_count:
            keep = flat.is_valid()
            flat, doc = flat.filter(keep), doc.filter(keep)
        self.n_docs = len(spans)
        self.doc = doc.to_numpy().astype(np.int64)
        self.pos = np.arange(len(flat), dtype=np.int64)
        self.text = self._strings(flat.field("text"))
        self.ref = self._strings(flat.field("media_ref"))
        self.off = pc.fill_null(flat.field("offset"), 0).to_numpy().astype(np.int64)
        enc = pc.dictionary_encode(self._strings(flat.field("kind")))
        table = np.array(
            [_dispatch(k) for k in enc.dictionary.to_pylist()], dtype=np.int8
        ).reshape(-1, 2)
        self.cat, self.kind = table[enc.indices.to_numpy()].T

    @staticmethod
    def _strings(col: pa.Array) -> pa.Array:
        if col.type != pa.string():
            col = col.cast(pa.string())
        return pc.fill_null(col, "")


class _Rows:
    """Output rows under construction: parallel columns plus sort keys."""

    def __init__(self):
        self.parts: list[tuple] = []

    def add(self, doc, kind, text, keys, ref=None, src=None) -> None:
        n = len(doc)
        self.parts.append((
            doc, kind, text,
            _empty_strings(n) if ref is None else ref,
            np.zeros(n, dtype=np.int64) if src is None else src,
            keys,
        ))

    def ordered(self):
        """(doc, kind, text, ref, src) sorted by (doc, *keys)."""
        if not self.parts:
            no = np.zeros(0, dtype=np.int64)
            return no, no.astype(np.int8), _empty_strings(0), _empty_strings(0), no
        doc, kind, text, ref, src, keys = zip(*self.parts)
        doc, kind, src = (np.concatenate(c) for c in (doc, kind, src))
        keys = [np.concatenate(k) for k in zip(*keys)]
        order = np.lexsort(tuple(reversed(keys)) + (doc,))
        return (
            doc[order], kind[order], pa.concat_arrays(text).take(order),
            pa.concat_arrays(ref).take(order), src[order],
        )


def _layout(s: _Spans, pdf: np.ndarray) -> tuple[dict, np.ndarray]:
    """The parsed (page, y, x, font) columns of the pdf blocks ``pdf``, and
    which of them hold a value too large for int64-safe arithmetic."""
    tokens = s.ref.take(pdf)
    m = pc.extract_regex(tokens, _LAYOUT_PATTERN)
    vals = {
        f: pc.cast(pc.fill_null(digits, "0"), pa.int64()).to_numpy(
            zero_copy_only=False, writable=True
        )
        for f, digits in zip(_LAYOUT_FIELDS, m.flatten())  # null where unmatched
    }
    too_large = np.zeros(len(pdf), dtype=bool)
    unmatched = np.flatnonzero(~m.is_valid().to_numpy(zero_copy_only=False))
    for i, token in zip(unmatched, tokens.take(unmatched).to_pylist()):
        page, _c, y, x, font = parse_layout_token(token)
        if max(page, y, x, font) >= _MAX_LAYOUT:
            too_large[i] = True
        else:
            vals["page"][i], vals["y"][i], vals["x"][i], vals["font"][i] = page, y, x, font
    return vals, too_large


def _passthrough(s: _Spans, rows: np.ndarray, units: _Rows) -> None:
    """Text and already-extracted spans: one normalized span each, kept
    when not empty."""
    text = normalize(s.text.take(rows))
    keep = pc.utf8_length(text).to_numpy() > 0
    r = rows[keep]
    units.add(
        s.doc[r], s.kind[r], text.filter(pa.array(keep)),
        (s.off[r], s.pos[r], np.zeros(len(r), dtype=np.int64)), src=s.off[r],
    )


def _e1(s: _Spans, rows: np.ndarray, units: _Rows) -> None:
    """E1 once per HTML fragment; its spans form one unit at the fragment."""
    unit, sub, kind, texts = [], [], [], []
    code = {k: i for i, k in enumerate(OUT_KINDS)}
    for r, fragment in zip(rows, s.text.take(rows).to_pylist()):
        for j, (k, t) in enumerate(kernels.extract_html_fragment(fragment)):
            unit.append(r)
            sub.append(j)
            kind.append(code[k])
            texts.append(t)
    unit = np.array(unit, dtype=np.int64)
    units.add(
        s.doc[unit], np.array(kind, dtype=np.int8), pa.array(texts, pa.string()),
        (s.off[unit], s.pos[unit], np.array(sub, dtype=np.int64)), src=s.off[unit],
    )


def _e2(s: _Spans, pdf: np.ndarray, lay: dict, media: np.ndarray, units: _Rows) -> None:
    """E2 over every pdf block ``pdf`` of the batch (``lay`` their parsed
    tokens): per (doc, page) columns from x gaps and the modal body font,
    then one layout-ordered, classified unit at each doc's first block."""
    d = s.doc[pdf]
    first = _run_starts(d)  # pdf is in (doc, pos) order
    block = np.flatnonzero(first)[np.cumsum(first) - 1]  # each doc's first block
    unit_off, unit_pos = s.off[pdf][block], s.pos[pdf][block]
    text = normalize(s.text.take(pdf))
    length = pc.utf8_length(text).to_numpy().astype(np.int64)
    keep = np.flatnonzero(length > 0)
    if not len(keep):
        return
    d, unit_off, unit_pos, length = d[keep], unit_off[keep], unit_pos[keep], length[keep]
    page, y, x, font = (lay[f][keep] for f in _LAYOUT_FIELDS)
    off, pos, text = s.off[pdf][keep], s.pos[pdf][keep], text.take(keep)
    n = len(keep)

    # columns: a new one after each x gap > COLUMN_GAP_PX within a page
    o = np.lexsort((x, page, d))
    new_page = _run_starts(d[o], page[o])
    page_of = np.cumsum(new_page) - 1
    step = np.zeros(n, dtype=np.int64)
    step[1:] = np.diff(x[o]) > COLUMN_GAP_PX
    steps = np.cumsum(step)
    col = np.empty(n, dtype=np.int64)
    col[o] = steps - steps[new_page][page_of]  # from 0 on each page
    pg = np.empty(n, dtype=np.int64)
    pg[o] = page_of

    # body font per page: the char-weighted modal font, ties to the smaller
    o = np.lexsort((font, pg))
    starts = np.flatnonzero(_run_starts(pg[o], font[o]))
    weight = np.add.reduceat(length[o], starts)
    f_pg, f_font = pg[o][starts], font[o][starts]
    best = np.lexsort((f_font, -weight, f_pg))
    body = f_font[best][_run_starts(f_pg[best])][pg]

    # a smaller font within CAPTION_ANCHOR_DIST of a media anchor of its doc
    mk, lo, hi = _dense_keys(
        [s.doc[media], d, d],
        [s.off[media], off - CAPTION_ANCHOR_DIST, off + CAPTION_ANCHOR_DIST],
    )
    mk.sort()
    near = np.searchsorted(mk, hi, side="right") > np.searchsorted(mk, lo, side="left")
    kind = np.where(
        font >= body + HEADING_FONT_DELTA,
        _HEADING,
        np.where((font < body) & near, _CAPTION, _BODY),
    ).astype(np.int8)

    rank = np.empty(n, dtype=np.int64)
    rank[np.lexsort((pos, x, y, col, page, d))] = np.arange(n)
    units.add(d, kind, text, (unit_off, unit_pos, rank), src=off)


def _stitch(s: _Spans, media: np.ndarray, units: _Rows, out: _Rows) -> None:
    """E3: the ordered text spans, and each media span after the last text
    span (in output order) of its doc whose source offset <= its anchor,
    before all text when there is none; media at one place keep their
    input order."""
    doc, kind, text, _ref, src = units.ordered()
    g = np.arange(len(doc), dtype=np.int64)  # output position; docs ascend
    m_doc = s.doc[media]
    place = np.full(len(media), -1, dtype=np.int64)
    if len(doc):
        tk, mk = _dense_keys([doc, m_doc], [src, s.off[media]])
        o = np.lexsort((g, tk))
        last = np.maximum.accumulate(g[o])  # prefix max over (doc, src) order
        j = np.searchsorted(tk[o], mk, side="right") - 1
        # An anchor below all of its doc's text lands on an earlier doc's
        # entry, whose position is below all of its own doc's: as good as -1.
        place[j >= 0] = last[j[j >= 0]]
    zero = np.zeros(len(doc), dtype=np.int64)
    out.add(doc, kind, text, (g, zero, zero))
    out.add(
        m_doc, s.kind[media], normalize(s.text.take(media)),
        (place, np.ones(len(media), dtype=np.int64), s.pos[media]),
        ref=s.ref.take(media),
    )


def _reference_docs(spans: pa.Array, docs: np.ndarray, out: _Rows) -> None:
    """``kernels.extract_document`` for ``docs``, in its output order."""
    code = {k: i for i, k in enumerate(OUT_KINDS)}
    doc, kind, text, ref = [], [], [], []
    for d in docs:
        for sp in kernels.extract_document(spans[int(d)].as_py()):
            doc.append(d)
            kind.append(code[sp["kind"]])
            text.append(sp["text"])
            ref.append(sp["media_ref"])
    seq = np.arange(len(doc), dtype=np.int64)
    zero = np.zeros(len(doc), dtype=np.int64)
    out.add(
        np.array(doc, dtype=np.int64), np.array(kind, dtype=np.int8),
        pa.array(text, pa.string()), (seq, zero, zero), ref=pa.array(ref, pa.string()),
    )


def joined_texts(extracted: pa.Array) -> pa.Array:
    """Each document's E4 input: the texts of its heading, body and caption
    spans joined by single spaces, in output order."""
    flat = extracted.flatten()
    keep = pc.is_in(flat.field("kind"), value_set=pa.array(TEXT_KINDS))
    doc = pc.list_parent_indices(extracted).filter(keep).to_numpy()
    offsets = np.zeros(len(extracted) + 1, dtype=np.int32)
    np.cumsum(np.bincount(doc, minlength=len(extracted)), out=offsets[1:])
    texts = pa.ListArray.from_arrays(pa.array(offsets), flat.field("text").filter(keep))
    return pc.binary_join(texts, " ")


def extract_batch(spans) -> tuple[pa.ListArray, pa.Array]:
    """E1-E3 over a batch of span lists (a ``list<struct<kind, text,
    media_ref, offset>>`` array): ``(extracted, joined)``, where
    ``extracted`` holds ``kernels.extract_document(cell)`` of every cell
    (``[]`` for a null cell) with the same struct fields, and ``joined`` is
    ``joined_texts(extracted)``."""
    if isinstance(spans, pa.ChunkedArray):
        spans = spans.combine_chunks()
    s = _Spans(spans)
    pdf = np.flatnonzero(s.cat == _PDF)
    lay, too_large = _layout(s, pdf)
    fallback = np.zeros(s.n_docs, dtype=bool)
    fallback[s.doc[pdf][too_large]] = True
    live = ~fallback[s.doc]
    media = np.flatnonzero((s.cat == _MEDIA) & live)

    units = _Rows()
    _passthrough(s, np.flatnonzero((s.cat == _TEXT) & live), units)
    _e1(s, np.flatnonzero((s.cat == _HTML) & live), units)
    pdf_live = live[pdf]
    _e2(s, pdf[pdf_live], {f: v[pdf_live] for f, v in lay.items()}, media, units)
    out = _Rows()
    _stitch(s, media, units, out)
    if fallback.any():
        _reference_docs(spans, np.flatnonzero(fallback), out)
    doc, kind, text, ref, _src = out.ordered()

    # offsets: per-doc cumulative sum of len(text) + SPAN_SEP_CHARS
    width = pc.utf8_length(text).to_numpy().astype(np.int64) + SPAN_SEP_CHARS
    list_offsets = np.zeros(s.n_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc, minlength=s.n_docs), out=list_offsets[1:])
    before = np.cumsum(width) - width
    offset = before - np.append(before, 0)[list_offsets[:-1]][doc]
    extracted = pa.ListArray.from_arrays(
        pa.array(list_offsets.astype(np.int32)),
        pa.StructArray.from_arrays(
            [_OUT_KIND_ARRAY.take(kind), text, ref, pa.array(offset.astype(np.int32))],
            fields=list(SPAN_ARROW_TYPE),
        ),
    )
    return extracted, joined_texts(extracted)
