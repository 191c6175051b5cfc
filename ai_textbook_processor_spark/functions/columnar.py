"""Columnar extraction core: E1-E3 over a whole Arrow batch of span lists.

``extract_batch(spans)`` returns exactly ``[kernels.extract_document(c) for
c in cells]`` (a null cell gives ``[]``), as one Arrow list array, plus each
document's joined text for E4. It never builds a Python object per span:
span dispatch, ``norm_text``, E1 (``extract_html_batch``), E2 layout
ordering and classification, unit ordering, E3 media placement and the
cumulative offsets are Arrow compute and numpy operations over the
flattened batch. What stays per row, calling the unchanged per-document
kernels:

* ``kernels.extract_html_fragment`` on the HTML fragments whose tree the
  batch E1 cannot prove it builds the same way (implied ends, mismatched or
  unclosed tags, raw text, comments, other character references, tags the
  kernel's tokenizer reads differently);
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

import functools

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


# -- E1 ------------------------------------------------------------------------

# Tag names the batch E1 reads: at most _NAME_MAX characters of the kernel's
# tokenizer's name class, packed 6 bits a character (case folded) into one
# int64 key. A longer name sends its fragment to the kernel.
_NAME_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789:._-"
_NAME_MAX = 10
_NAME_CODE = np.zeros(256, dtype=np.int64)
for _i, _c in enumerate(_NAME_CHARS):
    _NAME_CODE[ord(_c)] = _NAME_CODE[ord(_c.upper())] = _i + 1
_LETTER = np.zeros(256, dtype=bool)
_LETTER[[ord(c) for c in _NAME_CHARS[:26] + _NAME_CHARS[:26].upper()]] = True
_SPACE = np.zeros(256, dtype=bool)
_SPACE[[ord(c) for c in "\t\n\r\f "]] = True


def _name_key(name: str) -> int:
    return sum(int(_NAME_CODE[ord(c)]) << (6 * i) for i, c in enumerate(name))


# The names the tree rules test, in key order.
_KNOWN = sorted(
    set(kernels._BLOCK_TAGS) | set(kernels._BOILERPLATE_TAGS) | set(kernels._VOID_TAGS)
    | set(kernels._P_CLOSERS) | set(kernels._RAWTEXT_TAGS) | {"a", "tr"},
    key=_name_key,
)
_KNOWN_KEYS = np.array([_name_key(x) for x in _KNOWN], dtype=np.int64)
# A tag with more than a name between '<' and '>' must match this whole: an
# end tag has only whitespace after its name, a start tag has attributes in
# the kernel's strict grammar, which proves that the kernel's tokenizer ends
# the tag at the same '>' and reads no quote differently.
_TAG_NAME = r"[a-zA-Z][a-zA-Z0-9:._-]*"
_TAG_PATTERN = (
    rf"^<(?:/{_TAG_NAME}{kernels._WSC}*|{_TAG_NAME}(?:{kernels._ATTR1})*{kernels._WSC}*)>$"
)
# The character references it decodes, each to the one character
# html.unescape makes of it. A '&' in text that starts none of them sends its
# fragment to the kernel. '&amp;' goes last, so no '&' it yields is re-read.
_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", "\xa0"), ("&amp;", "&"),
)
# (open element, tag opened inside it) pairs where the kernel's tree builder
# closes the element first (_DomBuilder._implied_end): such fragments go to
# the kernel.
_IMPLIED_ENDS = (
    (("p",), kernels._P_CLOSERS),
    (("li",), ("li",)),
    (("td", "th"), ("td", "th", "tr")),
    (("tr",), ("tr",)),
)


def _gather(u8: np.ndarray, starts: np.ndarray, lengths: np.ndarray):
    """The byte ranges ``[starts, starts + lengths)`` of ``u8`` laid end to
    end, and their offsets in the result."""
    offsets = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(lengths, out=offsets[1:])
    index = np.arange(offsets[-1]) + np.repeat(starts - offsets[:-1], lengths)
    return u8[index], offsets


@functools.lru_cache(maxsize=None)
def _name_flags(members) -> np.ndarray:
    """Per name index: whether the name is in ``members``; False for other
    names and for the fragment root (two entries at the end)."""
    flags = np.array([x in members for x in _KNOWN] + [False, False], dtype=bool)
    flags.flags.writeable = False  # shared by every caller
    return flags


class _Tags:
    """Every '<' of a batch of HTML fragments read as a tag: its fragment,
    byte ``start`` and ``end``, end tag or not, name ``key`` and ``name``
    (index into ``_KNOWN``, ``len(_KNOWN)`` for any other name). A fragment
    holding a '<' that is not such a tag, a raw-text element or a start tag
    ending in '/' is marked in ``bad``."""

    def __init__(self, offs: np.ndarray, u8: np.ndarray, bad: np.ndarray):
        n_bytes = len(u8)
        lt = np.flatnonzero(u8 == 0x3C)
        frag = np.searchsorted(offs, lt, side="right") - 1
        gt = np.flatnonzero(u8 == 0x3E)
        end = np.append(gt, n_bytes)[np.searchsorted(gt, lt)] + 1  # past the first '>'
        ok = end <= np.minimum(np.append(lt[1:], n_bytes), offs[frag + 1])
        byte = np.concatenate([u8, np.zeros(_NAME_MAX + 3, dtype=np.uint8)])

        close = byte[lt + 1] == 0x2F
        at = lt + 1 + close
        ok &= _LETTER[byte[at]]
        running = ok.copy()
        key = np.zeros(len(lt), dtype=np.int64)
        length = np.zeros(len(lt), dtype=np.int64)
        for i in range(_NAME_MAX + 1):
            c = _NAME_CODE[byte[at + i]]
            running &= c > 0
            if not running.any():
                break
            key |= (c * running) << (6 * i)
            length += running
        ok &= ~running  # at most _NAME_MAX characters
        after = byte[at + length]
        more = ok & (after != 0x3E)
        ok &= ~more | _SPACE[after]
        ok &= close | (byte[end - 2] != 0x2F)  # no start tag ending in '/'
        more = np.flatnonzero(more & ok)
        if len(more):
            data, offsets = _gather(u8, lt[more], end[more] - lt[more])
            tags = pa.StringArray.from_buffers(
                len(more), pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)
            )
            ok[more] = pc.match_substring_regex(tags, _TAG_PATTERN).to_numpy(
                zero_copy_only=False
            )
        bad[frag[~ok]] = True
        self.frag, self.start, self.end = frag[ok], lt[ok], end[ok]
        self.close, self.key = close[ok], key[ok]
        i = np.minimum(np.searchsorted(_KNOWN_KEYS, self.key), len(_KNOWN) - 1)
        self.name = np.where(_KNOWN_KEYS[i] == self.key, i, len(_KNOWN))
        bad[self.frag[self.is_(kernels._RAWTEXT_TAGS)]] = True

    def is_(self, members) -> np.ndarray:
        return _name_flags(members)[self.name]


def _check_entities(u8, offs, t: _Tags, bad) -> None:
    """Mark each fragment with a '&' outside its tags that starts no pinned
    entity."""
    amp = np.flatnonzero(u8 == 0x26)
    if not len(amp):
        return
    i = np.searchsorted(t.start, amp, side="right") - 1
    amp = amp[(i < 0) | (amp >= np.append(t.end, 0)[i])]  # no tag before: end 0
    frag = np.searchsorted(offs, amp, side="right") - 1
    matched = np.zeros(len(amp), dtype=bool)
    for ent, _char in _ENTITIES:
        e = np.frombuffer(ent.encode(), dtype=np.uint8)
        hit = amp + len(e) <= offs[frag + 1]
        for k in range(1, len(e)):
            hit &= u8[np.minimum(amp + k, len(u8) - 1)] == e[k]
        matched |= hit
    bad[frag[~matched]] = True


class _Tree:
    """The element tree of every fragment whose tags nest plainly, with
    ``bad`` marked for the others. Elements are the start and end tags of
    non-void names (``tag``: index into the tag table), in document order;
    ``mate`` pairs each start tag with its end tag, ``parent`` gives each
    start tag's parent: a start tag, or ``len(tag) + fragment`` for the
    fragment root."""

    def __init__(self, t: _Tags, bad: np.ndarray, n: int):
        # the depth after each tag must never drop below 0 and must end at 0
        ev = np.flatnonzero(~t.is_(kernels._VOID_TAGS) & ~bad[t.frag])
        step = np.where(t.close[ev], -1, 1)
        first = _run_starts(t.frag[ev])
        starts = np.flatnonzero(first)
        before = np.cumsum(step) - step
        depth = before + step - before[starts][np.cumsum(first) - 1]
        bad[t.frag[ev][depth < 0]] = True
        last = np.append(starts[1:], len(ev))[: len(starts)] - 1
        bad[t.frag[ev][last][depth[last] != 0]] = True
        keep = ~bad[t.frag[ev]]
        ev, depth = ev[keep], depth[keep]
        opens, frag, name = ~t.close[ev], t.frag[ev], t.name[ev]
        level = depth + ~opens  # an end tag's level is the depth before it
        idx = np.arange(len(ev))

        # In (fragment, level, document) order each end tag follows the
        # start tag it closes, which must carry the same name.
        order = np.lexsort((idx, level, frag))
        ends = np.flatnonzero(~opens[order])
        opener = order[ends - 1]
        key = t.key[ev]
        bad[frag[opener][key[opener] != key[order[ends]]]] = True
        mate = np.zeros(len(ev), dtype=np.int64)
        mate[opener] = order[ends]

        # The parent is the last start tag one level up: the levels of a
        # fragment are consecutive groups in that order.
        group = np.empty(len(ev), dtype=np.int64)
        group[order] = np.cumsum(_run_starts(frag[order], level[order])) - 1
        width = len(ev) + 1
        up = np.searchsorted((group * width + idx)[order], (group - 1) * width + idx) - 1
        parent = np.where(level > 1, order[np.maximum(up, 0)], len(ev) + frag)
        parent[~opens] = -1
        root = len(_KNOWN) + 1
        p_name = np.append(name, np.full(n, root))[parent]
        implied = np.zeros(len(ev), dtype=bool)
        for outer, inner in _IMPLIED_ENDS:
            implied |= _name_flags(outer)[p_name] & _name_flags(inner)[name]
        bad[frag[opens & implied]] = True

        self.tag, self.frag, self.name, self.mate, self.parent = ev, frag, name, mate, parent
        self.opens = opens & ~bad[frag]  # the start tags of fragments read here


def _block_texts(t: _Tags, tree: _Tree, b: np.ndarray, u8, offs, bad):
    """The raw texts and link-character counts of the leaf blocks ``b``
    (start tags in ``tree``, none under boilerplate). A block's text is the
    text runs after the tags inside it, outside boilerplate, a space for each
    <br>; a run is link text inside an <a>."""
    g = np.flatnonzero(~bad[t.frag])  # every tag of the fragments read here
    frag = t.frag[g]
    last = np.append(frag[1:] != frag[:-1], True)
    run_lo = t.end[g]
    run_hi = np.where(last, offs[frag + 1], np.append(t.start[g][1:], 0))

    def inside(names):  # per tag: the run after it lies inside such an element
        f = t.is_(names)[g].astype(np.int64)
        return np.cumsum(np.where(t.close[g], -f, f)) > 0

    at = np.searchsorted(g, tree.tag[b])
    step = np.zeros(len(g) + 1, dtype=np.int64)
    step[at] = 1
    block = np.cumsum(step[:-1]) - 1
    step[np.searchsorted(g, tree.tag[tree.mate[b]])] = -1
    kept = np.flatnonzero((np.cumsum(step[:-1]) > 0) & ~inside(kernels._BOILERPLATE_TAGS))
    br = (t.is_(("br",)) & ~t.close)[g][kept].astype(np.int64)
    data, run_offs = _gather(u8, run_lo[kept] - br, run_hi[kept] - run_lo[kept] + br)
    data[run_offs[:-1][br > 0]] = 0x20

    def strings(offsets):
        return pa.StringArray.from_buffers(
            len(offsets) - 1, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)
        )

    block_runs = np.zeros(len(b) + 1, dtype=np.int64)
    np.cumsum(np.bincount(block[kept], minlength=len(b)), out=block_runs[1:])
    runs, texts = strings(run_offs), strings(run_offs[block_runs])
    if (data == 0x26).any():
        for ent, char in _ENTITIES:
            runs = pc.replace_substring(runs, ent, char)
            texts = pc.replace_substring(texts, ent, char)
    chars = pc.utf8_length(runs).to_numpy() * inside(("a",))[kept]
    return texts, np.bincount(block[kept], weights=chars, minlength=len(b))


def _html_fast(t: _Tags, tree: _Tree, u8, offs, bad, n: int):
    """The E1 spans of the fragments ``tree`` reads: (fragment, kind,
    text) in document order."""
    n_ev = len(tree.tag)
    mate = tree.mate
    block = tree.opens & _name_flags(kernels._BLOCK_TAGS)[tree.name]
    nested = np.concatenate([[0], np.cumsum(block)])  # block start tags before
    leaf = block & (nested[mate] == nested[np.arange(n_ev) + 1])
    # under boilerplate: inside the [start, end) tag span of a boilerplate
    # element (leaf blocks never are one)
    bp = np.flatnonzero(tree.opens & _name_flags(kernels._BOILERPLATE_TAGS)[tree.name])
    covers = np.zeros(n_ev + 1, dtype=np.int64)
    np.add.at(covers, bp, 1)
    np.add.at(covers, mate[bp], -1)
    b = np.flatnonzero(leaf & (np.cumsum(covers[:-1]) == 0))
    if not len(b):
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int8), _empty_strings(0)
    raw, link_chars = _block_texts(t, tree, b, u8, offs, bad)
    texts = normalize(raw)
    length = pc.utf8_length(texts).to_numpy().astype(np.int64)
    ld = link_chars / np.maximum(length, 1)
    name = tree.name[b]
    kind = np.where(
        _name_flags(kernels._HEADING_TAGS)[name], _HEADING,
        np.where(_name_flags(("figcaption", "caption"))[name], _CAPTION, _BODY),
    ).astype(np.int8)

    # Arc90: a body block votes for its parent and half for its grandparent;
    # the best node has the top score, ties to the earliest (a root first)
    body = (kind == _BODY) & (length >= kernels.MIN_BODY_CHARS)
    votes = body & (ld < kernels.MAX_LINK_DENSITY)
    pts = 1.0 + np.minimum(length[votes] // 100, 3)
    parent = np.append(tree.parent, np.full(n, -1))
    p = parent[b[votes]]
    gp = parent[p]
    score = np.bincount(p, weights=pts, minlength=n_ev + n)
    score += np.bincount(gp[gp >= 0], weights=pts[gp >= 0] / 2, minlength=n_ev + n)
    node_frag = np.append(tree.frag, np.arange(n))
    voted = np.flatnonzero(score > 0)
    order = np.where(voted < n_ev, voted, -1)
    o = voted[np.lexsort((order, -score[voted], node_frag[voted]))]
    best = o[_run_starts(node_frag[o])]
    best_lo = np.full(n, n_ev)  # no best node: an empty range
    best_hi = np.full(n, -1)
    is_root = best >= n_ev
    best_lo[node_frag[best]] = np.where(is_root, -1, best)
    best_hi[node_frag[best]] = np.where(is_root, n_ev, mate[np.minimum(best, n_ev - 1)])

    frag = tree.frag[b]
    keep = (
        (best_lo[frag] <= b) & (b <= best_hi[frag])
        & np.where(kind == _BODY, body, length >= kernels.MIN_HEADING_CHARS)
        & (ld < np.where(kind == _HEADING, kernels.MAX_HEADING_LINK_DENSITY,
                         kernels.MAX_LINK_DENSITY))
    )
    return frag[keep], kind[keep], texts.filter(pa.array(keep))


def extract_html_batch(fragments: pa.Array) -> tuple[np.ndarray, np.ndarray, pa.Array]:
    """E1 over a null-free string array of HTML fragments: ``(fragment,
    kind, text)``, one entry per span ``kernels.extract_html_fragment``
    returns, fragment by fragment and in its order within each (``kind`` an
    ``OUT_KINDS`` code).

    A fragment whose tree the kernel builds by plain nesting is read from
    the batch's UTF-8 buffer with array operations: a tag table, depth as a
    cumulative sum, each end tag paired with the last start tag at its
    depth, leaf blocks and boilerplate ancestors by interval, link
    characters and block texts from the text runs between tags, Arc90 votes
    summed per node and the best container per fragment from one sort.
    Every other fragment goes to ``kernels.extract_html_fragment``: implied
    ends, mismatched or unclosed tags, raw-text elements, comments and
    declarations, a '&' outside the pinned entities, and any tag the
    kernel's tokenizer would read differently or reject."""
    n = len(fragments)
    offs, u8 = _string_buffers(fragments)
    offs = offs.astype(np.int64)
    bad = np.zeros(n, dtype=bool)
    t = _Tags(offs, u8, bad)
    _check_entities(u8, offs, t, bad)
    tree = _Tree(t, bad, n)
    frags, kinds, texts = [], [], []
    if tree.opens.any():
        for part, got in zip((frags, kinds, texts), _html_fast(t, tree, u8, offs, bad, n)):
            part.append(got)

    rows = np.flatnonzero(bad)
    if not len(rows) and frags:
        return frags[0], kinds[0], texts[0]
    code = {k: i for i, k in enumerate(OUT_KINDS)}
    spans = [
        (r, code[k], text)
        for r, fragment in zip(rows, fragments.take(rows).to_pylist())
        for k, text in kernels.extract_html_fragment(fragment)
    ]
    frags.append(np.array([r for r, _k, _t in spans], dtype=np.int64))
    kinds.append(np.array([k for _r, k, _t in spans], dtype=np.int8))
    texts.append(pa.array([x for _r, _k, x in spans], pa.string()))
    frag = np.concatenate(frags)
    o = np.argsort(frag, kind="stable")
    return frag[o], np.concatenate(kinds)[o], pa.concat_arrays(texts).take(o)


def _e1(s: _Spans, rows: np.ndarray, units: _Rows) -> None:
    """E1 over every HTML fragment ``rows``; each fragment's spans form one
    unit at the fragment."""
    frag, kind, text = extract_html_batch(s.text.take(rows))
    unit = rows[frag]
    units.add(
        s.doc[unit], kind, text,
        (s.off[unit], s.pos[unit], np.arange(len(unit), dtype=np.int64)), src=s.off[unit],
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
