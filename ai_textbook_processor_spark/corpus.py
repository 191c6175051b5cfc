"""Deterministic synthetic interleaved-document corpus (FIXTURES.md §3).

Every document is generated from a seeded per-document PRNG keyed by
``(seed, doc_index)`` — generation is deterministic regardless of Spark
partitioning, so the same (seed, n_docs) always yields byte-identical
corpora. No wall clock, no global randomness.

Three entry points:
* ``gen_doc(idx, seed)`` — one document as plain Python (used by tests and
  the golden producer).
* ``gen_batch(ids, seed, mega_every)`` — the documents of a batch of ids as
  one Arrow ``RecordBatch`` of ``DOCUMENTS_SCHEMA``: the one step from doc
  ids to documents, shared by ``corpus_df`` and the fused
  generate+extract+score stage (operators/extract.py).
* ``corpus_df(spark, n_docs, seed)`` — distributed generation with
  ``mapInArrow`` over ``spark.range`` (executor-side; the driver never
  materializes the corpus), used by bench and the pipeline at scale.
"""

from __future__ import annotations

import random
from typing import NamedTuple

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from .functions.columnar import SPANS_ARROW_TYPE, spans_array
from .schemas import DOCUMENTS_SCHEMA

_DOCUMENTS_ARROW_SCHEMA = to_arrow_schema(DOCUMENTS_SCHEMA)


class GenSpec(NamedTuple):
    """Generation parameters of a ``corpus_df`` frame, attached to the
    returned DataFrame as ``_sg_gen_spec`` so downstream plan builders
    (``plans.pipeline.extract_documents``) can FUSE generation with their
    own Python stage instead of shipping the freshly generated ``spans``
    payload Python -> JVM -> Python across two separate Arrow boundaries
    (optimization guide §4.1: every Python stage pays a full JVM<->worker
    round trip; the raw spans column is replaced by extraction and never
    needs to reach the JVM at all)."""

    n_docs: int
    seed: int
    mega_every: int
    num_partitions: int
    start: int

# Small fixed vocabulary: mixed syllable counts so FK grades spread, plus a
# few lexicon-unsafe words for the `profane` family.
_VOCAB_SIMPLE = (
    "the cat sat on a mat . the dog ran to the park . we like to play and "
    "sing . it is a big red sun . birds fly high in the sky ."
).split()
_VOCAB_COMPLEX = (
    "photosynthesis converts electromagnetic radiation into chemical energy "
    "through sophisticated biochemical machinery . mitochondrial respiration "
    "demonstrates extraordinary thermodynamic efficiency considering "
    "evolutionary constraints . quantitative spectroscopic analysis "
    "facilitates unambiguous identification of molecular constituents ."
).split()
# Medium register: FK grade lands inside the default [1,12] band, so the
# mainline families (html/pdf/mixed/mega) route to `valid` while
# low_grade/high_grade/profane route to quarantine.
_VOCAB_MEDIUM = (
    "the green plant uses sunlight and water to produce its food . energy "
    "moves between living systems in a constant natural cycle . students "
    "observe simple patterns during their science lessons each term . "
    "minerals travel upward through narrow channels inside the stem ."
).split()
_VOCAB_UNICODE = (
    "café naïve résumé 北京 大学 数学 🙂 ☀ mañana śūnya ∑ α β γ "
    "Zürich Köln œuvre ﬁnance"
).split()
_PROFANE = ["damn", "hell", "stupid"]

FAMILIES = (
    "html_article",
    "html_linkfarm",
    "pdf_single_col",
    "pdf_two_col",
    "pdf_caption",
    "mixed_media",
    "media_only",
    "empty_doc",
    "unicode_doc",
    "low_grade",
    "high_grade",
    "profane",
)
# mega_doc and html_with_media are generated on demand (gen_doc with family
# override): mega_doc is too big to cycle into every bench corpus, and
# appending to FAMILIES would shift family_of(idx) under every pinned
# fixture. html_with_media = E1 x E3 in one document (boilerplate-laden html
# fragments at staggered source offsets with figures/tables anchored between
# them — the shape of a real scraped article with inline media).
ALL_FAMILIES = FAMILIES + ("mega_doc", "html_with_media")


def _sentence(rng: random.Random, vocab, n_words: int) -> str:
    # rng.choice(seq) is exactly seq[rng._randbelow(len(seq))], and
    # _randbelow is _randbelow_with_getrandbits (CPython random.py): draw
    # getrandbits(n.bit_length()) until the draw is below n. Inlining that
    # loop skips two Python calls per word while drawing the identical PRNG
    # sequence (pinned by tests/test_properties.py).
    getrandbits = rng.getrandbits
    n = len(vocab)
    k = n.bit_length()
    ws = []
    for _ in range(n_words):
        r = getrandbits(k)
        while r >= n:
            r = getrandbits(k)
        w = vocab[r]
        if w != ".":
            ws.append(w)
    return " ".join(ws).capitalize() + "."


def _paragraph(rng: random.Random, vocab, n_sents: int) -> str:
    return " ".join(_sentence(rng, vocab, rng.randint(6, 14)) for _ in range(n_sents))


def _span(kind: str, text: str, media_ref: str = "", offset: int = 0) -> dict:
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


def _gen_html_article(rng: random.Random) -> list[dict]:
    nav = "".join(
        f'<li><a href="/{w}">{w}</a></li>' for w in rng.sample(_VOCAB_SIMPLE[:12], 5)
    )
    title = _sentence(rng, _VOCAB_MEDIUM, 4).rstrip(".")
    paras = "".join(
        f"<p>{_paragraph(rng, _VOCAB_MEDIUM, rng.randint(2, 4))}</p>"
        for _ in range(rng.randint(2, 5))
    )
    ad = '<div class="ad"><a href="/buy">buy now</a></div>'
    footer = "<footer><p>copyright 2024 example corp all rights reserved</p></footer>"
    html = (
        f"<html><body><nav><ul>{nav}</ul></nav>"
        f"<article><h1>{title}</h1>{paras}{ad}</article>{footer}</body></html>"
    )
    return [_span("html", html, "", 0)]


def _gen_html_linkfarm(rng: random.Random) -> list[dict]:
    links = "".join(
        f'<p><a href="/{i}">{_sentence(rng, _VOCAB_SIMPLE, 5)}</a></p>'
        for i in range(rng.randint(8, 15))
    )
    return [_span("html", f"<html><body><div>{links}</div></body></html>", "", 0)]


def _layout(page: int, col: int, y: int, x: int, font: int) -> str:
    return f"p{page}.c{col}.y{y}.x{x}.f{font}"


def _gen_pdf(rng: random.Random, two_col: bool, with_caption: bool) -> list[dict]:
    spans: list[dict] = []
    off = 0
    n_pages = rng.randint(1, 3)
    for page in range(n_pages):
        # heading first
        spans.append(
            _span(
                "pdf_block",
                _sentence(rng, _VOCAB_MEDIUM, 3).rstrip("."),
                _layout(page, 0, 50, 72, 18),
                off,
            )
        )
        off += 1
        cols = (72, 320) if two_col else (72,)
        for ci, x in enumerate(cols):
            y = 100
            for _ in range(rng.randint(2, 4)):
                spans.append(
                    _span(
                        "pdf_block",
                        _paragraph(rng, _VOCAB_MEDIUM, rng.randint(1, 3)),
                        _layout(page, ci, y, x, 12),
                        off,
                    )
                )
                off += 1
                y += 60
        if with_caption:
            fig_off = off
            spans.append(_span("figure", "a labeled diagram", f"img-{page:04d}", fig_off))
            off += 1
            spans.append(
                _span(
                    "pdf_block",
                    f"Figure {page + 1}: schematic overview",
                    _layout(page, 0, 700, 72, 9),
                    off,
                )
            )
            off += 1
    # shuffle input order to prove the kernel re-derives reading order
    order = list(range(len(spans)))
    rng.shuffle(order)
    return [spans[i] for i in order]


def _gen_mixed_media(rng: random.Random) -> list[dict]:
    spans = []
    off = 0
    n_media = rng.randint(1, 3)
    for i in range(rng.randint(2, 4)):
        spans.append(_span("text", _paragraph(rng, _VOCAB_MEDIUM, 2), "", off))
        off += 100
    for j in range(n_media):
        kind = "figure" if j % 2 == 0 else "table_image"
        anchor = rng.randrange(0, off + 50)
        spans.append(_span(kind, f"caption {j}", f"img-{j:04d}", anchor))
    return spans


def _gen_media_only(rng: random.Random) -> list[dict]:
    return [
        _span("figure", f"standalone figure {i}", f"img-{i:04d}", i * 10)
        for i in range(rng.randint(1, 4))
    ]


def _gen_text(rng: random.Random, vocab, n_paras: int) -> list[dict]:
    spans = []
    off = 0
    for _ in range(n_paras):
        t = _paragraph(rng, vocab, rng.randint(2, 5))
        spans.append(_span("text", t, "", off))
        off += len(t) + 1
    return spans


def _gen_unicode(rng: random.Random) -> list[dict]:
    spans = []
    off = 0
    for _ in range(rng.randint(2, 4)):
        t = _paragraph(rng, _VOCAB_UNICODE + _VOCAB_SIMPLE, rng.randint(2, 4))
        spans.append(_span("text", t, "", off))
        off += len(t) + 1
    return spans


def _gen_profane(rng: random.Random) -> list[dict]:
    t = _paragraph(rng, _VOCAB_SIMPLE + _PROFANE * 3, 3)
    if not any(p in t.lower() for p in _PROFANE):
        t = t + " That was a damn shame."
    return [_span("text", t, "", 0)]


def _gen_mega(rng: random.Random) -> list[dict]:
    """~1000x median span count; pdf pages so salted splits have safe
    boundaries (FIXTURES.md mega_doc, SURVEY.md §4.3)."""
    spans = []
    off = 0
    for page in range(400):
        spans.append(
            _span(
                "pdf_block",
                _sentence(rng, _VOCAB_MEDIUM, 3).rstrip("."),
                _layout(page, 0, 50, 72, 18),
                off,
            )
        )
        off += 1
        for k in range(6):
            spans.append(
                _span(
                    "pdf_block",
                    _paragraph(rng, _VOCAB_MEDIUM, 2),
                    _layout(page, 0, 100 + 60 * k, 72, 12),
                    off,
                )
            )
            off += 1
        if page % 7 == 0:
            spans.append(_span("figure", f"fig p{page}", f"img-{page:04d}", off))
            off += 1
    return spans


def _gen_html_with_media(rng: random.Random) -> list[dict]:
    """Interleaved html + media: n html fragments (each with nav/ad/footer
    boilerplate around real paragraphs) at source offsets 0, 100, 200, ...;
    figures/table_images anchored between consecutive fragments, so E1's
    extracted units and E3's stitching must interleave them correctly."""
    spans: list[dict] = []
    n_frags = rng.randint(2, 4)
    for i in range(n_frags):
        nav = "".join(
            f'<li><a href="/{w}">{w}</a></li>'
            for w in rng.sample(_VOCAB_SIMPLE[:12], 4)
        )
        title = _sentence(rng, _VOCAB_MEDIUM, 4).rstrip(".")
        paras = "".join(
            f"<p>{_paragraph(rng, _VOCAB_MEDIUM, rng.randint(2, 3))}</p>"
            for _ in range(rng.randint(1, 3))
        )
        footer = "<footer><p>terms privacy sitemap contact</p></footer>"
        html = (
            f"<html><body><nav><ul>{nav}</ul></nav>"
            f"<article><h2>{title}</h2>{paras}</article>{footer}</body></html>"
        )
        spans.append(_span("html", html, "", i * 100))
    for j in range(rng.randint(1, n_frags)):
        kind = "figure" if j % 2 == 0 else "table_image"
        # anchor strictly between fragment j and j+1 (or after the last)
        anchor = j * 100 + rng.randint(1, 99)
        spans.append(_span(kind, f"inline media {j}", f"img-{j:04d}", anchor))
    return spans


_GENERATORS = {
    "html_article": _gen_html_article,
    "html_linkfarm": _gen_html_linkfarm,
    "pdf_single_col": lambda r: _gen_pdf(r, False, False),
    "pdf_two_col": lambda r: _gen_pdf(r, True, False),
    "pdf_caption": lambda r: _gen_pdf(r, False, True),
    "mixed_media": _gen_mixed_media,
    "media_only": _gen_media_only,
    "empty_doc": lambda r: [],
    "unicode_doc": _gen_unicode,
    "low_grade": lambda r: _gen_text(r, _VOCAB_SIMPLE, 3),
    "high_grade": lambda r: _gen_text(r, _VOCAB_COMPLEX, 3),
    "profane": _gen_profane,
    "mega_doc": _gen_mega,
    "html_with_media": _gen_html_with_media,
}

_SUBJECTS = ("math", "science", "history", "language")


def family_of(idx: int) -> str:
    return FAMILIES[idx % len(FAMILIES)]


def gen_doc(idx: int, seed: int = 42, family: str | None = None) -> dict:
    """One deterministic document row (plain Python dicts)."""
    family = family or family_of(idx)
    rng = random.Random((seed << 32) ^ (idx * 2654435761 % (1 << 61)))
    spans = _GENERATORS[family](rng)
    return {
        "doc_id": f"doc-{idx:010d}-{family}",
        "spans": spans,
        "standard": str(rng.randint(1, 12)),
        "subject": _SUBJECTS[idx % len(_SUBJECTS)],
        "chapter": str(rng.randint(1, 20)),
        "content_type": family,
    }


def gen_batch(ids, seed: int = 42, mega_every: int = 0) -> pa.RecordBatch:
    """The documents of ``ids`` (Python ints) as one Arrow batch with the
    ``DOCUMENTS_SCHEMA`` columns. ``mega_every > 0`` makes every k-th
    document a mega_doc (skew fixture). ``gen_doc`` is looked up in this
    module on every call, so a wrapper put on ``corpus.gen_doc`` sees each
    document."""
    docs = []
    for idx in ids:
        mega = mega_every and idx % mega_every == mega_every - 1
        docs.append(gen_doc(idx, seed, family="mega_doc" if mega else None))
    return pa.RecordBatch.from_arrays(
        [
            spans_array([d["spans"] for d in docs], SPANS_ARROW_TYPE)
            if f.name == "spans"
            else pa.array([d[f.name] for d in docs], f.type)
            for f in _DOCUMENTS_ARROW_SCHEMA
        ],
        schema=_DOCUMENTS_ARROW_SCHEMA,
    )


def corpus_df(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    mega_every: int = 0,
    num_partitions: int | None = None,
    start: int = 0,
) -> DataFrame:
    """Distributed deterministic corpus: executor-side generation.

    ``mega_every > 0`` swaps every k-th document for a mega_doc (skew
    fixture). Result is independent of partitioning (per-doc PRNG).
    ``start`` offsets the doc index range — disjoint [start, start+n) slices
    of the same logical corpus, for multi-process scaling runs.
    """
    n_parts = num_partitions or spark.sparkContext.defaultParallelism

    def gen_batches(batches):
        for batch in batches:
            yield gen_batch(batch.column(0).to_pylist(), seed, mega_every)

    df = spark.range(start, start + n_docs, 1, n_parts).mapInArrow(
        gen_batches, DOCUMENTS_SCHEMA
    )
    # Fusion tag (see GenSpec): consumed by extract_documents to run
    # generate+extract+score as ONE Python stage. Plain attribute on the
    # DataFrame wrapper — downstream transformations produce new wrappers,
    # so the tag only survives on the frame corpus_df itself returned,
    # which is exactly the fusable shape.
    df._sg_gen_spec = GenSpec(n_docs, seed, mega_every, n_parts, start)
    return df
