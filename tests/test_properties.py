"""Property tests over the corpus generator + kernels (SURVEY.md §5.2.2)."""

import hashlib
import json

from hypothesis import given, settings

# derandomized: the driver's gate must not fail on a novel random example;
# exploratory randomized sweeps run during development instead
from hypothesis import strategies as st

from ai_textbook_processor_spark.corpus import ALL_FAMILIES, gen_doc
from ai_textbook_processor_spark.functions.kernels import MEDIA_KINDS, extract_document

OUT_KINDS = {"heading", "body", "caption", "figure", "table"}


def _doc(idx: int, family: str) -> dict:
    return gen_doc(idx, seed=42, family=family)


families = st.sampled_from(ALL_FAMILIES)
small_idx = st.integers(min_value=0, max_value=500)


# sha256 of json.dumps(gen_doc(idx, seed, family), sort_keys=True) over
# seeds (1, 42, 99) x ALL_FAMILIES x idx 0-7: the generator's documents are
# byte-identical to those every pinned fixture and benchmark was made from.
GEN_DOC_SHA256 = "3148cc8f3c853e31716e6886d9ee71c8dae084b4b689be790ace9db8345d5ecb"


def test_generator_output_pinned():
    h = hashlib.sha256()
    for seed in (1, 42, 99):
        for fam in ALL_FAMILIES:
            for idx in range(8):
                h.update(json.dumps(gen_doc(idx, seed, family=fam), sort_keys=True).encode())
    assert h.hexdigest() == GEN_DOC_SHA256


@settings(max_examples=60, deadline=None, derandomize=True)
@given(small_idx, families)
def test_determinism(idx, family):
    d = _doc(idx, family)
    assert extract_document(d["spans"]) == extract_document(d["spans"])
    assert _doc(idx, family) == d  # generator itself deterministic


@settings(max_examples=60, deadline=None, derandomize=True)
@given(small_idx, families)
def test_idempotence(idx, family):
    out1 = extract_document(_doc(idx, family)["spans"])
    assert extract_document(out1) == out1


@settings(max_examples=60, deadline=None, derandomize=True)
@given(small_idx, families)
def test_offsets_cumulative_and_kinds(idx, family):
    out = extract_document(_doc(idx, family)["spans"])
    off = 0
    for s in out:
        assert s["kind"] in OUT_KINDS
        assert s["offset"] == off
        off += len(s["text"]) + 1


@settings(max_examples=60, deadline=None, derandomize=True)
@given(small_idx, families)
def test_media_ref_conservation(idx, family):
    spans = _doc(idx, family)["spans"]
    in_refs = [s["media_ref"] for s in spans if s["kind"] in MEDIA_KINDS]
    out = extract_document(spans)
    out_refs = [s["media_ref"] for s in out if s["kind"] in ("figure", "table")]
    assert sorted(out_refs) == sorted(in_refs)


@settings(max_examples=40, deadline=None, derandomize=True)
@given(small_idx)
def test_text_content_survives_passthrough(idx):
    # 'text' docs: every normalized input paragraph appears verbatim
    d = _doc(idx, "high_grade")
    out = extract_document(d["spans"])
    texts = [s["text"] for s in out]
    assert len(texts) == len(d["spans"])


# -- adversarial fuzz: arbitrary unicode spans must never crash the kernel
# and must preserve the engine invariants (untrusted 100 TB input stance)

_kinds = st.sampled_from(
    ["text", "html", "pdf_block", "figure", "table_image", "heading", "", "junk"]
)
_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=200
)
_span = st.fixed_dictionaries(
    {
        "kind": _kinds,
        "text": st.one_of(st.none(), _text),
        "media_ref": st.one_of(st.none(), st.text(max_size=30)),
        "offset": st.one_of(st.none(), st.integers(-1000, 10**6)),
    }
)


@settings(max_examples=150, deadline=None, derandomize=True)
@given(st.lists(_span, max_size=12))
def test_fuzz_extract_never_crashes_and_invariants_hold(spans):
    out = extract_document(spans)
    off = 0
    for s in out:
        assert s["kind"] in OUT_KINDS
        assert s["offset"] == off
        off += len(s["text"]) + 1
    # media conservation still holds under junk input
    in_refs = sorted(
        (sp["media_ref"] or "")
        for sp in spans
        if sp["kind"] in ("figure", "table_image")
    )
    out_refs = sorted(
        s["media_ref"] for s in out if s["kind"] in ("figure", "table")
    )
    assert out_refs == in_refs
    # idempotence survives fuzz
    assert extract_document(out) == out


# -- the table path's Arrow UDF bodies, run out of Spark on Arrow input:
# null cells, null span fields and empty docs must give exactly the
# kernels' output. to_pandas() hands an int field with nulls in the batch
# over as float, which must not change a value.

_doc_cell = st.one_of(st.none(), st.lists(st.one_of(st.none(), _span), max_size=12))


def _golden(cells):
    import pandas as pd

    from ai_textbook_processor_spark.functions.readability import CriteriaConfig, score_texts
    from ai_textbook_processor_spark.operators.extract import TEXT_KINDS

    docs = [extract_document(c) for c in cells]
    texts = pd.Series([" ".join(s["text"] for s in d if s["kind"] in TEXT_KINDS) for d in docs])
    scored = score_texts(texts, CriteriaConfig())
    fields = ["fk_grade", "ttr", "n_words", "n_sentences", "grade_check",
              "safety_check", "relevance_check", "reason"]
    return [
        {"spans": d, "n_spans": len(d), "n_chars": len(t), "validation": v}
        for d, t, v in zip(docs, texts, scored[fields].to_dict("records"))
    ]


def _spans_arrow(cells):
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from ai_textbook_processor_spark.schemas import SPANS_TYPE

    return pa.array(cells, type=to_arrow_type(SPANS_TYPE))


def _salted_bodies(spans, cfg, max_units):
    """The salted path's three UDF bodies chained the way the plan chains
    them: chunks exploded, partials per chunk, chunks regrouped per doc."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ai_textbook_processor_spark.operators import skew

    chunked = skew._chunk_udf(max_units).func(spans)
    items = chunked.flatten()
    partials = skew._partial_udf().func(items.field("chunk"), items.field("media_offsets"))
    parts = pa.ListArray.from_arrays(
        chunked.offsets,
        pa.StructArray.from_arrays([items.field("chunk_idx"), partials], ["chunk_idx", "partial"]),
    )
    media_lists = items.field("media")
    media = pa.ListArray.from_arrays(
        pc.take(media_lists.offsets, chunked.offsets), media_lists.flatten()
    )
    return skew._reassemble_udf(cfg).func(parts, media)


@settings(max_examples=80, deadline=None, derandomize=True)
@given(st.lists(_doc_cell, min_size=1, max_size=6))
def test_arrow_udf_bodies_equal_kernels_on_nulls(cells):
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.operators.extract import make_extract_and_score_udf

    cfg = CriteriaConfig()
    spans = _spans_arrow(cells)
    golden = _golden(cells)
    assert make_extract_and_score_udf(cfg).func(spans).to_pylist() == golden
    for max_units in (1, 3):
        assert _salted_bodies(spans, cfg, max_units).to_pylist() == golden


def test_arrow_udf_bodies_on_mega_doc_with_nulls_and_captions():
    from ai_textbook_processor_spark.functions.readability import CriteriaConfig
    from ai_textbook_processor_spark.operators.extract import make_extract_and_score_udf

    mega = gen_doc(11, seed=42, family="mega_doc")["spans"]
    holed = [
        dict(sp, offset=None) if i % 7 == 0
        else dict(sp, media_ref=None) if i % 11 == 0
        else dict(sp, text=None) if i % 13 == 0
        else dict(sp, kind=None) if i % 17 == 0
        else sp
        for i, sp in enumerate(mega)
    ]
    captioned = gen_doc(4, seed=42, family="pdf_caption")["spans"]
    cells = [holed, None, [], mega, captioned]
    spans = _spans_arrow(cells)
    cfg = CriteriaConfig()
    golden = _golden(cells)
    assert golden[0]["spans"] and golden[0]["spans"] != golden[3]["spans"]
    assert any(s["kind"] == "caption" for s in golden[4]["spans"])
    assert make_extract_and_score_udf(cfg).func(spans).to_pylist() == golden
    assert _salted_bodies(spans, cfg, 16).to_pylist() == golden
