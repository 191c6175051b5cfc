"""Spark pipeline vs pure-Python golden producer (the correctness gate).

Per-document invariant: span-sequence equality on (kind, text, media_ref,
order) — BASELINE.json input_hint — between the distributed pandas-UDF
pipeline and the single-threaded golden extractor, across all fixture
families including a mega-doc.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from ai_textbook_processor_spark.corpus import corpus_df, gen_doc
from ai_textbook_processor_spark.functions.kernels import extract_document
from ai_textbook_processor_spark.functions.readability import CriteriaConfig, score_texts
from ai_textbook_processor_spark.operators.extract import extracted_text
from ai_textbook_processor_spark.operators.validate import split_valid
from ai_textbook_processor_spark.plans.pipeline import extract_documents

N_DOCS = 60  # 5 full cycles of the 12 fixture families


def invariant(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], i) for i, s in enumerate(spans)]


@pytest.fixture(scope="module")
def result_rows(spark):
    df = corpus_df(spark, N_DOCS, seed=42, mega_every=30)
    out = extract_documents(df).select(
        "doc_id", "spans", "is_valid", "validation", "n_chars"
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    assert len(rows) == N_DOCS
    return rows


def _golden(idx: int):
    fam = "mega_doc" if idx % 30 == 29 else None
    doc = gen_doc(idx, seed=42, family=fam)
    return doc, extract_document(doc["spans"])


def test_span_sequence_equality_all_families(result_rows):
    mismatches = []
    for idx in range(N_DOCS):
        doc, golden = _golden(idx)
        got = result_rows[doc["doc_id"]]["spans"]
        got_inv = [(s.kind, s.text, s.media_ref, i) for i, s in enumerate(got)]
        if got_inv != invariant(golden):
            mismatches.append(doc["doc_id"])
    assert mismatches == []


def test_offsets_match_golden(result_rows):
    for idx in range(0, N_DOCS, 7):
        doc, golden = _golden(idx)
        got = result_rows[doc["doc_id"]]["spans"]
        assert [s.offset for s in got] == [s["offset"] for s in golden]


def test_validation_matches_vectorized_scorer(result_rows):
    for idx in range(N_DOCS):
        doc, golden = _golden(idx)
        text = " ".join(
            s["text"] for s in golden if s["kind"] in ("heading", "body", "caption")
        )
        exp = score_texts(pd.Series([text]), CriteriaConfig()).iloc[0]
        v = result_rows[doc["doc_id"]]["validation"]
        assert v.grade_check == exp["grade_check"], doc["doc_id"]
        assert v.safety_check == exp["safety_check"], doc["doc_id"]
        assert abs(v.fk_grade - exp["fk_grade"]) < 1e-9


def test_profane_family_quarantined(result_rows):
    for doc_id, row in result_rows.items():
        if doc_id.endswith("profane"):
            assert row["validation"].safety_check == "INAPPROPRIATE"
            assert not row["is_valid"]


def test_split_counts_sum(spark):
    df = corpus_df(spark, 48, seed=7)
    out = extract_documents(df).persist()
    valid, quarantine = split_valid(out)
    assert valid.count() + quarantine.count() == 48
    assert valid.join(quarantine, "doc_id", "inner").count() == 0
    out.unpersist()


def test_result_independent_of_partitioning(spark):
    df1 = corpus_df(spark, 24, seed=42, num_partitions=1)
    df8 = corpus_df(spark, 24, seed=42, num_partitions=8)
    a = {
        r["doc_id"]: invariant([s.asDict() for s in r["spans"]])
        for r in extract_documents(df1).select("doc_id", "spans").collect()
    }
    b = {
        r["doc_id"]: invariant([s.asDict() for s in r["spans"]])
        for r in extract_documents(df8).select("doc_id", "spans").collect()
    }
    assert a == b


def test_extracted_text_column_matches_python_join(spark, result_rows):
    df = corpus_df(spark, 12, seed=42)
    got = {
        r["doc_id"]: r["t"]
        for r in extract_documents(df)
        .select("doc_id", extracted_text("spans").alias("t"))
        .collect()
    }
    for idx in range(12):
        doc, golden = _golden(idx)
        exp = " ".join(
            s["text"] for s in golden if s["kind"] in ("heading", "body", "caption")
        )
        assert got[doc["doc_id"]] == exp
