"""The column-at-a-time readability scorer against its per-row definition.

``readability_features`` reads the batch's UTF-8 bytes; ``reference_features``
is the per-row ``re`` recipe that defines the scores. ``score_texts`` must be
byte-identical to the reference on every corpus family and on fuzzed text,
and the set of code points the byte reading hands to the reference must be
exactly the set on which it could disagree.
"""

import hashlib
import json
import re
import sys

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ai_textbook_processor_spark import harness
from ai_textbook_processor_spark.corpus import ALL_FAMILIES, gen_doc
from ai_textbook_processor_spark.functions import readability as rd
from ai_textbook_processor_spark.functions.kernels import extract_document
from ai_textbook_processor_spark.operators.extract import TEXT_KINDS

KEYWORDS = frozenset({"the", "plant", "energy", "ke", "water", "Water", "x y", "é"})


def reference_scores(texts: pd.Series, cfg: rd.CriteriaConfig) -> pd.DataFrame:
    """``score_texts`` with every row through the per-row reference."""
    truncated = texts.fillna("").str.slice(0, cfg.truncate_chars)
    return rd.validate_features(rd.reference_features(truncated, cfg.keywords), cfg)


def assert_identical(got: pd.DataFrame, want: pd.DataFrame) -> None:
    pd.testing.assert_frame_equal(got, want, check_exact=True)
    for col in got.columns:
        if got[col].dtype == np.float64:  # -0.0 == 0.0, but not bit for bit
            assert np.array_equal(
                got[col].to_numpy().view(np.uint64), want[col].to_numpy().view(np.uint64)
            ), col


@pytest.fixture
def reference_rows(monkeypatch):
    """Counts the rows the byte path hands to the reference."""
    rows = []
    real = rd._reference_counts

    def spy(texts, keywords):
        rows.extend(texts)
        return real(texts, keywords)

    monkeypatch.setattr(rd, "_reference_counts", spy)
    return rows


def _corpus_texts(seed: int) -> pd.Series:
    texts = []
    for family in ALL_FAMILIES:
        for idx in range(4):
            spans = extract_document(gen_doc(idx, seed, family=family)["spans"])
            texts.append(" ".join(s["text"] for s in spans if s["kind"] in TEXT_KINDS))
    return pd.Series(texts)


@pytest.mark.parametrize("seed", [42, 7, 2024])
@pytest.mark.parametrize("keywords", [frozenset(), KEYWORDS])
def test_corpus_families_identical(seed, keywords, reference_rows):
    texts = _corpus_texts(seed)
    cfg = rd.CriteriaConfig(keywords=keywords)
    got = rd.score_texts(texts, cfg)
    assert not reference_rows  # the corpus holds no special code point
    assert_identical(got, reference_scores(texts, cfg))
    # no truncation: the mega docs' full text
    assert_identical(
        rd.readability_features(texts, keywords), rd.reference_features(texts, keywords)
    )
    assert any(not t.isascii() for t in texts)  # the byte path saw non-ASCII rows


def test_fallback_rows_only(reference_rows):
    texts = pd.Series(["plain ascii", "café makeé", "İstanbul", "make", "té"])
    got = rd.score_texts(texts)
    assert reference_rows == ["café makeé", "İstanbul"]
    assert_identical(got, reference_scores(texts, rd.CriteriaConfig()))


def test_edge_batches():
    cfg = rd.CriteriaConfig(keywords=KEYWORDS)
    for texts in (
        pd.Series([], dtype=object),
        pd.Series([None, "", "   ", "\t\n", None]),
        pd.Series(["A", "e", "ke", "KE", "Ake", "ake.", "ake_", "ake1", "x" * 5000]),
        pd.Series(["am", "ke banana", "b", "k", "e banana", "", "ma", "ke banana"]),  # rows end runs
        pd.Series(["the end", "", "the Water"], index=[10, 3, 7]),
        pd.Series(["lone \ud800 surrogate make", "the plant"]),
    ):
        assert_identical(rd.score_texts(texts, cfg), reference_scores(texts, cfg))


_fragments = st.sampled_from(
    [
        "ke", "KE", "make", "Make", "cake", "the", "The", "damn", "plant", "water",
        "e", "a", "y", "'", "don't", "_", "__init__", "42", "x9", ".", "!?", "...",
        " ", "  ", "\n", "\t", "\x00",
        "é", "ß", "日本", "\U0001f600", "\u0301", "\u00a0",
        "\u0130", "\u0131", "\u017f", "\u212a",
    ]
)
_texts = st.one_of(
    st.none(),
    st.lists(st.one_of(_fragments, st.text(max_size=4)), max_size=40).map("".join),
)
_keywords = st.frozensets(
    st.sampled_from(["the", "make", "ke", "damn", "plant", "Plant", "x y", "é", "42", "don't"]),
    max_size=4,
)


@settings(max_examples=300, deadline=None, derandomize=True)
@given(st.lists(_texts, max_size=12), _keywords, st.sampled_from([1000, 3, 0]))
def test_fuzz_identical(texts, keywords, truncate):
    cfg = rd.CriteriaConfig(keywords=keywords, truncate_chars=truncate)
    texts = pd.Series(texts, dtype=object)
    assert_identical(rd.score_texts(texts, cfg), reference_scores(texts, cfg))


@settings(max_examples=100, deadline=None, derandomize=True)
@given(
    st.integers(min_value=990, max_value=1002),
    st.lists(st.sampled_from(["é", "日", "\U0001f600", "e", "ke", " "]), max_size=8),
    st.sampled_from(["ma", "mak", "make", "ak", "a k"]),
)
def test_truncation_next_to_multibyte(pad, tail, stem):
    text = "x" * (pad - len(stem)) + stem + "".join(tail) + "ke."
    texts = pd.Series([text, text.upper()])
    cfg = rd.CriteriaConfig()
    assert_identical(rd.score_texts(texts, cfg), reference_scores(texts, cfg))


def _code_points() -> list[str]:
    return [chr(c) for c in range(0x80, sys.maxunicode + 1) if not 0xD800 <= c <= 0xDFFF]


def test_special_chars_are_exhaustive():
    """Every non-ASCII code point that one of the regex classes matches, or
    that lower-cases to an ASCII word character (or to nothing), is in
    SPECIAL_CHARS, and every member of SPECIAL_CHARS is such a code point.
    Fails if a Python release widens the classes."""
    points = _code_points()
    text = "".join(points)
    found = set()
    for cls in (
        rd.WORD_RE, rd.SENT_RE, rd.VOWEL_GROUP_RE, "(?i)[a-z]",
        "(?i)[bcdfghjklmnpqrstvwxz]", "(?i)e",
    ):
        found.update("".join(re.findall(cls, text)))
    token = re.compile(rd.WORD_RE)
    found.update(ch for ch in points if not ch.lower() or token.search(ch.lower()))
    assert found == set(rd.SPECIAL_CHARS)


def test_every_code_point_identical():
    """Each non-ASCII code point between, before and after the patterns'
    ASCII neighbours scores the same on both paths (one row per 64 code
    points, no truncation). Fails if a pyarrow release changes how the
    byte path sees any of them."""
    points = _code_points()
    rows = [
        "".join(f"ab{ch}cd a{ch}e {ch}ke m{ch}e. {ch}. " for ch in points[i : i + 64])
        for i in range(0, len(points), 64)
    ]
    texts = pd.Series(rows)
    assert_identical(
        rd.readability_features(texts, KEYWORDS), rd.reference_features(texts, KEYWORDS)
    )


# sha256 of json.dumps(..., sort_keys=True) over the SQL oracles: the harness's
# hand-written ones, and all 113 of __spark_entry__.oracle_sql(), whose literal
# tables hold score_texts output over the sf0.01 test data.
HARNESS_ORACLES_SHA256 = "dff4e19957841b818e3f26f21cb7fdb500ead8f48320135c1cba806dcc38bcb0"
ORACLE_SQL_SHA256 = "6f4f521bfa2d449002065378b81f1b8209c460c6b6595bfc13d0689b6291d4fc"


def _digest(oracles: dict) -> str:
    return hashlib.sha256(json.dumps(oracles, sort_keys=True).encode()).hexdigest()


def test_harness_uses_the_scorer_regexes():
    assert harness.WORD_RE is rd.WORD_RE
    assert harness.SENT_RE is rd.SENT_RE
    assert harness.VOWEL_RE is rd.VOWEL_GROUP_RE
    assert harness.SILENT_E_RE is rd.SILENT_E_RE


def test_oracle_sql_byte_identical():
    import __spark_entry__

    assert _digest(dict(harness.ORACLES)) == HARNESS_ORACLES_SHA256
    try:
        oracles = __spark_entry__.oracle_sql()
    except FileNotFoundError:
        pytest.skip("sf0.01 test data not present")
    assert len(oracles) == 113
    assert _digest(oracles) == ORACLE_SQL_SHA256
