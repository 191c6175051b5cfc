"""Deterministic readability validation (SURVEY.md §2.6 V1, E4).

Replaces the reference's LLM content validator (``agents/nodes.py:229-270``,
prompt ``config/settings.py:67-81``) with a pure, vectorized scorer:
Flesch-Kincaid grade, type-token ratio, a lexicon safety check, and a
keyword-overlap relevance check — emitting the same check-string surface
(``grade_check``, ``safety_check``, ``relevance_check``, ``reason``) as the
reference's ``ValidationResult`` pydantic model (``agents/nodes.py:26-31``).

The scores are defined by four regexes (``WORD_RE``, ``SENT_RE``,
``VOWEL_GROUP_RE``, ``SILENT_E_RE``) as Python's ``re`` reads them, row by
row: ``reference_features``. ``readability_features`` computes the same
features column-at-a-time over one Arrow string array of a batch's texts.
The four counts come from 256-entry lookup tables over the UTF-8 bytes
(no run crosses a row boundary), and the type-token ratio, lexicon hit and
keyword hits from one dictionary encoding of the lower-cased tokens. Rows
where a byte reading could disagree with Python's Unicode ``re`` are scored
by the reference: rows holding one of ``SPECIAL_CHARS``, and rows where a
silent-e candidate is followed by a non-ASCII character (``\\b`` is
Unicode-aware). ``tests/test_readability_fast.py`` pins both paths equal.
"""

from __future__ import annotations

import string
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

# The score regexes: the reference path and harness.py's SQL recipe use them
# verbatim (Java regex, RE2 and Python's re agree on these constructs). FK
# constants are the published formula:
# 0.39 * (words/sentences) + 11.8 * (syllables/words) - 15.59.
WORD_RE = r"[A-Za-z0-9']+"
SENT_RE = r"[.!?]+"
VOWEL_GROUP_RE = r"(?i)[aeiouy]+"
SILENT_E_RE = r"(?i)[a-z][bcdfghjklmnpqrstvwxz]e\b"

# The only non-ASCII code points that match a (?i) class above or lower-case
# to an ASCII word character: U+0130, U+0131, U+017F and U+212A.
SPECIAL_CHARS = "\u0130\u0131\u017f\u212a"  # İ ı ſ K

# Deliberately mild fixed lexicon — the check surface matters, not the list.
SAFETY_LEXICON = frozenset(
    {"damn", "hell", "crap", "stupid", "idiot", "hate", "kill", "violence"}
)

# Criteria strings mirror the reference's enum-ish values
# (config/settings.py:55-59, agents/nodes.py:260-270).
GRADE_OK = "APPROPRIATE"
SAFETY_OK = "APPROPRIATE"
REL_MATCH = "MATCH"
REL_PARTIAL = "PARTIAL_MATCH"
REL_MISMATCH = "MISMATCH"


@dataclass(frozen=True)
class CriteriaConfig:
    """Env-overridable validation criteria, mirroring the reference's
    settings-driven criteria dict (``config/settings.py:55-59``) and the
    streaming route's relaxed relevance gate (``routes/route.py:239``)."""

    grade_lo: float = 1.0
    grade_hi: float = 12.0
    relaxed_relevance: bool = False
    keywords: frozenset = field(default_factory=frozenset)
    truncate_chars: int = 1000  # validation reads a prefix (agents/nodes.py:136)


# The ASCII reading of each regex class: one bit per class in a 256-entry
# byte table, applied to a whole batch with one bytes.translate.
_SENT, _VOWEL, _LETTER, _CONSONANT, _E, _WORD, _HIGH = (1 << i for i in range(7))


def _class_table() -> bytes:
    table = bytearray(256)
    for chars, bit in (
        (".!?", _SENT),
        ("aeiouy", _VOWEL),
        (string.ascii_lowercase, _LETTER),
        ("bcdfghjklmnpqrstvwxz", _CONSONANT),
        ("e", _E),
        (string.ascii_lowercase + string.digits + "_", _WORD),  # \w
    ):
        for c in chars + chars.upper():
            table[ord(c)] |= bit
    for i in range(0x80, 0x100):
        table[i] |= _HIGH
    return bytes(table)


_CLASSES = _class_table()
_TOKEN_BYTES = (string.ascii_letters + string.digits + "'").encode()  # WORD_RE
_TOKENS_SPACED = bytes(
    (c | 0x20 if chr(c).isupper() else c) if c in _TOKEN_BYTES else 0x20 for c in range(256)
)
_SPECIAL_UTF8 = tuple(ch.encode("utf-8") for ch in SPECIAL_CHARS)


def _reference_counts(texts: pd.Series, keywords: frozenset) -> list[np.ndarray]:
    """Per-row counts with ``re``, row by row: words, sentences, vowel
    groups minus silent e, unique words, lexicon hit, keyword hits."""
    t = texts.fillna("")
    # One tokenization pass serves both the word count and the TTR/lexicon
    # token lists: len(findall(WORD_RE)) == count(WORD_RE).
    lowered = t.str.lower().str.findall(WORD_RE)
    n_uniq = np.zeros(len(t), dtype="int64")
    unsafe = np.zeros(len(t), dtype=bool)
    kw_hits = np.zeros(len(t), dtype="int64")
    for i, words in enumerate(lowered):
        uniq = set(words)
        n_uniq[i] = len(uniq)
        unsafe[i] = not SAFETY_LEXICON.isdisjoint(uniq)
        kw_hits[i] = len(keywords.intersection(uniq))
    return [
        lowered.str.len().to_numpy(dtype="int64"),
        t.str.count(SENT_RE).clip(lower=1).to_numpy(dtype="int64"),
        (t.str.count(VOWEL_GROUP_RE) - t.str.count(SILENT_E_RE)).to_numpy(dtype="int64"),
        n_uniq,
        unsafe,
        kw_hits,
    ]


def reference_features(texts: pd.Series, keywords: frozenset = frozenset()) -> pd.DataFrame:
    """The features computed row by row with ``re``: the definition that
    ``readability_features`` reproduces."""
    return _features(*_reference_counts(texts, keywords), index=texts.index)


def _features(n_words, n_sents, syllables, n_uniq, unsafe, kw_hits, index) -> pd.DataFrame:
    """The feature frame from per-row counts."""
    n_syll = np.maximum(n_words, syllables)
    w = n_words.astype("float64")
    s = n_sents.astype("float64")
    syl = n_syll.astype("float64")
    with np.errstate(divide="ignore", invalid="ignore"):
        fk = np.where(
            w > 0, 0.39 * (w / s) + 11.8 * (syl / np.maximum(w, 1)) - 15.59, 0.0
        )
    fk = np.round(fk, 6)  # stable across accumulation orders
    # Python round per row: np.round can differ from it in the last ulp.
    ttr = np.array(
        [round(u / n, 6) if n else 0.0 for u, n in zip(n_uniq.tolist(), n_words.tolist())],
        dtype="float64",
    )
    return pd.DataFrame(
        {
            "fk_grade": fk,
            "ttr": ttr,
            "n_words": n_words.astype("int32"),
            "n_sentences": n_sents.astype("int32"),
            "_unsafe": unsafe,
            "_kw_hits": kw_hits,
        },
        index=index,
    )


def _run_starts(mask: np.ndarray, first: np.ndarray) -> np.ndarray:
    """True where a run of ``mask`` starts; ``first`` marks row starts, so
    no run crosses a row boundary."""
    starts = mask.copy()
    starts[1:] &= ~mask[:-1] | first[1:]
    return starts


def _per_row(mask: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Per-row totals of a per-byte mask that ends in a sentinel byte."""
    counts = np.add.reduceat(mask, offs[:-1], dtype=np.int32).astype(np.int64)
    counts[offs[:-1] == offs[1:]] = 0  # reduceat reads one byte for empty rows
    return counts


def _special_rows(u8: np.ndarray, offs: np.ndarray) -> np.ndarray:
    """Rows whose bytes hold one of ``SPECIAL_CHARS``; UTF-8 is
    self-synchronizing, so a byte match is a character match."""
    found = [np.zeros(0, dtype=np.int64)]
    for enc in _SPECIAL_UTF8:
        at = np.flatnonzero(u8[: len(u8) - len(enc) + 1] == enc[0])
        for k in range(1, len(enc)):
            at = at[u8[at + k] == enc[k]]
        found.append(at)
    return np.searchsorted(offs, np.concatenate(found), side="right") - 1


def _hits(vocab: pa.Array, words: frozenset, pair_rows, pair_ids, n: int) -> np.ndarray:
    """Per-row number of unique tokens in ``words``."""
    if not words:
        return np.zeros(n, dtype="int64")
    in_words = pc.is_in(vocab, value_set=pa.array(list(words), type=pa.large_string()))
    return np.bincount(
        pair_rows[in_words.to_numpy(zero_copy_only=False)[pair_ids]], minlength=n
    )


def readability_features(texts: pd.Series, keywords: frozenset = frozenset()) -> pd.DataFrame:
    """FK-grade, TTR, lexicon and keyword features for a batch of texts,
    column-at-a-time over the batch's UTF-8 bytes."""
    try:
        arr = pa.array(texts.fillna(""), type=pa.large_string(), from_pandas=True)
    except UnicodeEncodeError:  # a lone surrogate has no UTF-8 bytes
        return reference_features(texts, keywords)
    n = len(arr)
    offs = np.frombuffer(arr.buffers()[1], dtype=np.int64)[arr.offset : arr.offset + n + 1]
    # One sentinel NUL byte past the end: it is in no class, ends every run
    # and keeps every reduceat index in range.
    data = arr.buffers()[2].to_pybytes()[offs[0] : offs[-1]] + b"\0" if n else b"\0"
    offs = offs - offs[0]
    size = len(data) - 1
    u8 = np.frombuffer(data, dtype=np.uint8)
    cls = np.frombuffer(data.translate(_CLASSES), dtype=np.uint8)
    first = np.zeros(size + 1, dtype=bool)
    first[offs] = True  # row starts, and the sentinel
    row_end = first[1:]  # byte i is the last of its row

    n_sents = np.maximum(_per_row(_run_starts((cls & _SENT) != 0, first), offs), 1)
    n_vowel = _per_row(_run_starts((cls & _VOWEL) != 0, first), offs)

    # Silent e: [a-z][consonant]e inside one row, then \b: the row ends or
    # an ASCII non-word byte follows. A non-ASCII byte after a candidate
    # leaves \b to Python's Unicode reading: that row goes to the reference.
    cand = (cls[2:] & _E) != 0
    cand &= (cls[1:-1] & _CONSONANT) != 0
    cand &= (cls[:-2] & _LETTER) != 0
    cand &= ~(first[2:] | first[1:-1])
    cand = cand[:-1]  # byte 2 + i, i < size - 2: the sentinel is no candidate
    nxt, at_end = cls[3:], row_end[2:]
    silent = np.zeros(size + 1, dtype=bool)
    silent[2:-1] = cand & (at_end | ((nxt & (_WORD | _HIGH)) == 0))
    n_silent = _per_row(silent, offs)
    fallback = np.zeros(n, dtype=bool)
    unicode_b = 2 + np.flatnonzero(cand & ~at_end & ((nxt & _HIGH) != 0))
    fallback[np.searchsorted(offs, unicode_b, side="right") - 1] = True
    if size and u8.max() >= 0x80:
        fallback[_special_rows(u8, offs)] = True

    # Word tokens: every non-token byte becomes a space and A-Z lower-case,
    # in place, so the rows keep their offsets; an ASCII whitespace split
    # then yields each row's tokens, which are dictionary-encoded once. TTR,
    # the lexicon hit and the keyword hits come from the unique (row, token)
    # pairs.
    spaced = pa.LargeStringArray.from_buffers(
        n, pa.py_buffer(offs), pa.py_buffer(data.translate(_TOKENS_SPACED))
    )
    split = pc.ascii_split_whitespace(spaced)
    words = split.flatten()
    real = pc.binary_length(words).to_numpy() > 0  # not a leading/trailing ""
    tok_rows = pc.list_parent_indices(split).to_numpy()[real]
    n_words = np.bincount(tok_rows, minlength=n)
    tokens = words.filter(pa.array(real)).dictionary_encode()
    vocab = tokens.dictionary
    width = max(len(vocab), 1)
    key_type = np.int32 if n * width < 2**31 else np.int64
    key = tok_rows.astype(key_type) * width + tokens.indices.to_numpy().astype(key_type)
    pairs = np.unique(key)
    pair_rows, pair_ids = np.divmod(pairs, width)
    n_uniq = np.bincount(pair_rows, minlength=n)
    unsafe = _hits(vocab, SAFETY_LEXICON, pair_rows, pair_ids, n) > 0
    kw_hits = _hits(vocab, keywords, pair_rows, pair_ids, n)

    counts = [n_words, n_sents, n_vowel - n_silent, n_uniq, unsafe, kw_hits]
    if fallback.any():
        rows = np.flatnonzero(fallback)
        exact = _reference_counts(pd.Series(arr.take(rows).to_pylist(), dtype=object), keywords)
        for col, ref in zip(counts, exact):
            col[rows] = ref
    return _features(*counts, index=texts.index)


# The check values by code, and the ``reason`` of every (grade, safety,
# relevance) code combination under strict and relaxed relevance.
_GRADE_CHECKS = np.array(["TOO_LOW", "TOO_HIGH", GRADE_OK])
_SAFETY_CHECKS = np.array(["INAPPROPRIATE", SAFETY_OK])
_RELEVANCE_CHECKS = np.array([REL_MATCH, REL_PARTIAL, REL_MISMATCH])
_REASONS = {
    relaxed: np.array(
        [
            "ok" if g == 2 and s == 1 and r <= relaxed
            else f"grade={grade};safety={safety};relevance={rel}"
            for g, grade in enumerate(_GRADE_CHECKS)
            for s, safety in enumerate(_SAFETY_CHECKS)
            for r, rel in enumerate(_RELEVANCE_CHECKS)
        ],
        dtype=object,
    )
    for relaxed in (False, True)
}


def validate_features(
    feats: pd.DataFrame, cfg: CriteriaConfig
) -> pd.DataFrame:
    """Turn features into the ValidationResult-shaped check columns and
    ``is_valid`` (strict conjunction P6 / relaxed gate P7)."""
    fk = feats["fk_grade"].to_numpy()
    grade = np.where(fk < cfg.grade_lo, 0, np.where(fk > cfg.grade_hi, 1, 2))
    safety = np.where(feats["_unsafe"].to_numpy(), 0, 1)
    if cfg.keywords:
        ratios = feats["_kw_hits"].to_numpy() / len(cfg.keywords)
        rel = np.where(ratios >= 0.5, 0, np.where(ratios > 0, 1, 2))
        relevance = _RELEVANCE_CHECKS[rel]
    else:
        rel = np.zeros(len(feats), dtype=np.int64)
        relevance = np.full(len(feats), REL_MATCH, dtype=object)

    out = feats[["fk_grade", "ttr", "n_words", "n_sentences"]].copy()
    out["grade_check"] = _GRADE_CHECKS[grade]
    out["safety_check"] = _SAFETY_CHECKS[safety]
    out["relevance_check"] = relevance
    relaxed = bool(cfg.relaxed_relevance)
    out["reason"] = _REASONS[relaxed][grade * 6 + safety * 3 + rel]
    out["is_valid"] = (grade == 2) & (safety == 1) & (rel <= relaxed)
    return out


def score_texts(texts: pd.Series, cfg: CriteriaConfig | None = None) -> pd.DataFrame:
    """Full pipeline: truncate (P3) -> features -> checks."""
    cfg = cfg or CriteriaConfig()
    truncated = texts.fillna("").str.slice(0, cfg.truncate_chars)
    return validate_features(readability_features(truncated, cfg.keywords), cfg)
