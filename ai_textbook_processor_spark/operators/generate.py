"""Deterministic educational-content generation (SURVEY §2.10).

The reference's second pipeline stage (``agents/nodes.py:292-327``) asks an
LLM for a 6-section JSON (notes, 5 flashcards, 5 MCQs, 5 fill-blanks,
5 match-pairs, 3 Q&As — template ``config/settings.py:95-171``). The north
star removes LLMs from the hot path, so this operator produces the SAME
nested result shape (MapType of structs, as SURVEY §1.2 maps
``GenerationResult``) from the extracted spans with deterministic
templates: cloze deletion for MCQs/fill-blanks, adjacent-sentence Q&A,
heading->first-sentence flashcards. Distractors come from the document's
own vocabulary via the seeded word hash — pure, reproducible, testable.

Vectorized like the extractor: one pandas UDF over the extracted text
(P4's 3000-char truncation applied JVM-side before the Arrow transfer,
``agents/nodes.py:156``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import udf_per_context

GEN_TRUNCATE_CHARS = 3000  # config/settings.py:52

FLASHCARD_TYPE = T.StructType(
    [T.StructField("front", T.StringType()), T.StructField("back", T.StringType())]
)
MCQ_TYPE = T.StructType(
    [
        T.StructField("question", T.StringType()),
        T.StructField("options", T.ArrayType(T.StringType())),
        T.StructField("answer", T.StringType()),
    ]
)
PAIR_TYPE = T.StructType(
    [T.StructField("left", T.StringType()), T.StructField("right", T.StringType())]
)
QA_TYPE = T.StructType(
    [T.StructField("question", T.StringType()), T.StructField("answer", T.StringType())]
)

# Mirrors the reference GenerationResult (agents/nodes.py:73-80):
# Dict[str, Flashcard] -> MapType(String, Struct), nested sections.
GENERATION_TYPE = T.StructType(
    [
        T.StructField("importantNotes", T.StringType()),
        T.StructField("flashcards", T.MapType(T.StringType(), FLASHCARD_TYPE)),
        T.StructField("mcq", T.ArrayType(MCQ_TYPE)),
        T.StructField("fillInTheBlanks", T.ArrayType(T.StringType())),
        T.StructField("matchTheFollowing", T.ArrayType(PAIR_TYPE)),
        T.StructField("questionAnswer", T.ArrayType(QA_TYPE)),
    ]
)

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+")
_WORD = re.compile(r"[A-Za-z]{4,}")


def _hash(s: str) -> int:
    # deterministic, process-independent (no PYTHONHASHSEED dependence)
    h = 2166136261
    for ch in s:
        h = ((h ^ ord(ch)) * 16777619) & 0xFFFFFFFF
    return h


def generate_content(text: str, n_items: int = 5) -> dict:
    """Pure per-document generator; same counts as the reference template
    (5 flashcards / 5 MCQ / 5 blanks / 5 pairs / 3 QA)."""
    text = (text or "")[:GEN_TRUNCATE_CHARS]
    sents = [s.strip() for s in _SENT_SPLIT.split(text) if len(s.strip()) >= 12]
    vocab = sorted({w.lower() for w in _WORD.findall(text)})

    notes = " ".join(sents[:3])

    flashcards: dict[str, dict] = {}
    for i, s in enumerate(sents[:n_items]):
        words = _WORD.findall(s)
        if not words:
            continue
        key = f"card{i + 1}"
        flashcards[key] = {"front": f"What is described by: '{words[0]}...'?", "back": s}

    mcq = []
    for i, s in enumerate(sents[:n_items]):
        words = _WORD.findall(s)
        if len(words) < 2 or len(vocab) < 4:
            continue
        answer = words[_hash(s) % len(words)]
        blanked = s.replace(answer, "_____", 1)
        pool = [w for w in vocab if w != answer.lower()]
        start = _hash(answer) % max(len(pool) - 3, 1)
        options = sorted([answer.lower()] + pool[start : start + 3])
        mcq.append({"question": blanked, "options": options, "answer": answer.lower()})

    blanks = []
    for s in sents[n_items : 2 * n_items]:
        words = _WORD.findall(s)
        if words:
            blanks.append(s.replace(words[_hash(s) % len(words)], "_____", 1))

    pairs = []
    for i in range(0, min(2 * n_items, len(vocab) - 1), 2):
        pairs.append({"left": vocab[i], "right": vocab[i + 1]})
    pairs = pairs[:n_items]

    qa = []
    for i in range(min(3, max(len(sents) - 1, 0))):
        qa.append(
            {
                "question": f"Explain: {sents[i][:60]}",
                "answer": sents[i + 1] if i + 1 < len(sents) else sents[i],
            }
        )
    return {
        "importantNotes": notes,
        "flashcards": flashcards,
        "mcq": mcq,
        "fillInTheBlanks": blanks,
        "matchTheFollowing": pairs,
        "questionAnswer": qa,
    }


@udf_per_context
def _gen_udf(n_items: int):
    @F.pandas_udf(GENERATION_TYPE)
    def gen(texts: pd.Series) -> pd.DataFrame:
        rows = [generate_content(t, n_items) for t in texts.fillna("")]
        return pd.DataFrame(rows, columns=[f.name for f in GENERATION_TYPE.fields])

    return gen


def with_generation(
    df: DataFrame, text_col: Column, out_col: str = "generated", n_items: int = 5
) -> DataFrame:
    """P11 gate is the caller's responsibility (run on the valid split);
    P4 truncation pushed JVM-side like validation's P3."""
    truncated = F.substring(text_col, 1, GEN_TRUNCATE_CHARS)
    return df.withColumn(out_col, _gen_udf(n_items)(truncated))
