"""Validation operator: readability scoring + valid/quarantine routing.

Spark analog of the reference's validate node + conditional edge
(``agents/nodes.py:229-270``, ``agents/graph.py:31-42``): the scorer
(``readability.score_texts``) runs inside the extraction stage and emits the
ValidationResult-shaped struct; the pass/fail conjunction (P6) and the relaxed streaming gate (P7,
``routes/route.py:239``) are plain JVM-side boolean expressions so Catalyst
can push/prune them; the valid/invalid conditional edge becomes a
DataFrame filter split (P8).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.readability import (
    GRADE_OK,
    REL_MATCH,
    REL_PARTIAL,
    SAFETY_OK,
)


def is_valid_expr(
    validation_col: str | Column = "validation", relaxed: bool = False
) -> Column:
    """P6 strict conjunction / P7 relaxed gate — JVM-side."""
    v = F.col(validation_col) if isinstance(validation_col, str) else validation_col
    rel = (
        v["relevance_check"].isin(REL_MATCH, REL_PARTIAL)
        if relaxed
        else (v["relevance_check"] == REL_MATCH)
    )
    return (
        (v["grade_check"] == GRADE_OK) & (v["safety_check"] == SAFETY_OK) & rel
    )


def split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """P8: the LangGraph conditional edge as a filter pair (both sides
    persisted by the caller; counts must sum to the input count)."""
    return df.filter(F.col("is_valid")), df.filter(~F.col("is_valid"))
