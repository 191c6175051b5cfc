"""The hot-path implementation switch of ``extract_documents``.

``impl`` is "fused" (generate+extract+score in one stage for corpus_df
frames) or "pandas" (the column Arrow UDF); tests/test_fused_impl.py pins
row-for-row equality between them, and tests/test_columnar.py pins the
columnar core both run against the per-document kernels.
"""

import pytest

from ai_textbook_processor_spark.corpus import corpus_df
from ai_textbook_processor_spark.plans.pipeline import (
    DEFAULT_UDF_IMPL,
    extract_documents,
)


def test_default_is_fused():
    # r6: generate+extract+score fuses into one Python stage for generated
    # corpora (see pipeline.py comment + OPTIMIZATION_r06.md); non-generated
    # inputs fall back to the column UDF
    assert DEFAULT_UDF_IMPL == "fused"


def test_unknown_impl_is_rejected(spark):
    with pytest.raises(ValueError, match="arrow"):
        extract_documents(corpus_df(spark, 2, seed=1), impl="arrow")
