"""corpus.gen_batch is the one step from doc ids to documents: corpus_df
runs it inside Spark, and its rows are gen_doc's, field for field."""

import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from ai_textbook_processor_spark.corpus import FAMILIES, corpus_df, gen_batch, gen_doc
from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA


@pytest.mark.parametrize("seed", [3, 17])
def test_corpus_df_rows_are_gen_doc_rows(spark, seed):
    # ids 5-34: every generated family, and a mega doc wherever
    # idx % 7 == 6 (ids 6, 13, 20, 27, 34)
    n, start, mega_every = 30, 5, 7
    df = corpus_df(spark, n, seed=seed, mega_every=mega_every, start=start,
                   num_partitions=3)
    assert df.schema == DOCUMENTS_SCHEMA
    got = {r["doc_id"]: r.asDict(recursive=True) for r in df.collect()}
    want = [
        gen_doc(i, seed, family="mega_doc" if i % mega_every == mega_every - 1 else None)
        for i in range(start, start + n)
    ]
    assert {d["content_type"] for d in want} == set(FAMILIES) | {"mega_doc"}
    assert len(got) == n
    for d in want:
        assert got[d["doc_id"]] == d, d["doc_id"]


def test_gen_batch_of_no_ids_is_empty_with_the_documents_schema():
    batch = gen_batch([], seed=1, mega_every=3)
    assert batch.num_rows == 0
    assert batch.schema == to_arrow_schema(DOCUMENTS_SCHEMA)
