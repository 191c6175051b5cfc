"""Salted mega-doc extraction must equal the unsalted run exactly
(FIXTURES.md mega_doc; SURVEY §4.3)."""

from ai_textbook_processor_spark.corpus import gen_doc
from ai_textbook_processor_spark.functions.kernels import (
    chunk_document,
    extract_document,
    extract_text_spans,
    split_media,
)


def test_chunk_concat_equals_whole_all_families():
    from ai_textbook_processor_spark.corpus import ALL_FAMILIES

    for fam in ALL_FAMILIES:
        for idx in (1, 14, 27):
            doc = gen_doc(idx, 42, family=fam)
            non_media, media = split_media(doc["spans"])
            offsets = [m[3] for m in media]
            whole = extract_text_spans(non_media, offsets)
            for max_units in (1, 3, 64):
                chunks, media2 = chunk_document(doc["spans"], max_units)
                concat = []
                for c in chunks:
                    concat.extend(extract_text_spans(c, offsets))
                assert concat == whole, (fam, idx, max_units)
                assert media2 == media


def test_salted_spark_equals_unsalted(spark):
    import pandas as pd

    from ai_textbook_processor_spark.corpus import corpus_df
    from ai_textbook_processor_spark.operators.skew import extract_documents_salted
    from ai_textbook_processor_spark.plans.pipeline import extract_documents

    docs = corpus_df(spark, 36, seed=42, mega_every=12)  # 3 mega docs

    def inv(df):
        return {
            r["doc_id"]: (
                [(s.kind, s.text, s.media_ref, s.offset) for s in r["spans"]],
                r["n_chars"],
                r["is_valid"],
                r["validation"].fk_grade,
            )
            for r in df.select(
                "doc_id", "spans", "n_chars", "is_valid", "validation"
            ).collect()
        }

    unsalted = inv(extract_documents(docs))
    salted = inv(extract_documents_salted(docs, span_threshold=64, max_units_per_chunk=16))
    assert salted == unsalted

    # and both equal the pure-python golden
    for idx in (11, 23, 35):
        doc = gen_doc(idx, 42, family="mega_doc")
        golden = extract_document(doc["spans"])
        got = salted[doc["doc_id"]][0]
        assert got == [
            (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in golden
        ]


def test_profiled_threshold_adapts_to_distribution(spark):
    """VERDICT r2 #7: span_threshold derives from a P99.9 pre-pass, so it
    tracks the corpus's own size distribution instead of the fixed 512."""
    from ai_textbook_processor_spark.corpus import corpus_df
    from ai_textbook_processor_spark.operators.skew import (
        extract_documents_salted,
        profile_span_threshold,
    )
    from ai_textbook_processor_spark.plans.pipeline import extract_documents
    from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA

    def mk(sizes):
        rows = [
            (
                f"d{i:04d}",
                [
                    {"kind": "text", "text": f"Plain sentence {i} {j}.",
                     "media_ref": None, "offset": j}
                    for j in range(n)
                ],
                "5", "science", "1", "text",
            )
            for i, n in enumerate(sizes)
        ]
        return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    articles = mk([10 + (i * 7) % 41 for i in range(300)])          # 10..50
    books = mk([900 + (i * 13) % 200 for i in range(300)])          # 900..1099
    t_articles = profile_span_threshold(articles)
    t_books = profile_span_threshold(books)
    assert t_articles == 64  # floor: nothing here is worth salting
    assert 900 <= t_books <= 1099  # adapted: a real observed span count
    assert t_books > t_articles

    # a fat tail lands the threshold inside the bulk, above it: the tail
    # docs (and only they) take the salted path
    tail_sizes = [20 + (i % 30) for i in range(500)] + [4000] * 2
    tail = mk(tail_sizes)
    t_tail = profile_span_threshold(tail, quantile=0.99)
    assert max(s for s in tail_sizes if s < 4000) <= t_tail < 4000

    # and auto-threshold extraction stays value-equal to the fused plan
    mixed = corpus_df(spark, 24, seed=7, mega_every=8)

    def inv(df):
        return {
            r["doc_id"]: [
                (s.kind, s.text, s.media_ref, s.offset) for s in r["spans"]
            ]
            for r in df.select("doc_id", "spans").collect()
        }

    assert inv(
        extract_documents_salted(mixed, span_threshold="auto")
    ) == inv(extract_documents(mixed))


def test_media_heavy_mega_doc_salted_engine_path(spark):
    """VERDICT r1 #6: a single giant doc with 1000 media spans must run
    through the salted ENGINE path (chunk split -> parallel partial
    extract -> reassemble) and equal both the fused path and the golden,
    in sane wall time (the old O(text*media) anchor scan was 3M+
    comparisons for this fixture)."""
    import time

    from ai_textbook_processor_spark.operators.skew import extract_documents_salted
    from ai_textbook_processor_spark.plans.pipeline import extract_documents
    from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA

    spans = []
    for page in range(500):
        spans.append(
            {"kind": "pdf_block", "text": f"Heading {page}",
             "media_ref": f"p{page}.c0.y50.x72.f18", "offset": page * 8}
        )
        for k in range(5):
            spans.append(
                {"kind": "pdf_block",
                 "text": f"Body paragraph {page} {k} with steady text.",
                 "media_ref": f"p{page}.c0.y{100 + 60 * k}.x72.f12",
                 "offset": page * 8 + 1 + k}
            )
        for j in range(2):  # 1000 media spans total
            spans.append(
                {"kind": "figure", "text": f"fig {page}-{j}",
                 "media_ref": f"img-{page:04d}-{j}", "offset": page * 8 + 6 + j}
            )
    doc = [("mega-media-1", spans, "5", "science", "1", "pdf")]
    df = spark.createDataFrame(doc, DOCUMENTS_SCHEMA)

    def inv(res):
        row = res.select("spans", "n_spans").collect()[0]
        return [(s.kind, s.text, s.media_ref, s.offset) for s in row["spans"]]

    t0 = time.monotonic()
    fused = inv(extract_documents(df))
    salted = inv(
        extract_documents_salted(df, span_threshold=64, max_units_per_chunk=128)
    )
    wall = time.monotonic() - t0
    assert salted == fused
    assert sum(1 for s in fused if s[0] in ("figure", "table")) == 1000
    golden = extract_document(spans)
    assert fused == [
        (s["kind"], s["text"], s["media_ref"], s["offset"]) for s in golden
    ]
    assert wall < 60, f"media-heavy mega doc took {wall:.1f}s"


def test_aqe_splits_planted_skewed_join(spark):
    """Scale evidence beyond the salted extract path: for JOIN skew the
    engine relies on AQE's skew-join rule. Plant one hot key carrying
    ~95% of a fact table, force a sort-merge join, and assert the
    executed adaptive plan actually split it (skew=true marker) under
    thresholds scaled to the fixture."""
    import pyspark.sql.functions as F

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        conf.set("spark.sql.adaptive.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ

        fact = spark.range(0, 200_000).select(
            F.when(F.col("id") % 20 != 0, 0)  # 95% of rows on key 0
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("p"),
        )
        dim = spark.range(0, 97).select(
            F.col("id").alias("k"), F.col("id").cast("string").alias("d")
        )
        # IMPORTANT: the consumer must NOT require the join's hash
        # partitioning — a groupBy on the join key downstream makes
        # OptimizeSkewedJoin decline (splitting would break the required
        # distribution); a global aggregate has no such requirement.
        # This is itself the lesson for plan authors: keep skewed joins
        # un-chained from same-key aggregations, or salt.
        joined = fact.join(dim, "k").agg(
            F.sum(F.length("p")).alias("bytes")
        )
        rows = joined.collect()  # executes THIS query execution with AQE
        assert rows[0]["bytes"] > 0

        # after execution the adaptive plan is final and carries the
        # skew-split markers
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:3000]
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_salted_and_unsalted_equal_kernels_on_null_cells_and_fields(spark):
    """The table path's Arrow UDFs in Spark: a null spans cell, spans with
    null kind/text/media_ref/offset, an empty doc and a mega doc with nulls
    (salted) give exactly extract_document + score_texts, salted or not."""
    import pandas as pd

    from ai_textbook_processor_spark.functions.readability import CriteriaConfig, score_texts
    from ai_textbook_processor_spark.operators.extract import TEXT_KINDS
    from ai_textbook_processor_spark.operators.skew import extract_documents_salted
    from ai_textbook_processor_spark.plans.pipeline import extract_documents
    from ai_textbook_processor_spark.schemas import DOCUMENTS_SCHEMA, VALIDATION_TYPE

    val_fields = [f.name for f in VALIDATION_TYPE.fields]

    def holed(spans):
        return [
            dict(sp, offset=None) if i % 7 == 0
            else dict(sp, media_ref=None) if i % 11 == 0
            else dict(sp, text=None) if i % 13 == 0
            else dict(sp, kind=None) if i % 17 == 0
            else sp
            for i, sp in enumerate(spans)
        ]

    cells = {
        "null-cell": None,
        "empty": [],
        "null-fields": [
            {"kind": None, "text": "Loose text.", "media_ref": None, "offset": 0},
            {"kind": "html", "text": None, "media_ref": None, "offset": 1},
            {"kind": "figure", "text": None, "media_ref": None, "offset": None},
            {"kind": "text", "text": "Plain sentence here.", "media_ref": "m", "offset": None},
            {"kind": "pdf_block", "text": "Block", "media_ref": None, "offset": 3},
        ],
        "mega-holed": holed(gen_doc(11, 42, family="mega_doc")["spans"]),
        "mega-media-unanchored": [
            dict(sp, offset=None) if sp["kind"] == "figure" else sp
            for sp in gen_doc(23, 42, family="mega_doc")["spans"]
        ],
        "plain": gen_doc(3, 42)["spans"],
    }
    df = spark.createDataFrame(
        [(k, v, "5", "science", "1", "text") for k, v in cells.items()], DOCUMENTS_SCHEMA
    )

    def inv(out):
        return {
            r["doc_id"]: (
                [(s.kind, s.text, s.media_ref, s.offset) for s in r["spans"]],
                r["n_spans"],
                r["n_chars"],
                r["validation"].asDict(),
            )
            for r in out.select("doc_id", "spans", "n_spans", "n_chars", "validation").collect()
        }

    cfg = CriteriaConfig()
    docs = {k: extract_document(v) for k, v in cells.items()}
    texts = {k: " ".join(s["text"] for s in d if s["kind"] in TEXT_KINDS) for k, d in docs.items()}
    scored = score_texts(pd.Series(list(texts.values())), cfg)
    golden = {
        k: (
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in docs[k]],
            len(docs[k]),
            len(texts[k]),
            {f: v[f] for f in val_fields},
        )
        for k, v in zip(texts, scored.to_dict("records"))
    }
    unsalted = inv(extract_documents(df, cfg))
    salted = inv(extract_documents_salted(df, cfg, span_threshold=64, max_units_per_chunk=16))
    assert unsalted == golden
    assert salted == golden
