"""Mega-document skew handling: salted chunk split + reassembly (SURVEY §4.3).

A 10^12-document corpus has documents ~1000x the median span count; one such
doc pins one executor core for the whole stage (UDF compute skew — AQE's
skew-join splitting can't help because the skew is inside a single row).
This operator salts them:

  split: docs above ``span_threshold`` are chunked at unit boundaries
         (whole PDF pages / whole HTML fragments, kernels.chunk_document)
         -> posexplode -> repartition by (doc_id, chunk_idx) so one doc's
         chunks land on different executors
  map:   each chunk runs the SAME pre-stitch kernel (extract_text_spans),
         emitting (kind, text, src_offset) partials
  merge: groupBy(doc_id) -> sort chunks -> concat partials -> stitch media
         -> score. Only extracted text shuffles, never raw HTML.

Output is exactly equal to the unsalted plan (tested: salted == unsalted on
mega docs), because chunk boundaries respect the kernels' unit structure.
Small docs bypass all of this on the fused single-stage path.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ..functions.kernels import chunk_document, extract_text_spans, stitch_media
# score_texts is not called here (reassembly scores through
# extract_result_array) but stays a name of this module: layer timers and
# out-of-Spark drivers of the salted path resolve the kernels through it
from ..functions.readability import CriteriaConfig, score_texts  # noqa: F401
from ..operators.extract import (
    EXTRACT_RESULT_TYPE,
    arrow_cells,
    extract_result_array,
    spans_array,
)
from ..operators.validate import is_valid_expr
from ..plans.pipeline import extract_documents, with_bucket
from ..schemas import SPANS_TYPE
from ..session import udf_per_context

DEFAULT_SPAN_THRESHOLD = 512
DEFAULT_UNITS_PER_CHUNK = 128
PROFILE_QUANTILE = 0.999
PROFILE_FLOOR = 64


def profile_span_threshold(
    df: DataFrame,
    quantile: float = PROFILE_QUANTILE,
    accuracy: int = 10_000,
    floor: int = PROFILE_FLOOR,
) -> int:
    """Derive the salting threshold from the corpus itself: P99.9 of span
    counts (SCALE.md's `pctile_stats`-style pre-pass), so ~0.1% of docs —
    the actual outliers of THIS corpus — take the split/reassemble path,
    whatever the size distribution is. A fixed 512 under-salts a corpus of
    10k-span scanned books and pointlessly salts one of 600-span articles.

    Scale shape: ``percentile_approx`` is a partial aggregate — each task
    folds its rows into one GK sketch and only the sketches move, so the
    pre-pass is one scan + a single-row exchange regardless of corpus
    size. ``floor`` keeps degenerate corpora (all tiny docs) off the
    salted path entirely; the quantile value itself is a real observed
    span count, so docs strictly above it are exactly the tail.
    """
    q = df.select(
        F.percentile_approx(
            F.coalesce(F.size("spans"), F.lit(0)), quantile, accuracy
        ).alias("q")
    ).first()["q"]
    return max(floor, int(q if q is not None else 0))

_CHUNK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("chunk_idx", T.IntegerType()),
            T.StructField("chunk", SPANS_TYPE),
            T.StructField("media", SPANS_TYPE),  # full list on chunk 0 only
            T.StructField("media_offsets", T.ArrayType(T.IntegerType())),
        ]
    )
)

_PARTIAL_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("src", T.IntegerType()),
        ]
    )
)


_CHUNK_ITEM = to_arrow_type(_CHUNK_TYPE).value_type
_CHUNK_FIELD_TYPES = {f.name: f.type for f in _CHUNK_ITEM}
_PARTIAL_ITEM = to_arrow_type(_PARTIAL_TYPE).value_type


@udf_per_context
def _chunk_udf(max_units: int):
    @F.arrow_udf(_CHUNK_TYPE)
    def chunk(spans: pa.Array) -> pa.Array:
        doc_offsets = [0]
        idxs: list = []
        chunk_spans: list = []
        media_spans: list = []
        media_offsets: list = []
        for sp in arrow_cells(spans):
            chunks, media = chunk_document(sp if sp is not None else [], max_units)
            offsets = [m[3] for m in media]
            for i, c in enumerate(chunks):
                idxs.append(i)
                chunk_spans.append(c)
                media_spans.append(
                    [
                        {"kind": k, "text": t, "media_ref": r, "offset": o}
                        for k, t, r, o in media
                    ]
                    if i == 0
                    else []
                )
                media_offsets.append(offsets)
            doc_offsets.append(len(idxs))
        items = pa.StructArray.from_arrays(
            [
                pa.array(idxs, type=pa.int32()),
                spans_array(chunk_spans, _CHUNK_FIELD_TYPES["chunk"]),
                spans_array(media_spans, _CHUNK_FIELD_TYPES["media"]),
                pa.array(media_offsets, type=_CHUNK_FIELD_TYPES["media_offsets"]),
            ],
            fields=list(_CHUNK_ITEM),
        )
        return pa.ListArray.from_arrays(pa.array(doc_offsets, type=pa.int32()), items)

    return chunk


@udf_per_context
def _partial_udf():
    @F.arrow_udf(_PARTIAL_TYPE)
    def partial(chunks: pa.Array, media_offsets: pa.Array) -> pa.Array:
        doc_offsets = [0]
        kinds: list = []
        texts: list = []
        srcs: list = []
        # to_pylist, not to_pandas: a list<int> with nulls would arrive as
        # floats with NaN
        for chunk, offsets in zip(arrow_cells(chunks), media_offsets.to_pylist()):
            for k, t, src in extract_text_spans(
                chunk if chunk is not None else [], offsets or []
            ):
                kinds.append(k)
                texts.append(t)
                srcs.append(src)
            doc_offsets.append(len(kinds))
        items = pa.StructArray.from_arrays(
            [
                pa.array(kinds, type=pa.string()),
                pa.array(texts, type=pa.string()),
                pa.array(srcs, type=pa.int32()),
            ],
            fields=list(_PARTIAL_ITEM),
        )
        return pa.ListArray.from_arrays(pa.array(doc_offsets, type=pa.int32()), items)

    return partial


@udf_per_context
def _reassemble_udf(cfg: CriteriaConfig):
    @F.arrow_udf(EXTRACT_RESULT_TYPE)
    def reassemble(parts: pa.Array, media: pa.Array) -> pa.Array:
        docs = []
        for chunk_parts, media_spans in zip(arrow_cells(parts), arrow_cells(media)):
            text_spans = [
                (p["kind"], p["text"], int(p["src"]))
                for part in (chunk_parts if chunk_parts is not None else [])
                for p in part["partial"]
            ]
            media_tuples = [
                (m["kind"], m["text"], m["media_ref"], int(m["offset"]))
                for m in (media_spans if media_spans is not None else [])
            ]
            docs.append(stitch_media(text_spans, media_tuples))
        return extract_result_array(docs, cfg)

    return reassemble


_META_COLS = ["standard", "subject", "chapter", "content_type"]


def extract_documents_salted(
    df: DataFrame,
    cfg: CriteriaConfig | None = None,
    span_threshold: int | str = DEFAULT_SPAN_THRESHOLD,
    max_units_per_chunk: int = DEFAULT_UNITS_PER_CHUNK,
    n_buckets: int = 32,
    chunk_partitions: int | None = None,
) -> DataFrame:
    """Skew-aware extraction: fused fast path for normal docs, salted
    split/reassemble for mega docs. Output schema and values identical to
    ``extract_documents``. ``span_threshold="auto"`` profiles the corpus
    (P99.9 pre-pass, :func:`profile_span_threshold`) instead of using the
    fixed default — correct for any size distribution at the cost of one
    extra scan."""
    cfg = cfg or CriteriaConfig()
    if span_threshold == "auto":
        span_threshold = profile_span_threshold(df)
    # coalesce: under ANSI mode size(NULL) is NULL (not -1), which would
    # drop null-span docs from BOTH branches; pin them to the fused path so
    # they emit empty extractions exactly like extract_documents.
    size = F.coalesce(F.size("spans"), F.lit(-1))
    small = df.where(size <= span_threshold)
    big = df.where(size > span_threshold)

    small_out = extract_documents(small, cfg, n_buckets=n_buckets)

    chunked = big.select(
        "doc_id",
        *_META_COLS,
        F.posexplode(_chunk_udf(max_units_per_chunk)("spans")).alias("_i", "c"),
    )
    n_parts = chunk_partitions or df.sparkSession.sparkContext.defaultParallelism
    chunked = chunked.repartition(n_parts, "doc_id", F.col("c.chunk_idx"))
    partials = chunked.select(
        "doc_id",
        *_META_COLS,
        F.col("c.chunk_idx").alias("chunk_idx"),
        F.col("c.media").alias("media"),
        _partial_udf()(F.col("c.chunk"), F.col("c.media_offsets")).alias("partial"),
    )
    merged = partials.groupBy("doc_id", *_META_COLS).agg(
        F.array_sort(
            F.collect_list(F.struct("chunk_idx", "partial"))
        ).alias("parts"),
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", F.col("media").alias("m")))),
                lambda x: x["m"],
            )
        ).alias("media"),
    )
    reassemble = _reassemble_udf(cfg)
    big_out = merged.withColumn("_r", reassemble("parts", "media"))
    big_out = (
        with_bucket(big_out, n_buckets)
        .withColumn("spans", F.col("_r.spans"))
        .withColumn("n_spans", F.col("_r.n_spans"))
        .withColumn("n_chars", F.col("_r.n_chars"))
        .withColumn("validation", F.col("_r.validation"))
        .withColumn(
            "is_valid", is_valid_expr("validation", relaxed=cfg.relaxed_relevance)
        )
        .drop("_r", "parts", "media")
    )
    return small_out.unionByName(big_out.select(*small_out.columns))
