"""Structured Streaming front-end for the extraction pipeline.

The reference's only 'streaming' is SSE progress theater
(``routes/route.py:205-268``), so the batch engine is primary (SURVEY
§2.11); this module exists for continuous-ingest deployments: new document
files land in a directory (or Kafka at cluster scale), each micro-batch
runs the SAME fused extract+score plan, and ``foreachBatch`` appends to the
catalog with the epoch id as the commit id — Spark's checkpoint + the
catalog's idempotent commits give exactly-once end to end (a replayed
epoch re-appends under the same id and no-ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..functions.readability import CriteriaConfig
from ..plans.pipeline import extract_documents
from ..schemas import DOCUMENTS_SCHEMA
from ..sources.io_catalog import Catalog


def document_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 16
) -> DataFrame:
    """File source: parquet files of ``DOCUMENTS_SCHEMA`` rows landing in
    ``input_dir``, at most ``max_files_per_trigger`` per micro-batch."""
    return (
        spark.readStream.schema(DOCUMENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(input_dir)
    )


def start_epoch_commits(
    stream: DataFrame,
    out_root: str,
    checkpoint_dir: str,
    cfg: CriteriaConfig | None = None,
) -> StreamingQuery:
    """Extract each micro-batch of ``stream`` and append it to the
    catalog's ``extracted`` table under the epoch id. The batch is
    projected to the ``DOCUMENTS_SCHEMA`` columns first, so any column a
    caller added upstream (dedup keys, event time) never reaches the
    extraction plan."""
    extracted_tbl = Catalog(out_root).table("extracted")
    doc_cols = DOCUMENTS_SCHEMA.fieldNames()

    def commit_batch(batch_df, epoch_id: int) -> None:
        out = extract_documents(batch_df.select(*doc_cols), cfg)
        extracted_tbl.append(out, commit_id=f"epoch-{epoch_id:08d}")

    return (
        stream.writeStream.foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start()
    )


def start_stream_extraction(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    checkpoint_dir: str,
    cfg: CriteriaConfig | None = None,
    max_files_per_trigger: int = 16,
) -> StreamingQuery:
    """File-source streaming extraction; returns the running query.

    Drive synchronously in tests with ``q.processAllAvailable()``.
    """
    return start_epoch_commits(
        document_stream(spark, input_dir, max_files_per_trigger),
        out_root, checkpoint_dir, cfg,
    )
