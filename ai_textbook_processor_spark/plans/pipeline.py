"""End-to-end extraction plan (SURVEY.md §3.1 Spark re-expression).

read documents -> bucket column pmod(xxhash64(doc_id), n) (so
resume/lineage can address partitions) -> extract+score Arrow UDF ->
validation struct -> valid/quarantine split -> write + lineage.

The plan has no shuffle: the extraction UDF is narrow, and at cluster scale
the input is an Iceberg table bucket-partitioned by doc_id, so its scan is
already aligned with the buckets.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.readability import CriteriaConfig
from ..operators.extract import EXTRACT_RESULT_TYPE, make_extract_and_score_udf
from ..operators.validate import is_valid_expr

DEFAULT_BUCKETS = 32


def _extract_generated(spark, spec, cfg: CriteriaConfig,
                       n_buckets: int) -> DataFrame:
    """Fused plan for a corpus_df-generated input: ONE mapInArrow stage
    (generate -> extract -> score), then JVM-side bucket/is_valid columns.
    Output schema, column order and row values are identical to the
    column-UDF plan over the same documents read from parquet (pinned by
    tests/test_fused_impl.py).

    r6 measurement (OPTIMIZATION_r06.md): fusing generation into the
    extraction stage removes both Arrow crossings of the raw spans column
    (generator out + extract UDF in) — the heaviest payload in the plan,
    which extraction REPLACES anyway: 960k docs 35.7 s -> 29.9 s at 16 task
    lanes, and the Python-bound fused stage then scales to 32 lanes
    (13.7 s) where the boundary-heavy two-stage plan could not."""
    from ..schemas import DOCUMENTS_SCHEMA

    result_fields = {f.name: f.dataType for f in EXTRACT_RESULT_TYPE.fields}
    out_schema = T.StructType(
        list(DOCUMENTS_SCHEMA.fields)
        + [
            T.StructField(n, result_fields[n])
            for n in ("n_spans", "n_chars", "validation")
        ]
    )
    # Every fused task owns spark.task.cpus cores (session.py reserves 2
    # above 16 local lanes for the JVM+worker pair); the JVM side of the
    # fused stage is near-idle, so spend the extra core(s) on fork helpers
    # inside the worker (operators/extract.py). In local mode one extra
    # helper beyond the reservation measures ~8% faster (it fills the
    # worker thread's Arrow-serialization stalls and the whole box is
    # ours); on a cluster stay within the task's reservation. Overridable
    # via SPARK_GRAFT_FUSED_PROCS for A/B runs.
    env_procs = os.environ.get("SPARK_GRAFT_FUSED_PROCS")
    if env_procs is not None:
        procs = int(env_procs)
    else:
        procs = int(spark.conf.get("spark.task.cpus", "1"))
        if procs > 1 and spark.sparkContext.master.startswith("local"):
            procs += 1
    base = spark.range(
        spec.start, spec.start + spec.n_docs, 1, spec.num_partitions
    )
    # mapInArrow output (A/B'd 3-4 s faster than a mapInPandas twin at
    # 960k docs): every helper slice is built directly as an Arrow
    # RecordBatch in the helper process, so the object->Arrow conversion
    # parallelizes instead of serializing in the worker thread
    from pyspark.sql.pandas.types import to_arrow_type

    from ..operators.extract import make_generate_extract_score_batch_fn

    out_fields = [
        (f.name, to_arrow_type(f.dataType)) for f in out_schema.fields
    ]
    fn = make_generate_extract_score_batch_fn(
        cfg, spec.seed, spec.mega_every, out_fields, procs=procs
    )
    # one projection: bucket is JVM-side (xxhash64) and sits between the
    # document columns and the extraction columns, the unfused column order
    return base.mapInArrow(fn, out_schema).select(
        *[f.name for f in DOCUMENTS_SCHEMA.fields],
        bucket_col(n_buckets).alias("bucket"),
        "n_spans",
        "n_chars",
        "validation",
        is_valid_expr("validation", relaxed=cfg.relaxed_relevance).alias("is_valid"),
    )


def bucket_col(n_buckets: int = DEFAULT_BUCKETS) -> Column:
    """Deterministic partition address: pmod(xxhash64(doc_id), n) — the unit
    of lineage accounting and checkpoint-resume (FIXTURES.md §4)."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn("bucket", bucket_col(n_buckets))


def result_columns(result: Column, cfg: CriteriaConfig) -> dict[str, Column]:
    """The extraction columns, in output order, from one extract-result
    struct (an ``EXTRACT_RESULT_TYPE`` UDF call). Spark evaluates a UDF
    that one projection references several times once."""
    cols = {n: result[n] for n in ("spans", "n_spans", "n_chars", "validation")}
    cols["is_valid"] = is_valid_expr(
        cols["validation"], relaxed=cfg.relaxed_relevance
    )
    return cols


def extract_documents(
    df: DataFrame,
    cfg: CriteriaConfig | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
) -> DataFrame:
    """The flagship plan: documents_interleaved -> extracted + validation.

    One fused Arrow-UDF stage (extract E1-E3 + score E4) and no shuffle:
    an Iceberg table bucketed by doc_id arrives pre-partitioned, and
    resume/lineage address the same ``bucket`` column."""
    cfg = cfg or CriteriaConfig()
    spec = getattr(df, "_sg_gen_spec", None)
    if spec is not None and "bucket" not in df.columns:
        return _extract_generated(df.sparkSession, spec, cfg, n_buckets)
    # fusion needs a generated corpus; anything else takes the column UDF.
    # Respect a caller-assigned bucket column (the resume runner buckets
    # with its own modulus before filtering groups)
    out = df if "bucket" in df.columns else with_bucket(df, n_buckets)
    # one projection: spans replaced in place, the rest appended
    return out.withColumns(result_columns(make_extract_and_score_udf(cfg)("spans"), cfg))
