"""End-to-end extraction plan (SURVEY.md §3.1 Spark re-expression).

read documents -> repartition by hash(doc_id) (explicit bucket column so
resume/lineage can address partitions) -> extract+score Arrow UDF ->
validation struct -> valid/quarantine split -> write + lineage.

The only shuffle in the whole plan is the optional bucket repartition; the
extraction UDF itself is narrow. At cluster scale the input is an Iceberg
table bucket-partitioned by doc_id, so even that shuffle disappears
(scan-aligned buckets); locally we emulate with repartition(expr).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.readability import CriteriaConfig
from ..operators.extract import (
    EXTRACT_RESULT_TYPE,
    make_extract_and_score_arrow_fn,
    make_extract_and_score_udf,
)
from ..operators.validate import is_valid_expr

DEFAULT_BUCKETS = 32

# Hot-path implementation: "fused" (default; generate+extract+score in ONE
# Python stage when the input is a corpus_df-generated frame, falling back
# to the column UDF otherwise), "pandas" (the column UDF: an Arrow UDF over
# the spans column, planned as ArrowEvalPython; the name is from when it
# was a pandas UDF), or "arrow" (mapInArrow twin). tests/test_arrow_impl.py
# and tests/test_fused_impl.py pin row-for-row equality between them.
# r6 measurement (OPTIMIZATION_r06.md): fusing generation into the
# extraction stage removes both Arrow crossings of the raw spans column
# (generator out + extract UDF in) — the heaviest payload in the plan,
# which extraction REPLACES anyway: 960k docs 35.7 s -> 29.9 s at 16 task
# lanes, and the Python-bound fused stage then scales to 32 lanes (13.7 s)
# where the boundary-heavy two-stage plan could not.
# r3 measurement (BENCH/BASELINE.md): the mapInArrow twin measured at
# PARITY with the then pandas UDF, although its raw to_pandas() input is
# about 2x faster than the pandas serializer's per-struct list<struct>
# conversion on pyspark 4.1.2 (BENCH/boundary_ab.json): mapInArrow ships
# every passthrough column through the worker socket both ways (the
# column UDF ships only the spans column), which ate that saving. The
# column UDF now reads its input with the same raw to_pandas().
DEFAULT_UDF_IMPL = "fused"


def _resolve_impl(impl: str | None) -> str:
    got = impl or os.environ.get("SPARK_GRAFT_UDF_IMPL", DEFAULT_UDF_IMPL)
    if got not in ("arrow", "pandas", "fused"):
        raise ValueError(f"unknown extract impl {got!r}")
    return got


def _extract_generated(spark, spec, cfg: CriteriaConfig,
                       n_buckets: int) -> DataFrame:
    """Fused plan for a corpus_df-generated input: ONE mapInArrow stage
    (generate -> extract -> score), then JVM-side bucket/is_valid columns.
    Output schema, column order and row values are identical to the
    unfused path (pinned by tests/test_fused_impl.py)."""
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
    out = base.mapInArrow(fn, out_schema)
    # bucket is JVM-side (xxhash64) and must sit between the document
    # columns and the extraction columns to match the unfused column order
    out = with_bucket(out, n_buckets)
    doc_cols = [f.name for f in DOCUMENTS_SCHEMA.fields]
    return out.select(
        *doc_cols, "bucket", "n_spans", "n_chars", "validation"
    ).withColumn(
        "is_valid", is_valid_expr("validation", relaxed=cfg.relaxed_relevance)
    )


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    """Deterministic partition address: pmod(xxhash64(doc_id), n) — the unit
    of lineage accounting and checkpoint-resume (FIXTURES.md §4)."""
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    )


def extract_documents(
    df: DataFrame,
    cfg: CriteriaConfig | None = None,
    n_buckets: int = DEFAULT_BUCKETS,
    repartition: bool = False,
    impl: str | None = None,
) -> DataFrame:
    """The flagship plan: documents_interleaved -> extracted + validation.

    One fused Arrow-UDF stage (extract E1-E3 + score E4), zero shuffles by
    default. ``repartition=True`` adds the hash(doc_id) bucket shuffle —
    needed only when the input isn't already bucket-partitioned (an Iceberg
    table bucketed by doc_id arrives pre-partitioned, so the production
    plan is shuffle-free end to end; resume/lineage address the same
    buckets either way)."""
    cfg = cfg or CriteriaConfig()
    resolved = _resolve_impl(impl)
    spec = getattr(df, "_sg_gen_spec", None)
    if (
        resolved == "fused"
        and spec is not None
        and not repartition
        and "bucket" not in df.columns
    ):
        return _extract_generated(df.sparkSession, spec, cfg, n_buckets)
    if resolved == "fused":
        resolved = "pandas"  # fusion needs a generated corpus
    # respect a caller-assigned bucket column (the resume runner buckets
    # with its own modulus before filtering groups)
    out = df if "bucket" in df.columns else with_bucket(df, n_buckets)
    if repartition:
        out = out.repartition(n_buckets, "bucket")
    if resolved == "arrow":
        from pyspark.sql.pandas.types import to_arrow_type

        result_fields = {f.name: f.dataType for f in EXTRACT_RESULT_TYPE.fields}
        out_spark_fields = [
            T.StructField(
                f.name,
                result_fields["spans"] if f.name == "spans" else f.dataType,
                f.nullable,
            )
            for f in out.schema.fields
        ] + [
            T.StructField(n, result_fields[n])
            for n in ("n_spans", "n_chars", "validation")
        ]
        out_fields = [
            (f.name, to_arrow_type(f.dataType)) for f in out_spark_fields
        ]
        fn = make_extract_and_score_arrow_fn(cfg, out_fields)
        out = out.mapInArrow(fn, T.StructType(out_spark_fields))
    else:
        udf = make_extract_and_score_udf(cfg)
        out = out.withColumn("_r", udf("spans"))
        out = (
            out.withColumn("spans", F.col("_r.spans"))
            .withColumn("n_spans", F.col("_r.n_spans"))
            .withColumn("n_chars", F.col("_r.n_chars"))
            .withColumn("validation", F.col("_r.validation"))
            .drop("_r")
        )
    return out.withColumn(
        "is_valid", is_valid_expr("validation", relaxed=cfg.relaxed_relevance)
    )
